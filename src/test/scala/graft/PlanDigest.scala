package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Neutrality check for registry refactors: for every `SparkEntry` row,
  * a SHA-256 of its normalized optimized logical plan and a SHA-256 of
  * its oracle SQL. Run it on two commits over the same data dir and diff
  * the two files; equal digests mean the refactor changed neither what
  * Spark runs nor what DuckDB checks.
  *
  * {{{
  * sbt "Test/runMain graft.PlanDigest <sf dir> <out.json>"
  * }}}
  *
  * Each run builds its layouts under a fresh root (`<out>.layouts`), and
  * the normalized plan texts land in `<out>.plans/<row>.txt` for diffing.
  * Normalization replaces what differs between two runs of one plan:
  * expression ids (`#12L`), RDD ids (`[34]`), lambda class numbers and
  * object hashes (`$Lambda$7020/0x7f34…@3f7e1e50`), UUIDs and the layout
  * root.
  */
object PlanDigest {
  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val root = Paths.get(s"$out.layouts").toAbsolutePath.toString
    val plans = Paths.get(s"$out.plans")
    Files.createDirectories(plans)
    val spark = GraftSession.builder(4, sfDir)
      .config("spark.graft.layout.root", root)
      .config("spark.sql.debug.maxToStringFields", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def normalize(plan: String): String = plan
      .replace(root, "<root>")
      .replaceAll("#\\d+L?", "#")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("@[0-9a-f]+\\b", "@")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
    val oracles = SparkEntry.oracleSql
    val rows = SparkEntry.all.sortBy(_.name).map { q =>
      val plan =
        try normalize(q.build(spark, sfDir).queryExecution.optimizedPlan.toString)
        catch { case e: Throwable => s"failed: ${e.getClass.getName}" }
      Files.writeString(plans.resolve(s"${q.name}.txt"), plan)
      val oracle = oracles.get(q.name).map(o => "\"" + sha(o) + "\"").getOrElse("null")
      s"""  {"name": "${q.name}", "plan": "${sha(plan)}", "oracle": $oracle}"""
    }
    Files.writeString(Paths.get(out), rows.mkString("[\n", ",\n", "\n]\n"))
    spark.stop()
  }
}
