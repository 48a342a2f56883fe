package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Runs one workload in this JVM and writes its record as JSON.
  *
  * {{{
  * Main run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --cpus <n> --data <sf dir> --run-dir <dir> --out <json>
  *          [--spans <jsonl>] [--rows <registry rows, comma-separated>]
  * Main oracles --out <json>      # SparkEntry.oracleSql, for the references
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("run") => run(opts)
      case Some("oracles") =>
        Files.writeString(Paths.get(opts("out")), Json.value(graft.SparkEntry.oracleSql))
      case _ => sys.error("usage: Main run|oracles --key value ...")
    }
  }

  /** The session graft.Bench uses, pointed at this run's directories. */
  def session(cpus: Int, dataDir: String, runDir: String): SparkSession = {
    val dataBytes = Option(new java.io.File(dataDir).listFiles())
      .map(_.map(_.length).sum).getOrElse(0L)
    val shufflePartitions = math.max(4, math.min(cpus, (dataBytes / (32L << 20)).toInt))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (16 * 1024 * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.graft.layout.root", s"$runDir/layouts")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(o: Map[String, String]): Unit = {
    val runDir = o("run-dir")
    val dataDir = o("data")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val spark = session(o("cpus").toInt, dataDir, runDir)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val runner = new Runner(spark, s"$runDir/out", tracer)
    val w = Workloads(o("workload"), spark, dataDir, o("seed").toLong,
      o.get("rows").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))

    val steps = w.setup.map { st =>
      val t = System.nanoTime()
      st.run()
      (st.layer, st.name, (System.nanoTime() - t) / 1e9)
    }
    val firstTimedMs = runner.nowMs()
    val setupCpuNs = runner.cpuNs()
    val tStart = System.nanoTime()
    var r = 0
    while (r == 0 || ((System.nanoTime() - tStart) / 1e9 < seconds && r < w.maxRounds)) {
      val dir = if (w.keepRoundOutputs) s"r$r" else "last"
      w.round(r).foreach(runner.run(_, r, dir))
      r += 1
    }

    tracer.foreach { tr =>
      o.get("spans").foreach(p => Files.writeString(Paths.get(p), tr.spans.mkString("", "\n", "\n")))
    }
    val record = Json.obj(Seq(
      "workload" -> o("workload"),
      "setup_steps" -> steps.map { case (l, n, s) => Map("layer" -> l, "name" -> n, "s" -> s) },
      "first_timed_ms" -> firstTimedMs,
      "setup_cpu_s" -> setupCpuNs / 1e9,
      "peak_rss_bytes" -> peakRss(),
      "oracles" -> graft.SparkEntry.oracleSql,
      "info" -> w.info,
      "execs" -> runner.execs.map(_.fields)))
    Files.writeString(Paths.get(o("out")), record)
    spark.stop()
  }

  /** VmHWM of this process, in bytes (0 where /proc is not available). */
  private def peakRss(): Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong * 1024).getOrElse(0L)
  }.getOrElse(0L)
}
