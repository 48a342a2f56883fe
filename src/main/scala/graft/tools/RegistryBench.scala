package graft.tools

import graft.{GraftSession, SparkEntry}

/** Per-query wall-clock for EVERY registry query at an arbitrary scale
  * factor — the 94-query sweep is where a regression would hide. Same
  * session (GraftSession) + count() methodology as graft.Bench; one
  * warmup then min of 2 (the registry is 95 queries — a third run would
  * double-digit-minutes the sweep for ~noise gain).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.RegistryBench [prefix...]
  * Optional args are query-name prefixes (e.g. `llm_` for the text/vector
  * family) — a filtered sweep for targeted scaling comparisons.
  * Output: one JSON line {"metric":"registry_sweep","queries":{name:sec}}
  * (a failed query reports -1 — must be investigated, never ignored).
  */
object RegistryBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.toSeq.filter { case (n, _) => args.exists(n.startsWith) }
    val timed = selected.sortBy(_._1).map { case (name, fn) =>
      val sec =
        try {
          fn(spark, sfDir).count() // warmup: plan + codegen (+ any layout build)
          val runs = (1 to 2).map { _ =>
            val t = System.nanoTime(); fn(spark, sfDir).count()
            (System.nanoTime() - t) / 1e9
          }
          runs.min
        } catch {
          case e: Throwable =>
            System.err.println(s"[registry-bench] $name failed: ${e.getMessage}")
            -1.0
        }
      System.err.println(f"[registry-bench] $name%-28s $sec%.3f s")
      name -> sec
    }

    val qs = timed.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val total = timed.map(_._2).filter(_ >= 0).sum
    println(f"""{"metric":"registry_sweep","value":$total%.2f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
