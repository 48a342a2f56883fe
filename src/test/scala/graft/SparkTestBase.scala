package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide.md: one session per
  * suite via lazy val; sharing across suites in the forked test JVM keeps
  * `sbt test` fast). Built by `GraftSession.builder`, so the suites run
  * the plans the bench times; a case that needs another setting sets it
  * inside the case and restores it. */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  val cpus = 4
  val dataDir = "/root/testdata/sf0.01"

  lazy val session: SparkSession = {
    val s = GraftSession.builder(cpus, dataDir).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
