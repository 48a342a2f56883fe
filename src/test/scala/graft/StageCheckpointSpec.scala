package graft

import graft.etl.StageCheckpoint
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The shared stage-materialization policy (r18): sessions without a
  * checkpoint dir (bench/local) take the pre-r18 localCheckpoint path
  * byte-for-byte; sessions WITH one (the cluster production config)
  * take a reliable checkpoint that survives executor loss. Values are
  * identical on both paths. */
class StageCheckpointSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def stageInput = StageCheckpointSpec.stageInput(spark, sf)

  test("no checkpoint dir: localCheckpoint path (lineage truncated, no " +
      "cache-manager entry) — the bench/local behavior, byte-identical " +
      "to pre-r18") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "the shared session sets no checkpoint dir")
    val in = stageInput
    val out = StageCheckpoint.stage(in)
    assert(out.queryExecution.logical.getClass.getSimpleName == "LogicalRDD",
      out.queryExecution.logical.getClass.getName)
    assert(out.storageLevel == StorageLevel.NONE) // not a cacheManager persist
    assert(out.collect().toSeq == in.collect().toSeq)
    out.unpersist(blocking = false)
  }

  test("with a checkpoint dir: reliable checkpoint (survives executor " +
      "loss) — the 100 TB production path; same values") {
    // a private local[1] session in its own JVM: the checkpoint dir is
    // per SparkContext, one context runs per JVM, and SparkContext has no
    // way to unset it — the shared session never sees a dir this way
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec")
    try {
      val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
      val cmd = Seq(javaBin.toString, "-Xmx1g") ++ jvmArgs ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.StageCheckpointSpec", dir.toString, sf)
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val log = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0 && log.contains(StageCheckpointSpec.Ok),
        s"reliable-checkpoint JVM failed:\n${log.takeRight(4000)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}

object StageCheckpointSpec {
  val Ok = "reliable checkpoint: ok"

  def stageInput(s: org.apache.spark.sql.SparkSession, sf: String) =
    Tables.documents(s, sf).groupBy(col("lang")).agg(count(lit(1)).as("n"))

  /** The reliable-checkpoint case, run in a fresh JVM by the suite:
    * `args(0)` is the checkpoint dir, `args(1)` the data dir. Prints
    * [[Ok]] once every check passes; a failed check throws (non-zero
    * exit). */
  def main(args: Array[String]): Unit = {
    import org.scalatest.Assertions._
    val Array(ckptDir, sf) = args
    val spark = GraftSession.builder(1, sf).getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.setCheckpointDir(ckptDir)
      val in = stageInput(spark, sf)
      val out = StageCheckpoint.stage(in)
      assert(out.queryExecution.logical.getClass.getSimpleName == "LogicalRDD")
      assert(out.storageLevel == StorageLevel.NONE)
      val files = new java.io.File(ckptDir).listFiles()
      assert(files != null && files.nonEmpty, s"no checkpoint files under $ckptDir")
      assert(out.collect().toSeq == in.collect().toSeq)
      // lazy form materializes on first action and checkpoints reliably too
      val lazyOut = StageCheckpoint.stage(stageInput(spark, sf), eager = false)
      assert(lazyOut.count() == in.count())
      println(Ok)
    } finally spark.stop()
  }
}
