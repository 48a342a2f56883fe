package graft

import graft.examples.{IncrementalPrep, TrainingDataPrep}
import graft.functions.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The corpus-prep quality floor compares the RAW score, as the oracle
  * does: a document scoring in [0.4499995, 0.45) rounds to a reported
  * 0.45 but must still fail a 0.45 floor in both pipelines. */
class QualityFloorSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** 20 tokens (5 stopwords), 700 digits in 20,999 chars: raw score
    * 0.45 - 4.76e-7. */
  private val bandText = {
    val body = ("1" * 700) + ("b" * (20965 - 700))
    (Seq.fill(5)("the") ++ body.grouped(1398)).mkString(" ")
  }
  private val goodText =
    "the river ran past a mill of stone and the town grew in the valley " +
      "to the east where farmers sold grain and wool at a weekly market"

  test("the band document's raw score is under the floor, its report rounds to it") {
    val q = Seq(bandText).toDF("text")
      .select(TextOps.qualityFeatures(col("text")).as("q"))
      .select("q.quality", "q.quality_raw").head()
    assert(q.getDouble(0) == 0.45)
    assert(q.getDouble(1) >= 0.4499995 && q.getDouble(1) < 0.45, q.getDouble(1))
  }

  test("TrainingDataPrep drops the band document at the quality stage") {
    val docs = Seq((1L, "en", bandText), (2L, "en", goodText))
      .toDF("doc_id", "lang", "text")
    val out = TrainingDataPrep.prepare(docs)
    assert(out.kept.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    assert(out.dropped.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "low_quality")))
  }

  test("IncrementalPrep drops the band document at the quality stage") {
    val sf = SparkTestBase.dataDir
    val all = spark.read.parquet(Fixtures.neardupCorpus(spark, sf))
    val corpus = all.filter(col("id") % 1000000000L < 1000000L)
    val (bandsT, repsT) = layouts.MinHashIndex.ensure(
      spark, sf, corpus, "neardup_repbase", 5, 64, 16, 4, Seq("documents"))
    val batch = Seq((900000001L, bandText), (900000002L, goodText)).toDF("id", "text")
    val out = IncrementalPrep.run(spark, bandsT, repsT, batch)
    assert(out.kept.select("id").as[Long].collect().toSeq == Seq(900000002L))
    assert(out.dropped.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((900000001L, "low_quality")))
  }
}
