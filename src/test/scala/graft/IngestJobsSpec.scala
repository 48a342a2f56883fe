package graft

import graft.etl.DriverHeld
import graft.examples.IncrementalPrep
import graft.layouts.{Bucketed, MinHashIndex}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ingest path's batch-bounded sets are held on the driver
  * (DriverHeld): a probe and an IncrementalPrep batch run a fixed, small
  * number of Spark jobs, and past the cap both fall back to their
  * distributed shapes with identical results. */
class IngestJobsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = SparkTestBase.dataDir
  private val P = (5, 64, 16, 4)

  /** Spark jobs `body` ran: a listener counts the job starts of a job
    * group set around the body (broadcast builds inherit it). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"ingestjobs-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ingest job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftTestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("ingestjobs").toString

  private def corpus(): DataFrame =
    spark.read.parquet(Fixtures.neardupCorpus(spark, sf))
      .filter(col("id") % 1000000000L < 1000000L)

  test("a MinHash probe plus the write of its pairs runs 5 jobs, one of " +
      "them a broadcast build (the band-scan join)") {
    val (bandsT, repsT) = MinHashIndex.ensure(spark, sf, corpus(),
      "neardup_repbase", P._1, P._2, P._3, P._4, Seq("documents"))
    val ids = corpus().select(col("id")).orderBy(col("id")).limit(20)
      .collect().map(_.getLong(0)).toSeq
    val batch = corpus().filter(col("id").isin(ids: _*))
    val out = tmpDir()
    val jobs = jobsOf {
      val (pairs, _) = MinHashIndex.probe(spark, bandsT, repsT, batch,
        P._1, P._2, P._3, P._4, 0.5)
      pairs.write.mode("overwrite").parquet(out)
    }
    // each probed corpus doc finds at least its own rep
    assert(spark.read.parquet(out).count() >= 1)
    // batch reps + band keys, band-scan broadcast, candidates, rep
    // texts, the write
    assert(jobs == 5, s"probe + write ran $jobs jobs")
  }

  test("an IncrementalPrep batch with append plus the writes of kept and " +
      "dropped runs 10 jobs: no broadcast build and no per-stage count") {
    val tag = s"ingestjobs_${System.nanoTime()}"
    val (bandsT, repsT) = MinHashIndex.ensure(spark, sf, corpus(), tag,
      P._1, P._2, P._3, P._4, Seq("documents"))
    val batch = spark.read.parquet(Fixtures.incPrepBatch(spark, sf))
    val (keptOut, droppedOut) = (tmpDir(), tmpDir())
    val jobs = jobsOf {
      val out = IncrementalPrep.run(spark, bandsT, repsT, batch, append = true,
        batchTag = Some("ingestjobs-b0"))
      out.kept.select("id").write.mode("overwrite").parquet(keptOut)
      out.dropped.write.mode("overwrite").parquet(droppedOut)
    }
    assert(spark.read.parquet(keptOut).count() >= 1)
    assert(spark.read.parquet(droppedOut).count() >= 1)
    // batch cache; the probe's reps, band-scan broadcast, candidates and
    // rep texts; the kept ids (materializing every stage); two appends;
    // two writes
    assert(jobs == 10, s"IncrementalPrep + writes ran $jobs jobs")
  }

  test("band-key hot spot: past DriverHeld's cap the probe and " +
      "IncrementalPrep fall back to their distributed shapes with the same " +
      "pairs, kept, dropped, attrition and appended index rows") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // letter-only words (digits would fail the quality stage)
    def w(p: String, i: Int) = s"$p${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
    val base = (0 until 100).map(i => if (i % 5 == 0) "the" else w("w", i))
    val base2 = (0 until 100).map(i => if (i % 4 == 0) "of" else w("v", i))
    // 40 corpus docs one word away from `base`: each shares most band
    // slices with a batch copy of it — the hot spot
    val corpusDf = ((0 until 40).map(i => (i + 1L, base.updated(10 + i, w("c", i)).mkString(" "))) :+
      (99L, (0 until 100).map(w("u", _)).mkString(" "))).toDF("id", "text")
    val batch = Seq(
      (1000L, base.mkString(" ")), // corpus near-dup
      (1001L, "  " + base.mkString(" ").toUpperCase), // its norm twin
      (1002L, base2.mkString(" ")), // fresh family rep
      (1003L, base2.updated(50, "xq").mkString(" ")), // near-dup of 1002
      (1004L, base2.mkString(" ")), // raw twin of 1002
      (1005L, "too short to pass"), // low quality
      (1006L, (0 until 100).map(w("f", _)).mkString(" "))).toDF("id", "text")

    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    def run(cap: Int) = {
      val tag = s"hotspot_$cap"
      Bucketed.invalidate(spark, s"mhidx_${tag}_")
      val (bandsT, repsT) = MinHashIndex.ensure(spark, SparkTestBase.dataDir,
        corpusDf, tag, P._1, P._2, P._3, P._4, Seq("region"))
      DriverHeld.cap = cap
      DriverHeld.peakRows = 0
      DriverHeld.overflows = 0
      try {
        val (pairs, bReps) = MinHashIndex.probe(spark, bandsT, repsT, batch,
          P._1, P._2, P._3, P._4, 0.5)
        val probed = (rows(pairs), rows(bReps))
        val out = IncrementalPrep.run(spark, bandsT, repsT, batch, append = true)
        val prep = (rows(out.kept), rows(out.dropped), rows(out.attrition))
        val index = (rows(spark.table(bandsT)), rows(spark.table(repsT)))
        (probed, prep, index, DriverHeld.peakRows, DriverHeld.overflows)
      } finally DriverHeld.cap = DriverHeld.MaxRows
    }

    val (probed, prep, index, _, overflows) = run(DriverHeld.MaxRows)
    assert(overflows == 0, "the reference run must take the driver-held path")
    // not vacuous: the hot spot pairs the batch copy with every near copy
    assert(probed._1.count(_.getLong(0) == 1000L) == 40, probed._1)
    assert(prep._1.map(_.getLong(0)) == Seq(1002L, 1006L), prep._1)
    assert(prep._2.map(r => (r.getLong(0), r.getString(1))).toMap == Map(
      1000L -> "corpus_near_dup", 1001L -> "corpus_near_dup",
      1003L -> "batch_near_dup", 1004L -> "batch_exact_dup", 1005L -> "low_quality"))
    // 4 batch reps: 4 holds them but not the 40 candidates; 1 holds
    // neither
    for (cap <- Seq(4, 1)) {
      val (p, r, i, peak, over) = run(cap)
      assert(over > 0, s"cap $cap: no collect overflowed")
      assert(peak <= cap, s"cap $cap: a collect held $peak rows")
      assert(p == probed, s"cap $cap: probe differs")
      assert(r == prep, s"cap $cap: IncrementalPrep outputs differ")
      assert(i == index, s"cap $cap: appended index rows differ")
    }

    // the within-batch pass falls back on its own once its candidate
    // pairs pass the cap
    val reps = Seq(1002L -> base2, 1003L -> base2.updated(50, "xq")).map { case (id, ws) =>
      val norm = ws.mkString(" ")
      MinHashIndex.HeldRep(id, norm, MinHashIndex.bandRows(Seq((id, norm)).toDF("id", "text"),
        P._1, P._2, P._3, P._4)._1.select("bkey64").as[Long].collect().toSeq)
    }
    assert(MinHashIndex.heldRepPairs(reps, P._1, 0.5).map(_.map(p => (p._1, p._2))) ==
      Some(Seq((1002L, 1003L))))
    DriverHeld.cap = 0
    try assert(MinHashIndex.heldRepPairs(reps, P._1, 0.5).isEmpty)
    finally DriverHeld.cap = DriverHeld.MaxRows
  }

  test("DriverHeld.collect keeps at most cap rows plus one arriving " +
      "partition's on the driver, whatever the partition count") {
    val df = spark.range(0, 1000, 1, 8).toDF("id") // 125 rows per partition
    DriverHeld.cap = 10
    DriverHeld.peakKept = 0
    try {
      assert(DriverHeld.collect(df).isEmpty)
      // each task ships 11 rows; the 8 of them together would be 88
      assert(DriverHeld.peakKept <= 2 * 10 + 1, s"kept ${DriverHeld.peakKept} rows")
      DriverHeld.cap = 1000
      assert(DriverHeld.collect(df).map(_.map(_.getLong(0)).toSeq) == Some(0L until 1000L))
    } finally DriverHeld.cap = DriverHeld.MaxRows
  }

  test("held reps with too many within-batch pairs: IncrementalPrep takes " +
      "keepFirst over the held probe with the same kept, dropped and attrition") {
    import spark.implicits._
    def w(p: String, i: Int) = s"$p${('a' + i % 26).toChar}${('a' + i / 26).toChar}"
    val base = (0 until 100).map(i => if (i % 4 == 0) "of" else w("v", i))
    val corpusDf = Seq((1L, (0 until 100).map(w("u", _)).mkString(" "))).toDF("id", "text")
    // six one-word variants of `base`: 6 + 1 reps, 15 within-batch pairs
    val batch = ((0 until 6).map(i => (2000L + i, base.updated(50 + 5 * i, w("x", i)).mkString(" "))) :+
      (2010L, (0 until 100).map(w("f", _)).mkString(" "))).toDF("id", "text")
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)
    def run(cap: Int) = {
      val tag = s"pairspill_$cap"
      Bucketed.invalidate(spark, s"mhidx_${tag}_")
      val (bandsT, repsT) = MinHashIndex.ensure(spark, SparkTestBase.dataDir,
        corpusDf, tag, P._1, P._2, P._3, P._4, Seq("region"))
      DriverHeld.cap = cap
      DriverHeld.peakRows = 0
      DriverHeld.overflows = 0
      try {
        val out = IncrementalPrep.run(spark, bandsT, repsT, batch, append = true)
        val prep = (rows(out.kept), rows(out.dropped), rows(out.attrition))
        (prep, (rows(spark.table(bandsT)), rows(spark.table(repsT))),
          DriverHeld.peakRows, DriverHeld.overflows)
      } finally DriverHeld.cap = DriverHeld.MaxRows
    }
    val (prep, index, _, over0) = run(DriverHeld.MaxRows)
    assert(over0 == 0, "the reference run must hold every set")
    assert(prep._1.map(_.getLong(0)) == Seq(2000L, 2010L), prep._1)
    assert(prep._2.map(r => (r.getLong(0), r.getString(1))).toMap ==
      (1 to 5).map(i => (2000L + i) -> "batch_near_dup").toMap)
    // 10 holds the 7 reps but not the 15 pairs: only the pair pass spills
    val (p, i, peak, over) = run(10)
    assert(peak == 7 && over == 1, s"held $peak rows, $over overflows")
    assert(p == prep, "IncrementalPrep outputs differ")
    assert(i == index, "appended index rows differ")
  }
}
