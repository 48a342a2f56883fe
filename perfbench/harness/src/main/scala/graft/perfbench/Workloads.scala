package graft.perfbench

import graft.{Bench, Det, Fixtures, SparkEntry, Tables}
import graft.examples.IncrementalPrep
import graft.layouts.{Bucketed, MinHashIndex}
import graft.operators.Joins
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** A set-up step: the layer it belongs to, its name, and the work. */
final case class Step(layer: String, name: String, run: () => Unit)

/** One benchmark workload. `setup` builds every fixture, layout and index
  * from nothing; `round(r)` lists the operations of timed round r, each
  * run once in that order. `info` carries what the checks need to know
  * about the run's inputs and state. */
trait Workload {
  def setup: Seq[Step]
  def maxRounds: Int
  def round(r: Int): Seq[Op]
  def keepRoundOutputs: Boolean = false
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

object Workloads {
  def apply(name: String, s: SparkSession, dir: String, seed: Long,
      rows: Seq[String]): Workload = name match {
    case "sas_etl" => new SasEtl(s, dir, rows)
    case "ingest_probe" => new IngestProbe(s, dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def row(s: SparkSession, dir: String, name: String): Op =
    Op(name, () => Seq("" -> SparkEntry.queries(name)(s, dir)))
}

/** The 12 BASELINE.md shapes as graft.Bench builds them, then `rows`, a
  * sample of oracled registry rows. */
final class SasEtl(s: SparkSession, dir: String, rows: Seq[String]) extends Workload {
  private val asofLikeMerge: (SparkSession, String) => DataFrame = {
    // graft.Bench keeps this shape object-private; call the same method
    val m = Bench.getClass.getDeclaredMethod("asofLikeMerge",
      classOf[SparkSession], classOf[String])
    m.setAccessible(true)
    (sp, d) => m.invoke(Bench, sp, d).asInstanceOf[DataFrame]
  }

  val shapes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q1_pricing_summary" -> (Bench.q1 _),
    "q3_join3_topk" -> (Bench.q3 _),
    "q5_join5" -> (Bench.q5 _),
    "window_rank" -> (Bench.windowRank _),
    "grouping_sets" -> (Bench.groupingSets _),
    "pivot_transpose" -> (Bench.pivotTranspose _),
    "sessionize" -> (Bench.sessionize _),
    "tumbling_window" -> (Bench.tumbling _),
    "text_tokens" -> (Bench.textTokens _),
    "dedup_exact" -> (Bench.dedupExact _),
    "asof_like_merge" -> asofLikeMerge,
    "knn_cosine" -> SparkEntry.queries("llm_cosine_topk"))

  def setup: Seq[Step] = Seq(
    Step("layouts.ensure", "bucketed_facts", () => Joins.bucketedFacts(s, dir)),
    Step("layouts.ensure", "bucketed_dims", () => Joins.bucketedDims(s, dir)),
    Step("layouts.ensure", "bucketed_events", () => Joins.bucketedEvents(s, dir)),
    Step("layouts.ensure", "range_banded_events", () => Joins.rangeBandedEvents(s, dir)))

  def maxRounds = 1000
  def round(r: Int): Seq[Op] =
    shapes.map { case (n, f) => Op(n, () => Seq("" -> f(s, dir))) } ++
      rows.map(Workloads.row(s, dir, _))
}

/** Writes beside reads on resident layouts. Set-up builds a MinHash
  * near-dup index over the documents minus a seeded held-out pool, and an
  * incrementally maintained bucketed orders/lineitem layout minus seeded
  * delta slices. Each batch probes the index read-only, ingests held-out
  * docs through IncrementalPrep (with planted exact copies of corpus docs
  * and planted fresh docs), appends one fact slice and runs the co-located
  * join; each cycle of batches ends with compaction and one more join. */
final class IngestProbe(s: SparkSession, dir: String, seed: Long) extends Workload {
  import IngestProbe._

  private val rnd = new scala.util.Random(seed)
  private val sliceOffset = java.lang.Math.floorMod(seed * 104729L, Slices.toLong)
  private def slice(key: String) = (col(key).cast("long") * 7919L + sliceOffset) % Slices
  private def sliceSql(key: String) = s"(CAST($key AS BIGINT) * 7919 + $sliceOffset) % $Slices"

  private lazy val docIds: Array[(Long, Int)] =
    Tables.documents(s, dir)
      .select(col("doc_id").cast("long"), size(split(trim(col("text")), "\\s+")))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
  private lazy val shuffled = rnd.shuffle(docIds.toSeq)
  private lazy val heldOut: Seq[Long] = shuffled.take(BatchDocs * MaxBatches).map(_._1)
  // corpus docs long enough to have shingles: a probe must find each one
  private lazy val probeable: Seq[Long] =
    shuffled.drop(BatchDocs * MaxBatches).filter(_._2 >= 20).map(_._1)

  private def docs = Tables.documents(s, dir).select(col("doc_id").cast("long").as("id"), col("text"))
  private var neardup = ""
  private var bands = ""
  private var reps = ""
  private var ordersT = ""
  private var lineitemT = ""

  def setup: Seq[Step] = Seq(
    Step("fixtures.build", "neardup", () => neardup = Fixtures.neardupCorpus(s, dir)),
    Step("layouts.ensure", "minhash_index", () => {
      // the corpus rows of the near-dup fixture (its mutants carry
      // ids >= 1e6), as the registry's own repbase index selects them
      val (b, r) = MinHashIndex.ensure(s, dir,
        s.read.parquet(neardup).filter(col("id") < 1000000L && !col("id").isin(heldOut: _*)),
        "pbench_corpus",
        ShingleWords, NHashes, NBands, RowsPerBand, srcTables = Seq("documents"))
      bands = b; reps = r
    }),
    Step("layouts.ensure", "bucketed_facts_incremental", () => {
      val Seq(o, l) = Bucketed.ensure(s, dir, Seq(
        Bucketed.Spec("orders_pbi", Tables.orders(s, dir)
          .filter(slice("o_orderkey") >= MaxBatches), "o_orderkey", Seq("orders")),
        Bucketed.Spec("lineitem_pbi", Tables.lineitem(s, dir)
          .filter(slice("l_orderkey") >= MaxBatches), "l_orderkey", Seq("lineitem"))),
        buckets = Bucketed.defaultBuckets(dir))
      ordersT = o; lineitemT = l
    }))

  def maxRounds = MaxCycles
  override def keepRoundOutputs = true

  private def repCount(): Long = s.table(reps).count()

  private def join(): DataFrame =
    s.table(lineitemT).hint("merge")
      .join(s.table(ordersT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), Det.dsum(col("l_extendedprice")).as("sum_price"))

  /** The reference join over base ∪ the first `appended` delta slices
    * (slices `appended` until MaxBatches are still held out), for DuckDB
    * over the raw tables. */
  private def joinSql(appended: Int): String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
       |       ${Det.sqlSum("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE NOT (${sliceSql("o_orderkey")} >= $appended
       |           AND ${sliceSql("o_orderkey")} < $MaxBatches)
       |GROUP BY o_orderpriority""".stripMargin

  private val batches = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val cycles = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  info("batches") = batches
  info("cycles") = cycles

  private def freshText(b: Int, i: Int): String = {
    val g = new scala.util.Random(seed * 1000003L + b * 101L + i)
    Seq.fill(120)(Seq.fill(3 + g.nextInt(6))(('a' + g.nextInt(26)).toChar).mkString)
      .mkString(" ")
  }

  private def maxFiles(): Int = math.max(
    Bucketed.maxFilesPerBucket(s, Seq(ordersT, lineitemT)),
    MinHashIndex.maxFilesPerBucket(s, bands, reps))

  /** Round c is one ingest cycle: BatchesPerCycle batches, the corpus-prep
    * registry row, then the compaction and the final join. */
  def round(c: Int): Seq[Op] = {
    val cycle = mutable.LinkedHashMap[String, Any]("cycle" -> c)
    cycles += cycle
    val ingest = (0 until BatchesPerCycle).flatMap(k => batch(c, c * BatchesPerCycle + k, k))
    val appended = (c + 1) * BatchesPerCycle
    ingest ++ Seq(
      // the full-rebuild corpus pipeline beside the incremental one; it
      // filters on the same rounded quality score
      Workloads.row(s, dir, "llm_corpus_prep_stages"),
      Op("compact", () => {
        cycle("facts_compacted") = Bucketed.compactIfFragmented(s, Seq(ordersT, lineitemT), 2)
        cycle("index_compacted") = MinHashIndex.compactIfFragmented(s, bands, reps, 2)
        Nil
      }, before = () => cycle("max_files_per_bucket") = maxFiles(),
        after = () => cycle("max_files_after") = maxFiles()),
      Op("join_final", () => Seq("" -> join()),
        before = () => cycle("join_sql") = joinSql(appended)))
  }

  /** Batch b (the k-th of cycle c): probes, one IncrementalPrep ingest of
    * held-out docs plus planted copies and fresh docs, one fact slice
    * appended, the co-located join. */
  private def batch(c: Int, b: Int, k: Int): Seq[Op] = {
    val probeIds = (0 until ProbesPerBatch).map { p =>
      new scala.util.Random(seed * 7919L + b * 31L + p).shuffle(probeable).take(ProbeDocs)
    }
    val batchHeld = heldOut.slice(b * BatchDocs, (b + 1) * BatchDocs)
    val copySrc = new scala.util.Random(seed * 13L + b).shuffle(probeable).take(PlantedCopies)
    val copyIds = copySrc.indices.map(i => CopyBase + b * 1000L + i)
    val freshIds = (0 until PlantedFresh).map(i => FreshBase + b * 1000L + i)
    val state = mutable.LinkedHashMap[String, Any](
      "cycle" -> c, "batch" -> b, "k" -> k, "probe_ids" -> probeIds, "held_ids" -> batchHeld,
      "copy_ids" -> copyIds, "copy_src" -> copySrc, "fresh_ids" -> freshIds,
      "join_sql" -> joinSql(b + 1))
    batches += state

    val probes = probeIds.zipWithIndex.map { case (ids, p) =>
      Op(s"probe${p}_b$k", () => {
        val (pairs, _) = MinHashIndex.probe(s, bands, reps,
          docs.filter(col("id").isin(ids: _*)), ShingleWords, NHashes, NBands,
          RowsPerBand, Threshold)
        Seq("" -> pairs)
      }, filesTotal = Some(() => MinHashIndex.lastProbeStats
        .map { case (x, y) => (x.totalFiles + y.totalFiles).toLong }.getOrElse(0L)))
    }
    val prep = Op(s"prep_b$k", () => {
      val idMap = s.createDataFrame(s.sparkContext.parallelize(
        copySrc.zip(copyIds).map { case (a, n) => Row(a, n) }, 1),
        StructType(Seq(StructField("id", LongType), StructField("new_id", LongType))))
      val copies = docs.filter(col("id").isin(copySrc: _*))
        .join(broadcast(idMap), "id").select(col("new_id").as("id"), col("text"))
      val fresh = s.createDataFrame(s.sparkContext.parallelize(
        freshIds.zipWithIndex.map { case (id, i) => Row(id, freshText(b, i)) }, 1),
        StructType(Seq(StructField("id", LongType), StructField("text", StringType))))
      val in = docs.filter(col("id").isin(batchHeld: _*))
        .unionByName(copies).unionByName(fresh)
      val out = IncrementalPrep.run(s, bands, reps, in, append = true,
        batchTag = Some(s"pbench-$b"))
      Seq("kept" -> out.kept.select("id"), "dropped" -> out.dropped)
    }, before = () => state("reps_before") = repCount(),
      after = () => state("reps_after") = repCount())
    val append = Op(s"append_b$k", () => {
      state("append_ran") = Bucketed.appendOnce(s, s"pbench-slice-$b", Seq(
        ordersT -> Tables.orders(s, dir).filter(slice("o_orderkey") === b),
        lineitemT -> Tables.lineitem(s, dir).filter(slice("l_orderkey") === b)))
      Nil
    })
    probes ++ Seq(prep, append, Op(s"join_b$k", () => Seq("" -> join())))
  }
}

object IngestProbe {
  val Slices = 64
  val MaxCycles = 8
  val BatchesPerCycle = 1
  val MaxBatches = MaxCycles * BatchesPerCycle
  val BatchDocs = 40
  val PlantedCopies = 10
  val PlantedFresh = 10
  val ProbesPerBatch = 3
  val ProbeDocs = 20
  val CopyBase = 10000000L
  val FreshBase = 20000000L
  // IncrementalPrep.run's MinHash geometry; the index must match it
  val ShingleWords = 5
  val NHashes = 64
  val NBands = 16
  val RowsPerBand = 4
  val Threshold = 0.5
}
