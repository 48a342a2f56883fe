package graft.examples

import graft.etl.DriverHeld
import graft.etl.StageCheckpoint.StageCheckpointOps
import graft.functions.TextOps
import graft.layouts.MinHashIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** INCREMENTAL corpus preparation — the nightly job a training-data user
  * actually runs once [[TrainingDataPrep]] has built the base corpus: a
  * new crawl batch is cleaned AGAINST the existing corpus without ever
  * rescanning or re-hashing the corpus itself, then folded into the
  * corpus's persisted near-dup index so tomorrow's batch dedups against
  * corpus ∪ batch. Every corpus-facing step is BATCH-proportional:
  *
  *   1. Within-batch exact dedup (keep min id per raw text) — the same
  *      op-69 precondition the full pipeline starts with.
  *   2. Quality filter (map-side, TextOps.qualityFeatures ≥ qualityMin)
  *      — junk dies before any signature work is paid for it.
  *   3. Near-dup vs the CORPUS via the persisted banded-MinHash index
  *      ([[MinHashIndex.probe]]): the batch computes its own signatures
  *      map-side, broadcasts its band keys into the bucketed band table
  *      (bucket-PRUNED scan — the index side is never shuffled, and at
  *      index-scale bucket counts only the touched bucket files are
  *      read), and exact Jaccard verifies candidates against only the
  *      touched reps' texts. Any batch doc with a verified corpus match
  *      ≥ threshold is dropped — the corpus copy wins (arrival order).
  *   4. Near-dup WITHIN the batch ([[MinHashIndex.heldRepPairs]]: the
  *      probe's own band keys of the survivors, paired on a shared key
  *      and verified by exact Jaccard — TextDedup.minhashPairs' pairs
  *      without a second signature pass): of each verified pair the
  *      larger id dies ([[MinHashIndex.keepFirst]]'s rule).
  *   5. Decontamination (optional): doc-level eval-shingle concentration
  *      ≥ contamMin against a BROADCAST benchmark n-gram set — the
  *      llm_decontaminate rule; batches are short-horizon so the doc-
  *      level form is the right default (the chunk-level rule remains
  *      available via TrainingDataPrep for full rebuilds).
  *   6. `append = true` folds the kept docs into the index — their
  *      band rows from the same probe, under [[MinHashIndex.append]]'s
  *      crash-safe marker protocol — closing the ingest loop: the NEXT
  *      batch's probe sees corpus ∪ kept.
  *
  * The batch's MinHash signatures are computed once, in the probe. At
  * 100 TB the corpus index is the only corpus-sized artifact touched,
  * and only through its bucketed probe path — the nightly cost tracks
  * the batch (earlier rounds' incremental probes measured a flat probe
  * cost across a 4× corpus at fixed batch).
  *
  * Jobs: the batch's sets that the stages consume (reps, band keys,
  * verified pairs, within-batch losers, kept ids) are held on the driver
  * ([[graft.etl.DriverHeld]]) and applied as InSet filters, so no stage
  * plan holds a broadcast and the stages materialize inside the probe's
  * collect and one collect over b5: with `append` and the writes of
  * `kept` and `dropped`, a batch is ten jobs (IngestJobsSpec). Past
  * DriverHeld's cap each step takes its distributed shape instead.
  *
  * Outputs: `kept` (surviving batch rows), `dropped` (id, stage: the
  * first stage whose output lacks the id — every batch id is in exactly
  * one of `kept` and `dropped`), and
  * `attrition` — one row per stage with docs in/out and surviving token
  * volume, the same report shape as [[TrainingDataPrep]].
  */
object IncrementalPrep {

  final case class Outputs(kept: DataFrame, dropped: DataFrame, attrition: DataFrame)

  /** Run the incremental pipeline for `batchIn` (id, text) against the
    * ensured index (`bandsTable`, `repsTable`). MinHash geometry must
    * match the index's build parameters. */
  def run(s: SparkSession, bandsTable: String, repsTable: String,
      batchIn: DataFrame,
      evalNgrams: Option[DataFrame] = None,
      qualityMin: Double = 0.45, threshold: Double = 0.5,
      contamMin: Double = 0.5,
      shingleWords: Int = 5, nHashes: Int = 64, nBands: Int = 16,
      rowsPerBand: Int = 4,
      append: Boolean = false,
      compactIndex: Boolean = false,
      autoCompactAt: Int = 0,
      batchTag: Option[String] = None): Outputs = {
    graft.functions.GraftFunctions.register(s)
    // scanned by two consumers (stage-1 groupBy, the dropped report) —
    // cache once, count eagerly (fills the cache)
    val batch = batchIn.select(col("id"), col("text")).cache()
    val nBatch = batch.count()

    // stage lineage is CUT per stage (localCheckpoint, the
    // TrainingDataPrep finding): each stage's plan otherwise embeds the
    // full upstream pipeline several times over and Catalyst re-analyzes
    // the whole tree per downstream action. The checkpoints are lazy:
    // the first action that reads a stage fills it.

    // 1. within-batch exact dedup on the raw text: one aggregate keeps
    // the min id per text
    val b1 = batch.groupBy(col("text")).agg(min(col("id")).as("id"))
      .select(col("id"), col("text"))
      // per-doc token count once, carried through every stage subset —
      // the attrition report reuses it (the TrainingDataPrep r17 rule)
      .withColumn("tok",
        size(split(TextOps.normalize(col("text")), " ")).cast("long"))
      .stageCheckpoint(eager = false)

    // 2. quality filter — the oracled formula, map-side
    val b2 = b1.withColumn("q", TextOps.qualityFeatures(col("text")))
      .filter(col("q.quality_raw") >= qualityMin).stageCheckpoint(eager = false)

    // 3. near-dup vs the corpus through the persisted index. The probe
    // signs the batch once; its band rows serve stage 4 and the append.
    // Under DriverHeld's cap it holds the batch reps, their band keys and
    // the verified pairs on the driver, and the stages below consume
    // them as InSet filters: no stage plan holds a broadcast, each of
    // which would run a build job when the stage is checkpointed.
    val probed = MinHashIndex.probeBatch(
      s, bandsTable, repsTable, b2.select(col("id"), col("text")),
      shingleWords, nHashes, nBands, rowsPerBand, threshold)
    val held = probed.held
    // drop the reps with a verified corpus match
    val dropCorpusDups: DataFrame => DataFrame = held match {
      case Some(h) => withoutReps(_, h.pairs.map(_._1))
      case None =>
        val dups = probed.pairs.select(col("brep")).distinct()
        _.join(dups, Seq("brep"), "left_anti")
    }
    // member expansion: each batch doc carries its dedup-group rep, the
    // min id of its norm group — the probe's rep for that norm
    val b3 = dropCorpusDups(b2.withColumn("brep", min(col("id"))
        .over(Window.partitionBy(TextOps.normalize(col("text"))))))
      .select(col("id"), col("text"), col("tok"), col("q"), col("brep"))
      .stageCheckpoint(eager = false)

    // 4. near-dup within the batch over the groups that survived stage 3,
    // from the probe's band rows: keep-first — of each verified pair the
    // larger id dies (TrainingDataPrep stage-3 semantics). Held, the
    // pairs are evaluated on the driver; past the cap, by joins.
    val losers = held.flatMap { h =>
      val dups = h.pairs.map(_._1).toSet
      MinHashIndex.heldRepPairs(h.reps.filterNot(r => dups(r.rep)), shingleWords, threshold)
        .map(_.map(_._2))
    }
    val b4 = (losers match {
      case Some(ls) => withoutReps(b3.filter(col("id") === col("brep")), ls)
      case None => MinHashIndex.keepFirst(b3, MinHashIndex.batchRepPairs(
        dropCorpusDups(probed.bBands), probed.bReps, shingleWords, threshold))
    }).stageCheckpoint(eager = false)

    // 5. doc-level decontamination: shingle set materialized BELOW the
    // explode (the llm_decontaminate_chunks plan lessons: size(f(x))
    // beside explode(f(x)) re-runs the pipeline per exploded row, and
    // explode_outer avoids the inferred size>0 re-run below the shuffle)
    val b5 = evalNgrams.fold(b4) { ev =>
      val contamIds = b4.withColumn("norm", TextOps.normalize(col("text")))
        .select(col("id"), expr(s"word_shingles(norm, $shingleWords)").as("shs"))
        .select(col("id"), size(col("shs")).as("n_sh"),
          explode_outer(col("shs")).as("sh"))
        .join(broadcast(ev.select(col("sh")).distinct()), "sh")
        .groupBy(col("id"), col("n_sh"))
        .agg(count(lit(1)).as("hits"))
        .filter(col("hits").cast("double") >=
          col("n_sh").cast("double") * contamMin)
        .select("id").distinct()
      b4.join(contamIds, Seq("id"), "left_anti").stageCheckpoint(eager = false)
    }

    // ONE action over b5 materializes every stage the probe has not (the
    // attrition report's union branches must never race to fill a shared
    // cache). Held, it collects the kept ids the append needs: b5 holds
    // only reps, so at most the probe's held rep count, within the cap.
    val heldKept = held.map(h => h -> DriverHeld.collect(b5.select(col("id")))
      .getOrElse(throw new IllegalStateException("more kept docs than held batch reps"))
      .map(_.getLong(0)).toSet)
    if (heldKept.isEmpty) b5.count()

    // 6. fold the kept docs into the index with their band rows from the
    // probe — no signature pass. Every kept rep is fresh (stage 3
    // already dropped every batch doc with ANY corpus match ≥ threshold,
    // so append's jaccard-1.0 filter has nothing to remove). `batchTag`
    // makes the fold EXACTLY-ONCE: a retried nightly run (scheduler
    // re-fire, crash after commit) is a no-op instead of double-indexing
    // the batch (MinHashIndex.append's stamp contract).
    if (append) {
      val (keptBands, keptReps) = heldKept match {
        case Some((h, ids)) => MinHashIndex.heldIndexRows(s, h, ids)
        case None =>
          // b5 holds one doc per group, its rep (stage 4 keeps only reps)
          val reps = b5.select(col("id").as("rep"),
            TextOps.normalize(col("text")).as("norm"))
          (reps.select(col("rep"))
            .join(broadcast(probed.bBands.withColumnRenamed("brep", "rep")), "rep")
            .select(col("bkey64"), col("rep")), reps)
      }
      MinHashIndex.appendRows(s, bandsTable, repsTable, keptBands, keptReps, batchTag)
      // index MAINTENANCE on the caller's cadence: every append adds a
      // file per touched bucket, so a nightly job compacts periodically
      // to keep the probe's per-bucket file count bounded. Placement-only
      // — probe results are invariant (Bucketed.compact). Two forms:
      // `compactIndex` forces it this run; `autoCompactAt = n` compacts
      // only once some bucket has accumulated ≥ n files — the
      // self-driving rule (MinHashIndex.compactIfFragmented) that keys
      // maintenance on observed fragmentation, not wall-clock guesswork.
      if (compactIndex) MinHashIndex.compact(s, bandsTable, repsTable)
      else if (autoCompactAt > 0)
        MinHashIndex.compactIfFragmented(s, bandsTable, repsTable, autoCompactAt)
    }

    // an id's stage is the first checkpoint that lacks it; the stages
    // nest, so that is the one after the last stage holding it — one
    // union-aggregate of the materialized stages' ids
    val labels = Seq("batch_exact_dup", "low_quality", "corpus_near_dup",
      "batch_near_dup", "decontaminated")
    val dropped = Seq(batch, b1, b2, b3, b4, b5).zipWithIndex
      .map { case (df, i) => df.select(col("id"), lit(i).as("last")) }
      .reduce(_ unionByName _)
      .groupBy(col("id")).agg(max(col("last")).as("last"))
      .filter(col("last") < labels.size)
      .select(col("id"), element_at(array(labels.map(lit): _*), col("last") + 1).as("stage"))

    val attrition = TrainingDataPrep.attritionReport(nBatch, Seq(
      ("batch_exact_dedup", 1, b1), ("quality_filter", 2, b2.drop("q")),
      ("corpus_neardup", 3, b3.drop("q")), ("batch_neardup", 4, b4.drop("q")),
      ("decontaminate", 5, b5.drop("q"))))

    Outputs(b5.select(col("id"), col("text")), dropped, attrition)
  }

  /** `df` without the rows whose `brep` is in `reps` — a driver-held set,
    * so an InSet filter instead of a join. */
  private def withoutReps(df: DataFrame, reps: Seq[Long]): DataFrame =
    if (reps.isEmpty) df else df.filter(!col("brep").isin(reps.distinct: _*))
}
