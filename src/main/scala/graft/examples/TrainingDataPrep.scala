package graft.examples

import graft.etl.TextDedup
import graft.etl.StageCheckpoint.StageCheckpointOps
import graft.functions.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the composed job the LLM
  * operator family exists FOR, in the order a 100 TB crawl actually runs
  * them (each stage shrinks the data the next one touches):
  *
  *   1. EXACT dedup (cheapest: one shuffle on the raw text, keep min id) —
  *      the op-69 precondition every later stage relies on.
  *   2. Quality filter (map-side: TextOps.qualityFeatures — the exact
  *      formula the driver oracles via llm_quality_score) ≥ `qualityMin`.
  *   3. NEAR-dup removal over the survivors: MinHash+LSH candidate pairs
  *      (TextDedup.minhashPairs, never all-pairs), exact-Jaccard-verified
  *      at `neardupThreshold`; of each duplicate pair the larger doc_id is
  *      dropped (keep-first — the same arrival-order rule the streaming
  *      twin applies). Pair-graph note: keep-first by pair is the standard
  *      greedy pass — a doc is dropped iff it pairs with some smaller
  *      surviving doc; transitive near-dup CHAINS (a~b, b~c, a≁c) can keep
  *      endpoints a and c, which is the documented, deterministic choice.
  *   4. Chunk-boilerplate filter (TextOps.cdcChunks): drop docs whose
  *      content-defined chunks mostly first-occur elsewhere — the
  *      RefinedWeb line-dedup filter at chunk granularity, catching
  *      documents STITCHED from other documents' passages, which
  *      doc-level near-dup cannot see (a two-doc concat has ≈0.5 Jaccard
  *      with each source). Ordering note: chunk-exact duplication also
  *      subsumes single-word mutants, so running it AFTER the LSH pass
  *      keeps each detector's distinct catch observable; on a corpus
  *      where stitched boilerplate dominates, run it before the LSH pass
  *      instead — both orders are correct, the choice is cost.
  *   5. Chunk-level decontamination (optional, when an eval n-gram set is
  *      supplied): drop docs where any content-defined chunk concentrates
  *      ≥ half its shingles in the benchmark set — the paragraph-leak
  *      rule a doc-level contamination fraction dilutes away
  *      (llm_decontaminate_chunks proves the asymmetry).
  *   6. Token accounting over the kept set: whitespace tokens + the
  *      chars/4 BPE estimate per doc, plus corpus totals.
  *
  * Everything before the near-dup band join is map-side or one shuffle;
  * stage order is the 100 TB design: exact dedup removes the mass (web
  * crawls are duplicate-heavy), quality drops junk BEFORE signatures are
  * computed, and the LSH pass runs on the smallest surviving set.
  *
  * Outputs: `kept` (doc_id, lang, n_tokens, quality, bpe_est),
  * `dropped` (doc_id, stage it died in), and `attrition` — one row per
  * stage with docs in/out and surviving token volume, the corpus-curation
  * report a data-engineering run ends with.
  */
object TrainingDataPrep {

  final case class Outputs(kept: DataFrame, dropped: DataFrame, attrition: DataFrame)

  /** Prepare a corpus given as (doc_id, lang, text) rows.
    * `chunkDupMax`: stage-4 boilerplate bar — a doc dies when more than
    * this fraction of its content-defined chunks (TextOps.cdcChunks)
    * first occur elsewhere in the surviving corpus (post exact-dedup, so
    * texts are distinct and first-occurrence is well-defined).
    * `evalNgrams`: optional benchmark word-5-gram set (one string column
    * `sh`) for stage 5, CHUNK-level decontamination: a doc dies when any
    * of its content-defined chunks has ≥ `chunkContamMin` of its shingles
    * in the eval set — the leak-concentration rule a doc-level fraction
    * threshold provably dilutes away (llm_decontaminate_chunks row). The
    * eval set is benchmark-sized (thousands of rows): broadcast, never
    * shuffled against the corpus. */
  def prepare(docsIn: DataFrame,
      qualityMin: Double = 0.45, neardupThreshold: Double = 0.8,
      chunkDupMax: Double = 0.6,
      evalNgrams: Option[DataFrame] = None,
      chunkContamMin: Double = 0.5): Outputs = {
    // The input is scanned by four consumers (exact-dedup groupBy, the s1
    // join, the corpus count, the dropped report) — cache it once, and
    // count it HERE so the fixture-construction joins a caller passes in
    // run exactly once (the count also fills the cache eagerly).
    val docs = docsIn.select(col("doc_id"), col("lang"), col("text")).cache()
    val nCorpus = docs.count()

    // STAGE LINEAGE MUST BE CUT, not just cached: s3's plan references s2
    // five times (minhashPairs walks its grouped/sh subtrees thrice/twice),
    // s4 references s3 three times, s5 references s4 twice — so a cache()
    // chain leaves the LOGICAL plan growing ~30× per stage of depth, and
    // Catalyst re-analyzes that whole tree for every downstream action even
    // though execution reads the cache (measured at sf0.1/32 threads: the
    // decontaminate stage spent 11.26 s wall on 0.86 s of Spark jobs — the
    // difference was driver-side analysis of a plan embedding the full
    // pipeline lineage multiple times). localCheckpoint truncates the plan
    // to the materialized partitions — exactly the stage-boundary
    // checkpoint a 100 TB pipeline writes to storage anyway — and planning
    // cost returns to linear in pipeline depth. Lazy (eager=false): each
    // stage materializes in the timed foreach below, in dependency order.

    // 1. exact dedup: keep the smallest doc_id per raw text (group by the
    // content itself — no hash pass; map-side partials shrink the shuffle
    // to the distinct set)
    val exactKept = docs
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val s1 = docs.join(exactKept, "doc_id")
      // normalized-token count computed ONCE here and carried through
      // every later stage (each is a row subset of s1), so the attrition
      // report's per-stage token sums stop re-running the
      // normalize+split pipeline over all five stage outputs (r17)
      .withColumn("tok",
        size(split(TextOps.normalize(col("text")), " ")).cast("long"))
      // two downstream stages and the attrition count branch from this
      // survivor set (the op-60 materialization point)
      .stageCheckpoint(eager = false)

    // 2. quality filter — the oracled formula, map-side
    val scored = s1.withColumn("q", TextOps.qualityFeatures(col("text")))
    val s2 = scored.filter(col("q.quality_raw") >= qualityMin).stageCheckpoint(eager = false)

    // 3. near-dup removal on survivors: LSH candidates + exact Jaccard,
    // drop the larger id of each verified pair. A threshold past 1.0
    // (the "stage disabled" convention the _stages twin uses) provably
    // matches no pair — Jaccard ≤ 1 — so the whole signature/band/verify
    // pipeline is skipped instead of computed and discarded (r17: the
    // twin row paid ~1.5 s for a filter that cannot pass).
    val dupIds =
      if (neardupThreshold > 1.0) s2.select(col("doc_id")).limit(0)
      else TextDedup.minhashPairs(
          s2.select(col("doc_id").as("id"), col("text")),
          shingleWords = 5, nHashes = 64, nBands = 16, rowsPerBand = 4,
          threshold = neardupThreshold)
        .select(col("doc_b").as("doc_id")).distinct()
    val s3 = s2.join(dupIds, Seq("doc_id"), "left_anti").stageCheckpoint(eager = false)

    // 4. chunk-boilerplate filter: per-doc fraction of content-defined
    // chunks whose first occurrence (min (doc_id, idx)) is elsewhere;
    // docs above chunkDupMax are stitched boilerplate. Same aggregate
    // shape as llm_chunk_dedup: no join back onto the exploded stream —
    // dups per doc = chunk total − chunks the doc owns first.
    // Chunking is the native one-pass `cdc_chunks` over the normalized
    // attribute (the declarative sequence→filter→slice pyramid cost
    // measurable DRIVER plan/codegen time per stage and re-walked the
    // words array per chunk — see functions.CdcChunks; the normalize
    // still materializes first, the original CSE lesson)
    graft.functions.GraftFunctions.register(docsIn.sparkSession)
    // chunkDupMax ≥ 1.0 (the _stages "stage disabled" setting) provably
    // drops nothing — a doc owns ≥ 0 of its chunks, so
    // n_chunks − n_owned > n_chunks·1.0 cannot hold — skip the CDC
    // chunk/ownership machinery outright (same r17 short-circuit rule
    // as the near-dup stage above)
    val boilerIds =
      if (chunkDupMax >= 1.0) s3.select(col("doc_id")).limit(0)
      else {
        val chunks = s3
          .withColumn("norm", TextOps.normalize(col("text")))
          .select(col("doc_id"), posexplode(expr("cdc_chunks(norm)")))
          .select(col("doc_id"), col("pos").as("idx"), col("col").as("c"))
        val owned = chunks.groupBy(col("c"))
          .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
          .groupBy(col("f.doc_id").as("doc_id")).agg(count(lit(1)).as("n_owned"))
        chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
          .join(owned, Seq("doc_id"), "left")
          .filter((col("n_chunks") - coalesce(col("n_owned"), lit(0L))).cast("double")
            > col("n_chunks").cast("double") * chunkDupMax)
          .select("doc_id")
      }
    val s4 = s3.join(boilerIds, Seq("doc_id"), "left_anti").stageCheckpoint(eager = false)

    // 5. chunk-level decontamination (only when an eval set is supplied):
    // a doc dies when any CDC chunk concentrates ≥ chunkContamMin of its
    // shingles in the benchmark n-gram set — same chunking columns as
    // stage 4 (words/starts bound per the cdcChunks CSE note)
    val contamIds = evalNgrams match {
      case None => s4.select("doc_id").limit(0)
      case Some(ev) =>
        // shingle set materialized BELOW the generator + explode_outer:
        // size(f(x)) alongside explode(f(x)) would re-run the shingle
        // pipeline per EXPLODED row, and the explode-inferred size>0
        // filter re-runs it per raw row below the shuffle (the two plan
        // pathologies measured on llm_decontaminate_chunks, 223→4.7 s at
        // sf3d); native word_shingles is the distinct-set twin
        graft.functions.GraftFunctions.register(docsIn.sparkSession)
        s4.withColumn("norm", TextOps.normalize(col("text")))
          .select(col("doc_id"), posexplode_outer(expr("cdc_chunks(norm)")))
          .select(col("doc_id"), expr("word_shingles(col, 5)").as("chsh"))
          .select(col("doc_id"), size(col("chsh")).as("n_chsh"),
            explode_outer(col("chsh")).as("sh"))
          .join(broadcast(ev.select(col("sh")).distinct()), "sh")
          .groupBy(col("doc_id"), col("n_chsh"))
          .agg(count(lit(1)).as("hits"))
          .filter(col("hits").cast("double") >= col("n_chsh").cast("double") * chunkContamMin)
          .select("doc_id").distinct()
    }
    val s5 = s4.join(contamIds, Seq("doc_id"), "left_anti").stageCheckpoint(eager = false)

    // Materialize the stage checkpoints EAGERLY, in dependency order. The attrition
    // report references every stage from several branches of one union;
    // evaluated lazily inside a single action those branches race to fill
    // the same cache and each racer re-runs the full upstream chain —
    // including the LSH pass — before any cache exists (measured: the
    // corpus-prep registry row spent 40.8 s where these five jobs + the
    // report cost 6 s). Sequential counts guarantee each stage computes
    // exactly once; this is the op-60 materialization point made explicit,
    // and at 100 TB it is where a real pipeline would checkpoint stage
    // outputs to storage anyway.
    Seq(s1, s2, s3, s4, s5).foreach(_.count())

    // 6. token accounting
    val kept = s5.select(
      col("doc_id"), col("lang"),
      col("q.n_tokens").as("n_tokens"), col("q.quality").as("quality"),
      ceil(length(col("text")).cast("double") / 4.0).cast("long").as("bpe_est"))

    val dropped =
      docs.join(exactKept, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("exact_dup").as("stage"))
      .unionByName(scored.filter(col("q.quality_raw") < qualityMin)
        .select(col("doc_id"), lit("low_quality").as("stage")))
      .unionByName(s2.join(dupIds, "doc_id")
        .select(col("doc_id"), lit("near_dup").as("stage")))
      .unionByName(boilerIds
        .select(col("doc_id"), lit("chunk_boilerplate").as("stage")))
      .unionByName(s4.join(contamIds, "doc_id")
        .select(col("doc_id"), lit("decontaminated").as("stage")))

    // Attrition report as ONE aggregate: label each cached stage output,
    // union, groupBy(stage) for docs_out + token sums — a single shuffle
    // over five cached map-scans — then derive docs_in as the previous
    // stage's docs_out via a 5-row self-join (stage 1's is the corpus
    // count, a driver value since prepare is already eager). The previous
    // form built 15 separate aggregate subtrees (count-in × count-out ×
    // token-sum per stage, crossJoined) whose many tiny exchanges were
    // 23 s of the composite row's cost at sf0.1 — pure stage-scheduling
    // overhead, not compute. A left join from a literal stage table keeps
    // empty stages present (docs_out 0, tokens_out null — the exact rows
    // the old global aggregates produced, and the _stages oracle expects).
    val attrition = attritionReport(nCorpus, Seq(
      ("exact_dedup", 1, s1), ("quality_filter", 2, s2.drop("q")),
      ("neardup_removal", 3, s3.drop("q")), ("chunk_boilerplate", 4, s4.drop("q")),
      ("decontaminate", 5, s5.drop("q"))))

    Outputs(kept, dropped, attrition)
  }

  /** Attrition report over eager stage outputs (each df must carry a
    * `text` column): ONE aggregate — label each stage, union, groupBy for
    * docs_out + normalized-token sums — then docs_in derived as the
    * previous stage's docs_out via a tiny self-join (stage 1's is the
    * caller-supplied input count). A left join from a literal stage table
    * keeps empty stages present (docs_out 0, tokens_out null). The
    * previous form built 3 aggregate subtrees per stage, crossJoined —
    * 23 s of tiny-exchange scheduling at sf0.1. */
  private[examples] def attritionReport(nIn: Long,
      stageDefs: Seq[(String, Int, DataFrame)]): DataFrame = {
    val labeled = stageDefs.map { case (name, ord, df) =>
      // stages that already carry a per-doc `tok` column (computed once
      // at the stage-1 checkpoint) reuse it; otherwise derive it here
      val tok =
        if (df.columns.contains("tok")) col("tok")
        else size(split(TextOps.normalize(col("text")), " ")).cast("long")
      df.select(lit(ord).as("stage_ord"), lit(name).as("stage"), tok.as("tok"))
    }.reduce(_ unionByName _)
    val outAgg = labeled.groupBy(col("stage_ord"))
      .agg(count(lit(1)).as("docs_out"), sum(col("tok")).as("tokens_out"))
    val session = stageDefs.head._3.sparkSession
    import session.implicits._
    val stageNames = stageDefs.map { case (name, ord, _) => (ord, name) }
      .toDF("stage_ord", "stage")
    val prevOut = outAgg.select((col("stage_ord") + 1).as("stage_ord"),
      col("docs_out").as("prev_out"))
    stageNames
      .join(outAgg, Seq("stage_ord"), "left")
      .join(prevOut, Seq("stage_ord"), "left")
      .select(col("stage_ord"), col("stage"),
        coalesce(col("prev_out"),
          when(col("stage_ord") === 1, lit(nIn)).otherwise(lit(0L))).as("docs_in"),
        coalesce(col("docs_out"), lit(0L)).as("docs_out"),
        col("tokens_out"))
  }
}
