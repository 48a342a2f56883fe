package graft.examples

import graft.etl.TextDedup
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
  *      formula the driver oracles via llm_quality_score) ≥ 0.45 on the
  *      raw score.
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
  * computed, and the LSH pass runs on the smallest surviving set. The
  * stages run on [[StageRunner]]: lazy stage checkpoints filled by one
  * count over the last stage. The corpus-sized sets stay distributed.
  *
  * Outputs: `kept` (doc_id, lang, n_tokens, quality, bpe_est),
  * `dropped` (doc_id, stage it died in), and `attrition` — one row per
  * stage with docs in/out and surviving token volume, the corpus-curation
  * report a data-engineering run ends with.
  */
object TrainingDataPrep {

  final case class Outputs(kept: DataFrame, dropped: DataFrame, attrition: DataFrame)

  /** Prepare a corpus given as (doc_id, lang, text) rows.
    * `neardupThreshold`: stage-3 exact-Jaccard bar; past 1.0 no pair can
    * match (Jaccard ≤ 1), so the stage is disabled instead of computed
    * and discarded (the _stages twin's setting; r17: ~1.5 s saved).
    * `chunkDupMax`: stage-4 boilerplate bar — a doc dies when more than
    * this fraction of its content-defined chunks (TextOps.cdcChunks)
    * first occur elsewhere in the surviving corpus (post exact-dedup, so
    * texts are distinct and first-occurrence is well-defined); at 1.0 or
    * more it provably drops nothing (n_chunks − n_owned > n_chunks
    * cannot hold) and the stage is disabled.
    * `evalNgrams`: optional benchmark word-5-gram set (one string column
    * `sh`) for stage 5, CHUNK-level decontamination: a doc dies when any
    * of its content-defined chunks has ≥ half of its shingles in the
    * eval set — the leak-concentration rule a doc-level fraction
    * threshold provably dilutes away (llm_decontaminate_chunks row). */
  def prepare(docsIn: DataFrame, neardupThreshold: Double = 0.8,
      chunkDupMax: Double = 0.6,
      evalNgrams: Option[DataFrame] = None): Outputs = {
    graft.functions.GraftFunctions.register(docsIn.sparkSession)
    val r = new StageRunner(docsIn.select(col("doc_id"), col("lang"), col("text")))
    // 1. exact dedup: keep the smallest doc_id per raw text (group by the
    // content itself — no hash pass; map-side partials shrink the shuffle
    // to the distinct set)
    r.stage("exact_dedup", "exact_dup")(StageRunner.exactDedup)
    // 2. quality filter — the oracled formula, map-side
    r.stage("quality_filter", "low_quality")(StageRunner.quality)

    // 3. near-dup removal on survivors: LSH candidates + exact Jaccard,
    // drop the larger id of each verified pair
    r.stage("neardup_removal", "near_dup") { s2 =>
      if (neardupThreshold > 1.0) s2
      else s2.join(TextDedup.minhashPairs(
          s2.select(col("doc_id").as("id"), col("text")),
          shingleWords = 5, nHashes = 64, nBands = 16, rowsPerBand = 4,
          threshold = neardupThreshold)
        .select(col("doc_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    }

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
    r.stage("chunk_boilerplate", "chunk_boilerplate") { s3 =>
      if (chunkDupMax >= 1.0) s3
      else {
        val chunks = s3
          .withColumn("norm", TextOps.normalize(col("text")))
          .select(col("doc_id"), posexplode(expr("cdc_chunks(norm)")))
          .select(col("doc_id"), col("pos").as("idx"), col("col").as("c"))
        val owned = chunks.groupBy(col("c"))
          .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
          .groupBy(col("f.doc_id").as("doc_id")).agg(count(lit(1)).as("n_owned"))
        s3.join(chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
          .join(owned, Seq("doc_id"), "left")
          .filter((col("n_chunks") - coalesce(col("n_owned"), lit(0L))).cast("double")
            > col("n_chunks").cast("double") * chunkDupMax)
          .select("doc_id"), Seq("doc_id"), "left_anti")
      }
    }

    // 5. chunk-level decontamination (only when an eval set is supplied),
    // over each doc's CDC chunks
    val s5 = r.stage("decontaminate", "decontaminated") { s4 =>
      evalNgrams.fold(s4)(ev => s4.join(StageRunner.contaminated(
        s4.withColumn("norm", TextOps.normalize(col("text")))
          .select(col("doc_id"), explode_outer(expr("cdc_chunks(norm)"))),
        ev, 5), Seq("doc_id"), "left_anti"))
    }
    r.materialize()

    // 6. token accounting
    val kept = s5.select(
      col("doc_id"), col("lang"),
      col("q.n_tokens").as("n_tokens"), col("q.quality").as("quality"),
      ceil(length(col("text")).cast("double") / 4.0).cast("long").as("bpe_est"))
    Outputs(kept, r.dropped, r.attrition)
  }
}
