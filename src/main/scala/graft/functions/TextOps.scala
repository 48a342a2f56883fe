package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives (SURVEY §2-L): normalization, shingling,
  * MinHash signatures, LSH banding, SimHash, winnowing fingerprints.
  * All pure Catalyst expressions (higher-order array functions + xxhash64)
  * — per-row, map-side, no UDFs, no shuffles.
  *
  * Several helpers take COLUMN NAMES and return `expr(...)` trees because
  * Scala-side `substring`/`shiftright` only accept literal ints, while their
  * SQL forms accept full expressions inside lambda bodies.
  *
  * 100 TB notes: signature computation is embarrassingly parallel; the
  * scale-sensitive part is what comes after (the LSH band join — buckets
  * bounded by band width; skew only if many true duplicates share a bucket,
  * which is exactly when you want them colocated). If profiling ever shows
  * the 64-hash MinHash fold dominating, the escape hatch is a custom
  * TypedImperativeAggregate (SURVEY §4.2) — not needed at current scale.
  */
object TextOps {

  /** Quality-filter features over a raw `text` column — the standard
    * pre-training corpus heuristics (stopword ratio, length, digit noise)
    * composed into a [0,1] score. ONE definition shared by the oracled
    * registry row (`llm_quality_score`) and the composed corpus-prep job
    * (`examples.TrainingDataPrep`), so the filter a pipeline applies is
    * bit-identical to the one the driver verifies. Returns a struct
    * (n_tokens, stop_ratio, digit_ratio, quality, quality_raw); map-side
    * only. `quality` is rounded to 6 places for reports; a threshold
    * filter must compare `quality_raw`, the unrounded score the oracle
    * filters on (rounding lifts scores in [0.4499995, 0.45) over a 0.45
    * floor). */
  def qualityFeatures(text: Column): Column = {
    val stop = Seq("the", "a", "of", "and", "in", "to", "is")
    val words = split(normalize(text), " ")
    val nTok = size(words).cast("double")
    val stopRatio =
      size(filter(words, w => w.isin(stop.map(x => x: Any): _*))).cast("double") / nTok
    val digitRatio =
      regexp_count(text, lit("[0-9]")).cast("double") / length(text).cast("double")
    val quality = lit(0.4) * stopRatio + lit(0.3) * least(nTok / 100.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - digitRatio)
    struct(
      size(words).as("n_tokens"),
      round(stopRatio, 6).as("stop_ratio"),
      round(digitRatio, 6).as("digit_ratio"),
      round(quality, 6).as("quality"),
      quality.as("quality_raw"))
  }

  /** lower + collapse whitespace + trim: the canonical dedup normalization. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** CONTENT-DEFINED chunks of a NORMALIZED text column (the
    * llm_chunk_dedup / corpus-prep boilerplate unit): a chunk starts at
    * every word whose first letter is 's', so boundaries move with the
    * content and a shared passage chunks identically at any offset in any
    * host document — the storage-dedup (LBFS) boundary trick standing in
    * for line splits on a newline-free corpus. Pure in-row array work.
    *
    * PERFORMANCE: higher-order lambdas disable whole-stage codegen's
    * common-subexpression elimination, so any non-attribute Column passed
    * here is RE-EVALUATED per lambda invocation — `cdcChunks(normalize(
    * text))` re-runs the normalize regex once per word (measured: 17.6 s
    * vs 0.6 s for the corpus-prep chunk stage at sf0.1). Hot paths must
    * materialize words/starts as real columns (withColumn) and call
    * [[cdcStarts]] + [[cdcSlices]] on those attributes. */
  def cdcChunks(norm: Column): Column = {
    val words = split(norm, " ")
    cdcSlices(words, cdcStarts(words))
  }

  /** Chunk-start offsets (0-based word indices) of a pre-split words
    * column. Pass an ATTRIBUTE (a materialized column), not an expression
    * — see the [[cdcChunks]] performance note. */
  def cdcStarts(words: Column): Column =
    concat(array(lit(0)),
      filter(sequence(lit(1), greatest(size(words) - 1, lit(1))),
        i => substring(try_element_at(words, i + 1), 1, 1) === "s"))

  /** Chunk texts from pre-split words + pre-computed starts. Both args
    * should be attributes — see the [[cdcChunks]] performance note. */
  def cdcSlices(words: Column, starts: Column): Column =
    transform(starts, (st, j) =>
      array_join(
        slice(words, st + 1, coalesce(try_element_at(starts, j + 2), size(words)) - st),
        " "))

  /** Word k-shingles of a normalized text column: overlapping k-word
    * windows; texts shorter than k words yield their single full window. */
  def wordShingles(text: Column, k: Int): Column = {
    val w = split(text, " ")
    transform(
      sequence(lit(1), greatest(size(w) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(w, i, lit(k))))
  }

  /** MinHash signature (nHashes seeded xxhash64 minima over the shingle
    * set). Returns array<bigint> of length nHashes. */
  def minhashSignature(shingles: Column, nHashes: Int): Column =
    transform(
      sequence(lit(0), lit(nHashes - 1)),
      seed => array_min(transform(shingles, s => xxhash64(s, seed))))

  /** LSH band keys: hash each of nBands contiguous rows-per-band slices of
    * the signature. Docs sharing ANY band key are candidate pairs. */
  def lshBands(sig: Column, nBands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(nBands - 1)),
      b => xxhash64(slice(sig, b * lit(rowsPerBand) + 1, lit(rowsPerBand)), b))

  /** Exact Jaccard similarity of two array columns treated as sets. Integer
    * set sizes + one double division → bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0.0, 0.0).otherwise(inter / union)
  }

  /** 64-bit SimHash over a column holding array<bigint> token hashes
    * (`tokenHashes`). Per bit: sign of Σ(±1) over tokens; bits folded MSB-
    * first into one long (Java overflow wrap is deterministic). */
  def simhash(tokenHashesCol: String): Column = expr(
    s"""aggregate(
          transform(sequence(63, 0, -1),
            b -> CASE WHEN aggregate($tokenHashesCol, 0L,
                        (acc, h) -> acc + IF(((h >> b) & 1) = 1, 1L, -1L)) >= 0
                 THEN 1L ELSE 0L END),
          0L, (acc, bit) -> shiftleft(acc, 1) + bit)""")

  def tokenHashes(text: Column): Column =
    transform(split(text, " "), w => xxhash64(w))

  /** Character n-gram rolling hashes of a text column (named), 1 per
    * position. SQL-form substr accepts expression offsets. */
  def charGramHashes(textCol: String, n: Int): Column = expr(
    s"""transform(sequence(1, greatest(length($textCol) - ${n - 1}, 1)),
          i -> xxhash64(substr($textCol, i, $n)))""")

  /** Winnowing fingerprint: min hash per sliding window of `w` consecutive
    * n-gram hashes, deduplicated and sorted — the standard local document
    * fingerprint (robust to small edits). */
  def winnow(gramHashesCol: String, w: Int): Column = expr(
    s"""array_sort(array_distinct(
          transform(sequence(1, greatest(size($gramHashesCol) - ${w - 1}, 1)),
            j -> array_min(slice($gramHashesCol, j, $w)))))""")

  /** Character trigrams (distinct) — the language-ID feature space.
    * Callers must have run GraftFunctions.register on the session: the
    * native CharNgrams expression replaces the interpreted
    * array_distinct(transform(substr…)) form (10× at sf0.1). */
  def charTrigrams(textCol: String): Column = expr(s"char_ngrams($textCol, 3)")
}
