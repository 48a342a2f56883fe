package graft

import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Planted-mutant FIXTURE corpora for the no-oracle / closure dedup rows,
  * written once as parquet and cached by an MD5 of the source table's
  * content — so the registry rows are PURE OPERATORS over a parquet
  * input: nothing synthetic is manufactured inside the timed query, and
  * the bench reports fixture builds as separate line items.
  *
  * Path stability: every fixture lives at
  * `<layout root>/graft_fixture_<name>_<data dir basename>` (the root is
  * [[layouts.LayoutUtil.artifactRoot]]), because the oracle SQL of the
  * fixture rows must reference the same files from DuckDB as a static
  * string ([[oracleScan]]) — so the driver's sf0.01 oracle needs the
  * default root, /tmp. Staleness is handled INSIDE the directory: the
  * [[layouts.LayoutUtil.buildOnce]] stamp records the source content
  * signature + fixture version, and any mismatch rebuilds in place. The
  * Spark query always runs before the DuckDB compare (the driver dumps
  * parquet first), so the oracle never reads a stale or missing fixture.
  */
object Fixtures {

  /** Bump when a fixture's DERIVATION changes, so cached parquet from an
    * older definition can never serve the new query. (v2: semdedup cells
    * moved to ⌈N^(1/3)⌉ + LSH pruning — sdcents content changed; and the
    * signature scheme moved to content hashing, below.) */
  private val FixtureVersion = 2

  /** CONTENT signature of a source parquet (r6 verdict item 7): the
    * size+mtime signature rotated on every driver testdata regeneration
    * even when the bytes were identical, and the two expensive model
    * fixtures (cpsig ~3 s, sdcents ~3 s) dominate fixture builds — so an
    * unchanged-content vintage rebuilt them for nothing. Hashing the
    * actual bytes makes reuse follow the DATA: same bytes ⇒ same fixture,
    * regardless of mtime. Cost: one MD5 pass over the source file per
    * (size, mtime) observation — memoized below, and tens of ms at sf0.1
    * against multi-second builds. Directories hash per-file in sorted
    * name order. */
  private val contentSigCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def contentSig(f: java.io.File): String = {
    def fileMd5(p: java.io.File): String = {
      val key = s"${p.getAbsolutePath}:${p.length}:${p.lastModified}"
      contentSigCache.computeIfAbsent(key, _ => {
        val md = java.security.MessageDigest.getInstance("MD5")
        val in = new java.io.FileInputStream(p)
        try {
          val buf = new Array[Byte](1 << 20)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        md.digest().map("%02x".format(_)).mkString
      })
    }
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(p => p.isFile && !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .sortBy(_.getName).map(p => s"${p.getName}=${fileMd5(p)}").mkString(",")
    else fileMd5(f)
  }

  /** The DuckDB scan of fixture `name` as the sf0.01 oracles read it,
    * at the default layout root. */
  def oracleScan(name: String): String =
    s"read_parquet('/tmp/graft_fixture_${name}_sf0.01/*.parquet')"

  private def ensure(s: SparkSession, dir: String, name: String,
      srcTable: String = "documents")
      (build: => DataFrame): String = {
    val path = s"${layouts.LayoutUtil.artifactRoot(s)}/graft_fixture_${name}_" +
      new org.apache.hadoop.fs.Path(dir).getName
    val sig = s"v$FixtureVersion|${contentSig(new java.io.File(s"$dir/$srcTable.parquet"))}"
    layouts.LayoutUtil.buildOnce(s, sig, Seq(path))(build.write.parquet(path))
    path
  }

  /** llm_dedup_minhash input: the documents corpus + one-word mutants of
    * every 25th doc (id + 1e6, first word replaced) — the planted pairs
    * the banded LSH pass must rediscover. Columns (id, text). */
  def neardupCorpus(s: SparkSession, dir: String): String =
    ensure(s, dir, "neardup") {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val mutants = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\w+ ", "graftmutant ").as("text"))
      docs.unionByName(mutants).select(col("doc_id").as("id"), col("text"))
    }

  /** llm_dedup_clusters input: the documents corpus + near-dup CHAINS —
    * for every 50th (≥30-word) doc, mutant A perturbs words 10–14 and
    * mutant B perturbs 10–14 AND 20–24, so B shares A's neighborhood but
    * (on shorter docs) not the original's: a~b~c that only the transitive
    * closure collapses. Columns (doc_id, source, text). */
  def clusterCorpus(s: SparkSession, dir: String): String =
    ensure(s, dir, "cluster") {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text"))
      val words = split(TextOps.normalize(col("text")), " ")
      val eligible = base.filter(col("doc_id") % 50 === 0 && size(words) >= 30)
      val mutA = eligible.select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
        concat_ws(" ", transform(words, (w, i) =>
          when(i.between(9, 13), lit("graftmuta")).otherwise(w))).as("text"))
      val mutB = eligible.select((col("doc_id") + 2000000L).as("doc_id"), col("source"),
        concat_ws(" ", transform(words, (w, i) =>
          when(i.between(9, 13), lit("graftmuta"))
            .when(i.between(19, 23), lit("graftmutb")).otherwise(w))).as("text"))
      base.unionByName(mutA).unionByName(mutB)
    }

  /** llm_corpus_prep_incremental input: the nightly crawl BATCH probed
    * against the [[neardupCorpus]] corpus — one planted family per
    * pipeline stage, each dying in (at most) its intended stage, built
    * from REPLICA-0 corpus docs only so the batch stays FIXED while the
    * corpus scales (the batch-proportional-cost contract the scale
    * probes measure). Offsets are within replica 0's 1e9 id space:
    *   - +1e6  the fixture's one-word mutants      → corpus near-dup
    *   - +2e6  exact copies of every 40th doc      → corpus near-dup (J=1)
    *   - +3e6  second copies of every 80th doc     → batch exact dedup
    *            (raw-text twins of their +2e6 sibling)
    *   - +4e6  word-REVERSED every 15th ≥25-word doc → novel KEEPERS
    *            (reversal keeps the word set — and thus the quality
    *            score — but shares no 5-shingle with the forward text)
    *   - +5e6  first-word-mutated reversals of every 30th ≥25-word doc
    *            → batch near-dup (pairs its +4e6 sibling at J=(n−9)/(n+1)
    *            ≥ 0.64 for n ≥ 25; novel vs the forward corpus)
    *   - +6e6  stopword filler + the 12-word eval snippet of every 97th
    *            ≥14-word doc → decontamination (hits/shingles ≈ 8/14;
    *            the six stopwords hold quality above the 0.45 bar)
    *   - +7e6  id-prefixed all-digit junk for every 60th doc → quality
    *            filter (digit_ratio ≈ 0.92 caps quality ≈ 0.06)
    * Columns (id, text). */
  def incPrepBatch(s: SparkSession, dir: String): String = {
    val corpusPath = neardupCorpus(s, dir)
    ensure(s, dir, "incbatch") {
      val all = s.read.parquet(corpusPath).filter(col("id") < 1000000000L)
      val repLocal = col("id") % 1000000000L
      val corpus = all.filter(repLocal < 1000000L)
      val mutants = all.filter(repLocal >= 1000000L)
      val words = split(TextOps.normalize(col("text")), " ")
      val copies = corpus.filter(repLocal % 40 === 0)
        .select((col("id") + 2000000L).as("id"), col("text"))
      val copyTwins = corpus.filter(repLocal % 80 === 0)
        .select((col("id") + 3000000L).as("id"), col("text"))
      val novel = corpus.filter(repLocal % 15 === 0 && size(words) >= 25)
        .select((col("id") + 4000000L).as("id"),
          concat_ws(" ", reverse(words)).as("text"))
      val novelMut = corpus.filter(repLocal % 30 === 0 && size(words) >= 25)
        .select((col("id") + 5000000L).as("id"),
          regexp_replace(concat_ws(" ", reverse(words)), "^\\w+ ", "graftmutant ")
            .as("text"))
      val contam = corpus.filter(repLocal % 97 === 0 && size(words) >= 14)
        .select((col("id") + 6000000L).as("id"),
          concat(lit("the of and in to is "),
            concat_ws(" ", slice(words, 3, 12))).as("text"))
      val junk = corpus.filter(repLocal % 60 === 0)
        .select((col("id") + 7000000L).as("id"),
          concat(col("id").cast("string"), lit(" "),
            lit(Seq.fill(10)("0123456789").mkString(" "))).as("text"))
      mutants.unionByName(copies).unionByName(copyTwins).unionByName(novel)
        .unionByName(novelMut).unionByName(contam).unionByName(junk)
    }
  }

  /** llm_corpus_prep_incremental primitive dump: the Broder seed-family
    * table ([[minhashShingleHashes]] convention) over corpus ∪ batch —
    * powers the oracle's recompute of BOTH minhash stages (the index
    * probe vs the corpus and the within-batch pair pass). */
  def incPrepShingleHashes(s: SparkSession, dir: String): String = {
    val corpusPath = neardupCorpus(s, dir)
    val batchPath = incPrepBatch(s, dir)
    ensure(s, dir, "incsig") {
      import s.implicits._
      shingleSeedRows(
        s.read.parquet(corpusPath).filter(col("id") % 1000000000L < 1000000L)
          .select(col("text")).as[String]
          .union(s.read.parquet(batchPath).select(col("text")).as[String]))
    }
  }

  // ---------------------------------------------------------------------
  // JVM-TWIN PRIMITIVE DUMPS (r5 verdict item 3): the three hash rows
  // (llm_dedup_simhash / llm_fingerprint / llm_hash_embed) are
  // deterministic pure functions whose only oracle blocker was that
  // DuckDB cannot evaluate xxhash64. The pattern proven on
  // llm_ann_ivfpq_persisted: a JVM twin (plain Scala loops over Spark's
  // published XXH64/UTF8String runtime primitives — NOT the Catalyst
  // expression/codegen path the registry row executes) dumps the per-doc
  // primitive hash stream to a parquet fixture, and the DuckDB oracle
  // RECOMPUTES the whole downstream composition (bit-majority packing,
  // winnowing window minima, sign accumulation + normalization) in SQL
  // from that stream. A green row then certifies the Catalyst composition
  // against an independent SQL recomposition, with the shared surface
  // reduced to the published XXH64 algorithm itself.
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  /** Single-argument `xxhash64(col)` twin: Spark hashes the UTF-8 bytes at
    * the default seed 42. */
  private def xx42(bytes: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)

  /** `TextOps.normalize` twin (lower + collapse whitespace + trim) built
    * on UTF8String so case folding and trimming match Spark's runtime
    * exactly (String.trim would also strip control chars; UTF8String.trim
    * strips spaces only). */
  private[graft] def jvmNormalize(text: String): String =
    UTF8String.fromString(
      UTF8String.fromString(text).toLowerCase.toString.replaceAll("\\s+", " "))
      .trim().toString

  /** llm_dedup_simhash primitive stream: one row per token OCCURRENCE of
    * the normalized text, with its xxhash64 — the oracle recomputes the
    * per-bit ±1 majority and MSB-first packing in SQL. */
  def simhashTokens(s: SparkSession, dir: String): String =
    ensure(s, dir, "simtok") {
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          jvmNormalize(text).split(" ", -1).iterator
            .map(w => (id, xx42(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        })
        .toDF("doc_id", "h")
    }

  /** llm_fingerprint primitive stream: one row per char-8-gram position i
    * (1-based, i ≤ max(len−7, 1) — the charGramHashes window rule,
    * including the short-text single-window edge) with the gram's
    * xxhash64; grams are cut with UTF8String.substringSQL so code-point
    * semantics match Spark's substr. */
  def fingerprintGrams(s: SparkSession, dir: String): String =
    ensure(s, dir, "fpgrams") {
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          val norm = UTF8String.fromString(jvmNormalize(text))
          val upper = math.max(norm.numChars() - 7, 1)
          (1 to upper).iterator.map { i =>
            (id, i, xx42(norm.substringSQL(i, 8).getBytes))
          }
        })
        .toDF("doc_id", "i", "h")
    }

  /** llm_dedup_minhash primitive dump: one row per DISTINCT 5-word
    * shingle of the neardup corpus, carrying its full 64-slot seed-family
    * hash array hs[j] = h1 + j·(h2|1) (the MinHashSignature Broder
    * family: h1/h2 = xxhash64 of the shingle at seeds 42/43, Java
    * wrapping arithmetic — recomputed here as a plain Scala loop). The
    * oracle re-derives each doc's distinct shingle set from the corpus
    * parquet in SQL, joins this table, takes min per seed for the
    * signature, groups band 4-tuples for candidates (tuple equality ⊆
    * Spark's band-hash equality; hash collisions only ADD candidates,
    * which the exact-Jaccard verification removes), and verifies +
    * expands exactly like the operator. */
  def minhashShingleHashes(s: SparkSession, dir: String): String = {
    val corpus = neardupCorpus(s, dir)
    ensure(s, dir, "mhsig") {
      import s.implicits._
      shingleSeedRows(s.read.parquet(corpus).select(col("text")).as[String])
    }
  }

  /** llm_corpus_prep primitive dump: the same Broder seed-family table as
    * [[minhashShingleHashes]], over the corpus-prep PLANTED corpus (base
    * + copies + mutants + stitched + contaminated — the same
    * LlmOps.corpusPrepFixture union the row runs on; the oracle
    * re-derives the corpus itself in SQL, as the _stages oracle already
    * proves it can). Powers the full-composite oracle's near-dup
    * stage. */
  def corpusPrepShingleHashes(s: SparkSession, dir: String): String =
    ensure(s, dir, "cpsig") {
      import s.implicits._
      val (docs, planted, _) = graft.operators.LlmOps.corpusPrepFixture(s, dir)
      shingleSeedRows(
        docs.unionByName(planted).select(col("text")).as[String])
    }

  /** Distinct 5-word shingles of `texts` (jvmNormalize + the
    * wordShingles window rule, incl. the short-text partial window) with
    * their 64-slot seed-family hash arrays. */
  private def shingleSeedRows(texts: org.apache.spark.sql.Dataset[String]): DataFrame = {
    val s = texts.sparkSession
    import s.implicits._
    texts
      .mapPartitions(_.flatMap { text =>
        val w = jvmNormalize(text).split(" ", -1)
        val upper = math.max(w.length - 4, 1)
        (1 to upper).iterator
          .map(i => w.slice(i - 1, math.min(i + 4, w.length)).mkString(" "))
      })
      .distinct()
      .mapPartitions(_.map { sh =>
        val b = sh.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val h1 = xxSeed(b, 42L)
        val h2 = xxSeed(b, 43L) | 1L
        (sh, Array.tabulate(64)(j => h1 + j.toLong * h2))
      })
      .toDF("sh", "hs")
  }

  /** llm_embed_pq model dump: the trained PQ codebooks (8 subspaces × 16
    * codes) as rows (j, cid, cv, halfcc, cc) with the DRIVER-side derived
    * literals the encode expression folds in (halfcc = Σcᵢ²/2 summed in
    * element order, cc = 2·halfcc) — so the oracle's argmin scores are
    * built from the SAME constants. Model determinism (lowest-id init,
    * decimal-exact means) is PqSpec-pinned; this fixture treats the
    * trained model as the declared INPUT and lets SQL recompute encode,
    * reconstruction statistics, and the member fan-out. Signed by the
    * embeddings table. */
  def pqCodebooks(s: SparkSession, dir: String): String =
    ensure(s, dir, "pqbooks", srcTable = "embeddings") {
      import s.implicits._
      val mdl = graft.operators.LlmOps.pqModels(s, dir)
      mdl.books.zipWithIndex.flatMap { case (book, j) =>
        book.sortBy(_._1).map { case (cid, cv) =>
          val halfcc = cv.map(x => x * x).sum / 2.0
          (j, cid, cv, halfcc, 2.0 * halfcc)
        }
      }.toDF("j", "cid", "cv", "halfcc", "cc")
    }

  /** IVF coarse-centroid model dump (cent_id, cv) — the k=16/iters=2
    * centroids over the dedup-first embedding reps that llm_ann_ivf /
    * llm_ann_ivfpq assign and probe against (the pqModels train-once
    * cache; training determinism is IvfIndexSpec/VectorSpec-pinned).
    * Signed by the embeddings table. */
  def ivfCentroids(s: SparkSession, dir: String): String =
    ensure(s, dir, "ivfcents", srcTable = "embeddings") {
      import s.implicits._
      graft.operators.LlmOps.pqModels(s, dir).cents.toDF("cent_id", "cv")
    }

  /** LSH hyperplane dump (j, h) — the DERIVED (hash-of-(j,i)) planes
    * llm_ann_lsh (8 bits) and llm_ann_lsh_multiprobe (12 bits) project
    * against; component(j, i) is independent of the bit count, so the 12
    * rows cover both geometries. Data-independent, but signed like every
    * fixture so the staleness machinery stays uniform. */
  def lshPlanes(s: SparkSession, dir: String): String =
    ensure(s, dir, "lshplanes", srcTable = "embeddings") {
      import s.implicits._
      graft.etl.VectorLsh.hyperplanes(12, 64).zipWithIndex
        .map { case (h, j) => (j, h) }.toDF("j", "h")
    }

  /** Semdedup coarse-centroid model dump (cent_id, cv) — the √N-adaptive
    * k-means model over the planted semdedup corpus, from the SAME
    * LlmOps.semdedupGroupsAndCents call the registry row makes (training
    * determinism makes dump ≡ row model). Signed by the embeddings
    * table. */
  def semdedupCentroids(s: SparkSession, dir: String): String =
    ensure(s, dir, "sdcents", srcTable = "embeddings") {
      graft.operators.LlmOps.semdedupGroupsAndCents(s, dir)._2
    }

  /** Semdedup LSH hyperplane dump (band, weight, h) — the derived planes
    * of the within-cell candidate pruning (r7), at the geometry
    * adaptiveBandParams sizes from the corpus's DISTINCT rep count: for
    * band k, bit r the row carries weight 1 << r and plane
    * hyperplanes(bands·bits)(k·bits + r) — exactly VectorLsh
    * .withBandBuckets's composition, so the oracle's SQL bucket recompute
    * (sum of weights where dot > 0) is geometry-agnostic. Signed by the
    * embeddings table: the plane FAMILY is data-independent, but the
    * bands×bits SIZING is a function of the rep count, so the dump must
    * rotate with the corpus. */
  def semdedupPlanes(s: SparkSession, dir: String): String =
    ensure(s, dir, "sdplanes", srcTable = "embeddings") {
      import s.implicits._
      val n = graft.operators.LlmOps.semdedupGrouped(s, dir).count()
      val (nBands, nBits) =
        graft.etl.VectorLsh.adaptiveBandParams(n, simThreshold = 0.9)
      val planes = graft.etl.VectorLsh.hyperplanes(nBands * nBits, 64)
      (0 until nBands).flatMap { k =>
        (0 until nBits).map(r => (k, 1 << r, planes(k * nBits + r)))
      }.toDF("band", "weight", "h")
    }

  /** llm_bpe_tokenize model dump: the 12 learned merge rules in training
    * order (ord, a, b), from the SAME group-size-weighted word-frequency
    * table the row trains on (training determinism — argmax with the
    * count-desc / UTF-8-binary tie-break — is BpeSpec-pinned against a
    * full JVM reference). The oracle re-derives the word-type table in
    * SQL and replays the greedy leftmost non-overlapping rewrite fold
    * per merge. */
  def bpeMerges(s: SparkSession, dir: String): String =
    ensure(s, dir, "bpemerges") {
      import s.implicits._
      val g = Tables.documents(s, dir)
        .select(TextOps.normalize(col("text")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("gsz"))
      val wf = g.select(col("gsz"), explode(split(col("t"), " ")).as("w"))
        .groupBy(col("w")).agg(sum(col("gsz")).as("cnt"))
      graft.etl.Bpe.train(wf, nMerges = 12).zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }.toDF("ord", "a", "b")
    }

  private def xxSeed(bytes: Array[Byte], seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, seed)

  /** llm_hash_embed primitive stream: one row per word occurrence of each
    * DISTINCT normalized text (keyed by its min-doc_id rep — the same
    * dedup-first grouping the row performs), carrying the word's hashed
    * dimension and ±1 sign at D=64 (the row's D) — the HashEmbed
    * composition `xxhash64(w, lit(k)) = hashInt(k, hashBytes(w, 42))`.
    * The oracle re-derives the text→rep grouping from raw documents,
    * accumulates signs per dimension, and normalizes in SQL. */
  def hashEmbedPairs(s: SparkSession, dir: String): String =
    ensure(s, dir, "hepairs") {
      import s.implicits._
      val D = 64
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) => (id, jvmNormalize(text)) })
        .toDF("doc_id", "t")
        .groupBy(col("t")).agg(min(col("doc_id")).as("rep"))
        .as[(String, Long)]
        .mapPartitions(_.flatMap { case (t, rep) =>
          t.split(" ", -1).iterator.map { w =>
            val hw = xx42(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val dim = (((XXH64.hashInt(1, hw) % D) + D) % D).toInt
            val sign = ((((XXH64.hashInt(2, hw) % 2) + 2) % 2) * 2 - 1)
            (rep, dim, sign)
          }
        })
        .toDF("rep", "dim", "sign")
    }
}
