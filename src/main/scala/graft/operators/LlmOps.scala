package graft.operators

import graft.{Fixtures, GraftQuery, QueryGroup, Tables}
import graft.etl.StageCheckpoint.StageCheckpointOps
import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** SURVEY.md §2-L + the mandated training-data-pipeline operators:
  * deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine), similarity search (brute-force + IVF), text analysis
  * (stats, tf-idf, language-ID, quality scoring, token counting,
  * fingerprinting), multimodal struct assembly, histograms.
  *
  * The testdata has NO natural duplicates (FIXTURES.md), so the near-dup
  * queries PLANT deterministic mutants (key + 1_000_000, a one-word or
  * small-vector perturbation) and must rediscover exactly those pairs —
  * end-to-end proof the detector works, with output stable for the driver.
  *
  * 100 TB notes per family:
  * - exact dedup: one shuffle on the 256-bit hash — the cheapest possible;
  *   always run it before any near-dup pass.
  * - MinHash+LSH: signatures are map-side; the ONLY shuffle is the band
  *   join, whose bucket sizes are bounded by band width. Exact-Jaccard
  *   verification happens only on candidate pairs (tiny). This is the
  *   canonical web-scale near-dup shape; never all-pairs.
  * - similarity search: brute-force top-k is a broadcast of the query side
  *   + map-side heap (TakeOrderedAndProject) — linear scan, fine for one
  *   query over 100 TB. For query SETS, IVF (llm_ann_ivf) prunes to
  *   nprobe/nlist of the data; partition the vector table by centroid id
  *   so a probe reads only its buckets.
  */
object LlmOps extends QueryGroup {

  private val SIG_HASHES = 64
  private val LSH_BANDS = 16
  private val LSH_ROWS = 4
  private val BLOCK_CAP = 1000 // max docs per block in blocked pair generation

  private def docVec(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))

  /** round-6 codegen'd cosine (bit-identical to VectorOps.cosine — see
    * CosineSimilarity scaladoc; the custom Expression keeps all-pairs ops
    * inside whole-stage codegen). Args are SQL expression strings. */
  private def cosR(a: String, b: String): Column = round(expr(s"cosine_fast($a, $b)"), 6)

  /** Exact-dedup a (vec_id, v) relation to identity-group representatives —
    * the op-69 precondition applied to vectors. One shuffle keyed on the
    * vector itself; `rep_id` is the group's MIN member id and `members` is
    * the sorted id list, so any top-k over reps ordered by
    * (score DESC, rep_id ASC) covers the true top-k over all ids: a member
    * id x of rep R in the true top-k would otherwise be preceded by ≥ k
    * rep minima that each sort before x. Index build, probing, and scoring
    * then run over DISTINCT vectors only — on a duplicate-heavy corpus
    * (every web-scale crawl; the sf3/sf6 replica sets) this turns the
    * probed-pair volume from corpus×queries to distinct×distinct, and the
    * identity groups are re-expanded afterwards, linear in the output.
    *
    * Skew note for extreme duplication: `members` is one array row per
    * group. The rows it explodes into are the operator's own output
    * contract (one result row per member), so the volume is irreducible;
    * only the single-row width could pinch at, say, 10⁸ copies of one
    * item — at which point collect per (content, member-id mod C) chunk
    * and expand in two levels to bound the row. */
  /** Eagerly checkpointed (r17): every caller consumes the group table
    * at least twice (the rep projection feeding index/score passes AND
    * the member fan-out), and un-checkpointed each consumer re-ran the
    * full-vector groupBy shuffle (RowProbe: 2–3 evaluations per ANN
    * row). One materialization of the dedup-group table — the stage
    * output a vector pipeline persists anyway. */
  private def vecGroups(vecs: DataFrame): DataFrame =
    vecs.groupBy(col("v"))
      .agg(min(col("vec_id")).as("rep_id"),
        sort_array(collect_list(col("vec_id"))).as("members"))
      .stageCheckpoint()

  // DuckDB oracle fragments (here and beside the ANN and corpus-prep
  // rows): each CTE fragment is written without its first line's indent
  // and closed by `),`, for a line of its own at the oracle's 6-space CTE
  // indent; a fragment that opens an oracle starts with its newline.

  /** Oracle CTE `name (rep, shs)`: the distinct 5-word shingles of each
    * `src (rep, t)` text. */
  private[operators] def shingleSetCte(name: String, src: String): String =
    s"""$name AS (
        SELECT rep, list_distinct([array_to_string(words[i:i+4], ' ')
          FOR i IN range(1, greatest(len(words) - 3, 2))]) AS shs
        FROM (SELECT rep, string_split(t, ' ') AS words FROM $src)),"""

  /** Oracle CTE `shh (sh, h, seed)`: the per-shingle MinHash values of
    * shingle-hash fixture `fixture`, one row per seed. */
  private def shingleHashCte(fixture: String): String =
    s"""shh AS (
        SELECT sh, unnest(hs) AS h, unnest(generate_series(0, 63)) AS seed
        FROM ${Fixtures.oracleScan(fixture)}),"""

  /** Oracle CTE `name (rep, sig)`: each rep's 64-value MinHash signature
    * over its shingles in `shingles`, from `shh`. */
  private def repSigCte(name: String, shingles: String): String =
    s"""$name AS (
        SELECT rep, list(m ORDER BY seed ASC) AS sig
        FROM (SELECT t.rep, s.seed, min(s.h) AS m
              FROM (SELECT rep, unnest(shs) AS sh FROM $shingles) t
              JOIN shh s USING (sh) GROUP BY t.rep, s.seed)
        GROUP BY rep),"""

  /** Oracle CTE `name (rep, b, bk)`: the 16 band keys of signatures
    * `sigs` — 4 signature values each, comma-joined, exactly the
    * MinHash index's stored bkey. */
  private def bandKeyCte(name: String, sigs: String): String =
    s"""$name AS (
        SELECT rep, b.b, array_to_string(sig[4 * b.b + 1 : 4 * b.b + 4], ',') AS bk
        FROM $sigs CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(16)) b),"""

  /** Oracle CTEs `tok`, `shh`, `sig (rep, seed, m)`, `sigarr (rep, sig)`
    * and `bandrows (rep, b, bkey)`: the signatures and band keys of the
    * shingle set `shing` over the neardup fixture's shingle hashes. */
  private[operators] val MinhashBandRows: String =
    s"""tok AS (SELECT rep, unnest(shs) AS sh FROM shing),
      ${shingleHashCte("mhsig")}
      sig AS (
        SELECT t.rep, s.seed, min(s.h) AS m
        FROM tok t JOIN shh s USING (sh)
        GROUP BY t.rep, s.seed),
      sigarr AS (SELECT rep, list(m ORDER BY seed ASC) AS sig FROM sig GROUP BY rep),
      bandrows AS (
        SELECT rep, b.b,
               array_to_string(sig[4 * b.b + 1 : 4 * b.b + 4], ',') AS bkey
        FROM sigarr CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(16)) b),"""

  /** op 69 — exact dedup: normalize → sha256 → keep min doc_id per hash.
    * groupBy+min instead of a per-hash window: the partial aggregate
    * collapses duplicate groups MAP-SIDE, so the one shuffle carries only
    * distinct hashes — on a duplicate-heavy 100 TB corpus that is the
    * difference between shuffling the corpus and shuffling its fingerprint
    * set (measured 2.8× super-linear at sf6 with the window form). */
  private val llmDedupExact = GraftQuery(
    "llm_dedup_exact",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("text_hash", sha2(TextOps.normalize(col("text")), 256))
        .groupBy(col("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "text_hash")
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      SELECT doc_id, text_hash
      FROM (SELECT doc_id, sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_hash,
                   ROW_NUMBER() OVER (PARTITION BY sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                                      ORDER BY doc_id ASC) AS rn
            FROM documents)
      WHERE rn = 1
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** op 70 — MinHash + LSH near-dup: shingle (5-word), 64-hash MinHash,
    * 16×4 LSH bands, candidate pairs from band buckets, exact-Jaccard
    * verification ≥ 0.5, over the PLANTED FIXTURE corpus
    * (graft.Fixtures.neardupCorpus — one-word mutants of every 25th doc,
    * built once as parquet so the timed query is a pure operator over its
    * input, no synthetic rows manufactured in-query).
    *
    * Oracled (r6 — SURVEY G4's "none by design" retired by the JVM-twin
    * fixture pattern): Fixtures.minhashShingleHashes dumps the Broder
    * seed-family hash array per DISTINCT shingle; the oracle re-derives
    * doc shingle sets from the corpus parquet, min-reduces the signature,
    * buckets band 4-TUPLES (tuple equality ⊆ band-hash equality — a hash
    * collision can only ADD candidates, and exact-Jaccard verification
    * removes them), verifies at ≥ 0.5, and expands identity groups.
    * DedupSpec's neardup4 cases check the kernel finds a planted pair. */
  private val llmDedupMinhash = GraftQuery(
    "llm_dedup_minhash",
    (s, dir) => {
      val path = graft.Fixtures.neardupCorpus(s, dir)
      graft.Fixtures.minhashShingleHashes(s, dir) // primitive dump for the oracle
      graft.etl.TextDedup.minhashPairs(
          s.read.parquet(path),
          shingleWords = 5, nHashes = SIG_HASHES,
          nBands = LSH_BANDS, rowsPerBand = LSH_ROWS, threshold = 0.5)
        .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
    },
    Some(raw"""
      WITH docs AS (
        SELECT id, text
        FROM ${Fixtures.oracleScan("neardup")}),
      nrm AS (
        SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM docs),
      grp AS (
        SELECT t, min(id) AS rep, list_sort(list(id)) AS members
        FROM nrm GROUP BY t),
      mem AS (SELECT rep, unnest(members) AS m FROM grp),
      ${shingleSetCte("shing", "grp")}
      $MinhashBandRows
      cand AS (
        SELECT DISTINCT a.rep AS ra, c.rep AS rb
        FROM bandrows a JOIN bandrows c
          ON a.b = c.b AND a.bkey = c.bkey AND a.rep < c.rep),
      ver AS (
        SELECT v.ra, v.rb,
               CASE WHEN len(list_distinct(list_concat(sa.shs, sb.shs))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                         / CAST(len(list_distinct(list_concat(sa.shs, sb.shs))) AS DOUBLE)
               END AS j
        FROM cand v
        JOIN shing sa ON sa.rep = v.ra
        JOIN shing sb ON sb.rep = v.rb),
      expanded AS (
        SELECT least(ma.m, mb.m) AS doc_a, greatest(ma.m, mb.m) AS doc_b, v.j AS jaccard
        FROM ver v
        JOIN mem ma ON ma.rep = v.ra
        JOIN mem mb ON mb.rep = v.rb
        WHERE v.j >= 0.5),
      intra AS (
        SELECT a.m AS doc_a, b.m AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
        FROM mem a JOIN mem b ON a.rep = b.rep AND a.m < b.m)
      SELECT doc_a, doc_b, jaccard FROM expanded
      UNION ALL
      SELECT doc_a, doc_b, jaccard FROM intra
      ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST"""))

  /** INCREMENTAL near-dup against a PERSISTED LSH index
    * (layouts.MinHashIndex) — the 100 TB ingest shape: the corpus's
    * banded signatures are indexed ONCE (bucketed by band key, IDs-only,
    * dedup-first), and each new crawl batch deduplicates against it by
    * computing its own signatures map-side, joining the band table
    * (zero index-side shuffle — the bucketed scan satisfies the join's
    * clustering), and verifying candidates with exact Jaccard against
    * ONLY the touched reps' texts fetched by id from the rep table —
    * the corpus itself is never rescanned or re-hashed. The batch here
    * is the fixture corpus's planted mutants plus exact copies of every
    * 40th corpus doc; output = (batch doc, corpus rep, jaccard ≥ 0.5).
    *
    * Oracle: full SQL recompute (the llm_dedup_minhash JVM-twin
    * pattern) — signatures for BOTH sides from the primitive
    * per-shingle hash dump, banding as the sig-slice string (the
    * index's stored bkey is exactly that string, so the oracle's band
    * join is byte-identical to the probe join), candidate set, exact
    * Jaccard, member expansion. */
  /** The persisted neardup-repbase MinHash index BOTH incremental rows
    * probe (`llm_dedup_minhash_incremental`, `llm_corpus_prep_incremental`
    * — one corpus, one tag, one layout) — exposed so the bench prewarms
    * it under the IDENTICAL cache key and reports the one-time build as
    * a separate `builds` line item (the [[persistedIvfIndex]] convention;
    * r17: on a fresh data vintage the ~3 s signature+bucketBy build
    * otherwise lands inside whichever row runs first). */
  def neardupRepbaseIndex(s: SparkSession, dir: String): (String, String) = {
    val path = graft.Fixtures.neardupCorpus(s, dir)
    val corpus = s.read.parquet(path).filter(col("id") % 1000000000L < 1000000L)
    graft.layouts.MinHashIndex.ensure(
      s, dir, corpus, "neardup_repbase", shingleWords = 5, nHashes = SIG_HASHES,
      nBands = LSH_BANDS, rowsPerBand = LSH_ROWS, srcTables = Seq("documents"))
  }

  private val llmDedupMinhashIncremental = GraftQuery(
    "llm_dedup_minhash_incremental",
    (s, dir) => {
      val path = graft.Fixtures.neardupCorpus(s, dir)
      graft.Fixtures.minhashShingleHashes(s, dir) // primitive dump for the oracle
      val all = s.read.parquet(path)
      // corpus/batch split on the WITHIN-REPLICA id (the fixture's mutant
      // offset is +1e6 inside each replica's 1e9 key space): a plain
      // id < 1e6 works only on driver testdata and silently swallows
      // every higher replica of a make_sf1 corpus into the batch —
      // measured: the sf6t "batch" became 295 k docs and the probe cost
      // tracked corpus size instead of batch size
      val repLocal = col("id") % 1000000000L
      val corpus = all.filter(repLocal < 1000000L)
      val batch = all.filter(repLocal >= 1000000L)
        .unionByName(corpus.filter(col("id") % 40 === 0)
          .select((col("id") + 2000000L).as("id"), col("text")))
      val (bandsT, repsT) = neardupRepbaseIndex(s, dir)
      val (ver, bReps) = graft.layouts.MinHashIndex.probe(
        s, bandsT, repsT, batch, shingleWords = 5, nHashes = SIG_HASHES,
        nBands = LSH_BANDS, rowsPerBand = LSH_ROWS, threshold = 0.5)
      // expand batch dedup groups back to member doc ids
      val bMembers = batch
        .withColumn("norm", TextOps.normalize(col("text")))
        .join(bReps.withColumnRenamed("rep", "brep"), "norm")
        .select(col("brep"), col("id"))
      ver.join(bMembers, "brep")
        .select(col("id").as("doc_id"), col("crep").as("corpus_id"), col("jaccard"))
        .orderBy(col("doc_id").asc_nulls_first, col("corpus_id").asc_nulls_first)
    },
    Some(raw"""
      WITH all0 AS (
        SELECT id, text
        FROM ${Fixtures.oracleScan("neardup")}),
      corpus AS (SELECT id, text FROM all0 WHERE id % 1000000000 < 1000000),
      batch AS (
        SELECT id, text FROM all0 WHERE id % 1000000000 >= 1000000
        UNION ALL
        SELECT id + 2000000 AS id, text FROM corpus WHERE id % 40 = 0),
      crep AS (
        SELECT t, min(id) AS rep
        FROM (SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM corpus)
        GROUP BY t),
      brep AS (
        SELECT t, min(id) AS rep, list_sort(list(id)) AS members
        FROM (SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM batch)
        GROUP BY t),
      ${shingleSetCte("cs", "crep")}
      ${shingleSetCte("bs", "brep")}
      ${shingleHashCte("mhsig")}
      ${repSigCte("csig", "cs")}
      ${repSigCte("bsig", "bs")}
      ${bandKeyCte("cbands", "csig")}
      ${bandKeyCte("bbands", "bsig")}
      cand AS (
        SELECT DISTINCT bb.rep AS brep_, cb.rep AS crep_
        FROM bbands bb JOIN cbands cb ON bb.b = cb.b AND bb.bk = cb.bk),
      ver AS (
        SELECT v.brep_, v.crep_,
               CASE WHEN len(list_distinct(list_concat(sb.shs, sc.shs))) = 0 THEN 0.0
                    ELSE CAST(len(list_intersect(sb.shs, sc.shs)) AS DOUBLE)
                         / CAST(len(list_distinct(list_concat(sb.shs, sc.shs))) AS DOUBLE)
               END AS j
        FROM cand v
        JOIN bs sb ON sb.rep = v.brep_
        JOIN cs sc ON sc.rep = v.crep_)
      SELECT m.m AS doc_id, v.crep_ AS corpus_id, v.j AS jaccard
      FROM ver v
      JOIN (SELECT rep, unnest(members) AS m FROM brep) m ON m.rep = v.brep_
      WHERE v.j >= 0.5
      ORDER BY doc_id ASC NULLS FIRST, corpus_id ASC NULLS FIRST"""))

  /** Transitive near-dup CLUSTERING: pairwise near-dup edges (capped
    * source blocks, exact 3-word-shingle Jaccard ≥ 0.5 — the
    * llm_jaccard_pairs machinery) closed into connected components
    * (TextDedup.connectedComponents, min-label propagation), so a chain
    * a~b~c collapses to ONE keep decision even where a≁c directly — the
    * cluster-level rule pairwise keep-first cannot express. The input is
    * the planted-chain FIXTURE corpus (graft.Fixtures.clusterCorpus,
    * built once as parquet; the oracle reads the same files), whose
    * mutant pairs are exactly such chains.
    *
    * Oracle: full SQL twin INCLUDING the closure — a recursive CTE walks
    * the symmetric edge set and takes min(label) per node, so the
    * distributed label-propagation loop is verified against DuckDB's
    * transitive closure, not just the edge list. */
  private val llmDedupClusters = GraftQuery(
    "llm_dedup_clusters",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      // planted-chain corpus from the FIXTURE parquet (Fixtures
      // .clusterCorpus): the timed query is a pure operator over its
      // input; the oracle reads the SAME files via read_parquet
      val docs = s.read.parquet(graft.Fixtures.clusterCorpus(s, dir))
      // dedup-first INSIDE the capped blocks (the house precondition —
      // measured 101 s at sf3's 30× replicas without it): identical texts
      // share one shingle set and one graph node. Components over rep
      // edges expanded to members EQUAL components over the per-doc graph:
      // a group's docs are pairwise J=1 (connected through their rep), and
      // the component min over reps IS the overall min because every rep
      // is its group's min member. The oracle stays the per-doc closure.
      // localCheckpoint: `groups` feeds THREE consumers (the edge
      // generation, the component node set, and the final members join) —
      // without the cut the cappedBlocks window + normalize + shingle
      // kernel re-ran per consumer (the corpus-prep stage-boundary
      // lesson, NOTES_r6 §2, applied to a fan-out within one query).
      val groups = graft.etl.TextDedup.cappedBlocks(docs, "source", "doc_id", BLOCK_CAP)
        .groupBy(col("source"), col("text"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"))
        .withColumn("norm", TextOps.normalize(col("text")))
        .withColumn("sh", expr("word_shingles(norm, 3)"))
        .select(col("source"), col("rep"), col("members"), col("sh"))
        .stageCheckpoint()
      // In-group pair expansion instead of a blocked self-join: collect
      // each (cap-bounded) block once and generate edges INSIDE one
      // native expression call per block — the self-join materialized
      // ~10^6 joined rows each carrying BOTH shingle arrays before the
      // filter ran (measured: 12 s of the row's 15 s at sf0.1), and the
      // SQL-lambda sweep that replaced it still rebuilt both hash sets
      // per pair (2.0 s of 3.8 s warm). block_jaccard_edges builds each
      // element's set once and turns the exact length bound into a break
      // over the size-sorted order (scaladoc: BlockJaccardEdges) —
      // identical edge set, least/greatest-canonicalized.
      val edges = groups
        .groupBy(col("source"))
        .agg(collect_list(struct(col("rep"), col("sh"))).as("g"))
        .select(explode(expr("block_jaccard_edges(g, 0.5D)")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
      graft.etl.TextDedup.connectedComponents(
          groups.select(col("rep").as("id")), edges)
        .join(groups.select(col("rep").as("id"), col("members")), "id")
        .select(explode(col("members")).as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some(raw"""
      WITH RECURSIVE docs AS (
        SELECT doc_id, source, text
        FROM ${Fixtures.oracleScan("cluster")}),
      capped AS (
        SELECT doc_id, source, text
        FROM (SELECT doc_id, source, text,
                     ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY doc_id ASC NULLS FIRST) AS rn
              FROM docs)
        WHERE rn <= 1000),
      sh AS (
        SELECT doc_id, source,
               list_distinct([array_to_string(words[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(words) - 1, 2))]) AS sh
        FROM (SELECT doc_id, source,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
              FROM capped)),
      edges AS (
        SELECT a.doc_id AS ea, b.doc_id AS eb
        FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                   ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END >= 0.5),
      sym AS (SELECT ea, eb FROM edges UNION ALL SELECT eb AS ea, ea AS eb FROM edges),
      reach AS (
        SELECT doc_id AS id, doc_id AS lbl FROM capped
        UNION
        SELECT s.eb AS id, r.lbl FROM reach r JOIN sym s ON s.ea = r.id)
      SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
      FROM reach GROUP BY id
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** 64-bit SimHash per document. Oracled via the JVM-twin primitive dump
    * (graft.Fixtures.simhashTokens): the fixture carries one row per token
    * occurrence with its xxhash64, and the oracle recomputes the per-bit
    * ±1 majority and the MSB-first packing in SQL — bit 63 is the sign
    * bit, added as the Long.MinValue literal (the Java shiftleft wrap).
    * DedupSpec's neardup4 simhash case checks that a near-dup sits fewer
    * bits from its source than unrelated docs do. */
  private val llmDedupSimhash = GraftQuery(
    "llm_dedup_simhash",
    (s, dir) => {
      graft.Fixtures.simhashTokens(s, dir) // primitive dump for the DuckDB oracle
      graft.etl.TextDedup.simhashes(
          Tables.documents(s, dir).select(col("doc_id").as("id"), col("text")))
        .select(col("id").as("doc_id"), col("simhash"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, h
        FROM ${Fixtures.oracleScan("simtok")}),
      bits AS (
        SELECT t.doc_id, b.b,
               CASE WHEN SUM(CASE WHEN ((t.h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM tok t CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(64)) b
        GROUP BY t.doc_id, b.b)
      SELECT doc_id,
             CAST(SUM(CASE WHEN bit = 1 THEN
                    CASE WHEN b = 63 THEN -9223372036854775807 - 1
                         ELSE (CAST(1 AS BIGINT) << b) END
                  ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** n-gram Jaccard near-dup with BLOCKED candidate generation: pairs are
    * compared only within a (lang, source) block — at sf0.1 that is ~100k
    * pairs instead of 2M all-pairs. Blocks are capped at BLOCK_CAP docs
    * (deterministically, smallest doc_ids — mirrored in the oracle SQL), so
    * a hot source bounds at cap·(cap−1)/2 pairs instead of exploding
    * quadratically; for unbounded corpora use op 70's banded LSH, which
    * replaces the quadratic block expansion entirely. Top-50 most similar
    * English pairs. */
  private val llmJaccardPairs = GraftQuery(
    "llm_jaccard_pairs",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      // dedup-first INSIDE the capped blocks: identical texts share their
      // shingle set, so the all-pairs kernel runs over distinct texts only
      // (cap²/2 → distinct²/2 jaccard_sim calls per block). The top-50
      // REP-pairs ordered by (jaccard DESC, rep_a, rep_b) cover the true
      // top-50: a rep-pair's minimal expanded pair is exactly
      // (least(rep_a, rep_b), greatest(rep_a, rep_b)) — rep ids are group
      // minima — so 50 rep-pairs ranked above a pair contribute 50 pairs
      // sorting before it. Identity groups (jaccard computed through the
      // same kernel on the pair of identical sets) rank alongside.
      val groups = graft.etl.TextDedup.cappedBlocks(
          Tables.documents(s, dir).filter(col("lang") === "en"),
          blockCol = "source", orderCol = "doc_id", cap = BLOCK_CAP)
        .groupBy(col("source"), col("text"))
        .agg(sort_array(collect_list(col("doc_id"))).as("members"))
        .withColumn("norm", TextOps.normalize(col("text")))
        .withColumn("sh", expr("word_shingles(norm, 3)"))
        .withColumn("rep", col("members")(0))
        .select(col("source"), col("rep"), col("members"), col("sh"))
        // three consumers (both self-join sides + intra) each re-ran the
        // capped-block window + groupBy + shingle extraction (r17
        // RowProbe: 5.5–7 s task time for a ~1.4 s row) — checkpoint the
        // block-capped, distinct-sized group table once
        .stageCheckpoint()
      val a = groups.as("a")
      val b = groups.as("b")
      val cross = a.join(b,
          col("a.source") === col("b.source") && col("a.rep") < col("b.rep"))
        .select(col("a.rep").as("m_a"), col("b.rep").as("m_b"),
          expr("jaccard_sim(a.sh, b.sh)").as("jaccard"),
          col("a.members").as("ma"), col("b.members").as("mb"),
          lit("x").as("kind"))
      val intra = groups.filter(size(col("members")) > 1)
        .select(col("members")(0).as("m_a"), col("members")(1).as("m_b"),
          expr("jaccard_sim(sh, sh)").as("jaccard"),
          col("members").as("ma"), col("members").as("mb"),
          lit("i").as("kind"))
      val cand = cross.unionByName(intra)
        .orderBy(col("jaccard").desc_nulls_last,
          col("m_a").asc_nulls_first, col("m_b").asc_nulls_first)
        .limit(50)
      val crossExp = cand.filter(col("kind") === "x")
        .select(col("jaccard"), explode(col("ma")).as("x"), col("mb"))
        .select(col("jaccard"), col("x"), explode(col("mb")).as("y"))
        .select(least(col("x"), col("y")).as("doc_a"),
          greatest(col("x"), col("y")).as("doc_b"), col("jaccard"))
      val intraExp = cand.filter(col("kind") === "i")
        .select(col("jaccard"), explode(expr(
          """flatten(transform(sequence(0, size(ma) - 2), i ->
               transform(sequence(i + 1, size(ma) - 1), j ->
                 struct(ma[i] AS doc_a, ma[j] AS doc_b))))""")).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"), col("jaccard"))
      crossExp.unionByName(intraExp)
        .orderBy(col("jaccard").desc_nulls_last,
          col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
        .limit(50)
    },
    Some("""
      WITH capped AS (
        SELECT doc_id, source, text
        FROM (SELECT doc_id, source, text,
                     ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY doc_id ASC NULLS FIRST) AS rn
              FROM documents WHERE lang = 'en')
        WHERE rn <= 1000),
      sh AS (
        SELECT doc_id, source,
               list_distinct([array_to_string(words[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(words) - 1, 2))]) AS sh
        FROM (SELECT doc_id, source, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
              FROM capped))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) END AS jaccard
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      ORDER BY jaccard DESC NULLS LAST, doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST
      LIMIT 50"""))

  /** op 71 — brute-force cosine top-k: query = vec 0, top-11 (BASELINE
    * knn_cosine shape). Broadcast the 1-row query side; TakeOrderedAndProject
    * keeps it a linear scan + heap at any scale. */
  private val llmCosineTopk = GraftQuery(
    "llm_cosine_topk",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val q = docVec(s, dir).filter(col("vec_id") === 0).select(col("v").as("qv"))
      docVec(s, dir)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), cosR("v", "qv").as("cos_sim"))
        .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
        .limit(11)
    },
    Some("""
      SELECT b.vec_id,
             round(list_cosine_similarity(
               list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(a.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id = 0
      ORDER BY cos_sim DESC NULLS LAST, b.vec_id ASC NULLS FIRST
      LIMIT 11"""))

  /** op 72 — k-NN join, brute-force form: 20 query vectors × corpus, top-5
    * each. Broadcast the query side; correct ONLY for tiny query sets (one
    * linear scan total). For real query batches route through IVF probing —
    * `llm_knn_join_ivf` below is that path wired end-to-end. */
  private val llmKnnJoin = GraftQuery(
    "llm_knn_join",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val q = docVec(s, dir).filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
      // scan DISTINCT vectors only (vecGroups scaladoc): the scored volume
      // is queries × distinct, and the per-query top-5 REPS cover the true
      // top-5, re-expanded over identity groups and re-ranked
      val grouped = vecGroups(docVec(s, dir))
      val repTop = grouped.select(col("rep_id").as("vec_id"), col("v"))
        .crossJoin(broadcast(q))
        .select(col("q_id"), col("vec_id"), cosR("v", "qv").as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("q_id", "vec_id", "cos_sim")
      grouped.select(col("rep_id").as("vec_id"), col("members"))
        .join(repTop, "vec_id")
        .select(col("q_id"), explode(col("members")).as("vec_id"), col("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("q_id", "rn", "vec_id", "cos_sim")
        .orderBy(col("q_id").asc_nulls_first, col("rn").asc_nulls_first)
    },
    Some("""
      SELECT q_id, rn, vec_id, cos_sim
      FROM (
        SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
               round(list_cosine_similarity(
                 list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(a.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE))), 6) DESC NULLS LAST,
                 b.vec_id ASC NULLS FIRST) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id < 20)
      WHERE rn <= 5
      ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST"""))

  /** op 72 scale path — the k-NN join routed through IVF probing instead
    * of a full corpus scan per query batch: train the coarse quantizer once
    * (16 centroids, deterministic Lloyd — graft.etl.Ivf), assign the corpus
    * to nearest centroids (at 100 TB this is the on-disk partitioning of
    * the vector table), pick each query's top-4 centroids against the
    * broadcast centroid table, then score ONLY the probed buckets (4/16 of
    * the corpus per query) and take top-5.
    *
    * The oracle is the exact brute-force SQL over the same corpus, so the
    * pruned plan must reproduce the exact answer bit-for-bit. The raw
    * testdata embeddings are near-uniform (top-5 cosines ≈ 0.3 — no
    * neighborhood structure, which no sub-exhaustive index can serve
    * exactly), so like every near-dup query in this suite the corpus PLANTS
    * the structure the index exploits: 4 perturbed mutants per query vector
    * (cos ≥ 0.9 vs ≤ 0.55 background). Each query's true top-5 (self + its
    * 4 mutants) then shares the query's centroid neighborhood, and genuine
    * 4/16 probing recovers it exactly. Brute force (`llm_knn_join`) remains
    * the right shape only for tiny query sets. */
  /** The kNN rows' query set: every 100th vector. ONE definition (used
    * by the corpus planting AND both query bodies) so the planted
    * structure and the probed queries can never desynchronize; the two
    * oracle SQL strings mirror it as `vec_id % 100 = 0`. */
  private def knnQueryVecs(s: SparkSession, dir: String): DataFrame =
    docVec(s, dir).filter(col("vec_id") % 100 === 0)

  /** Planted kNN verification corpus shared by `llm_knn_join_ivf`
    * (inline index) and `llm_knn_join_ivf_persisted` (resident index):
    * the base embeddings plus 4 perturbed mutants of every query vector
    * (cos ≥ 0.9 vs ≤ 0.55 background — mutant offsets as parsed decimal
    * literals, identical binary doubles to the oracle SQL's constants),
    * so each query's exact top-5 is self + its mutants and a probed
    * search must reproduce the brute-force oracle bit-for-bit. */
  private def knnPlantedCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = docVec(s, dir)
    val qIds = knnQueryVecs(s, dir)
    val planted = Seq("0.005", "0.010", "0.015", "0.020").zipWithIndex.map {
      case (off, i) =>
        qIds.select((col("vec_id") + lit((i + 1) * 1000000L)).as("vec_id"),
          transform(col("v"), x => x * lit(0.9) + lit(off.toDouble)).as("v"))
    }.reduce(_ unionByName _)
    base.unionByName(planted)
  }

  /** Each distinct query vector's top-4 centroids: `(q_id, cent_id, qv)`
    * rows from the query groups and a `(cent_id, cv)` centroid table.
    * `cells` is never empty, so `explode_outer` yields the rows `explode`
    * would; an inner explode of the alias makes the optimizer infer a
    * `size(cells) > 0` filter below the projection, which runs the
    * kernel a second time per query. */
  private def knnProbes(qGrouped: DataFrame, cents: DataFrame): DataFrame =
    graft.etl.Ivf.assignTop(qGrouped.select(col("rep_id").as("vec_id"), col("v")), cents, 4)
      .select(col("vec_id").as("q_id"), explode_outer(col("cells")).as("cent_id"),
        col("v").as("qv"))

  /** Member fan-out of the IVF kNN rows: `candExp` holds each distinct
    * query's candidates expanded to member ids `(q_id, vec_id, cos_sim)`;
    * re-rank them to the top 5 and fan the answer out to every query id
    * sharing the vector. */
  private def knnFanOut(qGrouped: DataFrame, candExp: DataFrame): DataFrame = {
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
    val perRep = candExp
      .withColumn("rn", row_number().over(wFinal))
      .filter(col("rn") <= 5)
    qGrouped.select(col("rep_id").as("q_id"), col("members").as("q_members"))
      .join(perRep, "q_id")
      .select(explode(col("q_members")).as("q_id"),
        col("rn"), col("vec_id"), col("cos_sim"))
      .orderBy(col("q_id").asc_nulls_first, col("rn").asc_nulls_first)
  }

  /** The IVF kNN rows' oracle: exact brute force over the planted corpus. */
  private val KnnIvfOracle = """
      WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      qv AS (SELECT vec_id, v FROM base WHERE vec_id % 100 = 0),
      corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL SELECT vec_id + 1000000, list_transform(v, x -> x * 0.9 + 0.005) FROM qv
        UNION ALL SELECT vec_id + 2000000, list_transform(v, x -> x * 0.9 + 0.010) FROM qv
        UNION ALL SELECT vec_id + 3000000, list_transform(v, x -> x * 0.9 + 0.015) FROM qv
        UNION ALL SELECT vec_id + 4000000, list_transform(v, x -> x * 0.9 + 0.020) FROM qv)
      SELECT q_id, rn, vec_id, cos_sim
      FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               round(list_cosine_similarity(c.v, q.v), 6) AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(c.v, q.v), 6) DESC NULLS LAST,
                 c.vec_id ASC NULLS FIRST) AS rn
        FROM qv q CROSS JOIN corpus c)
      WHERE rn <= 5
      ORDER BY q_id ASC NULLS FIRST, rn ASC NULLS FIRST"""

  private val llmKnnJoinIvf = GraftQuery(
    "llm_knn_join_ivf",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val qIds = knnQueryVecs(s, dir)
      val corpus = knnPlantedCorpus(s, dir)
      // index, probe, and score over DISTINCT vectors only (vecGroups
      // scaladoc): duplicate corpus entries multiply every probed bucket
      // and duplicate queries rescan them — dedup-first makes the scored
      // pair volume distinct×distinct, then identity groups re-expand.
      val grouped = vecGroups(corpus)
      val reps = grouped.select(col("rep_id").as("vec_id"), col("v"))
      val qGrouped = vecGroups(qIds)
      val cents = graft.etl.Ivf.train(reps, k = 16, iters = 2)
      val assigned = graft.etl.Ivf.assign(reps, cents)
      val probes = knnProbes(qGrouped, cents)
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
      // top-5 REPS per distinct query vector (covers the true top-5 — see
      // vecGroups), then expand candidate groups, re-rank over member ids,
      // and fan the per-rep answer out to every query id sharing the vector.
      // The probe⋈bucket join is SIZE-DRIVEN, not hint-forced: a small query
      // batch broadcasts (zero extra shuffle), a large one shuffles BOTH
      // sides on cent_id — each probed bucket is then scanned once per
      // co-partitioned query group, the batched form a big query set needs
      // (a forced broadcast of probes is the shape that dies there). Join
      // parallelism on this key is bounded by nlist; at corpus scale
      // nlist ≈ √N (16 here for 16 probed buckets of testdata) so the key
      // space exceeds any cluster's cores long before the corpus is big.
      val repTop = assigned
        .join(probes, "cent_id")
        .select(col("q_id"), col("vec_id"), cosR("v", "qv").as("cos_sim"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5)
        .select("q_id", "vec_id", "cos_sim")
      knnFanOut(qGrouped, grouped.select(col("rep_id").as("vec_id"), col("members"))
        .join(repTop, "vec_id")
        .select(col("q_id"), explode(col("members")).as("vec_id"), col("cos_sim")))
    },
    Some(KnnIvfOracle))

  /** op 72 at its SERVING shape — the k-NN join routed through the
    * PERSISTED IVF index (the corpus's resident cent_id-partitioned
    * layout, `layouts.IvfIndex`) instead of an inline train/assign:
    * train + partition + write amortize across every query batch
    * against the table, exactly how a vector table is actually served
    * at 100 TB. The probes⋈index join is a broadcast hash join ON THE
    * PARTITION COLUMN, so each probed cell is read off disk while
    * unprobed `cent_id=` directories are skipped; index rows carry the
    * identity-group members, so the dedup-first expansion needs no
    * second corpus pass. Measured at 2 M vectors (CROSSOVER.md round
    * 12): 0.033 s/query batched at 0.997 recall@10, reading 1.6 % of
    * the index files. Same brute-force oracle as `llm_knn_join_ivf` —
    * the persisted, pruned plan must reproduce the exact answer.
    *
    * QUERY-BATCH BOUND (r12 ADVICE, low): the broadcast of `probes` is
    * HINT-FORCED, because the partition pruning it buys is the entire
    * point of the persisted layout and must not hinge on the planner's
    * size estimate of a computed DataFrame (an AQE runtime conversion
    * would land after the index scan already ran unpruned). The hint
    * assumes the SERVING contract: a bounded request batch — probe rows
    * = nprobe × distinct query vectors at ~0.5 KB each, so ~10⁴–10⁵
    * queries stay comfortably inside executor broadcast budgets, and a
    * batch large enough to strain them is probing most cells anyway,
    * at which point pruning buys nothing and the right tool is the
    * size-driven batch form `llm_knn_join_ivf` (whose comment explains
    * why a forced broadcast is the shape that dies THERE). */
  /** The persisted IVF layout `llm_knn_join_ivf_persisted` serves from —
    * exposed so the bench prewarms it under the IDENTICAL cache key and
    * reports the one-time build as a separate line item (the
    * [[persistedIvfIndex]] convention). */
  def persistedKnnIvfIndex(s: SparkSession, dir: String): (String, String) = {
    graft.functions.GraftFunctions.register(s)
    val sig = graft.layouts.LayoutUtil.dataSig(s"$dir/embeddings.parquet")
    graft.layouts.IvfIndex.ensure(
      s, s"knnp_${dir}_$sig", knnPlantedCorpus(s, dir), k = 16, iters = 2)
  }

  private val llmKnnJoinIvfPersisted = GraftQuery(
    "llm_knn_join_ivf_persisted",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val (idxPath, centsPath) = persistedKnnIvfIndex(s, dir)
      val cents = graft.layouts.IvfIndex.serve(s, centsPath)
      val qGrouped = vecGroups(knnQueryVecs(s, dir))
      val probes = knnProbes(qGrouped, cents)
      // the persisted layout: (vec_id = rep, v, members) under cent_id=
      // partition dirs (the partition column reads back type-inferred)
      val idx = graft.layouts.IvfIndex.serve(s, idxPath)
        .select(col("cent_id").cast("long").as("cent_id"),
          col("vec_id"), col("v"), col("members"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
      val repTop = idx.join(broadcast(probes), "cent_id")
        .select(col("q_id"), col("vec_id"), col("members"),
          cosR("v", "qv").as("cos_sim"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 5)
      knnFanOut(qGrouped,
        repTop.select(col("q_id"), explode(col("members")).as("vec_id"), col("cos_sim")))
    },
    Some(KnnIvfOracle))

  /** Embedding-cosine near-dup: plant slightly-perturbed copies of every
    * 100th vector (affine 0.9x+0.02 keeps cosine ≈ 0.97–0.99 vs ≤ 0.52 for
    * unrelated pairs), then find all pairs ≥ 0.9 — via LSH band buckets
    * (VectorLsh.withBandBuckets), NOT an all-pairs join: candidates share a
    * sign-bucket in ≥1 of 8 bands, exact cosine verifies only candidates.
    * The oracle stays the exact all-pairs SQL — the banded recall must (and
    * deterministically does) reproduce it; the all-pairs BNLJ shape this
    * replaces dies at 100 TB.
    *
    * PROFILE-ROUTED since r8: a sampled candidate-mass estimate detects
    * the mid-similarity-background corpus profile banded LSH cannot serve
    * at scale (the r7 guard) and routes candidate generation to the
    * IVF-cell generator instead of failing fast — same threshold, same
    * verification, same output shape (VectorLsh.cellBandCandidateIds;
    * cluster-scoped recall caveat documented there). The oracle corpus at
    * sf0.01 is under the estimate's floor, so the oracled row always runs
    * the banded path.
    *
    * Library form [[embedNeardupPairs]]: every pair with cosine ≥ `theta`
    * over `all` (vec_id, v) — dedup-first, adaptive banded LSH sized for
    * `theta`, the corpus-profile router, exact verification, member
    * expansion. The registry row runs it at θ = 0.9; the scale probes
    * also run a high-θ (planted-only-output) form to separate the
    * KERNEL's scaling from output-quadratic pair mass. */
  private[graft] def embedNeardupPairs(all: DataFrame, theta: Double): DataFrame = {
      val s = all.sparkSession
      graft.functions.GraftFunctions.register(s)
      // EXACT-DEDUP FIRST (the same precondition op 69 documents for text):
      // identical vectors collapse to one representative before LSH. A
      // corpus with k exact copies per vector otherwise multiplies every
      // LSH bucket by k and the candidate join by k² — measured at sf3
      // (30× replicas): the bucket join spilled past local disk. Identity
      // groups are re-expanded after the banded pass, which is linear in
      // the TRUE output size (all-pairs within an identical group is the
      // specified answer, not overhead).
      // checkpointed for the same reason as [[vecGroups]] (r17): reps is
      // read by the count, the router's sample, the banding pass and both
      // verification sides, and grouped again by both member expansions —
      // seven consumers of one groupBy-shuffle subtree
      val grouped = all.groupBy(col("v"))
        .agg(min(col("vec_id")).as("rep_id"),
          sort_array(collect_list(col("vec_id"))).as("members"))
        .stageCheckpoint()
      val reps = grouped.select(col("rep_id").as("vec_id"), col("v"))
      // LSH geometry sized from the DISTINCT vector count — the set that
      // is actually bucketed: fixed small bucket counts go quadratic on
      // large distinct corpora (at sf3d's 150 k unique vectors the
      // historical 8×4 put ~9 k vectors per bucket and the band join
      // spilled past local disk), while sizing from the RAW count
      // over-grows bands×bits on duplicate-heavy corpora whose reps are
      // few (measured 2.6→11 s at sf3's 30× replicas: 845 projections per
      // vector where 216 suffice). One extra job runs the dedup shuffle
      // for the count; adaptiveBandParams grows bits like log2(N) and
      // bands to hold the miss probability (VectorLsh scaladoc, incl. the
      // occupancy-8 trade profiled at sf3d); growing the geometry only
      // adds candidates, and exact verification filters them.
      val nDistinct = reps.count()
      val (nBands, nBits) = graft.etl.VectorLsh.adaptiveBandParams(
        nDistinct, simThreshold = theta)
      // CORPUS-PROFILE ROUTER (r7 guard → r8 auto-route): banded sign-LSH
      // requires the candidate mass to be dominated by TRUE pairs, not by
      // a mid-similarity background the verify step discards. Measured on
      // the spread-mode corpora the geometry generated ~2.6×10⁸
      // background candidates for ~2 k true pairs at 245 k distinct
      // vectors, and the verify joins' wide intermediate spilled > 60 GB
      // and died. The discriminator is the RATIO (machine-independent —
      // the d-corpora's documented 97 M-candidate runs are legitimate at
      // background ≈ 2× true) with an absolute floor so small corpora,
      // where over-collection is deliberate and cheap, never trip it.
      // Instead of the r7 fail-fast, a tripped profile now ROUTES to the
      // cell-partitioned candidate generator the semdedup family already
      // proved on exactly this profile (IVF cells bound every candidate
      // block regardless of the background — measured 1.04–1.18× per 2×
      // data on the spread corpora): same θ, same verify step, same
      // output shape, with the cluster-scoped recall caveat documented at
      // VectorLsh.cellBandCandidateIds (planted near-dup pairs at cosine
      // ≥ 0.97 share a cell in practice; the estimate itself is a ~0.5 s
      // driver-side sample, skipped when the 5e7 floor cannot be
      // exceeded: bg ≤ n(n−1)/2 ≤ 5e7 for n ≤ 10⁴). The decision is
      // AUDITABLE (r8 ADVICE): VectorLsh.routeCandidates records it in
      // VectorLsh.lastRoute and WARN-logs routed runs, since the routed
      // path's recall contract differs and the oracle never exercises it.
      val useCells = graft.etl.VectorLsh.routeCandidates(
        reps, nDistinct, nBands, nBits, dims = 64, simThreshold = theta)
      val candIds =
        if (useCells)
          graft.etl.VectorLsh.cellBandCandidateIds(
            reps, nDistinct, nBands = nBands, bitsPerBand = nBits, dims = 64)
        else
          graft.etl.VectorLsh.bandCandidateIds(
            reps, nBands = nBands, bitsPerBand = nBits, dims = 64)
      val repPairs = candIds
        .join(reps.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
        .join(reps.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
        .select(col("vec_a"), col("vec_b"), cosR("va", "vb").as("cos_sim"))
        .filter(col("cos_sim") >= theta)
      // cross-group expansion: every member pair inherits the rep cosine
      // (identical vectors); least/greatest restores the vec_a < vec_b form
      val cross = repPairs
        .join(grouped.select(col("rep_id").as("vec_a"), col("members").as("ma")), "vec_a")
        .join(grouped.select(col("rep_id").as("vec_b"), col("members").as("mb")), "vec_b")
        .select(explode(col("ma")).as("x"), col("mb"), col("cos_sim"))
        .select(col("x"), explode(col("mb")).as("y"), col("cos_sim"))
        .select(least(col("x"), col("y")).as("vec_a"),
          greatest(col("x"), col("y")).as("vec_b"), col("cos_sim"))
      // intra-group pairs: exact copies are near-dups of each other by
      // definition (cosine computed through the same kernel for parity)
      val intra = grouped.filter(size(col("members")) > 1)
        .select(col("v"), explode(expr(
          """flatten(transform(sequence(0, size(members) - 2), i ->
               transform(sequence(i + 1, size(members) - 1), j ->
                 struct(members[i] AS vec_a, members[j] AS vec_b))))""")).as("p"))
        .select(col("p.vec_a"), col("p.vec_b"), cosR("v", "v").as("cos_sim"))
      cross.unionByName(intra)
        .orderBy(col("vec_a").asc_nulls_first, col("vec_b").asc_nulls_first)
  }

  private val llmEmbedNeardup = GraftQuery(
    "llm_embed_neardup",
    (s, dir) => {
      val base = docVec(s, dir)
      val planted = base.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("v"), x => x * 0.9 + 0.02).as("v"))
      embedNeardupPairs(base.unionByName(planted), theta = 0.9)
    },
    Some("""
      WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      allv AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + 1000000, list_transform(v, x -> x * 0.9 + 0.02)
        FROM base WHERE vec_id % 100 = 0)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
      FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
      ORDER BY vec_a ASC NULLS FIRST, vec_b ASC NULLS FIRST"""))

  /** The single-query ANN rows' top-4 probe cell ids for a `(cent_id,
    * cv)` centroid table and a one-row `(vec_id, v)` query
    * (`explode_outer`: see [[knnProbes]]). */
  private def annProbes(cents: DataFrame, q: DataFrame): DataFrame =
    graft.etl.Ivf.assignTop(q, cents, 4).select(explode_outer(col("cells")).as("cent_id"))

  /** The persisted ANN rows' last stage: exact top-5 reps of `cands`
    * `(vec_id, v, members)` against the one-row `qv` query, expanded to
    * their members and re-ranked. */
  private def exactTop5Members(cands: DataFrame, q: DataFrame): DataFrame =
    cands.crossJoin(broadcast(q))
      .select(col("vec_id"), col("members"), cosR("v", "qv").as("cos_sim"))
      .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
      .limit(5)
      .select(explode(col("members")).as("vec_id"), col("cos_sim"))
      .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
      .limit(5)

  /** The persisted ANN rows' oracle: the exact brute-force top-5 over the
    * [[plantedVecCorpus]]. */
  private val PlantedTop5Oracle = """
      WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      qv AS (SELECT v FROM base WHERE vec_id = 0),
      corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL SELECT 1000000, list_transform(v, x -> x * 0.9 + 0.005) FROM qv
        UNION ALL SELECT 2000000, list_transform(v, x -> x * 0.9 + 0.010) FROM qv
        UNION ALL SELECT 3000000, list_transform(v, x -> x * 0.9 + 0.015) FROM qv
        UNION ALL SELECT 4000000, list_transform(v, x -> x * 0.9 + 0.020) FROM qv)
      SELECT c.vec_id, round(list_cosine_similarity(c.v, q.v), 6) AS cos_sim
      FROM corpus c CROSS JOIN qv q
      ORDER BY cos_sim DESC NULLS LAST, c.vec_id ASC NULLS FIRST
      LIMIT 5"""

  /** Oracle CTEs of the model-input ANN rows: `emb`, the embeddings as
    * doubles, and `grp`, their identity groups keyed by the min id. */
  private val AnnEmbGrp = """
      WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      grp AS (SELECT v, min(vec_id) AS rep FROM emb GROUP BY v),"""

  /** Oracle CTE: the IVF centroid fixture as `cents (cent_id, cv)`. */
  private val IvfCents = s"""cents AS (
        SELECT cent_id, cv
        FROM ${Fixtures.oracleScan("ivfcents")}),"""

  /** Oracle CTE: each `grp` rep's rounded-cosine argmax cell. */
  private val IvfAsg = """asg AS (
        SELECT rep, cent_id FROM (
          SELECT g.rep, c.cent_id,
                 ROW_NUMBER() OVER (PARTITION BY g.rep
                   ORDER BY round(list_cosine_similarity(g.v, c.cv), 6) DESC,
                            c.cent_id ASC) AS rn
          FROM grp g CROSS JOIN cents c)
        WHERE rn = 1),"""

  /** IVF ANN: k-means-trained coarse quantizer (16 centroids, 2
    * deterministic Lloyd iterations — graft.etl.Ivf), nearest-centroid
    * assignment, query probes 4 of 16 buckets, exact rescoring inside the
    * probed buckets.
    *
    * Oracled (r6): the trained centroids are the declared model input
    * (Fixtures.ivfCentroids — identical to this row's own Ivf.train by
    * determinism, which VectorSpec pins); the oracle recomputes the
    * rounded-cosine argmax assignment (ties → lowest cent_id), the
    * rounded top-4 probe choice, the in-cell exact rescoring, and the
    * member fan-out + re-rank in SQL. VectorSpec keeps self-recall +
    * exact-top-50 containment. */
  private val llmAnnIvf = GraftQuery(
    "llm_ann_ivf",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      graft.Fixtures.ivfCentroids(s, dir) // model dump for the DuckDB oracle
      val vecs = docVec(s, dir)
      // train/assign/score over distinct vectors (vecGroups scaladoc);
      // the top-10 reps cover the true top-10, re-expanded + re-ranked
      val grouped = vecGroups(vecs)
      val reps = grouped.select(col("rep_id").as("vec_id"), col("v"))
      val cents = graft.etl.Ivf.train(reps, k = 16, iters = 2)
      val assigned = graft.etl.Ivf.assign(reps, cents)
      val qRow = vecs.filter(col("vec_id") === 0)
      val q = qRow.select(col("v").as("qv"))
      val probes = annProbes(cents, qRow)
      val repTop = assigned
        .join(broadcast(probes), "cent_id")
        .crossJoin(broadcast(q))
        .select(col("vec_id"), cosR("v", "qv").as("cos_sim"))
        .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
        .limit(10)
      grouped.select(col("rep_id").as("vec_id"), col("members"))
        .join(broadcast(repTop), "vec_id")
        .select(explode(col("members")).as("vec_id"), col("cos_sim"))
        .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
        .limit(10)
    },
    Some(s"""$AnnEmbGrp
      $IvfCents
      q AS (SELECT v FROM emb WHERE vec_id = 0),
      $IvfAsg
      probes AS (
        SELECT cent_id FROM cents CROSS JOIN q
        ORDER BY round(list_cosine_similarity(cv, q.v), 6) DESC NULLS LAST,
                 cent_id ASC
        LIMIT 4),
      reptop AS (
        SELECT g.rep, round(list_cosine_similarity(g.v, q.v), 6) AS cos_sim
        FROM grp g
        JOIN asg ON asg.rep = g.rep
        JOIN probes p ON p.cent_id = asg.cent_id
        CROSS JOIN q
        ORDER BY cos_sim DESC NULLS LAST, g.rep ASC
        LIMIT 10)
      SELECT e.vec_id, rt.cos_sim
      FROM reptop rt
      JOIN grp g ON g.rep = rt.rep
      JOIN emb e ON e.v = g.v
      ORDER BY cos_sim DESC NULLS LAST, e.vec_id ASC NULLS FIRST
      LIMIT 10"""))

  /** IVF ANN over the PERSISTED index layout (layouts.IvfIndex): the
    * vector table is written partitioned by cent_id ONCE (its resident
    * on-disk format at 100 TB), then a probe query filters
    * `cent_id IN (top-4 probes)` so the file-source scan reads ONLY the
    * probed partition directories — partition pruning as the ANN analogue
    * of DPP (IvfIndexSpec pins selected-partitions < total and file-level
    * pruning). Contrast `llm_ann_ivf`, which rebuilds the index per run:
    * here train/assign/write amortize across every query against the
    * table, which is how an ANN index is actually served.
    *
    * The corpus plants 4 perturbed mutants of the query vector (the
    * knn_ivf scheme: cos ≥ 0.9 vs ≤ 0.55 background), so the exact top-5
    * is self + mutants, all inside the query's centroid neighborhood —
    * the probed search must reproduce the brute-force oracle bit-for-bit.
    * Index rows are identity-group reps; the top-5 over reps covers the
    * true top-5 (vecGroups proof), re-expanded then re-ranked. */
  /** The persisted IVF index layout the `llm_ann_ivf_persisted` row
    * probes — exposed so the bench prewarms it with the IDENTICAL cache
    * key and reports the one-time train+partition+write as a separate
    * line item (the index is the table's resident format; its build is
    * not the probe query's cost). Returns (indexPath, centroidsPath). */
  /** The planted ANN verification corpus the persisted indexes store: the
    * base embeddings plus 4 perturbed mutants of query vec 0 (cos ≥ 0.9
    * vs ≤ 0.55 background), so the exact top-5 is self + mutants and a
    * probed search must reproduce the brute-force oracle bit-for-bit —
    * shared by `llm_ann_ivf_persisted` and `llm_ann_ivfpq_persisted`,
    * whose DuckDB oracles re-derive the identical corpus in SQL. */
  private def plantedVecCorpus(s: SparkSession, dir: String): DataFrame = {
    val base = docVec(s, dir)
    val planted = Seq("0.005", "0.010", "0.015", "0.020").zipWithIndex.map {
      case (off, i) =>
        base.filter(col("vec_id") === 0)
          .select(lit((i + 1) * 1000000L).as("vec_id"),
            transform(col("v"), x => x * lit(0.9) + lit(off.toDouble)).as("v"))
    }.reduce(_ unionByName _)
    base.unionByName(planted)
  }

  def persistedIvfIndex(s: SparkSession, dir: String): (String, String) = {
    graft.functions.GraftFunctions.register(s)
    // per-data-file signature (LayoutUtil.dataSig — the r4 ADVICE fix):
    // the parquet path is a directory whose own size/mtime can survive an
    // in-place part-file rewrite
    val sig = graft.layouts.LayoutUtil.dataSig(s"$dir/embeddings.parquet")
    graft.layouts.IvfIndex.ensure(
      s, s"annp_${dir}_$sig", plantedVecCorpus(s, dir), k = 16, iters = 2)
  }

  private val llmAnnIvfPersisted = GraftQuery(
    "llm_ann_ivf_persisted",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val (idxPath, centsPath) = persistedIvfIndex(s, dir)
      val qRow = docVec(s, dir).filter(col("vec_id") === 0)
      val q = qRow.select(col("v").as("qv"))
      // probe selection: centroids are k×dims model params (the Ivf.assign
      // pattern) — the top-4 probe ids are picked map-side and enter the
      // scan as LITERALS so Catalyst prunes partitions statically
      val probeIds = annProbes(graft.layouts.IvfIndex.serve(s, centsPath), qRow)
        .collect().map(_.getLong(0)).toSeq
      val pruned = graft.layouts.IvfIndex.serve(s, idxPath)
        .filter(col("cent_id").isin(probeIds: _*))
      exactTop5Members(pruned, q)
    },
    Some(PlantedTop5Oracle))

  /** The LSH ANN rows' body: vec 0's top-10 by exact cosine among the
    * candidates `probe` keeps of the `bits`-bit sign-bucketed corpus
    * (embeddings plus one planted near-duplicate of vec 0) for the
    * one-row `(qv, qbucket)` query. */
  private def lshAnn(s: SparkSession, dir: String, bits: Int)
      (probe: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    graft.Fixtures.lshPlanes(s, dir) // plane dump for the DuckDB oracle
    val base = docVec(s, dir)
    val planted = base.filter(col("vec_id") === 0)
      .select(lit(9000000L).as("vec_id"),
        transform(col("v"), x => x * 0.9 + 0.02).as("v"))
    val bucketed = graft.etl.VectorLsh.withBucket(base.unionByName(planted), bits, 64)
    val qRow = bucketed.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    probe(bucketed, qRow)
      .select(col("vec_id"), cosR("v", "qv").as("cos_sim"))
      .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
      .limit(10)
  }

  /** The LSH ANN rows' oracle: sign buckets from the plane fixture
    * (`planesWhere` narrows the planes), then exact rescoring of the
    * corpus within `maxHamming` bits of the query's bucket. */
  private def lshOracle(planesWhere: String, maxHamming: Int): String = s"""
      WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      qv0 AS (SELECT v FROM base WHERE vec_id = 0),
      corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT 9000000, list_transform(v, x -> x * 0.9 + 0.02) FROM qv0),
      planes AS (
        SELECT j, h
        FROM ${Fixtures.oracleScan("lshplanes")}$planesWhere),
      bkt AS (
        SELECT c.vec_id,
               CAST(SUM(CASE WHEN list_sum([c.v[i] * p.h[i]
                                            FOR i IN range(1, len(p.h) + 1)]) > 0
                             THEN (1 << p.j) ELSE 0 END) AS BIGINT) AS bucket
        FROM corpus c CROSS JOIN planes p
        GROUP BY c.vec_id),
      qb AS (SELECT bucket AS qbucket FROM bkt WHERE vec_id = 0)
      SELECT c.vec_id,
             round(list_cosine_similarity(c.v, q.v), 6) AS cos_sim
      FROM corpus c
      JOIN bkt ON bkt.vec_id = c.vec_id
      CROSS JOIN qb CROSS JOIN qv0 q
      WHERE bit_count(xor(bkt.bucket, qb.qbucket)) <= $maxHamming
      ORDER BY cos_sim DESC NULLS LAST, c.vec_id ASC NULLS FIRST
      LIMIT 10"""

  /** LSH-bucketed ANN (the prompt's "LSH-bucketed variant as the scale
    * path"): 8-bit random-hyperplane sign buckets, query probes Hamming≤1
    * buckets only (9 of 256), exact cosine top-10 inside the probed set.
    * A perturbed near-duplicate of the query vector is planted and must be
    * found (sign bits agree w.h.p. for cosine≈0.98 pairs).
    *
    * Oracled (r6): the derived hyperplanes are the declared model input
    * (Fixtures.lshPlanes — a pure function of (j, i), dumped so SQL can
    * project); the oracle recomputes every vector's sign-bit bucket, the
    * Hamming≤1 probe filter (bit_count ∘ xor), and the exact in-probe
    * rescoring. VectorSpec keeps planted-neighbor recall. */
  private val llmAnnLsh = GraftQuery(
    "llm_ann_lsh",
    (s, dir) => lshAnn(s, dir, bits = 8) { (bucketed, qRow) =>
      bucketed
        .crossJoin(broadcast(qRow))
        .filter(bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= 1)
    },
    Some(lshOracle("\n        WHERE j < 8", maxHamming = 1)))

  /** op 73 — text stats per language: doc/token/char totals + exact mean
    * tokens + top-3 terms. ONE tokenize/explode pass: the (lang, term)
    * count table feeds both the windowed top-3 AND the per-lang token
    * totals (Σ counts ≡ Σ size(toks) — same occurrences, grouped), so the
    * normalize+split subtree and its per-token rows exist exactly once.
    * n_docs/total_chars come from the raw rows without tokenizing. */
  private val llmTextStats = GraftQuery(
    "llm_text_stats",
    (s, dir) => {
      // dedup-first for the tokenize/explode pass only: term counts per
      // (lang, term) are the group-size-weighted counts over DISTINCT
      // normalized texts (identical texts tokenize identically). The
      // doc-level stats below stay on the raw table — n_chars is a stored
      // column, not derivable from the normalized text, and that agg is
      // map-side cheap with no explode.
      // termCounts feeds TWO consumers (top-terms window, token totals) —
      // eager checkpoint so the tokenize/explode/aggregate pass runs once
      // (r17; the checkpointed form is the collapsed (lang, term) table,
      // vocabulary-sized, not the exploded token stream)
      val termCounts = Tables.documents(s, dir)
        .groupBy(col("lang"), col("text"))
        .agg(count(lit(1)).as("g_size"))
        .select(col("lang"), col("g_size"),
          explode(split(TextOps.normalize(col("text")), " ")).as("term"))
        .groupBy(col("lang"), col("term")).agg(sum(col("g_size")).as("n"))
        .stageCheckpoint()
      val wTop = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc_nulls_last, col("term").asc_nulls_first)
      val top = termCounts
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 3)
        .groupBy(col("lang"))
        // array_join: driver compare cannot sort/hash array cells.
        .agg(array_join(transform(array_sort(collect_list(struct(col("rn"), col("term")))),
          x => x.getField("term")), ",").as("top_terms"))
      val tokTotals = termCounts.groupBy(col("lang"))
        .agg(sum(col("n")).as("total_tokens"))
      val stats = Tables.documents(s, dir).groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .join(tokTotals, "lang")
        .withColumn("avg_tokens",
          col("total_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType))
      stats.join(top, "lang")
        .select("lang", "n_docs", "total_tokens", "total_chars", "avg_tokens", "top_terms")
        .orderBy(col("lang").asc_nulls_first)
    },
    Some("""
      WITH docs AS (
        SELECT lang, n_chars,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM documents),
      stats AS (
        SELECT lang, COUNT(*) AS n_docs,
               -- CASTs: DuckDB SUM(int) is HUGEINT -> pandas float64; Spark int64.
               CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(len(toks)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
        FROM docs GROUP BY lang),
      top AS (
        SELECT lang, array_to_string(list(term ORDER BY rn ASC), ',') AS top_terms
        FROM (SELECT lang, term, ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY n DESC NULLS LAST, term ASC NULLS FIRST) AS rn
              FROM (SELECT lang, term, COUNT(*) AS n
                    FROM (SELECT lang, unnest(toks) AS term FROM docs)
                    GROUP BY lang, term))
        WHERE rn <= 3 GROUP BY lang)
      SELECT s.lang, n_docs, total_tokens, total_chars, avg_tokens, top_terms
      FROM stats s JOIN top USING (lang)
      ORDER BY lang ASC NULLS FIRST"""))

  /** op 74 — tf-idf: explode → tf per (doc,term), df per term, idf =
    * ln((N+1)/(df+1)), top-5 terms per doc. */
  private val llmTfidf = GraftQuery(
    "llm_tfidf",
    (s, dir) => {
      // dedup-first (the op-69 precondition, text side): tf and the top-5
      // term ranking depend only on the NORMALIZED text, so identical texts
      // share one tokenize/explode/aggregate pass. df still counts every
      // doc — it is the group-size-weighted sum over distinct texts — and
      // the per-rep top-5 fans out to every member doc_id at the end,
      // linear in the output. On a duplicate-free corpus this adds one
      // doc-sized shuffle; on a duplicate-heavy one it divides the token
      // volume AND the (doc, term) shuffle by the duplication factor.
      // grouping key = the RAW text: no hash or normalize pass over the
      // corpus (normalize runs only on the distinct reps below). Raw-text
      // groups refine normalized-text groups, and every per-doc quantity
      // here is a function of the text, so split groups just sum.
      val groups = Tables.documents(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("rep_id"),
          sort_array(collect_list(col("doc_id"))).as("members"),
          count(lit(1)).as("g_size"))
      val terms = groups
        .select(col("rep_id"), col("g_size"),
          explode(split(TextOps.normalize(col("text")), " ")).as("term"))
      // tf feeds TWO consumers (df and the scored join) — un-checkpointed
      // the tokenize/explode/aggregate pass runs twice (r17 RowProbe:
      // 4.8 s task time for a 1.6 s row). One eager checkpoint of the
      // (rep, term) table — already the collapsed, distinct-sized form —
      // halves the explode volume; groups recompute for the final member
      // fan-out stays (doc-sized, no explode).
      val tf = terms.groupBy("rep_id", "term")
        .agg(count(lit(1)).as("tf"), max(col("g_size")).as("g_size"))
        .stageCheckpoint()
      val df = tf.groupBy("term").agg(sum(col("g_size")).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("rep_id"))
        .orderBy(col("score").desc_nulls_last, col("term").asc_nulls_first)
      val topPerRep = tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf").cast(DoubleType) *
            log((col("n_docs").cast(DoubleType) + 1.0) / (col("df").cast(DoubleType) + 1.0)), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("rep_id", "rn", "term", "score")
      topPerRep.join(groups.select(col("rep_id"), col("members")), "rep_id")
        .select(explode(col("members")).as("doc_id"), col("rn"), col("term"), col("score"))
        .orderBy(col("doc_id").asc_nulls_first, col("rn").asc_nulls_first)
    },
    Some("""
      WITH terms AS (
        SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT doc_id, rn, term, score
      FROM (
        SELECT doc_id, term,
               round(CAST(tf AS DOUBLE) * ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)), 6) AS score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY round(CAST(tf AS DOUBLE) * ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)), 6) DESC NULLS LAST,
                          term ASC NULLS FIRST) AS rn
        FROM tf JOIN df USING (term) CROSS JOIN n)
      WHERE rn <= 5
      ORDER BY doc_id ASC NULLS FIRST, rn ASC NULLS FIRST"""))

  /** op 75 — multimodal struct column: documents⋈embeddings assembled into
    * struct(meta struct, vec array), nested-path projection + filter.
    * Output is flattened for oracle hashing; the struct assembly and
    * dot-path access are the Spark-side point. */
  private val llmMultimodalStruct = GraftQuery(
    "llm_multimodal_struct",
    (s, dir) =>
      Tables.documents(s, dir)
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .withColumn("rec", struct(
          struct(col("lang"), col("source"), col("n_chars")).as("meta"),
          VectorOps.toDouble(col("embedding")).as("vec")))
        .filter(col("rec.meta.lang") === "en")
        .select(
          col("doc_id"),
          col("rec.meta.lang").as("lang"),
          col("rec.meta.n_chars").as("n_chars"),
          round(element_at(col("rec.vec"), 1), 6).as("dim0"),
          size(col("rec.vec")).as("n_dims"))
        .orderBy(col("doc_id").asc_nulls_first),
    Some("""
      SELECT doc_id, lang, n_chars,
             round(CAST(embedding[1] AS DOUBLE), 6) AS dim0,
             len(embedding) AS n_dims
      FROM documents JOIN embeddings ON doc_id = vec_id
      WHERE lang = 'en'
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** op 76 — fixed-width histogram of n_chars per language. */
  private val llmHistogram = GraftQuery(
    "llm_histogram",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket", expr("(n_chars div 50) * 50"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang").asc_nulls_first, col("bucket").asc_nulls_first),
    Some("""
      SELECT lang, (n_chars // 50) * 50 AS bucket, COUNT(*) AS n
      FROM documents
      GROUP BY lang, bucket
      ORDER BY lang ASC NULLS FIRST, bucket ASC NULLS FIRST"""))

  /** Language-ID (n-gram heuristic): self-trained top-50 char-trigram
    * profile per language, classify each doc by profile overlap. The
    * testdata's text is synthetic (vocabulary does not differ by lang), so
    * accuracy against the lang column is not the assertion; the full
    * self-training pipeline is DuckDB-oracled, and DedupFirstSpec's
    * llm_lang_id case pins it to the per-doc trigram formulation. */
  private val llmLangId = GraftQuery(
    "llm_lang_id",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      // dedup-first: trigram extraction (the dominant cost — hundreds of
      // distinct trigrams exploded per doc, twice) runs over DISTINCT
      // (lang, text) groups only. Profile counts are docs-per-trigram, so
      // the weighted sum over groups reproduces them exactly; the per-rep
      // prediction is a function of the text and fans out to members.
      // the dedup groups feed THREE consumers (trigram extraction below —
      // itself read twice — and the final member fan-out) and the trigram
      // stream TWO (profile counts, scoring); un-checkpointed, Catalyst
      // re-evaluates the groupBy per consumer and the extraction — the
      // row's dominant cost — runs twice (r17 RowProbe: 5.7 s of task
      // time for a 1.8 s row). Eager stage checkpoints make each pass
      // run exactly once, each in its own job before the row's own
      // (examples.StageRunner gets the same from lazy checkpoints that
      // one action over its last stage fills). At 100 TB these are the
      // stage outputs a corpus-stats pipeline checkpoints to storage
      // anyway.
      val groups = Tables.documents(s, dir)
        .groupBy(col("lang"), col("text"))
        .agg(sort_array(collect_list(col("doc_id"))).as("members"),
          count(lit(1)).as("g_size"))
        .withColumn("rep_id", col("members")(0))
        .stageCheckpoint()
      val repTris = groups
        .withColumn("norm", TextOps.normalize(col("text")))
        .select(col("rep_id"), col("lang"), col("g_size"),
          explode(TextOps.charTrigrams("norm")).as("tri"))
        .stageCheckpoint()
      val wProf = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc_nulls_last, col("tri").asc_nulls_first)
      val profiles = repTris
        .groupBy("lang", "tri").agg(sum(col("g_size")).as("n"))
        .withColumn("rn", row_number().over(wProf))
        .filter(col("rn") <= 50)
        .groupBy(col("lang").as("cand_lang"))
        .agg(collect_set(col("tri")).as("profile"))
      // Score via explode + broadcast join + count (codegen'd) rather than
      // per-row array_intersect against each profile (interpreted, 25x
      // slower at sf0.1). Every doc overlaps the corpus-derived profiles,
      // so the argmax row always exists.
      val profTris = profiles
        .select(col("cand_lang"), explode(col("profile")).as("tri"))
      val wBest = Window.partitionBy(col("rep_id"))
        .orderBy(col("score").desc_nulls_last, col("cand_lang").asc_nulls_first)
      val repPred = repTris
        .join(broadcast(profTris), "tri")
        .groupBy(col("rep_id"), col("lang"), col("cand_lang"))
        .agg(count(lit(1)).cast(IntegerType).as("score"))
        .withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("rep_id"), col("lang"), col("cand_lang").as("pred_lang"), col("score"))
      groups.select(col("rep_id"), col("members"))
        .join(repPred, "rep_id")
        .select(explode(col("members")).as("doc_id"),
          col("lang"), col("pred_lang"), col("score"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, lang, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
      tris AS (
        SELECT doc_id, lang, unnest(list_distinct([substr(norm, i, 3) FOR i IN range(1, greatest(length(norm) - 2, 1) + 1)])) AS tri
        FROM docs),
      counts AS (SELECT lang, tri, COUNT(*) AS n FROM tris GROUP BY 1, 2),
      prof AS (
        SELECT lang AS cand_lang, tri
        FROM (SELECT lang, tri, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, tri ASC) AS rn FROM counts)
        WHERE rn <= 50),
      scores AS (
        SELECT t.doc_id, t.lang, p.cand_lang, CAST(COUNT(*) AS INTEGER) AS score
        FROM tris t JOIN prof p ON t.tri = p.tri
        GROUP BY 1, 2, 3)
      SELECT doc_id, lang, cand_lang AS pred_lang, score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC NULLS LAST, cand_lang ASC NULLS FIRST) AS rn FROM scores)
      WHERE rn = 1
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** Quality scoring: token/length/stopword/digit heuristics composed into
    * a [0,1] score — the standard pre-training corpus filter features.
    * The feature definition lives in TextOps.qualityFeatures, shared with
    * the composed corpus-prep job (examples.TrainingDataPrep) so the
    * pipeline filter is exactly the oracled formula. */
  private val llmQualityScore = GraftQuery(
    "llm_quality_score",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("q", TextOps.qualityFeatures(col("text")))
        .select(col("doc_id"), col("q.n_tokens").as("n_tokens"),
          col("q.stop_ratio").as("stop_ratio"),
          col("q.digit_ratio").as("digit_ratio"), col("q.quality").as("quality"))
        .orderBy(col("doc_id").asc_nulls_first),
    Some("""
      WITH f AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE) AS digit_ratio
        FROM documents)
      SELECT doc_id,
             len(words) AS n_tokens,
             round(CAST(len(list_filter(words, w -> w IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
                   / CAST(len(words) AS DOUBLE), 6) AS stop_ratio,
             round(digit_ratio, 6) AS digit_ratio,
             round(0.4 * (CAST(len(list_filter(words, w -> w IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
                          / CAST(len(words) AS DOUBLE))
                   + 0.3 * least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
                   + 0.3 * (1.0 - digit_ratio), 6) AS quality
      FROM f
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** Oracle CTEs of the corpus-prep rows up to stage 2: the planted
    * corpus (`corpusPrepFixture` in SQL), exact dedup `s1` and the
    * quality filter `s2`. */
  private val CorpusPrepStages12 = """
      WITH base AS (SELECT doc_id, text FROM documents),
      nrm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM base),
      copies AS (
        SELECT doc_id + 2000000 AS doc_id, text FROM base WHERE doc_id % 50 = 0),
      mutants AS (
        SELECT doc_id + 1000000 AS doc_id,
               regexp_replace(text, '^\w+ ', 'graftmutant ') AS text
        FROM base WHERE doc_id % 25 = 0),
      stitched AS (
        SELECT d.doc_id + 4000000 AS doc_id, d.text || ' ' || n.text AS text
        FROM base d JOIN base n ON n.doc_id = d.doc_id + 1
        WHERE d.doc_id % 40 = 0),
      evalq AS (
        SELECT doc_id, array_to_string((string_split(t, ' '))[3:22], ' ') AS snip
        FROM nrm WHERE doc_id % 97 = 0),
      hosts AS (SELECT doc_id - 1 AS doc_id, string_split(t, ' ') AS hw FROM nrm),
      contam AS (
        SELECT e.doc_id + 5000000 AS doc_id,
               concat(array_to_string([h.hw[i] FOR i IN range(len(h.hw), 0, -1)], ' '),
                      ' ssentinel ', e.snip) AS text
        FROM evalq e JOIN hosts h ON e.doc_id = h.doc_id
        WHERE len(h.hw) >= 80),
      corpus AS (
        SELECT * FROM base UNION ALL SELECT * FROM copies UNION ALL
        SELECT * FROM mutants UNION ALL SELECT * FROM stitched UNION ALL
        SELECT * FROM contam),
      s1 AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text,
                 ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
          FROM corpus) WHERE rn = 1),
      q AS (
        SELECT doc_id, text,
               0.4 * (CAST(len(list_filter(words, w -> w IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
                      / CAST(len(words) AS DOUBLE))
               + 0.3 * least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                              / CAST(length(text) AS DOUBLE)) AS quality
        FROM (SELECT doc_id, text,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
              FROM s1)),
      s2 AS (SELECT doc_id, text FROM q WHERE quality >= 0.45),"""

  /** Oracle tail of the corpus-prep rows: the attrition report over
    * `tk (k, n, tok)`, stages 3–5 writing `out3`, `out4` and `out5`. */
  private def corpusPrepReport(out3: String, out4: String, out5: String): String = s"""
      SELECT CAST(r.ord AS INTEGER) AS stage_ord, r.stage,
             (SELECT n FROM tk WHERE k = r.kin) AS docs_in,
             (SELECT n FROM tk WHERE k = r.kout) AS docs_out,
             (SELECT tok FROM tk WHERE k = r.kout) AS tokens_out
      FROM (VALUES (1, 'exact_dedup', 'corpus', 's1'),
                   (2, 'quality_filter', 's1', 's2'),
                   (3, 'neardup_removal', 's2', '$out3'),
                   (4, 'chunk_boilerplate', '$out3', '$out4'),
                   (5, 'decontaminate', '$out4', '$out5')) AS r(ord, stage, kin, kout)
      ORDER BY stage_ord ASC NULLS FIRST"""

  /** The composed corpus-preparation job (examples.TrainingDataPrep):
    * exact dedup → quality filter → LSH near-dup removal →
    * chunk-boilerplate filter → chunk-level decontamination → token
    * accounting, over a corpus planted with
    * exact copies (every 50th doc), one-word mutants (every 25th),
    * stitched docs (every 40th doc concatenated with its successor —
    * ≈0.5 Jaccard with each source, so doc-level near-dup misses them;
    * the chunk stage is what catches them), AND contaminated docs (the
    * successor host's words REVERSED — a unique text with novel chunks,
    * so stages 1–4 pass it — plus an eval snippet behind an 's' sentinel;
    * only the decontamination stage can catch it) so every stage has work
    * to do. Registered as its per-stage attrition report — the
    * deterministic corpus-curation summary (docs in/out + surviving token
    * volume per stage). Oracled IN FULL since r6 (the near-dup stage's
    * minhash rests on the corpus-prep shingle-hash fixture — the
    * llm_dedup_minhash pattern); the llm_corpus_prep_stages twin keeps
    * the approx-stages-disabled variant, and TrainingDataPrepSpec pins
    * stage-by-stage counts, that each planted copy/mutant/stitch/leak
    * dies in its intended stage, and determinism. */
  private val llmCorpusPrep = GraftQuery(
    "llm_corpus_prep",
    (s, dir) => {
      graft.Fixtures.corpusPrepShingleHashes(s, dir) // primitive dump for the oracle
      val (docs, planted, evalSh) = corpusPrepFixture(s, dir)
      graft.examples.TrainingDataPrep
        .prepare(docs.unionByName(planted), evalNgrams = Some(evalSh))
        .attrition
        .orderBy(col("stage_ord").asc_nulls_first)
    },
    // Oracled (r6): the full composite, assembled from stage oracles each
    // proven green on its own row — the _stages corpus construction +
    // stages 1–2, the llm_dedup_minhash banding/verification machinery at
    // threshold 0.8 (via the corpus-prep shingle-hash fixture), the
    // llm_chunk_dedup CDC first-occurrence ownership SQL, and the
    // llm_decontaminate_chunks chunk-leak rule (incl. its pooled
    // (doc, n_chsh) grouping, mirrored exactly).
    Some(raw"""$CorpusPrepStages12
      n2 AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM s2),
      g3 AS (SELECT t, min(doc_id) AS rep, list_sort(list(doc_id)) AS members FROM n2 GROUP BY t),
      mem3 AS (SELECT rep, unnest(members) AS m FROM g3),
      ${shingleSetCte("sh3", "g3")}
      tok3 AS (SELECT rep, unnest(shs) AS sh FROM sh3),
      ${shingleHashCte("cpsig")}
      sig3 AS (
        SELECT t.rep, s.seed, min(s.h) AS m
        FROM tok3 t JOIN shh s USING (sh) GROUP BY t.rep, s.seed),
      sigarr3 AS (SELECT rep, list(m ORDER BY seed ASC) AS sig FROM sig3 GROUP BY rep),
      band3 AS (
        SELECT rep, b.b, array_to_string(sig[4 * b.b + 1 : 4 * b.b + 4], ',') AS bkey
        FROM sigarr3 CROSS JOIN (SELECT CAST(range AS INTEGER) AS b FROM range(16)) b),
      cand3 AS (
        SELECT DISTINCT a.rep AS ra, c.rep AS rb
        FROM band3 a JOIN band3 c ON a.b = c.b AND a.bkey = c.bkey AND a.rep < c.rep),
      ver3 AS (
        SELECT v.ra, v.rb FROM cand3 v
        JOIN sh3 sa ON sa.rep = v.ra JOIN sh3 sb ON sb.rep = v.rb
        WHERE CASE WHEN len(list_distinct(list_concat(sa.shs, sb.shs))) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(sa.shs, sb.shs))) AS DOUBLE)
              END >= 0.8),
      dup3 AS (
        SELECT DISTINCT doc_b FROM (
          SELECT greatest(ma.m, mb.m) AS doc_b
          FROM ver3 v JOIN mem3 ma ON ma.rep = v.ra JOIN mem3 mb ON mb.rep = v.rb
          UNION ALL
          SELECT b.m AS doc_b FROM mem3 a JOIN mem3 b ON a.rep = b.rep AND a.m < b.m)),
      s3 AS (SELECT doc_id, text FROM s2 WHERE doc_id NOT IN (SELECT doc_b FROM dup3)),
      n4 AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM s3),
      seg4 AS (
        SELECT doc_id, words,
               [0] || [i FOR i IN range(1, len(words)) IF substr(words[i+1], 1, 1) = 's'] AS starts
        FROM n4),
      ch4 AS (
        SELECT doc_id, j - 1 AS chunk_idx,
               array_to_string(words[starts[j]+1 : coalesce(starts[j+1], len(words))], ' ') AS c
        FROM seg4, UNNEST(range(1, len(starts)+1)) AS u(j)),
      own4 AS (
        SELECT c, min(struct_pack(doc_id := doc_id, chunk_idx := chunk_idx)) AS f
        FROM ch4 GROUP BY c),
      stat4 AS (
        SELECT ch4.doc_id, COUNT(*) AS n_chunks,
               SUM(CASE WHEN (o.f).doc_id = ch4.doc_id AND (o.f).chunk_idx = ch4.chunk_idx
                        THEN 1 ELSE 0 END) AS n_owned
        FROM ch4 JOIN own4 o ON ch4.c = o.c GROUP BY ch4.doc_id),
      boiler4 AS (
        SELECT doc_id FROM stat4
        WHERE CAST(n_chunks - n_owned AS DOUBLE) > CAST(n_chunks AS DOUBLE) * 0.6),
      s4 AS (SELECT doc_id, text FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM boiler4)),
      ev AS (
        SELECT DISTINCT array_to_string(sw[i:i+4], ' ') AS sh
        FROM (SELECT string_split(snip, ' ') AS sw FROM evalq),
             UNNEST(range(1, greatest(len(sw) - 3, 2))) AS u(i)),
      chsh5 AS (
        SELECT doc_id,
               list_distinct([array_to_string(cw[i:i+4], ' ')
                 FOR i IN range(1, greatest(len(cw) - 3, 2))]) AS chsh
        FROM (SELECT doc_id, string_split(c, ' ') AS cw
              FROM ch4 WHERE doc_id IN (SELECT doc_id FROM s4))),
      hit5 AS (SELECT doc_id, len(chsh) AS n_chsh, unnest(chsh) AS sh FROM chsh5),
      contam5 AS (
        SELECT DISTINCT doc_id FROM (
          SELECT h.doc_id, h.n_chsh, COUNT(*) AS hits
          FROM hit5 h JOIN ev ON ev.sh = h.sh
          GROUP BY h.doc_id, h.n_chsh)
        WHERE CAST(hits AS DOUBLE) >= CAST(n_chsh AS DOUBLE) * 0.5),
      s5 AS (SELECT doc_id, text FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM contam5)),
      tk AS (
        SELECT 'corpus' AS k, COUNT(*) AS n, CAST(0 AS BIGINT) AS tok FROM corpus
        UNION ALL
        SELECT 's1', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM s1
        UNION ALL
        SELECT 's2', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM s2
        UNION ALL
        SELECT 's3', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM s3
        UNION ALL
        SELECT 's4', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM s4
        UNION ALL
        SELECT 's5', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM s5)${corpusPrepReport("s3", "s4", "s5")}"""))

  /** Oracled twin of the composite row, covering its DETERMINISTIC
    * stages: the same planted corpus runs through the same pipeline with
    * the approximate stages disabled (near-dup threshold > 1 matches no
    * pair, chunk bar 1.0 drops nothing, no eval set), so exact-dedup,
    * the quality filter, and the per-stage token accounting — the
    * SQL-expressible majority of the pipeline — get a full DuckDB
    * attrition oracle (stage rows 3–5 pass through with in = out). The
    * approximate stages stay spec-pinned via the composite row. */
  private val llmCorpusPrepStages = GraftQuery(
    "llm_corpus_prep_stages",
    (s, dir) => {
      val (docs, planted, _) = corpusPrepFixture(s, dir)
      graft.examples.TrainingDataPrep
        .prepare(docs.unionByName(planted),
          neardupThreshold = 1.01, chunkDupMax = 1.0, evalNgrams = None)
        .attrition
        .orderBy(col("stage_ord").asc_nulls_first)
    },
    Some(raw"""$CorpusPrepStages12
      tk AS (
        SELECT 'corpus' AS k, COUNT(*) AS n, CAST(0 AS BIGINT) AS tok FROM corpus
        UNION ALL
        SELECT 's1' AS k, COUNT(*) AS n,
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT) AS tok
        FROM s1
        UNION ALL
        SELECT 's2' AS k, COUNT(*) AS n,
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT) AS tok
        FROM s2)${corpusPrepReport("s2", "s2", "s2")}"""))

  /** The corpus-prep fixture: (base docs, planted rows, eval 5-gram set).
    * Shared by the composite row, its oracled `_stages` twin, and
    * TrainingDataPrepSpec, so all three see the identical corpus. */
  def corpusPrepFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
    val copies = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text"))
    val mutants = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        regexp_replace(col("text"), "^\\w+ ", "graftmutant ").as("text"))
    val nxt = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("t2"))
    val stitched = docs.join(nxt, "doc_id").filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("lang"),
        concat(col("text"), lit(" "), col("t2")).as("text"))
    val words = split(TextOps.normalize(col("text")), " ")
    val evalDocs = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), concat_ws(" ", slice(words, 3, 20)).as("snip"))
    // contaminated plant: the successor host REVERSED (unique text, novel
    // chunks — survives dedup/quality/near-dup/boilerplate) + sentinel +
    // the leaked snippet; ids + 5e6
    val hosts = docs.select((col("doc_id") - 1).as("doc_id"),
      TextOps.normalize(col("text")).as("host"))
    val contaminated = evalDocs.join(hosts, "doc_id")
      .filter(size(split(col("host"), " ")) >= 80)
      .select((col("doc_id") + 5000000L).as("doc_id"), lit("en").as("lang"),
        concat_ws(" ",
          concat_ws(" ", reverse(split(col("host"), " "))),
          lit("ssentinel"), col("snip")).as("text"))
    // native word_shingles (r18): the global .distinct() sees the same
    // values as the declarative multiset it replaced
    graft.functions.GraftFunctions.register(s)
    val evalSh = evalDocs
      .select(explode(expr("word_shingles(snip, 5)")).as("sh"))
      .distinct()
    (docs,
      copies.unionByName(mutants).unionByName(stitched).unionByName(contaminated),
      evalSh)
  }

  /** Token counting: whitespace, regex word-ish tokens, and the chars/4
    * BPE-budget estimate. */
  private val llmTokenCount = GraftQuery(
    "llm_token_count",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z0-9]+")).as("re_tokens"),
          ceil(length(col("text")).cast(DoubleType) / 4.0).cast(LongType).as("bpe_est"))
        .orderBy(col("doc_id").asc_nulls_first),
    Some("""
      SELECT doc_id,
             len(string_split(text, ' ')) AS ws_tokens,
             len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
             CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS bpe_est
      FROM documents
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** Winnowing fingerprints (rolling char-8-gram hashes, min per 4-window):
    * robust local document fingerprint. Oracled via the JVM-twin primitive
    * dump (graft.Fixtures.fingerprintGrams): the fixture carries every
    * (position, gram-hash) row, and the oracle recomputes the window
    * minima (frame = CURRENT ROW..3 FOLLOWING, truncating at the tail
    * exactly like slice), the window-count rule max(n−3, 1), the distinct
    * + ascending sort, and the first-4 head join in SQL. */
  private val llmFingerprint = GraftQuery(
    "llm_fingerprint",
    (s, dir) => {
      graft.Fixtures.fingerprintGrams(s, dir) // primitive dump for the DuckDB oracle
      Tables.documents(s, dir)
        .withColumn("norm", TextOps.normalize(col("text")))
        .withColumn("grams", TextOps.charGramHashes("norm", 8))
        .withColumn("fps", TextOps.winnow("grams", 4))
        .select(
          col("doc_id"),
          size(col("fps")).as("n_fps"),
          // Stringified: the driver sorts/hashes even oracle-less outputs and
          // chokes on array cells.
          array_join(transform(slice(col("fps"), 1, 4), _.cast("string")), ",").as("fp_head"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some(s"""
      WITH g AS (
        SELECT doc_id, i, h
        FROM ${Fixtures.oracleScan("fpgrams")}),
      n AS (SELECT doc_id, max(i) AS n FROM g GROUP BY doc_id),
      w AS (
        SELECT doc_id, i,
               min(h) OVER (PARTITION BY doc_id ORDER BY i ASC
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
        FROM g),
      keep AS (
        SELECT w.doc_id, w.m FROM w JOIN n ON w.doc_id = n.doc_id
        WHERE w.i <= greatest(n.n - 3, 1)),
      d AS (SELECT DISTINCT doc_id, m FROM keep)
      SELECT doc_id, CAST(count(*) AS INTEGER) AS n_fps,
             array_to_string(list_sort(list(m))[1:4], ',') AS fp_head
      FROM d GROUP BY doc_id
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** Custom Generator surface (the UDTF escape hatch): shingle_rows emits
    * one row per complete n-word window, streaming — no intermediate array
    * materialization (see ShingleRows scaladoc). Aggregated per (doc,
    * shingle) so the output is deterministic and oracle-friendly; the
    * DuckDB side re-derives the same multiset via a comprehension that
    * emits ONLY complete windows. */
  private val llmShingleGenerate = GraftQuery(
    "llm_shingle_generate",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .filter(col("lang") === "en")
        .withColumn("norm", TextOps.normalize(col("text")))
        .select(col("doc_id"), expr("shingle_rows(norm, 3)").as("shingle"))
        .groupBy(col("doc_id"), col("shingle"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("doc_id").asc_nulls_first, col("shingle").asc_nulls_first)
    },
    Some("""
      SELECT doc_id, shingle, COUNT(*) AS cnt
      FROM (
        SELECT doc_id,
               unnest([array_to_string(words[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(words) - 1, 1))]) AS shingle
        FROM (SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
              FROM documents WHERE lang = 'en'))
      GROUP BY doc_id, shingle
      ORDER BY doc_id ASC NULLS FIRST, shingle ASC NULLS FIRST"""))

  /** Benchmark DECONTAMINATION — the training-corpus hygiene step every
    * published pipeline runs before pre-training: flag corpus documents
    * sharing any word 5-gram with an evaluation benchmark. The "benchmark"
    * is derived deterministically (a 10-word snippet, words 3..12, of every
    * 97th doc — a stand-in for an external eval file), and the corpus
    * PLANTS one contaminated doc per benchmark entry (id + 3 000 000,
    * unrelated filler + the snippet — the house plant-and-rediscover
    * scheme), so the flagged set provably contains the snippet sources AND
    * the plants whose ONLY overlap is the leaked snippet, and the oracle
    * re-derives it exactly.
    *
    * 100 TB shape: eval-benchmark shingle sets are small and FIXED
    * (thousands of questions, not corpus-sized) → broadcast them; the
    * corpus side is one map-side shingle pass + a broadcast hash semi-join
    * — zero corpus shuffles before the per-doc count aggregation, and that
    * aggregation only carries docs that HIT (a sliver of the corpus).
    * Dedup-first (op-69 precondition): shingling and the broadcast probe
    * run once per distinct text; identity groups fan back out after the
    * count, exact because identical texts share their shingle set. */
  private val llmDecontaminate = GraftQuery(
    "llm_decontaminate",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val words = split(TextOps.normalize(col("text")), " ")
      val evalDocs = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), concat_ws(" ", slice(words, 3, 10)).as("snip"))
      val contaminated = evalDocs.select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("alpha beta gamma delta "), col("snip")).as("text"))
      // native word_shingles (r18): per-doc distinct set with the same
      // first-occurrence order as array_distinct(declarative), so the
      // global .distinct() sees identical values — the declarative
      // transform/slice/concat_ws pyramid was the row's dominant kernel
      val evalShingles = evalDocs
        .select(explode(expr("word_shingles(snip, 5)")).as("sh"))
        .distinct()
      val groups = docs.unionByName(contaminated)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"))
        .withColumn("norm", TextOps.normalize(col("text")))
      groups
        .select(col("rep"), col("members"),
          explode(expr("word_shingles(norm, 5)")).as("sh"))
        .join(broadcast(evalShingles), "sh")
        .groupBy(col("rep"), col("members"))
        .agg(count(lit(1)).as("n_hits"))
        .select(explode(col("members")).as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH w AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM documents),
      evalq AS (
        SELECT doc_id, words[3:12] AS snip FROM w WHERE doc_id % 97 = 0),
      corpus AS (
        SELECT doc_id, words FROM w
        UNION ALL
        SELECT doc_id + 3000000 AS doc_id,
               string_split('alpha beta gamma delta ' || array_to_string(snip, ' '), ' ') AS words
        FROM evalq),
      evalsh AS (
        SELECT DISTINCT unnest([array_to_string(snip[i:i+4], ' ')
          FOR i IN range(1, greatest(len(snip) - 3, 2))]) AS sh
        FROM evalq),
      docsh AS (
        SELECT doc_id, unnest(list_distinct([array_to_string(words[i:i+4], ' ')
          FOR i IN range(1, greatest(len(words) - 3, 2))])) AS sh
        FROM corpus)
      SELECT d.doc_id, COUNT(*) AS n_hits
      FROM docsh d JOIN evalsh e ON d.sh = e.sh
      GROUP BY d.doc_id
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** CHUNK-level decontamination — the stage doc-level matching provably
    * cannot replace: a leaked eval PARAGRAPH inside a long clean document
    * dilutes below any doc-level contamination-fraction threshold, while
    * the content-defined chunk containing it stays concentrated. Eval
    * entries are 20-word snippets (words 3..22) of every 97th doc; each is
    * PLANTED (id + 5 000 000) mid-text into a long host document (the
    * snippet source's successor, hosts ≥ 80 words, insertion after word
    * 30, prefixed by an 's' sentinel word so the leak starts a chunk — the
    * CDC boundary property the chunker exists for). Per flagged doc the
    * row reports doc-level hits/fraction AND the max per-chunk hit
    * fraction, plus both threshold decisions — the spec pins that every
    * plant is chunk-flagged but NOT doc-flagged (the dilution proof), and
    * the DuckDB oracle re-derives every number exactly.
    *
    * 100 TB shape: identical to llm_decontaminate — broadcast eval
    * shingles, dedup-first groups, map-side chunking (words/starts bound
    * as materialized columns per the cdcChunks CSE note) + shingling, one
    * broadcast probe per granularity; only hitting docs reach the final
    * aggregation.
    *
    * TWO measured plan pathologies shaped this implementation (223 → ~12 s
    * at sf3d; the sf3d sweep caught them, a count()-pruned microbench
    * cannot — count() prunes unreferenced Project expressions):
    * 1. `select(size(f(x)), explode(f(x)))` puts the size Project ABOVE
    *    the Generate, re-evaluating the O(L²) shingle pipeline once per
    *    EXPLODED row (×L). The shingle array must be materialized as an
    *    attribute BELOW the generator, and n_sh carried via a separate
    *    cheap branch (`meta`).
    * 2. InferFiltersFromGenerate turns explode(shs) into `size(shs) > 0`,
    *    and pushdown re-expresses it below the aggregate in terms of the
    *    raw text — re-running the whole shingle pipeline per raw row as a
    *    filter. explode_outer carries no such inference, and is identical
    *    here because shs/chunks are never empty (single-window fallback /
    *    start-0 chunk). */
  private val llmDecontaminateChunks = GraftQuery(
    "llm_decontaminate_chunks",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val words = split(TextOps.normalize(col("text")), " ")
      val evalDocs = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), concat_ws(" ", slice(words, 3, 20)).as("snip"))
      val hosts = docs.select((col("doc_id") - 1).as("doc_id"),
        TextOps.normalize(col("text")).as("host"))
      val planted = evalDocs.join(hosts, "doc_id")
        .filter(size(split(col("host"), " ")) >= 80)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          concat_ws(" ",
            concat_ws(" ", slice(split(col("host"), " "), 1, 30)),
            lit("ssentinel"), col("snip"),
            concat_ws(" ", slice(split(col("host"), " "), 31, 100000))).as("text"))
      val evalShingles = evalDocs
        .select(explode(expr("word_shingles(snip, 5)")).as("sh"))
        .distinct()
      // per distinct text, ONCE, as attributes: chunk geometry + the
      // distinct shingle set (native codegen'd word_shingles == distinct
      // first-occurrence twin of array_distinct(wordShingles))
      val base = docs.unionByName(planted)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"))
        .withColumn("norm", TextOps.normalize(col("text")))
        .select(col("rep"), col("members"),
          // native cdc_chunks: one linear pass, and the plan tree shrinks
          // by the whole sequence→filter→slice lambda pyramid (driver
          // plan/codegen time was the stage's measured residue)
          expr("cdc_chunks(norm)").as("chunks"),
          expr("word_shingles(norm, 5)").as("shs"))
      // doc-level probe: explode the materialized set, count hits per doc
      val docHits = base
        .select(col("rep"), explode_outer(col("shs")).as("sh"))
        .join(broadcast(evalShingles), "sh")
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n_hits"))
      // chunk-level probe: chunk texts from the materialized geometry, then
      // the per-chunk shingle set materialized below its own generator
      val chunks = base
        .select(col("rep"), posexplode_outer(col("chunks")))
        .select(col("rep"), col("pos").as("chunk_idx"), col("col").as("ct"))
        .select(col("rep"), col("chunk_idx"), expr("word_shingles(ct, 5)").as("chsh"))
        .select(col("rep"), col("chunk_idx"), size(col("chsh")).as("n_chsh"),
          explode_outer(col("chsh")).as("sh"))
      val chunkLevel = chunks
        .join(broadcast(evalShingles), "sh")
        .groupBy(col("rep"), col("chunk_idx"), col("n_chsh"))
        .agg(count(lit(1)).as("ch_hits"))
        .groupBy(col("rep"))
        .agg(max(col("ch_hits").cast(DoubleType) / col("n_chsh").cast(DoubleType))
          .as("max_chunk_frac_raw"),
          sum(when(col("ch_hits").cast(DoubleType) / col("n_chsh").cast(DoubleType) >= 0.5, 1L)
            .otherwise(0L)).as("n_hit_chunks"))
      // members + n_sh ride a cheap third branch, never through a generator
      val meta = base.select(col("rep"), col("members"), size(col("shs")).as("n_sh"))
      docHits
        .join(chunkLevel, Seq("rep"), "left")
        .join(meta, "rep")
        .select(explode(col("members")).as("doc_id"),
          col("n_hits"), col("n_sh").cast(LongType).as("n_sh"),
          round(col("n_hits").cast(DoubleType) / col("n_sh").cast(DoubleType), 4).as("doc_frac"),
          round(coalesce(col("max_chunk_frac_raw"), lit(0.0)), 4).as("max_chunk_frac"),
          coalesce(col("n_hit_chunks"), lit(0L)).as("n_hit_chunks"),
          (col("n_hits").cast(DoubleType) / col("n_sh").cast(DoubleType) >= 0.25)
            .cast(IntegerType).as("flag_doc"),
          (coalesce(col("max_chunk_frac_raw"), lit(0.0)) >= 0.5)
            .cast(IntegerType).as("flag_chunk"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      w AS (SELECT doc_id, string_split(t, ' ') AS words FROM d),
      evalq AS (
        SELECT doc_id, words[3:22] AS snip FROM w WHERE doc_id % 97 = 0),
      hosts AS (
        SELECT doc_id - 1 AS doc_id, words AS host FROM w),
      planted AS (
        SELECT e.doc_id + 5000000 AS doc_id,
               host[1:30] || ['ssentinel'] || snip || host[31:] AS words
        FROM evalq e JOIN hosts h ON e.doc_id = h.doc_id
        WHERE len(host) >= 80),
      corpus AS (
        SELECT doc_id, words FROM w
        UNION ALL
        SELECT doc_id, words FROM planted),
      evalsh AS (
        SELECT DISTINCT unnest([array_to_string(snip[i:i+4], ' ')
          FOR i IN range(1, greatest(len(snip) - 3, 2))]) AS sh
        FROM evalq),
      docsh AS (
        SELECT doc_id, len(shs) AS n_sh, unnest(shs) AS sh
        FROM (SELECT doc_id, list_distinct([array_to_string(words[i:i+4], ' ')
                FOR i IN range(1, greatest(len(words) - 3, 2))]) AS shs
              FROM corpus)),
      doclevel AS (
        SELECT d.doc_id, d.n_sh, COUNT(*) AS n_hits
        FROM docsh d JOIN evalsh e ON d.sh = e.sh
        GROUP BY d.doc_id, d.n_sh),
      seg AS (
        SELECT doc_id, words,
               [0] || [i FOR i IN range(1, len(words)) IF substr(words[i+1], 1, 1) = 's'] AS starts
        FROM corpus),
      ch AS (
        SELECT doc_id, j - 1 AS chunk_idx,
               string_split(array_to_string(
                 words[starts[j]+1 : coalesce(starts[j+1], len(words))], ' '), ' ') AS cw
        FROM seg, UNNEST(range(1, len(starts)+1)) AS u(j)),
      chsh AS (
        SELECT doc_id, chunk_idx, len(shs) AS n_chsh, unnest(shs) AS sh
        FROM (SELECT doc_id, chunk_idx,
                     list_distinct([array_to_string(cw[i:i+4], ' ')
                       FOR i IN range(1, greatest(len(cw) - 3, 2))]) AS shs
              FROM ch)),
      chunklevel AS (
        SELECT doc_id,
               max(frac) AS max_chunk_frac_raw,
               CAST(SUM(CASE WHEN frac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_chunks
        FROM (SELECT c.doc_id, c.chunk_idx,
                     CAST(COUNT(*) AS DOUBLE) / CAST(c.n_chsh AS DOUBLE) AS frac
              FROM chsh c JOIN evalsh e ON c.sh = e.sh
              GROUP BY c.doc_id, c.chunk_idx, c.n_chsh)
        GROUP BY doc_id)
      SELECT dl.doc_id, dl.n_hits, dl.n_sh,
             round(CAST(dl.n_hits AS DOUBLE) / CAST(dl.n_sh AS DOUBLE), 4) AS doc_frac,
             round(coalesce(cl.max_chunk_frac_raw, 0.0), 4) AS max_chunk_frac,
             coalesce(cl.n_hit_chunks, 0) AS n_hit_chunks,
             CASE WHEN CAST(dl.n_hits AS DOUBLE) / CAST(dl.n_sh AS DOUBLE) >= 0.25
                  THEN 1 ELSE 0 END AS flag_doc,
             CASE WHEN coalesce(cl.max_chunk_frac_raw, 0.0) >= 0.5
                  THEN 1 ELSE 0 END AS flag_chunk
      FROM doclevel dl LEFT JOIN chunklevel cl ON dl.doc_id = cl.doc_id
      ORDER BY dl.doc_id ASC NULLS FIRST"""))

  /** Repetition-based quality signals (the Gopher/MassiveText family of
    * repetition filters, Rae et al. 2021 §A1.1, re-expressed relationally):
    * per document, the duplicate-word fraction (1 − distinct/total) and the
    * fraction of tokens covered by the single most-repeated bigram, plus
    * the keep/drop decision at thresholds that split this corpus
    * (dup ≤ 0.6 ∧ top-bigram ≤ 0.1). The flag is computed on UNROUNDED
    * doubles with the identical IEEE op tree on both engines; the reported
    * ratios are rounded for display only.
    *
    * 100 TB shape: pure map work — both signals come from higher-order
    * array functions over the in-row token list (the top-bigram count is an
    * O(d²) in-row fold over ≤ a-few-hundred-word docs, i.e. constant), so
    * the operator has NO shuffle at all and scales embarrassingly; the
    * output sort is the driver contract, not the operator. */
  private val llmRepetitionStats = GraftQuery(
    "llm_repetition_stats",
    (s, dir) => {
      val norm = TextOps.normalize(col("text"))
      Tables.documents(s, dir)
        .select(col("doc_id"), split(norm, " ").as("w"),
          TextOps.wordShingles(norm, 2).as("bg"))
        .withColumn("n_words", size(col("w")))
        .withColumn("dup_raw",
          lit(1.0) - size(array_distinct(col("w"))).cast(DoubleType)
            / size(col("w")).cast(DoubleType))
        .withColumn("top_bigram_cnt",
          array_max(transform(array_distinct(col("bg")),
            g => size(filter(col("bg"), x => x === g)))))
        .withColumn("top2_raw",
          col("top_bigram_cnt").cast(DoubleType) * 2.0 / col("n_words").cast(DoubleType))
        .select(
          col("doc_id"), col("n_words"),
          round(col("dup_raw"), 6).as("dup_word_frac"),
          col("top_bigram_cnt"),
          round(col("top2_raw"), 6).as("top_bigram_frac"),
          (col("dup_raw") <= 0.6 && col("top2_raw") <= 0.1).cast(IntegerType).as("keep"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH w AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
        FROM documents),
      bg AS (
        SELECT doc_id, words, len(words) AS n_words,
               [array_to_string(words[i:i+1], ' ')
                 FOR i IN range(1, greatest(len(words), 2))] AS bigrams
        FROM w),
      sig AS (
        SELECT doc_id, n_words,
               1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE) AS dup_raw,
               list_max([len(list_filter(bigrams, x -> x = g))
                 FOR g IN list_distinct(bigrams)]) AS top_bigram_cnt
        FROM bg)
      SELECT doc_id, n_words,
             round(dup_raw, 6) AS dup_word_frac,
             top_bigram_cnt,
             round(CAST(top_bigram_cnt AS DOUBLE) * 2.0 / CAST(n_words AS DOUBLE), 6) AS top_bigram_frac,
             CASE WHEN dup_raw <= 0.6
                   AND CAST(top_bigram_cnt AS DOUBLE) * 2.0 / CAST(n_words AS DOUBLE) <= 0.1
                  THEN 1 ELSE 0 END AS keep
      FROM sig
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** PII scrubbing — redact emails, dotted-quad IPs and phone extensions
    * with typed placeholders and report per-doc redaction counts. The raw
    * corpus is PII-free, so deterministic PII is PLANTED first (every 7th
    * doc gets an email + IP tail, every 11th a 555-line phone) — the same
    * plant-and-rediscover scheme as the near-dup rows, making hit counts
    * provable on both engines. Patterns stay inside the regex subset with
    * identical Java-regex / RE2 semantics (char classes, bounded repeats,
    * \b) — leftmost-greedy on these inputs in both.
    *
    * 100 TB shape: regexp_count/regexp_replace are per-row codegen'd
    * string work — no shuffle, no UDF; the output sort is the contract. */
  private val llmPiiScrub = GraftQuery(
    "llm_pii_scrub",
    (s, dir) => {
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipRe = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
      val phoneRe = "\\b555-\\d{4}\\b"
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id").cast(StringType),
                lit("@example.com from 10.0."),
                (col("doc_id") % 256).cast(StringType), lit("."),
                (col("doc_id") % 100).cast(StringType))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" call 555-0"),
                lpad((col("doc_id") % 1000).cast(StringType), 3, "0")))
              .otherwise(lit(""))).as("t"))
        .withColumn("scrubbed",
          regexp_replace(
            regexp_replace(
              regexp_replace(col("t"), emailRe, "<EMAIL>"), ipRe, "<IP>"),
            phoneRe, "<PHONE>"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).as("n_email"),
          regexp_count(col("t"), lit(ipRe)).as("n_ip"),
          regexp_count(col("t"), lit(phoneRe)).as("n_phone"),
          expr("substr(scrubbed, greatest(length(scrubbed) - 79, 1))").as("tail"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH planted AS (
        SELECT doc_id,
               concat(text,
                 CASE WHEN doc_id % 7 = 0
                      THEN concat(' contact user', CAST(doc_id AS VARCHAR),
                                  '@example.com from 10.0.',
                                  CAST(doc_id % 256 AS VARCHAR), '.',
                                  CAST(doc_id % 100 AS VARCHAR))
                      ELSE '' END,
                 CASE WHEN doc_id % 11 = 0
                      THEN concat(' call 555-0', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'))
                      ELSE '' END) AS t
        FROM documents),
      scrub AS (
        SELECT doc_id, t,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
                   '\b555-\d{4}\b', '<PHONE>', 'g') AS scrubbed
        FROM planted)
      SELECT doc_id,
             len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
             len(regexp_extract_all(t, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ip,
             len(regexp_extract_all(t, '\b555-\d{4}\b')) AS n_phone,
             substr(scrubbed, greatest(length(scrubbed) - 79, 1)) AS tail
      FROM scrub
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** Domain-mix sampling — the data-mixture step of corpus assembly: keep
    * each source at its own target rate (here derived from the source id:
    * 0.2/0.4/0.6/0.8/1.0) via a DETERMINISTIC arithmetic hash
    * (Knuth multiplicative on doc_id, u = (id·2654435761 mod 2³²)/2³²,
    * keep ⇔ u < rate). Reported per source: total, kept, target vs
    * realized rate.
    *
    * 100 TB shape: the keep decision is PURE per-row arithmetic — no RNG
    * state, no window, no pre-shuffle; the same row is kept on every
    * engine, run, and cluster size (re-runnable samples, the property
    * per-partition RNG sampling cannot give). Contrast the exact-quota
    * alternative (row_number per source ≤ ⌈quota⌉): that needs a per-source
    * sort and suffers source skew; the hash-threshold form is the
    * web-scale standard and its realized rate concentrates at the target
    * by Chernoff. The only shuffle is the final tiny per-source rollup. */
  private val llmDomainMix = GraftQuery(
    "llm_domain_mix",
    (s, dir) => {
      val rate = ((substring(col("source"), 4, 8).cast(IntegerType) % 5) + 1)
        .cast(DoubleType) / 5.0
      val u = graft.Det.knuthU(col("doc_id")).cast(DoubleType) / 4294967296.0
      Tables.documents(s, dir)
        .select(col("source"), rate.as("target_rate"),
          (u < rate).cast(IntegerType).as("keep"))
        .groupBy(col("source"), col("target_rate"))
        .agg(count(lit(1)).as("n_total"), sum(col("keep")).as("n_kept"))
        .withColumn("realized_rate",
          round(col("n_kept").cast(DoubleType) / col("n_total").cast(DoubleType), 4))
        .select("source", "n_total", "n_kept", "target_rate", "realized_rate")
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""
      WITH k AS (
        SELECT source,
               CAST((CAST(substr(source, 4) AS INT) % 5) + 1 AS DOUBLE) / 5.0 AS target_rate,
               CASE WHEN CAST(CAST((CAST(doc_id AS DECIMAL(38,0)) * 2654435761) % 4294967296 AS BIGINT) AS DOUBLE) / 4294967296.0
                         < CAST((CAST(substr(source, 4) AS INT) % 5) + 1 AS DOUBLE) / 5.0
                    THEN 1 ELSE 0 END AS keep
        FROM documents)
      SELECT source, COUNT(*) AS n_total, CAST(SUM(keep) AS BIGINT) AS n_kept,
             target_rate,
             round(CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS realized_rate
      FROM k
      GROUP BY source, target_rate
      ORDER BY source ASC NULLS FIRST"""))

  /** SEQUENCE PACKING — the final step of training-batch assembly: lay all
    * documents out on one global token axis (doc order = doc_id) and cut it
    * into fixed-length chunks (C = 512), reporting for each doc its token
    * offset and the first/last chunk it lands in — the standard
    * concatenate-and-chunk contract where a doc may straddle a boundary.
    *
    * The interesting part is the GLOBAL EXCLUSIVE PREFIX SUM of token
    * counts: the declarative form is an unpartitioned running-total window
    * (PlanSpec bans that plan shape from the whole registry), so this runs
    * [[graft.etl.SequencePack.withPrefixSum]] — range partition + one
    * per-partition-totals job + driver exclusive scan (numPartitions longs)
    * + a map-only running sum. The oracle IS the banned formulation (DuckDB
    * single-node window cumsum), proving the distributed decomposition
    * exact. 100 TB: two parallel passes over one range shuffle; no stage
    * sees more than a partition; driver state is numPartitions longs. */
  private val llmSequencePack = GraftQuery(
    "llm_sequence_pack",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(TextOps.normalize(col("text")), " ")).cast(LongType).as("n_tokens"))
      graft.etl.SequencePack
        .withPrefixSum(toks, Seq(col("doc_id")), "n_tokens", "prefix_tokens")
        .select(col("doc_id"), col("n_tokens"), col("prefix_tokens"),
          expr("prefix_tokens div 512").as("start_chunk"),
          expr("(prefix_tokens + n_tokens - 1) div 512").as("end_chunk"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix_tokens
        FROM t)
      SELECT doc_id, n_tokens, prefix_tokens,
             prefix_tokens // 512 AS start_chunk,
             (prefix_tokens + n_tokens - 1) // 512 AS end_chunk
      FROM c
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** MULTI-PROBE LSH ANN (the NOTES_r3 candidate): instead of llm_ann_lsh's
    * single 8-bit bucket with a Hamming-filter scan, the corpus gets FINER
    * 12-bit buckets (1 row per vector — no band explosion) and the QUERY
    * side enumerates every bucket within Hamming ≤ 2 as 79 static XOR
    * masks, turning the probe into a broadcast EQUI-join on bucket. Probed
    * fraction: 79/4096 ≈ 2 % of buckets vs single-probe's 9/256 ≈ 3.5 % —
    * finer cells + multi-probe buys a smaller scan at equal recall math
    * (Lv et al., VLDB'07). Oracle: none (approximate by construction);
    * VectorSpec pins planted-neighbor recall, the self-match, and that the
    * probed candidate set is a strict subset of the corpus.
    *
    * 100 TB shape: bucketing is map-side; with the corpus PERSISTED
    * partitioned by bucket (the IvfIndex pattern) the 79 probe buckets
    * arrive as literals and the scan reads only those partitions —
    * everything else is broadcast-sized. */
  private val llmAnnLshMultiprobe = GraftQuery(
    "llm_ann_lsh_multiprobe",
    (s, dir) => lshAnn(s, dir, bits = 12)(graft.etl.VectorLsh.multiProbe(_, _, 12, 2)),
    // Oracled (r6): the mask-join form is ≡ a Hamming≤2 filter on the
    // 12-bit sign buckets — same plane fixture as llm_ann_lsh, wider
    // geometry, bit_count(xor) ≤ 2.
    Some(lshOracle("", maxHamming = 2)))

  /** Scalar int8 EMBEDDING QUANTIZATION — the storage/serving format of a
    * large vector corpus (8× fewer scan bytes for ANN): per-vector min/max
    * affine codes c = ⌊(x − min)/scale + 0.5⌋, scale = (max − min)/255,
    * with the per-vector mean absolute reconstruction error reported. The
    * whole op tree (scale form, fold order) is mirrored node-for-node in
    * the oracle so the doubles agree bit-for-bit; the error fold seeds 0.0
    * exactly like DuckDB's seedless list_reduce (0.0 + x ≡ x for x ≥ 0).
    *
    * 100 TB shape: pure map work over the vector column — no shuffle; the
    * quantized table is what the IVF/LSH layouts would persist. */
  private val llmEmbedQuantize = GraftQuery(
    "llm_embed_quantize",
    (s, dir) =>
      docVec(s, dir)
        .withColumn("vmin", array_min(col("v")))
        .withColumn("vmax", array_max(col("v")))
        .withColumn("scale", expr("(vmax - vmin) / 255.0D"))
        .withColumn("codes", expr(
          "transform(v, x -> CAST(floor((x - vmin) / scale + 0.5D) AS INT))"))
        .withColumn("mean_abs_err", expr(
          """aggregate(
               transform(v, x -> abs(x - (vmin + floor((x - vmin) / scale + 0.5D) * scale))),
               0.0D, (a, e) -> a + e) / CAST(size(v) AS DOUBLE)"""))
        .select(col("vec_id"), size(col("v")).as("n_dims"),
          round(col("vmin"), 6).as("qmin"), round(col("vmax"), 6).as("qmax"),
          round(col("mean_abs_err"), 6).as("mean_abs_err"),
          array_join(slice(col("codes"), 1, 8), ",").as("codes_head"))
        .orderBy(col("vec_id").asc_nulls_first),
    Some("""
      WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      mm AS (
        SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax,
               (list_max(v) - list_min(v)) / 255.0 AS scale
        FROM base)
      SELECT vec_id, len(v) AS n_dims,
             round(vmin, 6) AS qmin, round(vmax, 6) AS qmax,
             round(list_reduce(
                     [abs(x - (vmin + floor((x - vmin) / scale + 0.5) * scale)) FOR x IN v],
                     (a, e) -> a + e) / CAST(len(v) AS DOUBLE), 6) AS mean_abs_err,
             array_to_string([CAST(floor((x - vmin) / scale + 0.5) AS INT) FOR x IN v][1:8], ',') AS codes_head
      FROM mm
      ORDER BY vec_id ASC NULLS FIRST"""))

  /** TOKEN-BUDGET domain mixture — llm_domain_mix's big sibling: rates are
    * not given but DERIVED from a per-source token budget (B = 500):
    * rate_s = min(1, B / tokens_s), then the same deterministic
    * Knuth-multiplicative keep. This is how real mixtures are specified
    * ("x billion tokens of each source"), and it needs the two-pass shape:
    * a per-source token rollup (tiny — one row per source), rates
    * BROADCAST back onto the corpus, map-side keep, final rollup. The
    * corpus itself is never shuffled — only its per-source totals move.
    * Reported per source: token total, derived rate, kept docs/tokens. */
  private val llmTokenBudgetMix = GraftQuery(
    "llm_token_budget_mix",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(TextOps.normalize(col("text")), " ")).cast(LongType).as("n_tokens"))
      val rates = toks.groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("token_total"))
        .withColumn("rate",
          least(lit(1.0), lit(500.0) / col("token_total").cast(DoubleType)))
      val u = graft.Det.knuthU(col("doc_id")).cast(DoubleType) / 4294967296.0
      toks.join(broadcast(rates), "source")
        .withColumn("keep", (u < col("rate")).cast(IntegerType))
        .groupBy(col("source"), col("token_total"), col("rate"))
        .agg(sum(col("keep")).as("kept_docs"),
          sum(col("keep") * col("n_tokens")).as("kept_tokens"))
        .select(col("source"), col("token_total"),
          round(col("rate"), 6).as("target_rate"),
          col("kept_docs"), col("kept_tokens"))
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      r AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS token_total,
               least(1.0, 500.0 / CAST(CAST(SUM(n_tokens) AS BIGINT) AS DOUBLE)) AS rate
        FROM t GROUP BY source),
      k AS (
        SELECT t.source, t.n_tokens, r.token_total, r.rate,
               CASE WHEN CAST(CAST((CAST(t.doc_id AS DECIMAL(38,0)) * 2654435761) % 4294967296 AS BIGINT) AS DOUBLE) / 4294967296.0
                         < r.rate
                    THEN 1 ELSE 0 END AS keep
        FROM t JOIN r ON t.source = r.source)
      SELECT source, token_total, round(rate, 6) AS target_rate,
             CAST(SUM(keep) AS BIGINT) AS kept_docs,
             CAST(SUM(keep * n_tokens) AS BIGINT) AS kept_tokens
      FROM k
      GROUP BY source, token_total, rate
      ORDER BY source ASC NULLS FIRST"""))

  /** SUB-DOCUMENT (chunk-level) exact dedup — the line-dedup stage of
    * CCNet/RefinedWeb re-expressed for a newline-free corpus via
    * CONTENT-DEFINED CHUNKING (the LBFS/storage-dedup boundary trick): a
    * chunk starts at every word whose first letter is 's', so boundaries
    * move WITH the content and a shared passage chunks identically no
    * matter what offset it lands at in each host document. The corpus
    * plants exactly that: every doc_id % 3 == 0 document gets the first
    * 25 words of doc 0 appended as boilerplate, and the planted passage's
    * interior chunks dedup across all ~167 hosts (its first chunk merges
    * with each host's tail — the expected CDC edge). Per document:
    * chunk count, chunks whose first occurrence (min (doc_id, chunk_idx))
    * is elsewhere, and the duplicate fraction.
    *
    * 100 TB shape: chunking is pure in-row array work (map-side, no
    * shuffle); first-occurrence is groupBy(chunk)+min — the partial
    * aggregate collapses duplicate chunks MAP-SIDE so the one shuffle
    * carries the distinct-chunk set, exactly the llm_dedup_exact argument
    * at sub-document granularity (at production scale the join key would
    * be the chunk's 128-bit hash, not the text). The join back and the
    * per-doc rollup are keyed shuffles. */
  private val llmChunkDedup = GraftQuery(
    "llm_chunk_dedup",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.normalize(col("text")).as("t"))
      val boiler = d.filter(col("doc_id") === 0)
        .select(array_join(slice(split(col("t"), " "), 1, 25), " ").as("btext"))
      val planted = d.crossJoin(broadcast(boiler))
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("t"), lit(" "), col("btext")))
            .otherwise(col("t")).as("pt"))
      // DEDUP-FIRST (op-69 precondition): identical planted texts chunk
      // identically, so chunking + first-occurrence run over DISTINCT
      // texts only, keyed by the group's min doc_id. The fan-out is
      // exact: the global first occurrence of any chunk lives in some
      // group REP (every member is ≥ its rep, and reps carry every chunk
      // their members do), so a non-rep member owns nothing — ALL its
      // chunk occurrences are duplicates of the rep's. Rep stats come
      // from two aggregates (its chunk count map-side; the distinct-chunk
      // firsts re-aggregated by owning rep) — there is no join of
      // first-occurrences back onto the exploded chunk stream (that join
      // was the sweep's widest shuffle at sf3), and on a replica-heavy
      // corpus the exploded stream itself is distinct-sized.
      val groups = planted.groupBy(col("pt"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"))
      val chunked = groups
        .select(col("rep"), col("members"),
          expr("cdc_chunks(pt)").as("chunks"))
      val ch = chunked
        .select(col("rep"), posexplode(col("chunks")))
        .select(col("rep"), col("pos").as("chunk_idx"), col("col").as("chunk_text"))
      val owned = ch.groupBy(col("chunk_text"))
        .agg(min(struct(col("rep").as("doc_id"), col("chunk_idx"))).as("f"))
        .groupBy(col("f.doc_id").as("rep")).agg(count(lit(1)).as("n_owned"))
      chunked
        .select(col("rep"), col("members"), size(col("chunks")).cast(LongType).as("n_chunks"))
        .join(owned, Seq("rep"), "left")
        .select(explode(col("members")).as("doc_id"), col("rep"), col("n_chunks"),
          coalesce(col("n_owned"), lit(0L)).as("n_owned"))
        .select(col("doc_id"), col("n_chunks"),
          when(col("doc_id") === col("rep"), col("n_chunks") - col("n_owned"))
            .otherwise(col("n_chunks")).as("n_dup_chunks"))
        .withColumn("dup_frac",
          round(col("n_dup_chunks").cast(DoubleType) / col("n_chunks").cast(DoubleType), 4))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      b AS (
        SELECT array_to_string((string_split(t, ' '))[1:25], ' ') AS btext FROM d WHERE doc_id = 0),
      p AS (
        SELECT doc_id,
               string_split(CASE WHEN doc_id % 3 = 0 THEN concat(t, ' ', btext) ELSE t END, ' ') AS words
        FROM d, b),
      seg AS (
        SELECT doc_id, words,
               [0] || [i FOR i IN range(1, len(words)) IF substr(words[i+1], 1, 1) = 's'] AS starts
        FROM p),
      ch AS (
        SELECT doc_id, j - 1 AS chunk_idx,
               array_to_string(words[starts[j]+1 : coalesce(starts[j+1], len(words))], ' ') AS chunk_text
        FROM seg, UNNEST(range(1, len(starts)+1)) AS u(j)),
      firsts AS (
        SELECT chunk_text, min(struct_pack(doc_id := doc_id, chunk_idx := chunk_idx)) AS f
        FROM ch GROUP BY chunk_text)
      SELECT c.doc_id,
             COUNT(*) AS n_chunks,
             CAST(SUM(CASE WHEN (f.f).doc_id = c.doc_id AND (f.f).chunk_idx = c.chunk_idx
                           THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
             round(CAST(SUM(CASE WHEN (f.f).doc_id = c.doc_id AND (f.f).chunk_idx = c.chunk_idx
                                 THEN 0 ELSE 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4) AS dup_frac
      FROM ch c JOIN firsts f ON c.chunk_text = f.chunk_text
      GROUP BY c.doc_id
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** BIGRAM-LM QUALITY SCORE — the perplexity-filter stage of CCNet/
    * RefinedWeb with the LM trained ON the corpus itself (no external
    * model in this container): corpus bigram/continuation counts with
    * add-one smoothing, each document scored by its mean smoothed bigram
    * probability  mean over doc bigrams of (c(w1 w2)+1)/(c(w1·)+V).
    * The mean PROBABILITY (not log) keeps every arithmetic step an
    * IEEE-defined double op (+, /, ×) that is bit-identical across
    * engines — ln() is libm-dependent and would put the oracle one ulp
    * away — and it orders documents the same way a mean-logprob filter
    * does for filtering purposes: rare/implausible continuations drag the
    * score down. Per-doc summation is decimal-captured (the Det G1
    * argument) so partial-aggregation order can't perturb the result.
    *
    * 100 TB shape: dedup-first (groups keyed by raw text; counts weighted
    * by group size, so the LM is trained on the full corpus while the
    * expensive explode+join runs over DISTINCT documents only). The
    * count tables shuffle distinct bigrams/words (map-side partial aggs);
    * scoring joins are keyed on bigram/word; V is a broadcast scalar.
    * Nothing is ever all-pairs and nothing sees the corpus un-deduped. */
  private val llmBigramLmScore = GraftQuery(
    "llm_bigram_lm_score",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.normalize(col("text")).as("t"))
      // g feeds FIVE consumers (repbg/c2 via bg, c1, v, the final member
      // fan-out) and three of them are broadcast builds that each re-ran
      // the dedup groupBy + split from the scan (r17 RowProbe: four
      // concurrent 1.5–1.7 s broadcast jobs, 10.1 s task time for a
      // 3.0 s row). One eager checkpoint of the doc-sized group table —
      // NOT of the distinct-pair table, whose materialization the r7
      // note below measured as a loss — lets each count pass start from
      // cached rows. r18: the checkpoint no longer materializes a
      // per-group `words` ARRAY next to the text (it duplicated every
      // byte of t in the pinned stage); the bigram stream derives from
      // t directly via the native one-pass word_bigrams kernel (byte
      // slices, no split-to-Strings, no zip_with/slice copies — the
      // declarative form paid that per count pass), c1 re-derives its
      // word slice map-side, and v takes the last word via
      // substring_index (same value as element_at(words, -1)).
      val g = d.groupBy(col("t"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"),
          count(lit(1)).as("gsz"))
        .stageCheckpoint()
      val bg = g.select(col("rep"), col("gsz"),
        explode(expr("word_bigrams(t)")).as("bigram"))
      // Each count table re-aggregates the instance stream DIRECTLY: the
      // explodes are map-side and the shuffles carry only post-combine
      // distinct keys, so recomputation is cheap. The "obvious" fix of
      // aggregating once to (rep, bigram) and deriving c2/c1 from it
      // (c2 = Σ cnt·gsz etc.) was BUILT AND MEASURED SLOWER (r7):
      // materializing the distinct-pair table (~29 M rows at sf12t) to
      // feed three consumers cost more than the map-side re-aggregation
      // it saved — 11.5 vs 9.7 s at sf6t, 21.7 vs 15.8 at sf12t.
      // Re-derivation over materialization when the intermediate is
      // corpus-sized and the passes are combine-friendly.
      val repbg = bg.groupBy(col("rep"), col("bigram")).agg(count(lit(1)).as("cnt"))
      val c2 = bg.groupBy(col("bigram")).agg(sum(col("gsz")).as("c2"))
      // NOTE (r18 negative result): swapping this split for a native
      // byte tokenizer (word_tokens) was built and MEASURED A LOSS here
      // and on tfidf/text_stats (task time +28–60 %): split is
      // whole-stage-codegen-native, and a CodegenFallback generator
      // child forces row materialization inside an otherwise fused
      // explode+aggregate pipeline. Kernel swaps only pay when the
      // replaced form is itself interpreted (zip_with/slice/concat,
      // higher-order transforms) — not against codegen built-ins.
      val c1 = g.withColumn("words", split(col("t"), " "))
        .select(col("gsz"),
          explode(slice(col("words"), lit(1), size(col("words")) - 1)).as("w1"))
        .groupBy(col("w1")).agg(sum(col("gsz")).as("c1"))
      // vocabulary = distinct(bigram first words ∪ each doc's LAST word):
      // every word at position < n is some bigram's w1, position n only
      // ever a w2 — so v derives from the (small) c1 key set plus one
      // element_at row per rep, replacing a fourth full explode+distinct
      // over the token stream. Strict win: no new materialization.
      val v = c1.select(col("w1").as("x"))
        .unionByName(g.select(substring_index(col("t"), " ", -1).as("x")))
        .agg(countDistinct(col("x")).cast(DoubleType).as("vsz"))
      val scored = repbg
        .join(c2, "bigram")
        .join(c1, substring_index(col("bigram"), " ", 1) === c1("w1"))
        .crossJoin(broadcast(v))
        .select(col("rep"), col("cnt"),
          (col("cnt").cast(DoubleType) *
            ((col("c2").cast(DoubleType) + lit(1.0)) /
             (col("c1").cast(DoubleType) + col("vsz")))).as("p"))
        .groupBy(col("rep"))
        .agg(sum(col("p").cast(DecimalType(28, 14))).cast(DoubleType).as("num"),
          sum(col("cnt")).cast(DoubleType).as("nb"))
      g.join(scored.withColumnRenamed("rep", "srep"), col("rep") === col("srep"))
        .select(explode(col("members")).as("doc_id"),
          col("nb").cast(LongType).as("n_bigrams"),
          round(col("num") / col("nb"), 6).as("lm_score"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      g AS (
        SELECT t, min(doc_id) AS rep, count(*) AS gsz FROM d GROUP BY t),
      w AS (
        SELECT rep, gsz, string_split(t, ' ') AS words FROM g),
      bg AS (
        SELECT rep, gsz, unnest([words[i] || ' ' || words[i+1] FOR i IN range(1, len(words))]) AS bigram
        FROM w),
      repbg AS (
        SELECT rep, bigram, count(*) AS cnt FROM bg GROUP BY rep, bigram),
      c2 AS (
        SELECT bigram, CAST(SUM(gsz) AS BIGINT) AS c2 FROM bg GROUP BY bigram),
      tok AS (
        SELECT rep, gsz, unnest(words[1:len(words)-1]) AS w1 FROM w),
      c1 AS (
        SELECT w1, CAST(SUM(gsz) AS BIGINT) AS c1 FROM tok GROUP BY w1),
      vtok AS (
        SELECT unnest(words) AS x FROM w),
      v AS (
        SELECT CAST(COUNT(DISTINCT x) AS DOUBLE) AS vsz FROM vtok),
      scored AS (
        SELECT r.rep,
               CAST(SUM(CAST(CAST(r.cnt AS DOUBLE) *
                    ((CAST(c2.c2 AS DOUBLE) + 1.0) / (CAST(c1.c1 AS DOUBLE) + v.vsz))
                    AS DECIMAL(28,14))) AS DOUBLE) AS num,
               CAST(SUM(r.cnt) AS DOUBLE) AS nb
        FROM repbg r JOIN c2 USING (bigram)
             JOIN c1 ON string_split(r.bigram, ' ')[1] = c1.w1
             CROSS JOIN v
        GROUP BY r.rep)
      SELECT d.doc_id, CAST(s.nb AS BIGINT) AS n_bigrams, round(s.num / s.nb, 6) AS lm_score
      FROM d JOIN g ON d.t = g.t JOIN scored s ON g.rep = s.rep
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the embedding space, then drop every vector that has
    * a LOWER-ID in-cluster neighbor with cosine ≥ 0.9 — near-duplicate
    * *meaning*, not near-duplicate *text*. Clustering is the paper's own
    * semantic contract (cross-cluster near-dups are deliberately out of
    * scope); since r7 the candidate generation INSIDE each cluster is LSH
    * (VectorLsh bands sized by adaptiveBandParams at the 0.9 drop
    * threshold), so the within-cell all-pairs join — the last
    * O(N^1.5)-total-work kernel in the registry — is gone: candidates are
    * pairs sharing (cent_id, band, bucket), verified by exact cosine. The
    * contract is therefore LSH-recall-within-cell, with the same
    * deterministic derived hyperplanes as llm_embed_neardup: a planted
    * mutant (0.9x+0.02 ⇒ cosine ≥ 0.97 vs its source ⇒ per-bit sign
    * agreement ≥ 1 − acos(.97)/π ≈ 0.92) misses all bands with
    * probability < 1e-4 by the band sizing, and hit/miss is a FIXED fact
    * of the geometry — VectorSpec pins both the pruned recompute and that
    * pruning loses nothing vs all-pairs on this corpus.
    *
    * Reuses the whole IVF stack: deterministic Lloyd training (Ivf.train),
    * map-side nearest-centroid assignment (Ivf.assign), dedup-first
    * representative groups (vecGroups — exact copies drop by definition,
    * and only DISTINCT vectors enter the banded stage). Candidate pairs
    * carry IDS ONLY through the band join (the embed_neardup lesson);
    * vectors are fetched after pair-dedup by id-keyed joins.
    *
    * 100 TB shape: every term is now sub-O(N^1.5) — training is O(k²)
    * flat in the corpus (Lloyd on the ~256·k deterministic subsample,
    * Ivf.trainSampleCap), assignment one ~N·k scan at k = ⌈N^(1/3)⌉
    * (Ivf.adaptiveK), bucketing ~N·bands·bits (bands·bits grows ~log N),
    * the band join ~N^(1+ρ) with ρ ≈ 0.22, and exact cosine only on
    * surviving candidates. Oracled via the
    * declared-model fixtures (Fixtures.semdedupCentroids +
    * Fixtures.semdedupPlanes): the oracle recomputes buckets from the
    * dumped hyperplanes and replays the pruned candidate set in SQL. */
  /** The semdedup corpus's identity groups, trained coarse model, and
    * DISTINCT-rep count — ONE definition shared by the registry row and
    * the Fixtures dumps, so the oracle's declared model inputs cannot
    * drift from what the row assigns and buckets against. k from the
    * DISTINCT count (Ivf.adaptiveK = ⌈N^(1/3)⌉ — see its scaladoc for
    * why the r6 √N balance is no longer needed once LSH prunes within
    * cells). One scalar count of an already-cached set: bounded driver
    * state, reused by the caller for the LSH geometry. */
  /** The planted semdedup corpus's identity groups alone — split out so
    * Fixtures.semdedupPlanes can size the LSH geometry from the rep count
    * without paying a redundant Lloyd training. */
  private[graft] def semdedupGrouped(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val base = docVec(s, dir)
    val planted = base.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x * 0.9 + 0.02).as("v"))
    vecGroups(base.unionByName(planted))
  }

  private[graft] def semdedupGroupsAndCents(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long) = {
    val grouped = semdedupGrouped(s, dir)
    val reps = grouped.select(col("rep_id").as("vec_id"), col("v")).cache()
    val n = reps.count()
    val k = graft.etl.Ivf.adaptiveK(n)
    // Lloyd on the standard ~256·k deterministic subsample (r7): training
    // cost is O(k²), flat in the corpus; the full set pays exactly one
    // assignment scan. The dumped-model oracle replays whatever centroids
    // come out, so the declared-model contract is unchanged.
    val cents = graft.etl.Ivf.train(reps, k = k, iters = 3,
      sampleCap = graft.etl.Ivf.trainSampleCap(k))
    (grouped, cents, n)
  }

  private val llmSemdedup = GraftQuery(
    "llm_semdedup",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      graft.Fixtures.semdedupCentroids(s, dir) // model dump for the oracle
      graft.Fixtures.semdedupPlanes(s, dir)    // hyperplane dump for the oracle
      val (grouped, cents, n) = semdedupGroupsAndCents(s, dir)
      val reps = grouped.select(col("rep_id").as("vec_id"), col("v"))
      val assigned = graft.etl.Ivf.assign(reps, cents)
      // LSH candidate pruning INSIDE cells (r6 verdict item 1): band
      // buckets over the assigned reps, candidates = pairs sharing
      // (cent_id, band, bucket) — strictly finer than the old cent_id
      // self-join, so the within-cell all-pairs is gone from the plan.
      // Geometry sized from the DISTINCT rep count at the 0.9 drop
      // threshold (the embed_neardup discipline); a pair colliding in
      // several bands dedups on ids before any vector is fetched.
      val (nBands, nBits) = graft.etl.VectorLsh.adaptiveBandParams(n, simThreshold = 0.9)
      val bucketed = graft.etl.VectorLsh.withBandBuckets(
          assigned, nBands = nBands, bitsPerBand = nBits, dims = 64)
        .select(col("vec_id"), col("cent_id"), col("band"), col("bucket"))
      val ids = assigned.select(col("cent_id"), col("vec_id"))
      val candIds = bucketed.as("a").join(bucketed.as("b"),
          col("a.cent_id") === col("b.cent_id") && col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
        .dropDuplicates(Seq("vec_a", "vec_b"))
      val dropped = candIds
        .join(reps.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
        .join(reps.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
        .filter(cosR("va", "vb") >= 0.9)
        .select(col("vec_b").as("vec_id")).distinct()
        .withColumn("is_dropped", lit(1))
      ids
        .join(grouped.select(col("rep_id").as("vec_id"), size(col("members")).as("gsz")),
          "vec_id")
        .join(dropped, Seq("vec_id"), "left")
        .groupBy(col("cent_id"))
        .agg(sum(col("gsz")).cast(LongType).as("n_vectors"),
          sum(when(col("is_dropped").isNull, 1).otherwise(0)).cast(LongType).as("n_kept"))
        .withColumn("n_dropped", col("n_vectors") - col("n_kept"))
        .orderBy(col("cent_id").asc_nulls_first)
    },
    // Oracled (r6; r7 = LSH-pruned contract): the trained centroids AND
    // the derived hyperplanes are the declared model inputs
    // (Fixtures.semdedupCentroids / semdedupPlanes — the SAME
    // semdedupGroupsAndCents call and geometry the row uses); the oracle
    // rebuilds the planted corpus, the identity groups, the
    // rounded-cosine argmax assignment, every rep's per-band sign-bucket
    // from the dumped planes, the PRUNED candidate set (same cent_id AND
    // a shared band bucket), the lower-id-neighbor drop rule at ≥ 0.9
    // over candidates, and the per-cell attrition counts in SQL.
    // VectorSpec keeps the independent JVM recompute of the pruned drop
    // rule plus the recall-vs-all-pairs pin.
    Some(s"""
      WITH base AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + 1000000, list_transform(v, x -> x * 0.9 + 0.02)
        FROM base WHERE vec_id % 50 = 0),
      grp AS (
        SELECT v, min(vec_id) AS rep, COUNT(*) AS gsz
        FROM corpus GROUP BY v),
      cents AS (
        SELECT cent_id, cv
        FROM ${Fixtures.oracleScan("sdcents")}),
      planes AS (
        SELECT band, weight, h
        FROM ${Fixtures.oracleScan("sdplanes")}),
      asg AS (
        SELECT rep, cent_id FROM (
          SELECT g.rep, c.cent_id,
                 ROW_NUMBER() OVER (PARTITION BY g.rep
                   ORDER BY round(list_cosine_similarity(g.v, c.cv), 6) DESC,
                            c.cent_id ASC) AS rn
          FROM grp g CROSS JOIN cents c)
        WHERE rn = 1),
      bk AS (
        SELECT g.rep, p.band,
               CAST(SUM(CASE WHEN list_sum([g.v[i] * p.h[i]
                                            FOR i IN range(1, len(p.h) + 1)]) > 0
                             THEN p.weight ELSE 0 END) AS BIGINT) AS bucket
        FROM grp g CROSS JOIN planes p
        GROUP BY g.rep, p.band),
      cand AS (
        SELECT DISTINCT a.rep AS ra, b.rep AS rb
        FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.rep < b.rep
        JOIN bk ka ON ka.rep = a.rep
        JOIN bk kb ON kb.rep = b.rep AND kb.band = ka.band AND kb.bucket = ka.bucket),
      dropped AS (
        SELECT DISTINCT c.rb AS rep
        FROM cand c
        JOIN grp ga ON ga.rep = c.ra
        JOIN grp gb ON gb.rep = c.rb
        WHERE round(list_cosine_similarity(ga.v, gb.v), 6) >= 0.9)
      SELECT a.cent_id,
             CAST(SUM(g.gsz) AS BIGINT) AS n_vectors,
             CAST(SUM(CASE WHEN d.rep IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(SUM(g.gsz) - SUM(CASE WHEN d.rep IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
      FROM asg a
      JOIN grp g ON g.rep = a.rep
      LEFT JOIN dropped d ON d.rep = a.rep
      GROUP BY a.cent_id
      ORDER BY a.cent_id ASC NULLS FIRST"""))

  /** BPE TOKENIZATION with a tokenizer TRAINED ON THE CORPUS (etl.Bpe —
    * the real Sennrich et al. 2016 merge-learning loop as distributed
    * aggregations, replacing llm_token_count's "BPE-ish regex" stand-in):
    * learn 12 merge rules from the word-frequency table, segment the
    * distinct word types once, join the segmentation back to the corpus,
    * and report per-document word/char/BPE-token counts plus the
    * chars-per-token compression ratio — the quantity a token-budget
    * pipeline actually needs from its tokenizer.
    *
    * 100 TB shape: training and segmentation touch only the Heaps-law
    * word-TYPE table (dedup-first at the vocabulary level); the corpus is
    * read once to build type frequencies and once for the final keyed
    * join + per-doc rollup. Oracle: none by construction (the iterative
    * data-dependent argmax is not expressible as one SQL query); BpeSpec
    * recomputes the ENTIRE training run and the per-doc counts in plain
    * JVM Scala and matches them exactly, tie-breaks included. */
  private val llmBpeTokenize = GraftQuery(
    "llm_bpe_tokenize",
    (s, dir) => {
      // DEDUP-FIRST at both levels: identical documents collapse to one
      // representative (word frequencies weighted by group size — BPE's
      // per-round argmax and its tie-break are computed on the true
      // corpus counts, and identical docs tokenize identically so the
      // per-rep counts fan out exactly), and training/segmentation then
      // run over the word-TYPE table as before. On the 30× replica
      // corpora this drops every explode/join from corpus-sized to
      // distinct-sized (9.2 s → the distinct corpus cost at sf3).
      graft.Fixtures.bpeMerges(s, dir) // model dump for the DuckDB oracle
      val g = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.normalize(col("text")).as("t"))
        .groupBy(col("t"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"),
          count(lit(1)).as("gsz"))
      val repWords = g.select(col("rep"), col("gsz"),
        explode(split(col("t"), " ")).as("w"))
      val wf = repWords.groupBy(col("w")).agg(sum(col("gsz")).as("cnt"))
      val merges = graft.etl.Bpe.train(wf, nMerges = 12)
      val seg = graft.etl.Bpe.segment(wf.select("w"), merges)
        .select(col("w"), size(col("syms")).as("n_sub"), length(col("w")).as("n_chr"))
      val repStats = repWords.join(seg, "w")
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_chr")).cast(LongType).as("n_chars"),
          sum(col("n_sub")).cast(LongType).as("n_bpe_tokens"))
      g.select(col("rep"), explode(col("members")).as("doc_id"))
        .join(repStats, "rep")
        .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_bpe_tokens"))
        .withColumn("compression",
          round(col("n_chars").cast(DoubleType) / col("n_bpe_tokens").cast(DoubleType), 4))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    // Oracled (r6): the learned merges are the declared model input
    // (Fixtures.bpeMerges; training determinism BpeSpec-pinned); the
    // oracle re-derives the distinct word types in SQL and SEGMENTS each
    // one by replaying the greedy leftmost non-overlapping rewrite — an
    // outer fold over the ordered merge list whose inner fold carries the
    // emitted symbols and fuses (a, b) when the carry's last symbol is
    // `a` and the incoming one is `b` (a fresh fusion cannot re-combine
    // in the same round, exactly the Bpe.mergeStep contract) — then
    // rolls up per doc and fans out identity groups.
    Some(raw"""
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents),
      g AS (SELECT t, min(doc_id) AS rep FROM d GROUP BY t),
      rw AS (SELECT rep, unnest(string_split(t, ' ')) AS w FROM g),
      dw AS (SELECT DISTINCT w FROM rw),
      m AS (
        SELECT list([a, b] ORDER BY ord ASC) AS ml
        FROM ${Fixtures.oracleScan("bpemerges")}),
      seg AS (
        SELECT dw.w,
               len(list_reduce(
                 list_prepend([dw.w[i] FOR i IN range(1, len(dw.w) + 1)], m.ml),
                 (acc, mm) -> list_reduce(
                   list_prepend(CAST([] AS VARCHAR[]), list_transform(acc, x -> [x])),
                   (acc2, x) -> CASE WHEN len(acc2) > 0 AND acc2[-1] = mm[1]
                                          AND x[1] = mm[2]
                                     THEN acc2[:len(acc2)-1] || [mm[1] || mm[2]]
                                     ELSE acc2 || x END))) AS n_sub,
               length(dw.w) AS n_chr
        FROM dw CROSS JOIN m),
      stat AS (
        SELECT rw.rep, COUNT(*) AS n_words,
               CAST(SUM(s.n_chr) AS BIGINT) AS n_chars,
               CAST(SUM(s.n_sub) AS BIGINT) AS n_bpe_tokens
        FROM rw JOIN seg s ON s.w = rw.w
        GROUP BY rw.rep)
      SELECT d.doc_id, st.n_words, st.n_chars, st.n_bpe_tokens,
             round(CAST(st.n_chars AS DOUBLE) / CAST(st.n_bpe_tokens AS DOUBLE), 4)
               AS compression
      FROM d JOIN g ON d.t = g.t JOIN stat st ON st.rep = g.rep
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** PRODUCT-QUANTIZATION encode (etl.Pq — Jégou et al. 2011): each
    * embedding compresses to m=8 sub-codes from per-subspace L2 k-means
    * codebooks (k=16), the storage format of a 100 TB IVF+PQ vector
    * layout (IVF prunes cells, PQ codes make the in-cell scan 32×
    * smaller than floats). Per vector: its codes and the cosine between
    * the vector and its codebook reconstruction.
    *
    * 100 TB shape: dedup-first (codebooks train on DISTINCT vectors,
    * weighted fan-out after); training is Lloyd rounds whose model
    * (m×k×8 doubles) lives on the driver — the Ivf pattern; encode and
    * decode are pure map-side literal expressions (zero shuffle).
    *
    * Oracled (r6): the trained codebooks are the declared INPUT
    * (Fixtures.pqCodebooks dumps them with their driver-derived
    * halfcc/cc literals; training determinism is PqSpec-pinned), and the
    * oracle recomputes in SQL what the row computes in Catalyst: the
    * per-subspace argmin of (halfcc − sv·cv) with ties to the lowest
    * code id, the reconstruction statistics as j-ordered sums, the
    * guarded cosine, and the dedup-group member fan-out. PqSpec keeps
    * the JVM argmin recompute and codebook-beats-global-mean pins. */
  private val llmEmbedPq = GraftQuery(
    "llm_embed_pq",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      graft.Fixtures.pqCodebooks(s, dir) // model dump for the DuckDB oracle
      // codebooks from the shared train-once model cache (bench `builds`
      // prewarms it as build_pq_model): the row measures dedup + encode +
      // stats — a serving system's per-run cost — not a quantizer retrain
      val mdl = pqModels(s, dir)
      // the dedup pass materializes once (localCheckpoint — what train()
      // would cache anyway): encode's 8-argmin projection must NOT fuse
      // into the vecGroups aggregate's output method — that fused method
      // overflows Janino's 64 KB limit and the whole stage falls back to
      // interpreted execution (measured on the ADC twin).
      val g = vecGroups(docVec(s, dir)).stageCheckpoint()
      val reps = g.select(col("rep_id").as("vec_id"), col("v"))
      val coded = graft.etl.Pq.encodeWithStats(reps, mdl.dims, mdl.books)
        .withColumn("vn2", call_function("dot_fast", col("v"), col("v")))
        .select(col("vec_id").as("rep_id"), col("codes"),
          // both norms guarded: an all-zero input vector (vn2 = 0) would
          // otherwise make the non-ANSI divide return NULL
          round(when(col("recon_norm2") === 0.0 || col("vn2") === 0.0, 0.0)
            .otherwise(col("recon_dot") /
              (sqrt(col("vn2")) * sqrt(col("recon_norm2")))), 6).as("recon_cos"))
      g.select(explode(col("members")).as("vec_id"), col("rep_id"))
        .join(coded, "rep_id")
        .select(col("vec_id"),
          array_join(transform(col("codes"), _.cast("string")), ",").as("codes_str"),
          col("recon_cos"))
        .orderBy(col("vec_id").asc_nulls_first)
    },
    Some(s"""
      WITH emb AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      grp AS (
        SELECT v, min(vec_id) AS rep FROM emb GROUP BY v),
      books AS (
        SELECT j, cid, cv, halfcc, cc
        FROM ${Fixtures.oracleScan("pqbooks")}),
      scored AS (
        SELECT g.rep, b.j, b.cid,
               b.halfcc - list_sum([g.v[len(b.cv) * b.j + i] * b.cv[i]
                                    FOR i IN range(1, len(b.cv) + 1)]) AS negscore,
               list_sum([g.v[len(b.cv) * b.j + i] * b.cv[i]
                         FOR i IN range(1, len(b.cv) + 1)]) AS dot,
               b.cc
        FROM grp g CROSS JOIN books b),
      best AS (
        SELECT rep, j, cid, dot, cc
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY rep, j
                ORDER BY negscore ASC, cid ASC) AS rn
              FROM scored)
        WHERE rn = 1),
      stats AS (
        SELECT rep,
               array_to_string(list(CAST(cid AS VARCHAR) ORDER BY j ASC), ',') AS codes_str,
               list_sum(list(dot ORDER BY j ASC)) AS recon_dot,
               list_sum(list(cc ORDER BY j ASC)) AS recon_norm2
        FROM best GROUP BY rep),
      vn AS (SELECT rep, list_sum([x * x FOR x IN v]) AS vn2 FROM grp)
      SELECT e.vec_id, st.codes_str,
             round(CASE WHEN st.recon_norm2 = 0 OR vn.vn2 = 0 THEN 0.0
                   ELSE st.recon_dot / (sqrt(vn.vn2) * sqrt(st.recon_norm2))
                   END, 6) AS recon_cos
      FROM emb e
      JOIN grp g ON e.v = g.v
      JOIN stats st ON st.rep = g.rep
      JOIN vn ON vn.rep = g.rep
      ORDER BY vec_id ASC NULLS FIRST"""))

  /** Driver-side cosine with dot_fast's element-order accumulation —
    * probe selection over collected centroid model params (bit-matches
    * the cosine_fast kernel). */
  private def jvmCos(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    val den = math.sqrt(na) * math.sqrt(nb)
    // zero-norm operand → cosine 0, not NaN (an all-zero query/centroid
    // would otherwise poison probe selection and top-k ordering)
    if (den == 0.0) 0.0 else dot / den
  }

  /** Top-n probe cell ids by cosine(query, centroid), ties → lowest id. */
  private def topProbes(cents: Seq[(Long, Seq[Double])], q: Seq[Double], n: Int): Seq[Long] =
    cents.map { case (cid, cv) => (jvmCos(q, cv), cid) }
      .sortBy { case (c, cid) => (-c, cid) }.take(n).map(_._2)

  /** The trained quantizer models the inline ANN rows share: PQ codebooks
    * (m=8, k=16, 4 Lloyd rounds) and IVF coarse centroids (k=16, 2
    * rounds) over the dedup-first representatives of `dir`'s embeddings. */
  final case class PqModels(dims: Int, books: Seq[graft.etl.Pq.Codebook],
      cents: Seq[(Long, Seq[Double])])

  private val pqModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqModels]()

  /** Train-once cache for [[PqModels]], keyed by the embeddings table's
    * per-data-file signature (r4 verdict item 2): quantizer training is a
    * one-time MODEL BUILD — at production scale codebooks/centroids are
    * trained once and serve every encode and every query — so the bench
    * prewarms this as a `builds` line item (`build_pq_model`) and the
    * llm_embed_pq / llm_ann_pq_adc / llm_ann_ivfpq rows then measure what
    * a serving system pays per run: dedup + encode + search. Training is
    * DETERMINISTIC (the Ivf/Pq decimal-mean + lowest-id-init conventions,
    * spec-pinned), so a cached model is bit-identical to a retrain; any
    * part-file change in the source rotates the key and retrains. The
    * models are KB-scale driver-side parameters — the cache holds data,
    * never session-bound objects. */
  def pqModels(s: SparkSession, dir: String): PqModels = {
    graft.functions.GraftFunctions.register(s)
    val key = graft.layouts.LayoutUtil.dataSig(s"$dir/embeddings.parquet") + "_m8k16i4_c16i2"
    pqModelCache.computeIfAbsent(key, _ => {
      val dims = Tables.embeddings(s, dir)
        .select(size(col("embedding"))).head.getInt(0)
      val reps = vecGroups(docVec(s, dir))
        .select(col("rep_id").as("vec_id"), col("v")).stageCheckpoint()
      try {
        PqModels(dims,
          graft.etl.Pq.train(reps, dims, 8, 16, 4),
          graft.etl.Ivf.train(reps, k = 16, iters = 2)
            .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq)
      } finally reps.unpersist(blocking = false)
    })
  }

  /** The cached centroids back as a relation (Ivf.assign's input shape). */
  private def centsDf(s: SparkSession, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    val session = s
    import session.implicits._
    cents.toDF("cent_id", "cv")
  }

  /** Oracle CTE: the PQ codebook fixture as `books`. */
  private val PqBooks = s"""books AS (
        SELECT j, cid, cv, halfcc, cc
        FROM ${Fixtures.oracleScan("pqbooks")}),"""

  /** Oracle tail of the PQ ADC rows: re-derive each `grp` rep's codes by
    * argmin against `books`, build the query `q`'s lookup table, and
    * score codes-only; the caller adds FROM (and any cell filter). */
  private val PqAdcScore = """scored AS (
        SELECT g.rep, b.j, b.cid,
               b.halfcc - list_sum([g.v[len(b.cv) * b.j + i] * b.cv[i]
                                    FOR i IN range(1, len(b.cv) + 1)]) AS negscore,
               b.cc
        FROM grp g CROSS JOIN books b),
      best AS (
        SELECT rep, j, cid, cc
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY rep, j
                ORDER BY negscore ASC, cid ASC) AS rn
              FROM scored)
        WHERE rn = 1),
      adct AS (
        SELECT b.j, b.cid,
               list_sum([q.v[len(b.cv) * b.j + i] * b.cv[i]
                         FOR i IN range(1, len(b.cv) + 1)]) AS t
        FROM books b CROSS JOIN q),
      stats AS (
        SELECT best.rep,
               list_sum(list(a.t ORDER BY best.j ASC)) AS adc_dot,
               list_sum(list(best.cc ORDER BY best.j ASC)) AS recon_norm2
        FROM best JOIN adct a ON a.j = best.j AND a.cid = best.cid
        GROUP BY best.rep),
      qn AS (SELECT sqrt(list_sum([x * x FOR x IN v])) AS qnorm FROM q)
      SELECT stats.rep AS vec_id,
             round(CASE WHEN qn.qnorm = 0 OR stats.recon_norm2 = 0 THEN 0.0
                   ELSE stats.adc_dot / (qn.qnorm * sqrt(stats.recon_norm2))
                   END, 6) AS adc_cos"""

  /** The PQ ADC rows' top-10 by ADC cosine of `coded (vec_id, codes,
    * recon_norm2)` against the driver-side query `q`. */
  private def adcTop10(coded: DataFrame, books: Seq[graft.etl.Pq.Codebook],
      q: Seq[Double]): DataFrame =
    coded
      .withColumn("adc_cos", graft.etl.Pq.adcCosCol(books, q))
      .select(col("vec_id"), col("adc_cos"))
      .orderBy(col("adc_cos").desc, col("vec_id").asc)
      .limit(10)

  /** ADC (asymmetric distance computation) top-k over PQ codes — the
    * query path of an IVF-PQ system (Jégou et al. 2011 §IV): the query
    * stays un-quantized; per subspace, its dot product against each of
    * the k centroids is precomputed DRIVER-SIDE (m×k doubles — the "ADC
    * lookup table"), and scoring a database vector is then m table
    * lookups by its codes — no float vector is ever read at query time.
    * Score = approximate cosine  Σⱼ table_j[code_j] / (‖q‖·‖v̂‖), with
    * ‖v̂‖ from the stored recon_norm2. Top-10 for query vec 0.
    *
    * 100 TB shape: dedup-first reps; codes+tables are literals riding
    * into a map-side projection; top-k is TakeOrderedAndProject. Rep-level
    * top-k covers the true top-k (vecGroups ordering argument). At
    * production scale the codes table is the PERSISTED artifact (built
    * once by llm_embed_pq's encode pass) and IVF pruning selects which
    * code partitions to scan; here the row composes encode+search over
    * the train-once cached codebooks ([[pqModels]], prewarmed by the
    * bench as build_pq_model) so the serving path is exercised and
    * spec-pinned (recall containment vs the exact brute-force top-50,
    * like llm_ann_ivf). Oracle: none (k-means-based). */
  private val llmAnnPqAdc = GraftQuery(
    "llm_ann_pq_adc",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      graft.Fixtures.pqCodebooks(s, dir) // model dump for the DuckDB oracle
      // codebooks from the shared train-once model cache (build_pq_model)
      val mdl = pqModels(s, dir)
      // dedup artifact materialized once (see llm_embed_pq's fusion note)
      val reps = vecGroups(docVec(s, dir))
        .select(col("rep_id").as("vec_id"), col("v"))
        .stageCheckpoint()
      val books = mdl.books
      // the CODES TABLE is the artifact an IVF-PQ system persists: encode
      // once here (localCheckpoint — the Bpe materialization convention),
      // query from codes after. This also keeps the query stage's codegen
      // small: fusing the 8-argmin encode into the vecGroups aggregate's
      // output method overflowed Janino (measured: compile fail +
      // interpreted fallback); scoring from checkpointed codes does not.
      val coded = graft.etl.Pq.encodeWithStats(reps, mdl.dims, books)
        .select(col("vec_id"), col("codes"), col("recon_norm2"))
        .stageCheckpoint()
      val q = docVec(s, dir).filter(col("vec_id") === 0).head.getSeq[Double](1)
      adcTop10(coded, books, q)
    },
    // Oracled (r6): same declared-model-input pattern as llm_embed_pq —
    // the oracle rebuilds the ADC lookup table from the codebook fixture
    // and the query vector IN SQL, re-derives each rep's codes by the
    // same argmin, and scores codes-only exactly like the row (j-ordered
    // sums, guarded cosine, (adc_cos DESC, vec_id ASC) top-10).
    Some(s"""$AnnEmbGrp
      $PqBooks
      q AS (SELECT v FROM emb WHERE vec_id = 0),
      $PqAdcScore
      FROM stats CROSS JOIN qn
      ORDER BY adc_cos DESC NULLS LAST, vec_id ASC NULLS FIRST
      LIMIT 10"""))

  /** IVF+PQ ANN — the composed architecture a 100 TB vector store
    * actually serves (Jégou et al. 2011 §V): the IVF coarse quantizer
    * partitions the table into cells (on disk: partition directories —
    * see llm_ann_ivf_persisted's pruning), the PQ codes make the in-cell
    * scan bytes instead of floats, and a query (a) picks its top-4 cells
    * by centroid cosine DRIVER-side (centroids are collected model
    * params), (b) scans ONLY those cells' codes with ADC lookup tables.
    * The scan predicate is `cent_id IN (probes)` — exactly the
    * partition-pruning filter the persisted layout serves.
    *
    * 100 TB shape: dedup-first reps; both quantizers come from the
    * train-once model cache ([[pqModels]] — trained on the distinct set,
    * prewarmed by the bench as build_pq_model); the index artifact
    * (cent_id, codes, recon_norm2 — no floats) materializes once
    * (localCheckpoint — the same fusion note as llm_embed_pq); the timed
    * query is assign + encode + a pruned scan + m lookups per row +
    * TakeOrderedAndProject.
    *
    * Oracled (r6): both quantizer models are declared inputs
    * (Fixtures.ivfCentroids + Fixtures.pqCodebooks); the oracle
    * recomputes assignment (rounded-cosine argmax), the PQ argmin
    * encode, the UNROUNDED top-4 probe choice (this row's topProbes
    * selects on the raw driver cosine, unlike llm_ann_ivf's rounded
    * column), the cell filter, and the ADC scoring in SQL. PqSpec keeps
    * recall containment vs the exact scan and cell-pruning reality. */
  private val llmAnnIvfPq = GraftQuery(
    "llm_ann_ivfpq",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      graft.Fixtures.ivfCentroids(s, dir) // model dumps for the DuckDB oracle
      graft.Fixtures.pqCodebooks(s, dir)
      // both quantizers from the shared train-once model cache
      // (build_pq_model): the row measures assign + encode + probed search
      val mdl = pqModels(s, dir)
      val vecs = docVec(s, dir)
      val grouped = vecGroups(vecs).stageCheckpoint()
      val reps = grouped.select(col("rep_id").as("vec_id"), col("v"))
      val books = mdl.books
      val indexed = graft.etl.Ivf.assign(reps, centsDf(s, mdl.cents))
      val coded = graft.etl.Pq.encodeWithStats(indexed, mdl.dims, books)
        .select(col("vec_id"), col("cent_id"), col("codes"), col("recon_norm2"))
        .stageCheckpoint()
      val q = vecs.filter(col("vec_id") === 0).head.getSeq[Double](1)
      val probes = topProbes(mdl.cents, q, 4)
      adcTop10(coded.filter(col("cent_id").isin(probes: _*)), books, q)
    },
    Some(s"""$AnnEmbGrp
      $IvfCents
      $PqBooks
      q AS (SELECT v FROM emb WHERE vec_id = 0),
      $IvfAsg
      probes AS (
        SELECT cent_id FROM cents CROSS JOIN q
        ORDER BY list_cosine_similarity(cv, q.v) DESC NULLS LAST, cent_id ASC
        LIMIT 4),
      $PqAdcScore
      FROM stats
      JOIN asg ON asg.rep = stats.rep
      JOIN probes p ON p.cent_id = asg.cent_id
      CROSS JOIN qn
      ORDER BY adc_cos DESC NULLS LAST, vec_id ASC NULLS FIRST
      LIMIT 10"""))

  /** The persisted IVF+PQ index the `llm_ann_ivfpq_persisted` row probes —
    * exposed so the bench prewarms it with the IDENTICAL cache key and
    * reports the one-time train+encode+partitioned-write as a separate
    * build line item (the index is the vector table's resident format;
    * its build is not the probe query's cost — the llm_ann_ivf_persisted
    * accounting). The indexed corpus is [[plantedVecCorpus]] — the same
    * planted-mutant scheme as the persisted IVF index — so the probed
    * search is verifiable against the exact brute-force oracle. The cache
    * tag hashes the source DATA FILES (LayoutUtil.dataSig), not the
    * directory File, so an in-place part-file rewrite rotates it (the r4
    * ADVICE fix). Returns the five-artifact [[graft.layouts.PqIndex.Artifacts]]
    * (codes + model sidecars + cell-partitioned float tier + gradedness
    * manifest). */
  def pqIndexArtifacts(s: SparkSession, dir: String): graft.layouts.PqIndex.Artifacts = {
    graft.functions.GraftFunctions.register(s)
    val dims = Tables.embeddings(s, dir)
      .select(size(col("embedding"))).head.getInt(0)
    val sig = graft.layouts.LayoutUtil.dataSig(s"$dir/embeddings.parquet")
    graft.layouts.PqIndex.ensure(
      s, s"ivfpqp_${dir}_$sig", plantedVecCorpus(s, dir), dims)
  }

  /** IVF+PQ over the PERSISTED layout (layouts.PqIndex), completed with
    * the EXACT RE-RANK stage a served IVF+PQ system runs (Jégou et al.
    * 2011 §V-C verify/re-rank): the codes table lives on disk partitioned
    * by cent_id, the models are KB-scale parquet sidecars, and the query
    * is (a) load models, (b) pick top-4 cells driver-side, (c) ADC-score
    * ONLY those cells' codes (`cent_id IN` → partition pruning, pinned in
    * PqSpec with scan metrics; floats never read in this stage) into a
    * 50-candidate shortlist, (d) fetch the shortlist's float vectors BY
    * ID (a 50-row point lookup with the id predicate pushed into the
    * scan) and score them with the exact cosine kernel — so the returned
    * top-5 is EXACT whenever the shortlist contains the true top-5, which
    * the planted corpus guarantees by construction (mutants at cos ≥ 0.9
    * vs ≤ 0.55 background ≫ the PQ quantization error; PqSpec pins the
    * containment). That makes this row DuckDB-oracled — the same exact
    * brute-force top-5 SQL as llm_ann_ivf_persisted — where the inline
    * ADC rows are approximate by construction: two different persisted
    * index architectures reproducing the identical exact answer. Shortlist
    * ids/members are a bounded collect (≤50 reps — the probe-id class of
    * driver state); the index build is a bench `builds` line item via
    * [[pqIndexArtifacts]].
    *
    * SIZING THE SHORTLIST (measured at 2 M × 64-dim, CROSSOVER.md r13):
    * the shortlist is the recall knob and re-rank is the cheap stage —
    * m=16/nprobe=16 recall@10 goes 0.949 → 0.997 (identical to the
    * FLOAT IVF index at the same nprobe) when the shortlist grows
    * 100 → 500, for ~0.02 s of extra point-fetch re-rank; ADC-only
    * recall at 64 dims is coarse (0.45), so serving deployments should
    * budget shortlist ≈ 30–50× k rather than trusting ADC order. PQ's
    * win is resident bytes (8–16 B/vec vs 3–32 KB raw at production
    * dims), not local CPU — the ADC stage costs more than the float
    * kernel at 64 dims, and that trade is now measured, not assumed. */
  private val llmAnnIvfPqPersisted = GraftQuery(
    "llm_ann_ivfpq_persisted",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val art = pqIndexArtifacts(s, dir)
      // the query vector is already on the driver: subspace geometry
      // derives from it and the loaded codebooks (q.length / books.size
      // inside adcCosCol) — nothing about m or dims is hardcoded, so a
      // PqIndex parameter change cannot desynchronize this row
      val q = docVec(s, dir).filter(col("vec_id") === 0).head.getSeq[Double](1)
      val probes = topProbes(
        graft.layouts.PqIndex.serve(s, art.cents).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq, q, 4)
      val books = graft.layouts.PqIndex.loadBooks(s, art.books)
      // stage 1 — ADC shortlist inside the probed cells only: top-50 reps
      // by m code lookups per row, collected (bounded — 50 reps + member
      // lists, the candidate set a serving node holds in memory)
      val short = graft.layouts.PqIndex.serve(s, art.codes)
        .filter(col("cent_id").isin(probes: _*))
        .withColumn("adc_cos", graft.etl.Pq.adcCosCol(books, q))
        .orderBy(col("adc_cos").desc, col("vec_id").asc)
        .limit(50)
        .select(col("vec_id"), col("members"))
        .collect()
      val ids = short.map(_.getLong(0)).toSeq
      val session = s
      import session.implicits._
      val shortDf = short.map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
        .toSeq.toDF("vec_id", "members")
      // stage 2 — exact re-rank from the CELL-PARTITIONED float sidecar
      // (r15 verdict item 1): every candidate lives in a probed cell by
      // construction (the shortlist was selected from those cells), so
      // the float fetch prunes to the SAME cent_id= directories the ADC
      // stage read before the id predicate touches a row group — at
      // index scale the re-rank reads nprobe/nlist of the float tier,
      // never an id-predicate scan over the whole raw corpus (measured
      // 10× on re-rank latency at the 768-dim design point,
      // tools/PqServeProbe). Top-5 over reps covers the true top-5
      // (vecGroups proof), then identity groups re-expand and re-rank
      val qDf = docVec(s, dir).filter(col("vec_id") === 0).select(col("v").as("qv"))
      exactTop5Members(graft.layouts.PqIndex.serve(s, art.floats)
        .filter(col("cent_id").isin(probes: _*))
        .filter(col("vec_id").isin(ids: _*))
        .join(broadcast(shortDf), "vec_id"), qDf)
    },
    Some(PlantedTop5Oracle))

  /** GRADEDNESS PREFLIGHT for PQ-coded ANN (`llm_ann_recall_floor`) —
    * the operator surface of [[graft.etl.AnnPreflight.recallFloor]]
    * (implementation moved to the etl layer in r16, with the quantizers
    * it diagnoses, so [[graft.layouts.PqIndex.ensure]] runs it at build
    * time and records the verdict in the index manifest — see the full
    * method/verdict semantics and the 100 TB shape in the AnnPreflight
    * scaladoc; the r15 form's full-corpus localCheckpoint is gone — the
    * census is a pure map-side pass and only the K-cell-filtered members
    * persist, released before return). Emits one row per sampled cell:
    * (cent_id, members, top_tier_cos, bulk_cos, margin, quant_err,
    * recon_cos_p50, ratio, verdict) with verdict ∈ graded | degenerate |
    * insufficient_members. Oracle: none (k-means models — the ANN-family
    * sanction); AnnRecallFloorSpec pins the discriminating behavior on
    * both r14 corpus shapes, the singleton-cell row, and the
    * no-materialization plan property. */
  def annRecallFloor(vecs: DataFrame, books: Seq[graft.etl.Pq.Codebook],
      cents: Seq[(Long, Seq[Double])], dims: Int,
      sampleCells: Int = 4, topTier: Int = 10): DataFrame =
    graft.etl.AnnPreflight.recallFloor(vecs, books, cents, dims, sampleCells, topTier)

  /** Registry row: the preflight over the sf corpus's dedup-first reps at
    * the shared train-once quantizer config ([[pqModels]] — the exact
    * models llm_ann_pq_adc/llm_ann_ivfpq serve with, so the verdict
    * describes the index those rows would build). */
  private val llmAnnRecallFloor = GraftQuery(
    "llm_ann_recall_floor",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val mdl = pqModels(s, dir)
      val reps = vecGroups(docVec(s, dir))
        .select(col("rep_id").as("vec_id"), col("v"))
      annRecallFloor(reps, mdl.books, mdl.cents, mdl.dims)
    })

  /** FEATURE-HASHING text embedder (Weinberger et al., "Feature Hashing
    * for Large Scale Multitask Learning", ICML 2009) — the text→vector
    * bridge that makes the ANN family usable without an external model:
    * each word hashes to a dimension (xxhash64 mod D) with a ±1 sign from
    * an independent hash bit, signs accumulate per dimension, and the
    * vector L2-normalizes. Near-identical texts land near-identical
    * vectors (cosine ≈ word-overlap), so the output plugs straight into
    * llm_embed_neardup / the PQ family.
    *
    * 100 TB shape: dedup-first, then PURE IN-ROW array work — the
    * (dim, sign) pairs materialize as an attribute FIRST (one xxhash64
    * per word — the cdcChunks CSE rule; hashing inside the accumulate
    * lambda would re-run per (word × dimension)), then one aggregate
    * lambda builds the dense array. Zero shuffles beyond the dedup
    * group; embedding 100 TB of text is a map job. Oracled via the
    * JVM-twin primitive dump (graft.Fixtures.hashEmbedPairs): the fixture
    * carries each distinct text's per-word (dim, sign) pairs, and the
    * oracle re-derives the text→rep grouping from raw documents and the
    * sign accumulation + L2 normalization in SQL (raw sums are small
    * exact integers, so the norm and divisions are bit-exact across
    * engines); CorpusOpsSpec keeps the property pins (determinism,
    * mutant-closer-than-stranger, native-vs-declarative parity). */
  private val llmHashEmbed = GraftQuery(
    "llm_hash_embed",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      graft.Fixtures.hashEmbedPairs(s, dir) // primitive dump for the DuckDB oracle
      val D = 64
      // head dims as SEPARATE rounded double columns (not a stringified
      // array): doubles hash bit-exactly in the driver compare, while
      // Java 17's Double.toString is not guaranteed shortest-roundtrip,
      // so string formatting would be the one non-deterministic seam
      val embCols = (0 until 8).map(i => round(col("he.emb")(i), 6).as(s"emb_$i"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.normalize(col("text")).as("t"))
        .groupBy(col("t"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"))
        // ONE JVM pass per distinct text (functions.HashEmbed) — the
        // declarative aggregate-over-transform twin is O(words × D) per
        // row (each fold step rebuilds the D-array) and lives on as the
        // spec's parity oracle
        .withColumn("he", expr(s"hash_embed(t, $D)"))
        .select(Seq(explode(col("members")).as("doc_id"),
          round(col("he.norm"), 6).as("raw_l2_norm")) ++ embCols: _*)
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some(raw"""
      WITH nrm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM documents),
      grp AS (SELECT t, min(doc_id) AS rep FROM nrm GROUP BY t),
      px AS (
        SELECT rep, dim, sign
        FROM ${Fixtures.oracleScan("hepairs")}),
      raw AS (SELECT rep, dim, CAST(SUM(sign) AS DOUBLE) AS r FROM px GROUP BY rep, dim),
      nm AS (SELECT rep, sqrt(SUM(r * r)) AS norm FROM raw GROUP BY rep),
      head AS (
        SELECT g.rep, d.dim, coalesce(raw.r, 0.0) AS r
        FROM (SELECT DISTINCT rep FROM px) g
        CROSS JOIN (SELECT CAST(range AS INTEGER) AS dim FROM range(8)) d
        LEFT JOIN raw ON raw.rep = g.rep AND raw.dim = d.dim),
      emb AS (
        SELECT h.rep, h.dim,
               CASE WHEN nm.norm = 0 THEN h.r ELSE h.r / nm.norm END AS e
        FROM head h JOIN nm ON nm.rep = h.rep),
      wide AS (
        SELECT rep,
               round(MAX(CASE WHEN dim = 0 THEN e END), 6) AS emb_0,
               round(MAX(CASE WHEN dim = 1 THEN e END), 6) AS emb_1,
               round(MAX(CASE WHEN dim = 2 THEN e END), 6) AS emb_2,
               round(MAX(CASE WHEN dim = 3 THEN e END), 6) AS emb_3,
               round(MAX(CASE WHEN dim = 4 THEN e END), 6) AS emb_4,
               round(MAX(CASE WHEN dim = 5 THEN e END), 6) AS emb_5,
               round(MAX(CASE WHEN dim = 6 THEN e END), 6) AS emb_6,
               round(MAX(CASE WHEN dim = 7 THEN e END), 6) AS emb_7
        FROM emb GROUP BY rep)
      SELECT n.doc_id, round(nm.norm, 6) AS raw_l2_norm,
             w.emb_0, w.emb_1, w.emb_2, w.emb_3, w.emb_4, w.emb_5, w.emb_6, w.emb_7
      FROM nrm n
      JOIN grp g ON n.t = g.t
      JOIN nm ON nm.rep = g.rep
      JOIN wide w ON w.rep = g.rep
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** LENGTH-BUCKETED BATCHING — the padding-efficiency stage of a
    * training-data pipeline: documents batch with similarly-sized
    * neighbors (16 docs per batch, ordered by exact length within
    * bucket), so a batch pads to its own max instead of the corpus max.
    * Buckets are QUANTILE-DRIVEN (r4 verdict item 3 — the fixed 8-bucket
    * cut capped the rank at 8 window partitions): bucket count B grows
    * with the corpus, B = max(8, ⌈N/64⌉), and each document's
    * bucket is its equal-frequency quantile slot
    * `(cum_lt · B) div N` where cum_lt = #docs with strictly smaller
    * token count — so every bucket holds ≈64 docs (≈4 batches) of
    * adjacent lengths regardless of the length DISTRIBUTION (a skewed
    * corpus no longer piles into one fixed-width bucket), and equal
    * lengths always share a bucket. Reports per batch: size, max/sum
    * tokens, and the padding fraction 1 − sum/(max·n) a trainer wastes.
    *
    * 100 TB shape: token count is map-side; cum_lt comes from the length
    * HISTOGRAM (groupBy n_tokens — map-side partials shuffle only
    * distinct lengths, a bounded set) prefix-summed by
    * [[graft.etl.SequencePack.withPrefixSum]] (range-partitioned scan,
    * driver holds numPartitions longs — never an unpartitioned window);
    * docs pick their bucket through a broadcast join against that
    * bounded histogram; the per-bucket rank runs in B window partitions
    * that GROW with the data (the r4 parallelism cap removed, and the r5
    * 1024-bucket cap with it: B is now UNCAPPED, so batches-per-bucket
    * stays ≈4 at any corpus size — every per-bucket window is ~64 rows
    * forever; the broadcast join still carries one row per DISTINCT
    * length, bounded by the token-length range, not by B). N is one
    * scalar count
    * (bounded driver state). Fully deterministic (integer arithmetic
    * only) → exact DuckDB oracle. */
  private val llmLengthBucketBatch = GraftQuery(
    "llm_length_bucket_batch",
    (s, dir) => {
      // the (doc_id, n_tokens) table materializes ONCE (localCheckpoint —
      // the Bpe convention): three consumers (the N count, the histogram,
      // the bucket join) would otherwise each re-run the normalize+split
      // pass over the raw text (measured 17.5 s → 4.7 s at sf6)
      val lens = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(TextOps.normalize(col("text")), " ")).cast(LongType).as("n_tokens"))
        .stageCheckpoint()
      val n = lens.count()
      val b = math.max(8L, (n + 63L) / 64L)
      val hist = lens.groupBy(col("n_tokens")).agg(count(lit(1)).as("c"))
      val bucketOf = graft.etl.SequencePack
        .withPrefixSum(hist, Seq(col("n_tokens").asc), "c", prefixCol = "cum_lt")
        .select(col("n_tokens"),
          expr(s"CAST((cum_lt * ${b}L) DIV ${n}L AS INT)").as("bucket"))
      val byBucket = Window.partitionBy(col("bucket"))
        .orderBy(col("n_tokens").asc, col("doc_id").asc)
      lens.join(broadcast(bucketOf), "n_tokens")
        .withColumn("batch_id", ((row_number().over(byBucket) - 1) / 16).cast(LongType))
        .groupBy(col("bucket"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_tokens"),
          sum(col("n_tokens")).as("sum_tokens"))
        .withColumn("pad_frac", round(
          lit(1.0) - col("sum_tokens").cast(DoubleType) /
            (col("max_tokens") * col("n_docs")).cast(DoubleType), 6))
        .orderBy(col("bucket").asc_nulls_first, col("batch_id").asc_nulls_first)
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      tot AS (SELECT COUNT(*) AS n,
                     GREATEST(8, (COUNT(*) + 63) // 64) AS b
              FROM t),
      hist AS (SELECT n_tokens, COUNT(*) AS c FROM t GROUP BY n_tokens),
      cum AS (SELECT n_tokens,
                     CAST(SUM(c) OVER (ORDER BY n_tokens ASC) - c AS BIGINT) AS cum_lt
              FROM hist),
      b AS (
        SELECT doc_id, t.n_tokens,
               CAST((cum.cum_lt * tot.b) // tot.n AS INT) AS bucket
        FROM t JOIN cum ON t.n_tokens = cum.n_tokens CROSS JOIN tot),
      r AS (
        SELECT bucket, n_tokens,
               CAST((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY n_tokens ASC, doc_id ASC) - 1) // 16 AS BIGINT) AS batch_id
        FROM b)
      SELECT bucket, batch_id,
             COUNT(*) AS n_docs,
             MAX(n_tokens) AS max_tokens,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             round(1.0 - CAST(SUM(n_tokens) AS DOUBLE) / CAST(MAX(n_tokens) * COUNT(*) AS DOUBLE), 6) AS pad_frac
      FROM r
      GROUP BY bucket, batch_id
      ORDER BY bucket ASC NULLS FIRST, batch_id ASC NULLS FIRST"""))

  /** EXACT SUBSTRING (duplicated-span) DEDUP — the "dedup at the substring
    * level" stage of Lee et al.'s *Deduplicating Training Data Makes
    * Language Models Better*, re-expressed for a cluster: their suffix
    * array is a single-node structure, so the distributed formulation
    * marks every word 5-gram whose corpus-wide occurrence count is ≥ 2
    * and merges overlapping/adjacent marked window starts into MAXIMAL
    * duplicated spans per document (gaps-and-islands over positions).
    * Any duplicated substring of ≥ 5 words is a run of duplicated
    * 5-gram starts, so the recovered spans cover exactly the ≥K-word
    * duplicated regions a suffix array would report. The corpus plants
    * the house boilerplate passage (first 25 words of doc 0 appended to
    * every doc_id % 3 == 0) so the spans to find provably exist, and the
    * oracle re-derives them from scratch.
    *
    * 100 TB shape: dedup-first (identical planted texts group to one rep;
    * shingle counts weighted by group size, so the occurrence threshold
    * sees the TRUE corpus multiplicity while the explode runs once per
    * distinct text). The heavy intermediate — one row per word position —
    * is distinct-corpus-sized and map-generated; the occurrence count is
    * a groupBy(shingle) whose partial aggregate collapses repeats
    * map-side; the mark-back is a semi-join keyed on the shingle (at
    * production scale the key would be the shingle's 128-bit hash, not
    * its text); the island merge is a per-document window over MARKED
    * positions only (sparse — duplicated regions, not the whole doc).
    * Nothing is all-pairs and nothing global-sorts. */
  private val llmSubstringDedup = GraftQuery(
    "llm_substring_dedup",
    (s, dir) => {
      val K = 5
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.normalize(col("text")).as("t"))
      val boiler = d.filter(col("doc_id") === 0)
        .select(array_join(slice(split(col("t"), " "), 1, 25), " ").as("btext"))
      val planted = d.crossJoin(broadcast(boiler))
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("t"), lit(" "), col("btext")))
            .otherwise(col("t")).as("pt"))
      // dedup-first on the PLANTED text (plant depends on doc_id, so
      // grouping must follow it — the llm_chunk_dedup precedent). The
      // group table is materialized ONCE (localCheckpoint): `words` and
      // `pos` below each feed two consumers, so without it the text-keyed
      // group shuffle and the position explode re-run per consumer — the
      // measured super-linear residue at sf6 (2.33x for 2x data; 1.68x
      // after, see CROSSOVER round-4 sweep).
      val g = planted.groupBy(col("pt"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"),
          count(lit(1)).as("gsz"))
        .stageCheckpoint()
      val words = g
        .withColumn("w", split(col("pt"), " "))
        .select(col("rep"), col("gsz"), col("members"), col("w"),
          size(col("w")).cast(LongType).as("n_words"))
      // one row per COMPLETE 5-word window; `w` is an attribute, so the
      // lambda bodies stay CSE-safe (the cdcChunks lesson)
      val pos = words
        .select(col("rep"), col("gsz"), posexplode(
          when(size(col("w")) >= K,
            transform(sequence(lit(1), size(col("w")) - (K - 1)),
              i => concat_ws(" ", slice(col("w"), i, lit(K)))))
            .otherwise(array().cast(ArrayType(StringType)))))
        .select(col("rep"), col("gsz"), (col("pos") + 1).as("p"), col("col").as("sh"))
      val dupSh = pos.groupBy(col("sh"))
        .agg(sum(col("gsz")).as("occ"))
        .filter(col("occ") >= 2)
        .select("sh")
      val marked = pos.join(dupSh, Seq("sh"), "left_semi")
      val byRep = Window.partitionBy(col("rep")).orderBy(col("p").asc)
      val spans = marked
        .withColumn("prev", lag(col("p"), 1).over(byRep))
        .withColumn("brk",
          when(col("prev").isNull || col("p") > col("prev") + K, 1).otherwise(0))
        .withColumn("span_id",
          sum(col("brk")).over(byRep.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("rep"), col("span_id"))
        .agg(min(col("p")).as("s"), (max(col("p")) + (K - 1)).as("e"))
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n_dup_spans"),
          sum(col("e") - col("s") + 1).cast(LongType).as("dup_words"))
      words.select(col("rep"), col("members"), col("n_words"))
        .join(spans, Seq("rep"), "left")
        .select(explode(col("members")).as("doc_id"), col("n_words"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          coalesce(col("dup_words"), lit(0L)).as("dup_words"))
        .withColumn("kept_words", col("n_words") - col("dup_words"))
        .withColumn("dup_frac",
          round(col("dup_words").cast(DoubleType) / col("n_words").cast(DoubleType), 4))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""
      WITH d AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
      b AS (
        SELECT array_to_string((string_split(t, ' '))[1:25], ' ') AS btext FROM d WHERE doc_id = 0),
      p AS (
        SELECT doc_id,
               string_split(CASE WHEN doc_id % 3 = 0 THEN concat(t, ' ', btext) ELSE t END, ' ') AS words
        FROM d, b),
      nw AS (SELECT doc_id, len(words) AS n_words FROM p),
      pos AS (
        SELECT doc_id,
               unnest([{'p': i, 'sh': array_to_string(words[i:i+4], ' ')}
                 FOR i IN range(1, greatest(len(words) - 3, 1))], recursive := true)
        FROM p),
      dup AS (SELECT sh FROM pos GROUP BY sh HAVING COUNT(*) >= 2),
      m AS (SELECT doc_id, p FROM pos WHERE sh IN (SELECT sh FROM dup)),
      isl AS (
        SELECT doc_id, p,
               CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
                      OR p > lag(p) OVER (PARTITION BY doc_id ORDER BY p) + 5
                    THEN 1 ELSE 0 END AS brk
        FROM m),
      sp AS (
        SELECT doc_id, p,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS span_id
        FROM isl),
      spans AS (
        SELECT doc_id, span_id, min(p) AS s, max(p) + 4 AS e
        FROM sp GROUP BY doc_id, span_id),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
               CAST(SUM(e - s + 1) AS BIGINT) AS dup_words
        FROM spans GROUP BY doc_id)
      SELECT nw.doc_id, nw.n_words,
             COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
             COALESCE(a.dup_words, 0) AS dup_words,
             nw.n_words - COALESCE(a.dup_words, 0) AS kept_words,
             round(CAST(COALESCE(a.dup_words, 0) AS DOUBLE) / CAST(nw.n_words AS DOUBLE), 4) AS dup_frac
      FROM nw LEFT JOIN agg a ON nw.doc_id = a.doc_id
      ORDER BY nw.doc_id ASC NULLS FIRST"""))

  /** DETERMINISTIC CORPUS SHUFFLE — the training-order randomization stage:
    * every epoch the corpus must be read in a pseudo-random order that is
    * (a) reproducible bit-for-bit for restartable training, (b) derivable
    * without a global sort. Each doc gets a shuffle key (the overflow-proof
    * Knuth hash of doc_id + epoch seed), a shard (key mod nShards — the
    * file a 100 TB writer would route the doc to), and its position WITHIN
    * the shard (rank by key). One hash-partitioned exchange + a per-shard
    * local sort — the global permutation without ever globally sorting;
    * re-keying the seed reshuffles the next epoch. The window is
    * partitioned by shard (never unpartitioned), and the oracle re-derives
    * the identical permutation arithmetic. */
  /** INCREMENTAL corpus preparation (examples.IncrementalPrep) — the
    * nightly training-data job: a new crawl batch runs within-batch
    * exact dedup → quality filter → near-dup vs the CORPUS through the
    * persisted MinHash index (layouts.MinHashIndex.probe: bucket-pruned
    * band scan, batch-proportional — the corpus is never rescanned) →
    * within-batch near-dup → doc-level decontamination, and (outside
    * this deterministic registry row) appends the keepers to the index.
    * The batch fixture (Fixtures.incPrepBatch) plants one family per
    * stage: raw-text twins (batch exact dedup), digit junk (quality),
    * the corpus's mutants + exact copies (corpus near-dup), word-
    * reversed novels + their first-word mutants (batch near-dup — the
    * reversal shares the word SET but no 5-shingle with the corpus),
    * and stopword-filler + eval-snippet leaks (decontamination).
    * Registered as the per-stage attrition report.
    *
    * Oracle: full SQL recompute — stage 1–2 from the corpus-prep
    * machinery, BOTH minhash stages from the incsig seed-family dump
    * (the llm_dedup_minhash_incremental pattern for the probe, the
    * llm_dedup_minhash self-join for the batch pass), and the
    * llm_decontaminate concentration rule at doc level. */
  private val llmCorpusPrepIncremental = GraftQuery(
    "llm_corpus_prep_incremental",
    (s, dir) => {
      val corpusPath = graft.Fixtures.neardupCorpus(s, dir)
      val batchPath = graft.Fixtures.incPrepBatch(s, dir)
      graft.Fixtures.incPrepShingleHashes(s, dir) // primitive dump for the oracle
      val corpus = s.read.parquet(corpusPath)
        .filter(col("id") % 1000000000L < 1000000L)
      val batch = s.read.parquet(batchPath)
      val (bandsT, repsT) = neardupRepbaseIndex(s, dir)
      val words = split(TextOps.normalize(col("text")), " ")
      // native word_shingles (r18): same values under the .distinct()
      // as the declarative multiset form it replaced
      val evalSh = corpus.filter(col("id") % 1000000000L % 97 === 0)
        .withColumn("graft_snip", concat_ws(" ", slice(words, 3, 12)))
        .select(explode(expr("word_shingles(graft_snip, 5)")).as("sh"))
        .distinct()
      graft.examples.IncrementalPrep.run(s, bandsT, repsT, batch,
        evalNgrams = Some(evalSh)).attrition
        .orderBy(col("stage_ord").asc_nulls_first)
    },
    Some(raw"""
      WITH corpus AS (
        SELECT id, text
        FROM ${Fixtures.oracleScan("neardup")}
        WHERE id % 1000000000 < 1000000),
      batch AS (
        SELECT id, text
        FROM ${Fixtures.oracleScan("incbatch")}),
      b1 AS (
        SELECT id, text FROM (
          SELECT id, text,
                 ROW_NUMBER() OVER (PARTITION BY text ORDER BY id ASC) AS rn
          FROM batch) WHERE rn = 1),
      q AS (
        SELECT id, text,
               0.4 * (CAST(len(list_filter(words, w -> w IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
                      / CAST(len(words) AS DOUBLE))
               + 0.3 * least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
               + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                              / CAST(length(text) AS DOUBLE)) AS quality
        FROM (SELECT id, text,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
              FROM b1)),
      b2 AS (SELECT id, text FROM q WHERE quality >= 0.45),
      crep AS (
        SELECT t, min(id) AS rep
        FROM (SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM corpus)
        GROUP BY t),
      brep2 AS (
        SELECT t, min(id) AS rep, list_sort(list(id)) AS members
        FROM (SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM b2)
        GROUP BY t),
      ${shingleSetCte("cs", "crep")}
      ${shingleSetCte("bs2", "brep2")}
      ${shingleHashCte("incsig")}
      ${repSigCte("csig", "cs")}
      ${repSigCte("bsig2", "bs2")}
      ${bandKeyCte("cbands", "csig")}
      ${bandKeyCte("bbands2", "bsig2")}
      cand3 AS (
        SELECT DISTINCT bb.rep AS brep_, cb.rep AS crep_
        FROM bbands2 bb JOIN cbands cb ON bb.b = cb.b AND bb.bk = cb.bk),
      ver3 AS (
        SELECT DISTINCT v.brep_ FROM cand3 v
        JOIN bs2 sb ON sb.rep = v.brep_
        JOIN cs sc ON sc.rep = v.crep_
        WHERE CASE WHEN len(list_distinct(list_concat(sb.shs, sc.shs))) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(sb.shs, sc.shs)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(sb.shs, sc.shs))) AS DOUBLE)
              END >= 0.5),
      drop3 AS (
        SELECT DISTINCT m.m AS id
        FROM (SELECT rep, unnest(members) AS m FROM brep2) m
        JOIN ver3 v ON m.rep = v.brep_),
      b3 AS (SELECT id, text FROM b2 WHERE id NOT IN (SELECT id FROM drop3)),
      brep3 AS (
        SELECT t, min(id) AS rep, list_sort(list(id)) AS members
        FROM (SELECT id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM b3)
        GROUP BY t),
      mem3 AS (SELECT rep, unnest(members) AS m FROM brep3),
      ${shingleSetCte("bs3", "brep3")}
      ${repSigCte("bsig3", "bs3")}
      ${bandKeyCte("bands3", "bsig3")}
      cand4 AS (
        SELECT DISTINCT a.rep AS ra, c.rep AS rb
        FROM bands3 a JOIN bands3 c ON a.b = c.b AND a.bk = c.bk AND a.rep < c.rep),
      ver4 AS (
        SELECT v.ra, v.rb FROM cand4 v
        JOIN bs3 sa ON sa.rep = v.ra
        JOIN bs3 sb ON sb.rep = v.rb
        WHERE CASE WHEN len(list_distinct(list_concat(sa.shs, sb.shs))) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(sa.shs, sb.shs)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(sa.shs, sb.shs))) AS DOUBLE)
              END >= 0.5),
      drop4 AS (
        SELECT DISTINCT doc_b AS id FROM (
          SELECT greatest(ma.m, mb.m) AS doc_b
          FROM ver4 v JOIN mem3 ma ON ma.rep = v.ra JOIN mem3 mb ON mb.rep = v.rb
          UNION ALL
          SELECT b.m AS doc_b FROM mem3 a JOIN mem3 b ON a.rep = b.rep AND a.m < b.m)),
      b4 AS (SELECT id, text FROM b3 WHERE id NOT IN (SELECT id FROM drop4)),
      evalq AS (
        SELECT words[3:14] AS snip
        FROM (SELECT id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
              FROM corpus)
        WHERE id % 1000000000 % 97 = 0),
      evsh AS (
        SELECT DISTINCT unnest([array_to_string(snip[i:i+4], ' ')
          FOR i IN range(1, greatest(len(snip) - 3, 2))]) AS sh
        FROM evalq),
      dsh AS (
        SELECT id, list_distinct([array_to_string(words[i:i+4], ' ')
          FOR i IN range(1, greatest(len(words) - 3, 2))]) AS shs
        FROM (SELECT id,
                     string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
              FROM b4)),
      hit5 AS (SELECT id, len(shs) AS n_sh, unnest(shs) AS sh FROM dsh),
      drop5 AS (
        SELECT DISTINCT id FROM (
          SELECT h.id, h.n_sh, COUNT(*) AS hits
          FROM hit5 h JOIN evsh e ON e.sh = h.sh
          GROUP BY h.id, h.n_sh)
        WHERE CAST(hits AS DOUBLE) >= CAST(n_sh AS DOUBLE) * 0.5),
      b5 AS (SELECT id, text FROM b4 WHERE id NOT IN (SELECT id FROM drop5)),
      tk AS (
        SELECT 'batch' AS k, COUNT(*) AS n, CAST(0 AS BIGINT) AS tok FROM batch
        UNION ALL
        SELECT 'b1', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM b1
        UNION ALL
        SELECT 'b2', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM b2
        UNION ALL
        SELECT 'b3', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM b3
        UNION ALL
        SELECT 'b4', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM b4
        UNION ALL
        SELECT 'b5', COUNT(*),
               CAST(SUM(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS BIGINT)
        FROM b5)
      SELECT CAST(r.ord AS INTEGER) AS stage_ord, r.stage,
             (SELECT n FROM tk WHERE k = r.kin) AS docs_in,
             (SELECT n FROM tk WHERE k = r.kout) AS docs_out,
             (SELECT tok FROM tk WHERE k = r.kout) AS tokens_out
      FROM (VALUES (1, 'batch_exact_dedup', 'batch', 'b1'),
                   (2, 'quality_filter', 'b1', 'b2'),
                   (3, 'corpus_neardup', 'b2', 'b3'),
                   (4, 'batch_neardup', 'b3', 'b4'),
                   (5, 'decontaminate', 'b4', 'b5')) AS r(ord, stage, kin, kout)
      ORDER BY stage_ord ASC NULLS FIRST"""))

  private val llmCorpusShuffle = GraftQuery(
    "llm_corpus_shuffle",
    (s, dir) => {
      val nShards = 16
      val seed = 42L
      val byShard = Window.partitionBy(col("shard"))
        .orderBy(col("skey").asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.Det.knuthU(col("doc_id") + lit(seed)).as("skey"))
        .withColumn("shard", (col("skey") % nShards).cast(IntegerType))
        .withColumn("shard_pos", row_number().over(byShard).cast(LongType))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some(s"""
      SELECT doc_id,
             ${graft.Det.sqlKnuthU("doc_id + 42")} AS skey,
             CAST(${graft.Det.sqlKnuthU("doc_id + 42")} % 16 AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY ${graft.Det.sqlKnuthU("doc_id + 42")} % 16
               ORDER BY ${graft.Det.sqlKnuthU("doc_id + 42")}, doc_id) AS BIGINT) AS shard_pos
      FROM documents
      ORDER BY doc_id ASC NULLS FIRST"""))

  override def queries: Seq[GraftQuery] = Seq(
    llmShingleGenerate,
    llmDedupExact, llmDedupMinhash, llmDedupMinhashIncremental,
    llmDedupSimhash, llmDedupClusters, llmJaccardPairs,
    llmCosineTopk, llmKnnJoin, llmKnnJoinIvf, llmKnnJoinIvfPersisted,
    llmEmbedNeardup, llmAnnIvf,
    llmAnnIvfPersisted, llmAnnLsh, llmAnnLshMultiprobe,
    llmTextStats, llmTfidf, llmMultimodalStruct, llmHistogram,
    llmLangId, llmQualityScore, llmTokenCount, llmFingerprint,
    llmCorpusPrep, llmCorpusPrepStages, llmCorpusPrepIncremental,
    llmDecontaminate, llmDecontaminateChunks, llmRepetitionStats, llmPiiScrub, llmDomainMix,
    llmSequencePack, llmEmbedQuantize, llmTokenBudgetMix,
    llmChunkDedup, llmBigramLmScore, llmSemdedup, llmBpeTokenize,
    llmSubstringDedup, llmCorpusShuffle, llmEmbedPq, llmAnnPqAdc, llmAnnIvfPq,
    llmAnnIvfPqPersisted, llmAnnRecallFloor, llmHashEmbed, llmLengthBucketBatch)
}
