package graft.layouts

import graft.functions.TextOps
import graft.etl.StageCheckpoint.StageCheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted banded-MinHash signature index of a text corpus — the
  * INCREMENTAL-INGEST answer to near-dup dedup at 100 TB: pay the
  * signature pass over the corpus ONCE, then dedup every new crawl batch
  * against the index without rescanning or re-hashing the corpus. The
  * batch side computes its own signatures map-side (it is the small
  * side), joins the band table on the band key, and verifies candidates
  * with exact Jaccard — the same shape the ANN family uses for vectors
  * (IvfIndex/PqIndex: persisted cent_id layouts probed by new queries).
  *
  * Two bucketed tables per (dir, tag):
  *   - `mhidx_<tag>_bands`(bkey64 bigint, rep bigint) — one row per
  *     (band, dedup-group representative). `bkey64` is
  *     xxhash64(`<band_idx>:<sig[4b]>,<sig[4b+1]>,…`) — the 8-byte form
  *     of the human-auditable band-key string the DuckDB oracle
  *     recomputes (the llm_dedup_minhash JVM-twin convention; both
  *     sides derive the SAME string before hashing, so the join is
  *     equality-faithful). An 8-byte key (r8) instead of the ~45-byte
  *     string cuts the probe's corpus-linear scan decode ~5× AND turns
  *     the candidate join's hashed relation into the dense
  *     single-long-key LongHashedRelation (~12 ns/probe vs ~80 for a
  *     string key — the Joins.broadcastLookupResidual finding applied
  *     to a layout). A 64-bit collision can only ADD a candidate pair,
  *     which the exact-Jaccard verification step then discards —
  *     recall-safe by construction.
  *   - `mhidx_<tag>_reps`(rep bigint, norm string) — the representative
  *     texts, bucketed by rep: candidate verification fetches ONLY the
  *     touched reps' texts by id and recomputes their shingles, never
  *     scanning the raw corpus.
  *
  * Index rows are IDS-ONLY (the embed_neardup lesson): dedup-first
  * groups by NORMALIZED text, so k exact copies contribute ONE band row
  * set, and the index never carries shingle arrays or signatures.
  *
  * Durability: the layout (INCLUDING appended batches) survives JVM
  * restarts — Bucketed.ensure writes a `_GRAFT_COMPLETE` marker after a
  * successful build and, in a fresh JVM whose in-memory catalog has
  * forgotten the table, RE-REGISTERS the intact directory instead of
  * wiping it, so "pay the signature pass once" holds across sessions,
  * not just within one (r7 ADVICE). A crashed build leaves no marker
  * and is rebuilt from the base corpus.
  *
  * Cache note: layouts are keyed by Bucketed.ensure's content signature
  * of `srcTables` under `dir` (plus spec schema), so regenerated
  * testdata rotates the index. A corpus built from a FIXTURE parquet
  * must still declare the fixture's source table(s) — the fixture is a
  * deterministic function of those plus graft.Fixtures.FixtureVersion,
  * which bumps whenever fixture-construction logic changes. */
object MinHashIndex {

  /** Band rows (bkey, bkey64, rep) + rep texts (rep, norm) for `corpus`
    * (id, text), dedup-first on the normalized text. `bkey` is the
    * auditable string derivation; `bkey64` its xxhash64 — the stored
    * and joined form. */
  private[graft] def bandRows(corpus: DataFrame, shingleWords: Int,
      nHashes: Int, nBands: Int, rowsPerBand: Int): (DataFrame, DataFrame) = {
    val reps = repRows(corpus)
    (bandsOfReps(reps, shingleWords, nHashes, nBands, rowsPerBand), reps)
  }

  /** Dedup-group representatives (rep, norm) of a (id, text) corpus —
    * the shared first stage of [[bandRows]] and [[probe]]. */
  private def repRows(corpus: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus
      .withColumn("norm", TextOps.normalize(col("text")))
      .groupBy(col("norm")).agg(min(col("id")).as("rep"))
      .select(col("rep"), col("norm"))
  }

  /** Band rows derived from a (rep, norm) rep table — map-side only
    * (signature + band explode), so a caller holding a MATERIALIZED rep
    * table pays no second aggregation for its bands. */
  private def bandsOfReps(reps: DataFrame, shingleWords: Int,
      nHashes: Int, nBands: Int, rowsPerBand: Int): DataFrame =
    reps
      .withColumn("sig", expr(s"minhash_sig(word_shingles(norm, $shingleWords), $nHashes)"))
      .select(col("rep"), posexplode(transform(
        sequence(lit(0), lit(nBands - 1)),
        b => array_join(
          slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)).cast("array<string>"), ","))))
      .select(concat(col("pos").cast("string"), lit(":"), col("col")).as("bkey"),
        col("rep"))
      .withColumn("bkey64", xxhash64(col("bkey")))

  /** Probe-side pruning cap: past this many distinct batch keys the
    * driver collect feeding the file-pruned scan stops being KB-scale and
    * the keys touch every bucket anyway — scan everything. */
  private[graft] val MaxPruneKeys = 100000

  /** Bucket id of a long key under Spark's bucketing spec:
    * pmod(Murmur3Hash(key, seed 42), n) — the exact
    * HashPartitioning.partitionIdExpression derivation the writer used
    * to place the row, replicated driver-side so the probe can select
    * bucket FILES without a Spark job. A divergence here would silently
    * LOSE matches (rows live where the writer put them), so
    * PlanSpec pins this function against `pmod(hash(col), n)` computed
    * by the engine on adversarial longs, and the pruned probe against
    * an exhaustive-jaccard oracle. */
  private[graft] def bucketOfLong(key: Long, n: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(key, 42)
    ((h % n) + n) % n
  }

  /** Probe telemetry (the route-auditability convention,
    * VectorLsh.lastRoute): per probed table, (files selected, files
    * total) and whether the file-pruned path ran — so a scan-cost
    * regression or an unexpectedly unpruned run is attributable from the
    * caller. (bands, reps); None until the first probe — and CLEARED at
    * probe entry, so a probe that throws mid-way can never be read as
    * the previous probe's stats. Single-slot like the other telemetry
    * globals: read it right after the probe whose route you are
    * auditing; concurrent probes in one JVM overwrite each other. */
  final case class ScanStats(selectedFiles: Int, totalFiles: Int, pruned: Boolean)
  @volatile private[graft] var lastProbeStats: Option[(ScanStats, ScanStats)] = None

  /** FILE-PRUNED scan of a bucketed index table for a driver-resident
    * key set: map keys → bucket ids ([[bucketOfLong]]) → bucket files
    * ([[Bucketed.bucketFiles]]), read ONLY those as plain parquet. The
    * selection is exact, not approximate: a row with key k lives in
    * bucket(k)'s files, so unselected files cannot hold a match, and
    * selected files' non-matching rows die in the join probe (~12
    * ns/row) — NOT in a per-row InSet filter, whose ~78 ns/row cost
    * (measured in an r9 A/B: scan 0.16 → 1.51 s, join 0.59 → 2.85 s at
    * 4.9 k keys on sf24t) made the r8 row-filter form a measured LOSS whenever
    * keys touched a meaningful file fraction — that negative result is
    * why this is FILE-list pruning with no residual filter, which wins
    * whenever ANY file goes unread (condition: touched < total, vs the
    * row-filter form's keys·8 ≤ buckets). Expected touched count is
    * B·(1 − e^(−keys/B)): at a 100 TB index (files ≫ batch keys) the
    * scan term is bounded by the BATCH's key count, not the corpus. */
  private def prunedScan(s: SparkSession, table: String,
      keys: Array[Long]): (DataFrame, ScanStats) = {
    val files = Bucketed.bucketFiles(s, table)
    val total = files.valuesIterator.map(_.size).sum
    if (keys.isEmpty)
      return (s.table(table).filter(lit(false)), ScanStats(0, total, pruned = true))
    if (keys.length > MaxPruneKeys)
      return (s.table(table), ScanStats(total, total, pruned = false))
    val n = bucketsOf(s, table)
    val sel = keys.map(bucketOfLong(_, n)).distinct.toSeq.sorted
      .flatMap(files.getOrElse(_, Nil))
    if (sel.isEmpty) // every touched bucket is empty: no match is possible
      (s.table(table).filter(lit(false)), ScanStats(0, total, pruned = true))
    else if (sel.length < total)
      (s.read.schema(s.table(table).schema).parquet(sel: _*),
        ScanStats(sel.length, total, pruned = true))
    else (s.table(table), ScanStats(total, total, pruned = false))
  }

  /** Bucket count of a registered bucketed table (from the catalog, so
    * append always matches the layout it extends). MEMOIZED per
    * (context, table) — r17: the DESC FORMATTED + head() resolution is a
    * ~20–50 ms plan + local job, paid three times per probe; r18: weak
    * context keys + hive-metastore bypass via LayoutUtil.CatalogMemo
    * (see Bucketed.tableDirMemo for the lifecycle rationale). The count
    * is immutable for a registered layout: append/compact derive their
    * write spec from it, and a REBUILT layout lives under a different
    * content-tagged database, so the qualified name itself rotates. */
  private val bucketsMemo = new LayoutUtil.CatalogMemo[Integer]

  private[graft] def bucketsOf(s: SparkSession, table: String): Int =
    bucketsMemo.getOrCompute(s, table) {
      // catalog metadata API, not DESC FORMATTED + head() (r18): the SQL
      // form launches ~3 tiny executeTake jobs per memo-missed
      // resolution; getTableMetadata is a pure driver call
      val meta = s.sessionState.catalog.getTableMetadata(
        s.sessionState.sqlParser.parseTableIdentifier(table))
      meta.bucketSpec.map(_.numBuckets).getOrElse(throw new IllegalStateException(
        s"$table is not a bucketed table — cannot derive its bucket count"))
    }

  /** Ensure the index layout exists; returns (bandsTable, repsTable)
    * fully qualified for `spark.table`.
    *
    * `buckets` ≤ 0 (the default) sizes both tables by the fact layouts'
    * rule over the `srcTables` bytes ([[Bucketed.defaultBuckets]]: one
    * bucket per ~32 MB, a power of two, at least 8). The BANDS table is
    * also the probe's PRUNING unit (see [[probe]]): a batch's band keys
    * select bucket FILES, and the expected selected count is
    * B·(1 − e^(−keys/B)), so pruning bites only when a batch's distinct
    * keys are fewer than the buckets. A 20-doc probe carries ~320 band
    * keys (16 bands × 20 reps), which touch ~63.6 of 64 buckets: the
    * former fixed 64 pruned nothing at sf0.1, yet made every probe, append
    * and compaction open 64 files per table. Sized by bytes, the sf0.1
    * index has 8 buckets and the same probe reads 8 files per table; the
    * count grows with the corpus, where corpus buckets outnumber a
    * batch's keys and the file-pruned scan skips buckets again.
    *
    * `tag` must encode the corpus DEFINITION, not just its sources:
    * Bucketed.ensure's cache signature covers the source tables' bytes
    * and the spec's name/key/schema, but NOT the filter that selected
    * `corpus` from them — two callers indexing different subsets of the
    * same table under one tag would silently share a layout. */
  def ensure(s: SparkSession, dir: String, corpus: DataFrame, tag: String,
      shingleWords: Int, nHashes: Int, nBands: Int, rowsPerBand: Int,
      srcTables: Seq[String], buckets: Int = 0): (String, String) = {
    val (bands, reps) = bandRows(corpus, shingleWords, nHashes, nBands, rowsPerBand)
    val n = if (buckets > 0) buckets else Bucketed.defaultBuckets(dir, srcTables)
    val Seq(b, r) = Bucketed.ensure(s, dir, Seq(
      Bucketed.Spec(s"mhidx_${tag}_bands", bands.select(col("bkey64"), col("rep")),
        "bkey64", srcTables),
      Bucketed.Spec(s"mhidx_${tag}_reps", reps, "rep", srcTables)), n)
    (b, r)
  }

  /** Probe an ensured index with a new batch (id, text): returns
    * (brep, crep, jaccard) — each batch dedup-group representative
    * paired with every indexed corpus rep whose exact shingle Jaccard ≥
    * `threshold` — plus the batch's own rep table (rep, norm) for
    * member expansion or a follow-up [[append]]. The probe never
    * rescans the corpus: the batch's band rows (KB–MB by the fixed-batch
    * contract) BROADCAST into a single-long-key BroadcastHashJoin
    * against the index scan — the index side is NEVER shuffled, never
    * sorted, and probes the dense LongHashedRelation at ~12 ns/row
    * (PlanSpec-pinned; the r7 SMJ-on-bucketing shape paid a per-probe
    * string compare plus the merge machinery on every index row), and
    * verification texts are fetched by id from the rep table for the
    * touched reps only. The candidate set is COLLECTED (r18): it feeds
    * multiple consumers as the broadcast build side anyway, so holding
    * it driver-side merges the key-collect and checkpoint actions the
    * r17 shape paid separately.
    *
    * DRIVER BOUND: both collects are unbounded. The band collect holds
    * batch reps × bands rows. The candidate collect holds one row per
    * distinct (batch rep, indexed rep) pair sharing a band key — batch
    * reps × the band keys' fan-out into the index, which a band-key hot
    * spot (many indexed reps with one band slice) can make corpus-sized.
    * `spark.driver.maxResultSize` is the only backstop: past it the probe
    * fails loudly rather than degrading. A cap with a distributed
    * fallback is open work (ROADMAP D); a `limit(cap + 1)` guard would add
    * `executeTake` jobs to every probe.
    *
    * CONCURRENCY CONTRACT (r9 ADVICE): the file-pruned scan captures the
    * bucket FILE LIST driver-side and reads those paths as plain parquet,
    * so an [[append]] or [[compact]] racing the probe in the same session
    * can delete or supersede a listed file mid-job (FileNotFoundException,
    * or a probe over the pre-append file set). Probes must not overlap
    * index MAINTENANCE on the same layout — the same single-writer window
    * the appendGuard marker protocol already implies for writers (the
    * ingest lifecycle is sequential by construction: probe → append →
    * maybe compact). Concurrent probes against a quiescent index are
    * fine. */
  def probe(s: SparkSession, bandsTable: String, repsTable: String,
      batch: DataFrame, shingleWords: Int, nHashes: Int, nBands: Int,
      rowsPerBand: Int, threshold: Double): (DataFrame, DataFrame) = {
    val p = probeBatch(s, bandsTable, repsTable, batch, shingleWords, nHashes,
      nBands, rowsPerBand, threshold)
    (p.pairs, p.bReps)
  }

  /** A probe's result: the public (`pairs`, `bReps`) of [[probe]] plus the
    * batch's band rows `bBands` (bkey64, brep), which the probe already
    * holds driver-side — a LocalRelation, so reusing it runs no job and
    * no second signature pass ([[batchRepPairs]], [[appendRows]]). */
  private[graft] final case class Probed(pairs: DataFrame, bReps: DataFrame,
      bBands: DataFrame)

  private[graft] def probeBatch(s: SparkSession, bandsTable: String,
      repsTable: String, batch: DataFrame, shingleWords: Int, nHashes: Int,
      nBands: Int, rowsPerBand: Int, threshold: Double): Probed = {
    lastProbeStats = None // cleared FIRST: no failure below — including
    // the lease refusal — may expose the previous probe's stats
    // ENFORCE the concurrency contract above instead of only stating
    // it (r11): a probe racing maintenance reads a half-appended batch
    // or a GC'd file list — refuse loudly while the maintainer's lease
    // is up. Advisory (maintenance can start mid-probe), but it turns
    // the common violation — probe and ingest scheduled together —
    // into a clear error instead of silently wrong candidates.
    Seq(bandsTable, repsTable).foreach { t =>
      if (Bucketed.maintenanceInProgress(s, t))
        throw new IllegalStateException(
          s"index maintenance holds the lease on $t: probes must not " +
            "overlap append/compact on the same layout (probe → append → " +
            "compact is the sequential ingest lifecycle)")
    }
    // ONE eager checkpoint of the batch's rep table: it feeds the band
    // derivation, the verification side (bSh) AND the caller's follow-up
    // append/member expansion — un-checkpointed, the batch's
    // normalize+groupBy pass ran once per consumer (r18; the r17
    // multiply-consumed-subtree rule applied to the probe's own input).
    val bReps = repRows(batch).stageCheckpoint()
    // FILE-PRUNED band scan (r9, the r8 verdict's item 3, sharpened):
    // the probe's residual corpus-linear term was the full band-table
    // scan. Collecting here merges four probe-internal actions into two
    // (driver bound: see the scaladoc): the band collect yields the
    // distinct prune keys AND the join's build side (a LocalRelation
    // broadcast builds driver-side, no job), and the candidate collect
    // yields the rep prune keys AND both verify joins' build side. Bands
    // derive MAP-SIDE from the checkpointed rep table, so the signature
    // pass runs exactly once. See [[prunedScan]] for the file-list
    // pruning derivation and exactness argument.
    val localBands = bandsOfReps(bReps, shingleWords, nHashes, nBands, rowsPerBand)
      .select(col("bkey64"), col("rep").as("brep"))
      .collect()
    val keys = {
      val set = new java.util.HashSet[Long]()
      localBands.foreach(r => set.add(r.getLong(0)))
      val arr = new Array[Long](set.size)
      val it = set.iterator(); var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      arr
    }
    val (idxScan, bandStats) = prunedScan(s, bandsTable, keys)
    val bandSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bkey64",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("brep",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val bBands = s.createDataFrame(
      java.util.Arrays.asList(localBands: _*), bandSchema)
    val cand = idxScan.withColumnRenamed("rep", "crep")
      .join(broadcast(bBands), "bkey64")
      .select(col("brep"), col("crep")).distinct()
      .collect()
    // same pruning for the verification fetch: the touched corpus reps
    // are candidate-bounded (batch-proportional), so the rep-text scan
    // reads only their buckets instead of the whole rep table
    val crepIds = {
      val set = new java.util.HashSet[Long]()
      cand.foreach(r => set.add(r.getLong(1)))
      val arr = new Array[Long](set.size)
      val it = set.iterator(); var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      arr
    }
    val (repsScan, repStats) = prunedScan(s, repsTable, crepIds)
    lastProbeStats = Some((bandStats, repStats))
    val candSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("brep",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("crep",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val candDf = s.createDataFrame(
      java.util.Arrays.asList(cand: _*), candSchema)
    val cSh = candDf.select(col("crep")).distinct()
      .join(repsScan, col("crep") === col("rep"))
      .select(col("crep"), expr(s"word_shingles(norm, $shingleWords)").as("csh"))
    val bSh = bReps.select(col("rep").as("brep"),
      expr(s"word_shingles(norm, $shingleWords)").as("bsh"))
    val pairs = candDf.join(bSh, "brep").join(cSh, "crep")
      .withColumn("jaccard", expr("jaccard_sim(bsh, csh)"))
      .filter(col("jaccard") >= threshold)
      .select(col("brep"), col("crep"), col("jaccard"))
    Probed(pairs, bReps, bBands)
  }

  /** Within-batch near-dup pairs of dedup-group reps, from a probe's band
    * rows: reps sharing a band key are candidates, kept at exact shingle
    * Jaccard ≥ `threshold` — (a, b, jaccard) with a < b. `bands` (bkey64,
    * brep) is a [[Probed]]'s `bBands`, or the subset of reps to pair;
    * `reps` (rep, norm) its `bReps`. These are the rep-to-rep pairs of
    * [[graft.etl.TextDedup.minhashPairs]] over the same docs, without its
    * second signature pass (DedupSpec pins the two). */
  private[graft] def batchRepPairs(bands: DataFrame, reps: DataFrame,
      shingleWords: Int, threshold: Double): DataFrame = {
    val cand = bands.select(col("bkey64"), col("brep").as("a"))
      .join(bands.select(col("bkey64"), col("brep").as("b")), "bkey64")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    def shingles(side: String) = reps.select(col("rep").as(side),
      expr(s"word_shingles(norm, $shingleWords)").as(s"sh_$side"))
    cand.join(shingles("a"), "a").join(shingles("b"), "b")
      .select(col("a"), col("b"), expr("jaccard_sim(sh_a, sh_b)").as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Keep-first within-batch dedup: of `docs` (id, brep, …: whole dedup
    * groups, `brep` the group's min id), keep each group's rep unless a
    * [[batchRepPairs]] pair names it as the larger rep. These are exactly
    * the docs that are never the larger id (`doc_b`) of a
    * TextDedup.minhashPairs pair: members pair with their rep at 1.0, and
    * every member of a pair's larger group is above the smaller rep. */
  private[graft] def keepFirst(docs: DataFrame, repPairs: DataFrame): DataFrame =
    docs.filter(col("id") === col("brep"))
      .join(repPairs.select(col("b").as("brep")).distinct(), Seq("brep"), "left_anti")
      .select(docs.columns.map(col): _*)

  /** INDEX MAINTENANCE: fold a probed batch into the index so the NEXT
    * batch dedups against corpus ∪ batch — the ingest lifecycle (the
    * IvfIndex.appendStream analogue for text). Appends band rows + rep
    * texts for every batch rep EXCEPT exact duplicates of an indexed
    * rep (a probe pair at jaccard 1.0 means the identical shingle set
    * is already represented — re-indexing it would only duplicate its
    * band rows). Appended files preserve the tables' bucketing spec
    * (the registered tables' bucket counts and keys); multi-file buckets keep the
    * CLUSTERING the probe join rides (Spark just stops reporting
    * per-bucket sort order, which the probe never needed).
    *
    * `batchTag` (r10): EXACTLY-ONCE named batches — a retried nightly
    * job (crash after the append committed, scheduler re-run, operator
    * re-drive) must not fold the same crawl batch in twice, which would
    * duplicate its band rows AND its rep texts. With a tag the
    * application is recorded by a stamp on BOTH tables written INSIDE
    * the crash-safe marker window (Bucketed's contract: no completion
    * marker → rebuild from source; marker without stamp → re-append
    * cleanly; marker + stamp on every member → no-op; members that
    * DISAGREE → refused as corruption, the Bucketed.familyApplied rule —
    * a bands-only stamp could otherwise mask a rebuilt reps table and a
    * retry would duplicate its rows, r10 ADVICE). The stamps survive JVM
    * restarts and compaction (folded into the manifest). Returns whether
    * the append ran (always true untagged). */
  def append(s: SparkSession, bandsTable: String, repsTable: String,
      probePairs: DataFrame, batchReps: DataFrame,
      shingleWords: Int, nHashes: Int, nBands: Int, rowsPerBand: Int,
      batchTag: Option[String] = None): Boolean = {
    val exactDup = probePairs.filter(col("jaccard") === 1.0)
      .select(col("brep").as("rep")).distinct()
    val fresh = batchReps.join(exactDup, Seq("rep"), "left_anti")
      .select(col("rep").as("id"), col("norm").as("text"))
    val (bands, reps) = bandRows(fresh, shingleWords, nHashes, nBands, rowsPerBand)
    appendRows(s, bandsTable, repsTable, bands.select(col("bkey64"), col("rep")),
      reps, batchTag)
  }

  /** The write half of [[append]]: fold ready index rows — `bands`
    * (bkey64, rep) and `reps` (rep, norm) — into the index under the same
    * exactly-once stamp and crash-safe marker protocol. For a caller that
    * already holds the batch's band rows (a [[Probed]]'s `bBands`), so the
    * append pays no signature pass. Returns whether the append ran. */
  private[graft] def appendRows(s: SparkSession, bandsTable: String,
      repsTable: String, bands: DataFrame, reps: DataFrame,
      batchTag: Option[String]): Boolean = {
    val family = Seq(bandsTable, repsTable)
    // fast path; a transient mixed reading (concurrent winner between
    // stamp touches) defers to the under-lease re-check — the
    // Bucketed.appendOnce rule
    val appliedFast =
      try batchTag.exists(Bucketed.familyApplied(s, family, _))
      catch { case _: IllegalStateException => false }
    if (appliedFast) return false
    // Crash-safe (r8 ADVICE): the two appends must land together or not
    // at all — markers down, write both, markers up; see
    // Bucketed.appendGuard for the torn-append recovery contract.
    // bucket counts come from the REGISTERED tables (not the default
    // constant), so an append can never break the bucketing spec of a
    // layout built with a non-default count
    val (bandB, repB) = (bucketsOf(s, bandsTable), bucketsOf(s, repsTable))
    // applied-state decision as the PRE-MARKER gate (the
    // Bucketed.appendOnce rule): re-decided under the lease — a raced
    // retry skips after the winner's stamps landed — and BEFORE the
    // markers come down, so a real mixed-family corruption throws with
    // the family still certified
    Bucketed.appendGuardIf(s, family)(
      () => !batchTag.exists(Bucketed.familyApplied(s, family, _))) {
      bands.write.mode("append").bucketBy(bandB, "bkey64").sortBy("bkey64")
        .saveAsTable(bandsTable)
      reps.write.mode("append").bucketBy(repB, "rep").sortBy("rep")
        .saveAsTable(repsTable)
      batchTag.foreach(Bucketed.stampFamily(s, family, _))
    }
  }

  /** INDEX MAINTENANCE, part 2: compact both index tables back to one
    * file per bucket ([[Bucketed.compact]]). Each [[append]] adds a file
    * per touched bucket, so files-per-bucket grows linearly in batch
    * count — a nightly ingest pays an extra file open/footer per bucket
    * per day on every probe until compacted. Run on the maintenance
    * cadence (e.g. weekly, or when [[maxFilesPerBucket]] crosses a
    * handful — [[compactIfFragmented]] automates exactly that rule);
    * probe results are invariant — compaction only rewrites placement.
    * The tables compact one at a time, which is safe because content is
    * unchanged (a crash between them cannot make bands and reps
    * disagree — see Bucketed.compact's crash contract). */
  def compact(s: SparkSession, bandsTable: String, repsTable: String): Unit = {
    Bucketed.compact(s, bandsTable)
    Bucketed.compact(s, repsTable)
  }

  /** Fragmentation of the index: the max file count of any bucket across
    * both tables (1 = fully compacted). The observable the maintenance
    * cadence keys on — file metadata only, no data read. */
  def maxFilesPerBucket(s: SparkSession, bandsTable: String, repsTable: String): Int =
    Bucketed.maxFilesPerBucket(s, Seq(bandsTable, repsTable))

  /** Compact only when any bucket has accumulated ≥ `maxFiles` files —
    * the self-driving maintenance rule a nightly ingest job calls after
    * its append instead of scheduling compaction by wall-clock guesswork.
    * Returns whether a compaction ran. */
  def compactIfFragmented(s: SparkSession, bandsTable: String, repsTable: String,
      maxFiles: Int = 8): Boolean = {
    val frag = maxFilesPerBucket(s, bandsTable, repsTable)
    if (frag >= maxFiles) { compact(s, bandsTable, repsTable); true } else false
  }
}
