package graft.layouts

import graft.etl.Ivf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Persisted IVF index layout — the partition-pruning analogue of
  * [[Bucketed]] for ANN search (SCALE.md §C): pay one k-means train +
  * assign + partitioned write, then every probe query reads ONLY its
  * probed `cent_id=` directories. At 100 TB this is the resident format
  * of the vector table: a 4/16-probe search touches 1/4 of the files on
  * disk before a single row is scanned, exactly like dynamic partition
  * pruning for star joins — but driven by the quantizer instead of a dim
  * filter. `IvfIndexSpec` pins the pruning (selected partitions < total)
  * and the exactness of a probed search against brute force.
  *
  * The index stores identity-group REPRESENTATIVES (dedup-first, the
  * round-3 precondition): rows are (vec_id = group-min rep, members =
  * sorted ids, v), so index size is distinct-item-sized on duplicate-heavy
  * corpora and a top-k over reps covers the true top-k (vecGroups proof,
  * LlmOps). Build is cached per (tag, k, iters): callers derive `tag` from
  * the source files' size+mtime so regenerated data can never be served
  * from a stale index.
  */
object IvfIndex {

  /** Index + centroid parquet paths for `corpus` (vec_id, v) under cache
    * key `tag`. Builds on first call, else returns the cached layout.
    *
    * `trainSampleCap` bounds the Lloyd TRAINING set (Ivf.train's
    * deterministic arithmetic-hash subsample). The default is UNCAPPED:
    * the driver-oracled persisted rows pin bit-exact answers against
    * brute force via centroid identity with their INLINE-trained twins
    * at ANY scale factor (r12 review — a silently capped build would
    * diverge above the 16 Ki floor and could drop a planted mutant out
    * of the probed cells). Scale callers pass `Ivf.trainSampleCap(k)`
    * explicitly — ~256 training points per centroid, the flat-cost path
    * measured at 2 M vectors in CROSSOVER.md round 12 — and the cap
    * participates in the cache id, so capped and uncapped builds never
    * serve each other. */
  def ensure(s: SparkSession, tag: String, corpus: => DataFrame,
      k: Int = 16, iters: Int = 2,
      trainSampleCap: Int = Int.MaxValue): (String, String) = {
    // MD5 cache id (LayoutUtil — the hardened ZOrder convention; the
    // previous 32-bit hashCode id could collide and serve a wrong
    // layout). The cap is ALWAYS encoded — including the uncapped
    // default — so an artifact built under any other training-subset
    // policy (r12's brief always-capped window included) can never be
    // served under this contract (r12 review, second pass).
    val id = LayoutUtil.cacheId(
      tag + "_" + k + "_" + iters + "_c" + trainSampleCap)
    val root = LayoutUtil.artifactRoot(s)
    val idxPath = s"$root/graft_ivf_idx_$id"
    val centsPath = s"$root/graft_ivf_cents_$id"
    LayoutUtil.buildOnce(s, id, Seq(idxPath, centsPath)) {
      val grouped = LayoutUtil.repsWithMembers(corpus)
      val reps = grouped.select(col("vec_id"), col("v"))
      val cents = Ivf.train(reps, k, iters, trainSampleCap)
      // one write task per centroid bucket → one file per partition dir
      Ivf.assign(reps, cents)
        .join(grouped.select(col("vec_id"), col("members")), "vec_id")
        .repartition(k, col("cent_id"))
        .write.partitionBy("cent_id").mode("overwrite").parquet(idxPath)
      cents.write.mode("overwrite").parquet(centsPath)
    }
    (idxPath, centsPath)
  }

  /** The index (or centroid sidecar) relation with its file listing
    * CACHED for the session — the serving-shape accessor (r12 verdict
    * item 6): the 2 M-vector probe measured ~1.5 s of partition
    * re-listing per `spark.read.parquet(idxPath)` at nlist=1024, a cost
    * a per-query-batch server pays on EVERY request unless the relation
    * is shared. Two serve() calls return the very same DataFrame, so
    * probes pay only the pruned read; pruning still evaluates per query
    * against the cached listing. For the immutable ensure() outputs —
    * a stream-appended root needs [[LayoutUtil.evictServed]] after each
    * batch (or a fresh read), see the servedRelation scaladoc. (The
    * MinHash layout's serving cost lives elsewhere — its probes list
    * bucket files driver-side, served by Bucketed.bucketFiles's
    * marker-validated cache rather than a relation cache, because the
    * index MUTATES under append/compact and a marker check is exact
    * where a cached relation would need eviction discipline.) */
  def serve(s: SparkSession, path: String): DataFrame =
    LayoutUtil.servedRelation(s, path)

  /** STREAMING index maintenance: append a vector stream to the persisted
    * layout. `Ivf.assign` is map-side (centroids ride in as literals), so
    * it applies to a streaming DataFrame unchanged — one quantizer model,
    * two execution modes, the EventPipelines design point for ANN. The
    * parquet sink lands every micro-batch inside the cent_id= partition
    * directories, so the growing index stays probe-prunable: a reader's
    * `cent_id IN (...)` filter skips unprobed directories no matter how
    * many batches have been appended. At 100 TB this is how the vector
    * table ingests: assignment never reshuffles the stream, and compaction
    * of small batch files is a per-partition background job.
    *
    * Centroids are the FROZEN model here (retraining is a batch concern —
    * rebuild via [[ensure]] with a new tag and swap paths); vecs must have
    * (vec_id, v) and the written rows are (vec_id, v) partitioned by
    * cent_id — the same partitioning scheme as [[ensure]], minus the
    * identity-group members column (streams append raw vectors; collapsing
    * to representatives is the batch compaction's job). Keep streamed and
    * batch-built indexes in separate roots. */
  def appendStream(vecs: DataFrame, cents: DataFrame,
      idxPath: String, checkpoint: String): StreamingQuery =
    Ivf.assign(vecs, cents)
      .writeStream.format("parquet")
      .option("path", idxPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("cent_id")
      .outputMode("append")
      .start()

  /** Small-file compaction for a stream-appended index: every micro-batch
    * leaves one file per touched partition, so a long-running ingest
    * accumulates thousands of KB-sized files per cent_id dir — the classic
    * streaming-sink pathology (scan cost becomes per-file overhead, not
    * bytes). Rewrite via read → repartition on cent_id (all rows of a
    * centroid land in ONE task → exactly one file per partition dir;
    * `parallelism` only caps concurrent tasks) → partitioned overwrite
    * into a NEW root (side-by-side, then swap — compacting in place would
    * race concurrent readers; the stream must be stopped or re-pointed,
    * which is the standard maintenance-window contract). Row content and
    * partition dirs are preserved bit-for-bit, so probe pruning is
    * unaffected — IvfIndexSpec pins files-shrink + rows-identical. */
  def compact(s: SparkSession, idxPath: String, compactedPath: String,
      parallelism: Int = 32): Unit = {
    LayoutFs.deleteDir(new org.apache.hadoop.fs.Path(compactedPath),
      s.sparkContext.hadoopConfiguration)
    s.read.parquet(idxPath)
      .repartition(parallelism, col("cent_id"))
      .write.partitionBy("cent_id").mode("overwrite").parquet(compactedPath)
  }
}
