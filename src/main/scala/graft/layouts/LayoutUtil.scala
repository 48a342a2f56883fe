package graft.layouts

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared pieces of the persisted-layout builders — one definition so a
  * hardening fix reaches every layout. Public because the operators'
  * cached-artifact helpers key their caches with [[dataSig]] too.
  *
  * Every artifact graft builds lives under [[artifactRoot]], and its
  * stamps, markers and sidecars go through the [[LayoutFs]] seam with the
  * session's Hadoop configuration; every build-once artifact (fixtures,
  * ZOrder copies, IVF/PQ indexes, the stream-ingest staging) is complete
  * by one rule, [[buildOnce]]. Only
  * the source-data probes [[pathBytes]] and [[dataSig]] take no session:
  * they read the caller's input dataset through the default Hadoop
  * configuration, which resolves `file:` and any classpath-configured
  * scheme. */
object LayoutUtil {

  private lazy val conf = new Configuration()

  /** Root under which every artifact graft builds lives: the bucketed
    * warehouses, ZOrder copies, IVF/PQ indexes, stream-ingest staging,
    * fixtures and the source round-trip files. One knob
    * (`spark.graft.layout.root`, default /tmp) relocates the whole
    * store to HDFS/an object store; every consumer resolves its
    * FileSystem from the resulting path's scheme via [[LayoutFs]]. */
  def artifactRoot(s: SparkSession): String =
    s.conf.get("spark.graft.layout.root", "/tmp")

  /** Name of the completion stamp [[buildOnce]] writes into each part. */
  val SigFile = "_graft_sig"

  /** Build an artifact of one or more part directories exactly once per
    * `key`. It is complete only when every part holds a [[SigFile]]
    * stamp equal to `key`; the stamps are written after `build` returns,
    * so a crash or a throw mid-build leaves no complete artifact.
    * Otherwise every part is deleted, `build` writes them, the stamps go
    * down, and each part's served listing is evicted (a rebuild at an
    * existing path must not serve a pre-rebuild listing). */
  def buildOnce(s: SparkSession, key: String, parts: Seq[String])(build: => Unit): Unit = {
    val c = s.sparkContext.hadoopConfiguration
    val stamps = parts.map(new Path(_, SigFile))
    if (!stamps.forall(p => LayoutFs.exists(p, c) && LayoutFs.readString(p, c) == key)) {
      parts.foreach(p => LayoutFs.deleteDir(new Path(p), c))
      build
      stamps.foreach(LayoutFs.writeString(_, key, c))
      parts.foreach(evictServed)
    }
  }

  /** Collision-safe cache id for a layout key: MD5 as lowercase hex (a
    * 32-bit String.hashCode collision would silently serve a wrong
    * layout). Every layout's cache tag is built with it. */
  def cacheId(key: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def walk(p: Path): Seq[FileStatus] =
    LayoutFs.list(p, conf).flatMap { st =>
      if (st.isDirectory) walk(st.getPath) else Seq(st)
    }

  /** Total data bytes under a parquet dataset path — file OR directory
    * (Spark-written datasets are directories of part files, whose own
    * java.io length is a meaningless few KB). One definition shared by
    * the bucket-count sizing and the bench's size-driven plan regimes,
    * so a directory-backed source can never silently pin the
    * broadcast-regime plan at scale (r9 ADVICE). */
  def pathBytes(path: String): Long = {
    val p = new Path(path)
    if (!LayoutFs.exists(p, conf)) 0L
    else {
      val st = LayoutFs.fs(p, conf).getFileStatus(p)
      if (st.isDirectory) walk(p).map(_.getLen).sum else st.getLen
    }
  }

  /** Content signature of a parquet dataset path (file or directory).
    * A directory's own length/mtime need not change when a part file is
    * rewritten in place, so a signature taken from the directory File
    * could silently serve a stale cached artifact for regenerated data
    * (the r4 ADVICE finding on pqIndexArtifacts); this hashes the sorted
    * (name, length, mtime) of the actual data files instead — any
    * part-file change rotates the signature. */
  def dataSig(path: String): String = {
    val p = new Path(path)
    // key by the path RELATIVE to the dataset root, not the base name:
    // partitioned datasets (cent_id=N/part-*.parquet) reuse base names
    // across partitions, and a same-size/same-mtime file moving between
    // partitions must rotate the signature (r5 ADVICE)
    val root =
      if (LayoutFs.exists(p, conf))
        LayoutFs.fs(p, conf).getFileStatus(p).getPath.toUri.getPath
      else p.toUri.getPath
    val entries =
      if (!LayoutFs.exists(p, conf)) Nil
      else {
        val st = LayoutFs.fs(p, conf).getFileStatus(p)
        if (st.isDirectory) walk(p) else Seq(st)
      }
    val parts = entries
      .map(st => s"${st.getPath.toUri.getPath.stripPrefix(root)}:" +
        s"${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    cacheId(s"$path|$parts")
  }

  /** Dedup a (vec_id, v) corpus to identity-group representatives with
    * their sorted member lists — the index-build precondition both ANN
    * layouts rely on (rows are group-min reps, so a top-k over reps
    * covers the true top-k: the vecGroups proof in LlmOps). */
  def repsWithMembers(corpus: DataFrame): DataFrame =
    corpus.groupBy(col("v"))
      .agg(min(col("vec_id")).as("vec_id"),
        sort_array(collect_list(col("vec_id"))).as("members"))

  // ---------------------------------------------------------------------
  // Catalog-metadata memos: weak per-CONTEXT maps (r18)
  // ---------------------------------------------------------------------

  /** Memo for catalog-derived layout metadata (table location, bucket
    * count). r18 lifecycle fix of the r17 memos, which were static maps
    * keyed by (SparkSession, name) with no eviction:
    *
    *  - sessions were STRONG keys, so a per-request/per-tenant
    *    `newSession()` deployment accreted dead-session entries and
    *    pinned every session for the JVM's life;
    *  - sibling sessions of one SparkContext SHARE the catalog
    *    (sharedState), so a DDL + invalidation in session B left
    *    session A's entry stale — the exact stale-dir hazard the r17
    *    scaladoc waved at.
    *
    * Keying by the SparkContext (weakly) fixes both at once: entries
    * never reference a session, and every sibling session reads/
    * invalidates ONE map, so an ALTER/DROP in any of them invalidates
    * for all. The remaining precondition — no OTHER PROCESS mutates the
    * catalog underneath us — is now ASSERTED, not assumed: a session on
    * an external (hive) metastore skips memoization entirely and
    * resolves fresh every call. */
  private[layouts] final class CatalogMemo[V] {
    private val byContext = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext,
        java.util.concurrent.ConcurrentHashMap[String, V]]())

    private def inMemoryCatalog(s: SparkSession): Boolean =
      s.sparkContext.getConf
        .get("spark.sql.catalogImplementation", "in-memory") == "in-memory"

    /** Bumped by every [[forget]]: a load that overlapped one may have
      * read the catalog before the DDL, so it is returned but not stored. */
    private val forgets = new java.util.concurrent.atomic.AtomicLong

    /** The loader runs OUTSIDE the map's lock (get, compute, then
      * `putIfAbsent`): inside `computeIfAbsent` a slow catalog call would
      * block every other key of its hash bin. Two racing misses may both
      * load; the first stored value wins and both return it. */
    def getOrCompute(s: SparkSession, key: String)(f: => V): V =
      if (!inMemoryCatalog(s)) f
      else {
        val m = byContext.computeIfAbsent(s.sparkContext,
          _ => new java.util.concurrent.ConcurrentHashMap[String, V]())
        val hit = m.get(key)
        if (hit != null) hit
        else {
          val seen = forgets.get
          val v = f
          if (forgets.get != seen) v
          else {
            val prior = m.putIfAbsent(key, v)
            if (prior != null) prior else v
          }
        }
      }

    def forget(s: SparkSession, key: String): Unit = {
      forgets.incrementAndGet()
      val m = byContext.get(s.sparkContext)
      if (m != null) { m.remove(key); () }
    }

    def contains(s: SparkSession, key: String): Boolean = {
      val m = byContext.get(s.sparkContext)
      m != null && m.containsKey(key)
    }
  }

  // ---------------------------------------------------------------------
  // Served relations: one file listing per (session, artifact path)
  // ---------------------------------------------------------------------

  /** Served-relation cache: sessions are WEAK keys, the per-session map
    * is keyed by artifact path. The cached value is the DataFrame whose
    * LogicalRelation holds the eagerly-built InMemoryFileIndex — every
    * query derived from it reuses that listing.
    *
    * Values are SOFT references (r13 review): a DataFrame strongly
    * references its SparkSession, so a strong value would reach the
    * WeakHashMap KEY through the map — the value-refers-key pattern
    * that makes weak keys permanently uncollectable — and a
    * per-request/per-tenant `newSession()` deployment would pin every
    * session plus its file listings until OOM. Soft referents survive
    * while the heap is comfortable (the cache works) and are cleared
    * under memory pressure BEFORE an OOM (a cleared entry just
    * re-lists), which also unpins the session key. */
  private val served = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, java.lang.ref.SoftReference[DataFrame]]]())

  /** Bumped by every [[evictServed]]; [[servedRelation]] re-checks it
    * after building a listing so a serve() that began reading a path
    * BEFORE an eviction (e.g. a rebuild finishing mid-read) can never
    * insert its pre-eviction listing AFTER the eviction ran (r13
    * review — the stale entry would otherwise serve for the rest of
    * the session with no further eviction trigger). Mutated ONLY under
    * `served.synchronized` (r13 verdict item 1: a bare AtomicLong
    * re-check left a few-instruction check-then-act window in which an
    * eviction could land between the comparison and the insert — the
    * re-check and the insert must be one atomic step against
    * [[evictServed]], which bumps and sweeps under that same monitor). */
  private val evictionEpoch = new java.util.concurrent.atomic.AtomicLong()

  /** Test seam: runs after a serve() builds its listing and BEFORE the
    * atomic epoch-recheck+insert — lets a spec park a serve() in exactly
    * the window the r13 verdict flagged and fire an eviction into it. */
  private[graft] var postListHook: () => Unit = () => ()

  /** The relation at `path` with its FILE LISTING CACHED for the life of
    * the session (r12 verdict item 6): a fresh `spark.read.parquet` per
    * query re-lists every partition directory — measured at ~1.5 s per
    * query on an nlist=1024 IVF layout at 2 M vectors (CROSSOVER.md
    * round 12) — while the relation itself carries the listing in its
    * InMemoryFileIndex, so reusing ONE DataFrame makes every subsequent
    * probe pay only the pruned read. Partition pruning still applies
    * per query (the pruning filters evaluate against the cached listing
    * at planning time). For IMMUTABLE build artifacts (the ensure()
    * outputs, whose path rotates with the source signature); a path
    * whose files change in place — a stream-appended index root, a
    * rebuilt half-finished artifact — must be [[evictServed]] first or
    * consumers keep the stale listing. */
  def servedRelation(s: SparkSession,
      path: String): DataFrame = {
    val bySession = served.synchronized {
      var m = served.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap
          .empty[String, java.lang.ref.SoftReference[DataFrame]]
        served.put(s, m)
      }
      m
    }
    while (true) {
      bySession.get(path).flatMap(r => Option(r.get)) match {
        case Some(df) => return df
        case None =>
          val epoch = evictionEpoch.get()
          val df = s.read.parquet(path) // the slow listing — OUTSIDE the lock
          postListHook()
          // epoch re-check + insert as ONE atomic step against
          // evictServed, which bumps the epoch and sweeps the maps under
          // this same monitor (r13 verdict item 1: re-checking on the
          // bare atomic and inserting afterwards left a window in which
          // an eviction landed between the two and the pre-eviction
          // listing still served stale for the rest of the session)
          val installed = served.synchronized {
            if (evictionEpoch.get() != epoch) None // raced: loop, re-list
            else bySession.get(path).flatMap(r => Option(r.get)) match {
              case Some(winner) => Some(winner) // a concurrent serve won
              case None => // absent, or present-but-cleared: ours serves
                bySession.put(path, new java.lang.ref.SoftReference(df))
                Some(df)
            }
          }
          installed match {
            case Some(d) => return d
            case None => // eviction raced the listing build: re-list
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Drop every session's cached relation for `path` — the rebuild /
    * in-place-mutation complement of [[servedRelation]]. Bumps the
    * eviction epoch FIRST so an in-flight serve() listing cannot
    * re-insert a pre-eviction relation. */
  def evictServed(path: String): Unit = served.synchronized {
    evictionEpoch.incrementAndGet()
    served.values.forEach(m => { m.remove(path); () })
  }
}
