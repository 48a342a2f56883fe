package graft.etl

import graft.functions.{GraftFunctions, NearestCentroids}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** IVF coarse quantization for ANN search (SURVEY §2 op 72 scale path):
  * deterministic k-means training + nearest-centroid assignment.
  *
  * Training = Lloyd iterations with DETERMINISTIC arithmetic: init from
  * the k lowest vec_ids, per-dimension means via decimal-exact sums
  * (DecimalType(28,14) captures the full float mantissa range of unit-ish
  * embeddings), cosine scored through the codegen'd `cosine_fast`. Every
  * re-run — any partitioning, any cluster size — yields identical
  * centroids, so the index is reproducible (the property that matters for
  * a 100 TB vector table partitioned by cent_id on disk).
  */
object Ivf {

  /** Past this k the literal-matrix expression stops being the right
    * shape (codegen unit size, task-binary bloat) and [[assignTop]]
    * switches to the broadcast-aggregate form [[assignTopAgg]]. */
  private[graft] val LiteralArgmaxMaxK = 4096

  /** Nearest-centroid assignment (max rounded cosine, ties → lowest
    * cent_id): [[assignTop]] at m = 1, its one cell as `cent_id`. Output
    * `(vec_id, cent_id, v)`. Map-side only up to k = 4096 — assignment
    * is a pure scan, and the earlier crossJoin+window shape (k·N rows
    * through a per-vector window) stays out of every Lloyd iteration and
    * index build. `cells` is never empty, so the coalesce never fires:
    * it makes `cent_id` non-nullable, and a join on a nullable `cent_id`
    * would make the optimizer infer an `isnotnull` filter that runs the
    * kernel a second time per row. */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    assignTop(vecs, cents, 1)
      .select(col("vec_id"), coalesce(col("cells").getItem(0), lit(0L)).as("cent_id"), col("v"))

  /** TOP-M cell assignment — the vector layer's one rounded-cosine
    * centroid ranking: each vector's `m` nearest cells by (rounded
    * cosine desc, cent_id asc). [[assign]] is m = 1; the kNN/ANN query
    * probes are m = 4 over the query rows; m > 1 over the corpus is the
    * near-dup fallback's recall armor ("spilling"): a tight pair split
    * by a single nearest-centroid boundary still shares a cell unless
    * BOTH rankings diverge in their top m — for cosine ≥ 0.9 pairs the
    * two ranking profiles differ by at most the pair's angular gap, so
    * disjoint top-2 sets need a three-way near-tie resolved oppositely
    * (measured on the sf6s spread corpus: 114 of 1200 planted pairs
    * split at m = 1, zero at m = 2). An `m` above k yields all k cells.
    *
    * Two physical forms, switched on k:
    *
    *  - k ≤ 4096 — MAP-SIDE ONLY: the native `nearest_centroids`
    *    expression (functions.NearestCentroids) runs the k×dims top-m
    *    loop over primitive arrays with the flat centroid matrix as one
    *    literal. Zero shuffle. The aggregate form below at the SAME k
    *    measured 168 s for 121 k vectors × k = 349 (N×k struct rows
    *    through collect_list) where this is a pure scan.
    *  - k > 4096 — [[assignTopAgg]]: past the cap the per-task literal
    *    matrix stops being the right shape, so the centroids ship once
    *    as a broadcast relation and the k-fan-out collapses in a
    *    map-side partial collect_list; sort_array gives the
    *    deterministic total order (no window, no per-key sort shuffle).
    *
    * Both return ONE row per vec_id with `cells: array<bigint>` (nearest
    * first — VectorSpec pins the two forms equal, at m = 1 and m = 3)
    * so callers can attach per-vector derived columns (e.g. band
    * buckets) ONCE before fanning out the ×m cell rows. */
  def assignTop(vecs: DataFrame, cents: DataFrame, m: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val cl = cents.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    if (cl.length <= LiteralArgmaxMaxK) {
      val flat = cl.flatMap(_._2).toSeq
      val cids = cl.map(_._1).toSeq
      vecs.select(col("vec_id"), col("v"),
        call_function("nearest_centroids", col("v"), typedlit(flat), typedlit(cids),
          lit(math.min(m, cl.length))).as("cells"))
    } else {
      val spark = vecs.sparkSession
      import spark.implicits._
      assignTopAgg(vecs, cl.toSeq.toDF("cent_id", "cv"), m)
    }
  }

  /** The k > 4096 top-m assignment form (and the equivalence reference
    * VectorSpec pins the native kernel against). The crossJoin fans each
    * vector out to k scored rows, but the partial (map-side) aggregation
    * collapses them back to one row per vec_id before the exchange — the
    * only shuffle is N singleton groups. `first(v)` inside the group is
    * deterministic: every fanned-out row of a vec_id carries the SAME v
    * (vec_id is the vecs key). Ordering is the struct (rounded cosine,
    * −cent_id) sorted DESCENDING rather than a negated-cosine ascending
    * sort: negation flips where NaN lands (Spark orders NaN above every
    * double, so −NaN ascending would rank a NaN cosine WORST while the
    * native kernel ranks it best). With the descending sort a zero-norm
    * vector or dead centroid (cosine NaN) places identically in both
    * forms; VectorSpec pins the equivalence on a zero-norm fixture. */
  private[graft] def assignTopAgg(vecs: DataFrame, cents: DataFrame, m: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    vecs.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"),
        struct(
          round(call_function("cosine_fast", col("v"), col("cv")), 6).as("c"),
          (-col("cent_id")).as("negid")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(slice(sort_array(collect_list(col("sc")), asc = false), 1, m).as("top"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"),
        transform(col("top"), x => -x.getField("negid")).as("cells"))
  }

  /** Cluster count for the cluster-scoped near-dup pass (SemDeDup):
    * k = ⌈N^(1/3)⌉. Since r7 the within-cell candidate generation is LSH
    * (VectorLsh bands at the drop threshold — llm_semdedup), so k no
    * longer has to bound an all-pairs join: the r6 √N balance point
    * existed to split two O(N^1.5) costs (within-cell pairwise ~N²/2k vs
    * train/assign ~N·k), and with the pairwise side now ~N^(1+ρ)
    * (ρ ≈ 0.22, the LSH exponent at 0.9) a √N k would leave TRAINING as
    * the lone O(N^1.5) kernel. k is now the SEMANTIC granularity knob
    * (SemDeDup drops only within-cluster), and ⌈N^(1/3)⌉ keeps the
    * train/assign term at N^(4/3) — sub-dominant to the linear scan
    * costs at every measured scale, while cluster count still grows with
    * the corpus as the paper's configs do. Floor 16 keeps small-corpus
    * geometry; the 4096 cap now only marks where [[assignTop]] switches
    * to its aggregate fallback (N^(1/3) reaches it at ~7e10 vectors). */
  def adaptiveK(n: Long): Int =
    math.min(4096, math.max(16, math.ceil(math.cbrt(n.toDouble)).toInt))

  /** k-means training over a (vec_id, v: array<double>) DataFrame.
    * Centroids are MODEL PARAMETERS (k×dims doubles): each iteration
    * materializes them to the driver and restarts from a literal relation —
    * otherwise the lazy plan nests every previous iteration's full subtree
    * (the standard iterative-algorithm pitfall; MLlib keeps centers on the
    * driver for the same reason). */
  def train(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    train(vecs, k, iters, Int.MaxValue)

  /** The standard training-subset size for a k-cluster coarse quantizer:
    * ~256 points per centroid (the convention FAISS documents as
    * `max_points_per_centroid`), floored at 16 Ki so small corpora never
    * sample. Lloyd centroids are per-cell MEANS — a uniform subsample's
    * means converge at 1/√m per cell, and a coarse partitioner needs cell
    * placement, not precision — so past this budget more training points
    * buy nothing while keeping training O(N·k) = O(N^(4/3)) at the
    * adaptiveK geometry. With the cap, training cost is O(cap·k) = O(k²)
    * — flat in the corpus — and the full corpus pays exactly ONE
    * assignment scan (the caller's), which is the irreducible linear
    * pass. */
  def trainSampleCap(k: Int): Int = math.max(256 * k, 1 << 14)

  /** As [[train]], but Lloyd iterations run over a DETERMINISTIC
    * arithmetic-hash subsample of at most ~`sampleCap` vectors when the
    * input is larger (`xxhash64(vec_id) mod 2^20` under a threshold —
    * partition-count-independent and reproducible, the [[Ivf]]
    * determinism contract). Initialization (k lowest vec_ids) and the
    * per-iteration decimal-exact means are computed over the subsample;
    * callers that pin exact-recall oracles against specific centroids
    * (the k = 16 ANN rows) use the uncapped overload. */
  /** Cell budget (rows × dims) for the DRIVER-LOCAL Lloyd strategy: a
    * training matrix under this many doubles (16 MB at 2²¹) is collected
    * once and the iterations run in-JVM — the same model-parameter
    * budget each iteration's centroid collect already lives in, since
    * reference k-means trainers hold the training subset in memory.
    * Above it (or when the hash subsample makes the collected size
    * unknowable pre-collect) the distributed loop runs as before. */
  private[graft] val LocalTrainMaxCells = 1L << 21

  def train(vecs: DataFrame, k: Int, iters: Int, sampleCap: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val spark = vecs.sparkSession
    import spark.implicits._
    // Training is EAGER (each iteration collects the k×dims model), so the
    // input can be cached for its duration and released before returning:
    // without this, every iteration's job re-runs the caller's upstream
    // plan (e.g. the dedup-to-representatives shuffle) from the scan.
    val input = vecs.persist()
    try {
      val full = input.count()
      // r17 SIZE-DRIVEN strategy (the Bpe.train convention): an unsampled
      // training set whose matrix fits LocalTrainMaxCells collects once
      // and Lloyd runs driver-side — one job instead of one
      // two-shuffle job PER ITERATION. Centroids are bit-identical by
      // construction: assignment goes through the SAME compiled kernel
      // (functions.NearestCentroids.topIds) and the per-dimension
      // means through Spark's own Decimal(28,14) cast + exact decimal
      // sums (order-free) — VectorSpec pins local == distributed on a
      // real corpus. Any null/ragged vector row falls back to the
      // distributed loop, whose null semantics stay authoritative.
      val dims0 =
        if (full <= sampleCap && full > 0 && full <= LocalTrainMaxCells) {
          // one tiny job to learn the width BEFORE deciding to collect —
          // the row count alone cannot bound the matrix bytes
          val h = input.select(col("v")).head()
          if (h.isNullAt(0)) 0 else h.getAs[scala.collection.Seq[Any]](0).size
        } else 0
      if (dims0 > 0 && full * dims0 <= LocalTrainMaxCells) {
        val rows = input.select(col("vec_id"), col("v")).collect()
        val dims = dims0
        val clean = rows.forall { r =>
          !r.isNullAt(1) && {
            val sq = r.getAs[scala.collection.Seq[Any]](1)
            sq.size == dims && !sq.contains(null)
          }
        }
        if (clean) {
          val local = rows.map(r =>
            (r.getLong(0), r.getAs[scala.collection.Seq[Any]](1)
              .map(_.asInstanceOf[Double]).toArray))
          return trainLloydLocal(spark, local, k, iters)
        }
      }
      val trainSet =
        if (full <= sampleCap) input
        else {
          val den = 1L << 20
          val num = math.min(den, den * sampleCap / full + 1)
          input.filter(pmod(xxhash64(col("vec_id")), lit(den)) < lit(num)).persist()
        }
      try trainLloydDistributed(trainSet, k, iters)
      finally if (!(trainSet eq input)) trainSet.unpersist(blocking = false)
    } finally input.unpersist(blocking = false)
  }

  /** The distributed Lloyd loop (the strategy for training sets past
    * [[LocalTrainMaxCells]] and for hash-subsampled sets). Package-visible
    * so VectorSpec can pin local ≡ distributed on one corpus. */
  private[graft] def trainLloydDistributed(trainSet: DataFrame, k: Int,
      iters: Int): DataFrame = {
    val spark = trainSet.sparkSession
    import spark.implicits._
    def materialize(cents: DataFrame): DataFrame =
      cents.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .toSeq.toDF("cent_id", "cv")
    var cents = trainSet.orderBy(col("vec_id").asc).limit(k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    for (_ <- 1 to iters) {
      cents = materialize(assign(trainSet, cents)
        .select(col("cent_id"), posexplode(col("v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(28, 14))).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("m"))
        .groupBy(col("cent_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("cv")))
    }
    cents
  }

  /** The driver-local Lloyd loop over a collected (vec_id, v) matrix —
    * the distributed iteration's arithmetic, step for step: init = the k
    * lowest vec_ids; assignment = the nearest_centroids kernel itself at
    * m = 1 (same object code — graft.functions.NearestCentroids.topIds
    * over the cent_id-ascending flat matrix); means = Spark Decimal(28,14)
    * cast of each element (HALF_UP, the Cast rule), EXACT decimal sums
    * (addition of equal-scale decimals is associative, so driver order
    * cannot matter), cast to double, divided by the cell count — and
    * empty cells drop, exactly as groupBy drops keyless groups. */
  private def trainLloydLocal(spark: org.apache.spark.sql.SparkSession,
      rows: Array[(Long, Array[Double])], k: Int, iters: Int): DataFrame = {
    import spark.implicits._
    def dec14(x: Double): java.math.BigDecimal = {
      val d = org.apache.spark.sql.types.Decimal(x)
      // Cast(double → decimal(28,14)) semantics: HALF_UP, null on
      // overflow — an overflowed element vanishes from the sum but its
      // row still counts, exactly like the aggregate form
      if (d.changePrecision(28, 14)) d.toJavaBigDecimal else null
    }
    var cents: Array[(Long, Array[Double])] =
      rows.sortBy(_._1).take(k).map { case (id, v) => (id, v) }
    for (_ <- 1 to iters) {
      val order = cents.sortBy(_._1)
      val cids = order.map(_._1)
      val flat = order.flatMap(_._2)
      val nb = NearestCentroids.normSqrts(flat, cids.length)
      val dims = flat.length / cids.length
      val sums = scala.collection.mutable.LinkedHashMap
        .empty[Long, (Array[java.math.BigDecimal], Array[Long])]
      rows.foreach { case (_, v) =>
        val cid = NearestCentroids.topIds(v, flat, cids, nb, 1)(0)
        val (acc, cnt) = sums.getOrElseUpdate(cid,
          (Array.fill(dims)(java.math.BigDecimal.ZERO), Array(0L)))
        cnt(0) += 1
        var i = 0
        while (i < dims) {
          val d = dec14(v(i))
          if (d != null) acc(i) = acc(i).add(d)
          i += 1
        }
      }
      cents = sums.iterator.map { case (cid, (acc, cnt)) =>
        (cid, acc.map(_.doubleValue() / cnt(0).toDouble))
      }.toArray
    }
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cent_id", "cv")
  }
}
