package graft.etl

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** PRODUCT QUANTIZATION (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", IEEE TPAMI 2011): split each d-dim vector
  * into m contiguous subvectors and vector-quantize each subspace with
  * its own small L2 k-means codebook, so a vector stores as m small codes
  * (m bytes at k ≤ 256) instead of d floats — the compression that makes
  * exhaustive in-cell scans affordable in a 100 TB IVF+PQ layout. This
  * module trains the codebooks and encodes; the registry row
  * (`llm_embed_pq`) composes it dedup-first.
  *
  * Deterministic by the house k-means conventions (see Ivf.scala): init
  * from the k lowest vec_ids' subvectors, per-dimension means via
  * decimal-exact sums (order-independent), ties broken by code id.
  * Codebooks are MODEL PARAMETERS (m × k × d/m doubles, a few KB): each
  * Lloyd round materializes them to the driver and restarts from
  * literals, so the lazy plan never nests iterations; at execution time
  * they ride into row expressions as literals — assignment is MAP-SIDE
  * ONLY (zero shuffle, zero broadcast join), the Ivf.assign argument per
  * subspace.
  *
  * Assignment drops the x·x term and halves: argmin |x−c|² ≡ argmin
  * (c·c/2 − x·c) because x·x is constant per row, with c·c/2 computed
  * driver-side. All m argmins plus the reconstruction statistics
  * (v·v̂ = Σⱼ x·c, ‖v̂‖² = Σⱼ c·c) come from ONE native
  * [[graft.functions.PqEncode]] node per row — the per-(subspace,
  * codeword) struct composition it replaced kept plan size O(m×k) and
  * hit two ceilings in turn: Janino's method-size limit on the decoded-
  * vector form (r12), then a Janino local-variable-map OOM at PQ's
  * actual design point, 768 dims × m=48 × k=256 (r14, measured: a 24 GB
  * driver died before a row moved). The decoded vector itself is never
  * built at any m×k.
  */
object Pq {

  /** One subspace codebook: (code id 0..k-1, centroid). */
  type Codebook = Seq[(Long, Seq[Double])]

  /** The native full-vector assignment (functions.PqEncode): all m
    * argmins + reconstruction stats in one expression node, with the
    * model as two flat literals. This is the ONLY formulation that
    * reaches PQ's design point — the m×k struct composition below
    * OOMs Janino from ~12k (subspace, codeword) pairs (768 dims,
    * m=48, k=256 — measured r14); it is kept as PqSpec's independent
    * parity witness. */
  private[graft] def encodeCol(books: Seq[Codebook]): Column = {
    val k = books.head.size
    require(books.forall(_.size == k), "pq_encode: ragged codebooks")
    // the native node returns the POSITIONAL index in cid-sorted order as
    // the code, while scoredStruct returns the stored cid —
    // equivalent ONLY when cids are exactly 0..k-1 (true for train()'s
    // books). Pin the assumption so a non-contiguous codebook fails loudly
    // instead of silently diverging between the two paths (r14 ADVICE).
    require(books.forall(_.map(_._1).sorted == (0L until k.toLong)),
      "pq_encode: codebook cids must be exactly 0..k-1")
    val flat = books.flatMap(_.sortBy(_._1).flatMap(_._2))
    val halfcc = books.flatMap(_.sortBy(_._1).map {
      case (_, cv) => cv.map(x => x * x).sum / 2.0
    })
    call_function("pq_encode",
      col("v"), typedlit(flat), typedlit(halfcc), lit(k))
  }

  /** Argmin over the codebook: struct(negscore = c·c/2 − x·c, cid, dot,
    * cc); min negscore ⇔ min L2², ties → lowest code id. */
  private[graft] def scoredStruct(sv: Column, book: Codebook): Column =
    array_min(array(book.sortBy(_._1).map { case (cid, cv) =>
      val halfcc = cv.map(x => x * x).sum / 2.0
      val dot = call_function("dot_fast", sv, typedlit(cv))
      struct(
        (lit(halfcc) - dot).as("negscore"),
        lit(cid).as("cid"),
        dot.as("dot"),
        lit(2.0 * halfcc).as("cc"))
    }: _*))

  /** Train the m codebooks over a (vec_id, v: array<double>) relation.
    * dims must divide evenly into m subspaces. Training is EAGER (each
    * round collects the model), so the input is cached for its duration —
    * the Ivf.train lifecycle.
    *
    * All m subspaces train in the SAME Lloyd round: one pass assigns all
    * m codes, explodes (sub, cid, pos, value) and aggregates every
    * subspace's means in one shuffle — m=8, iters=4 is 4 jobs, not 32.
    * The per-subspace computations are independent, so the result is
    * IDENTICAL to training each subspace alone (PqSpec's JVM recompute
    * pins the assignment; the decimal mean is order-independent). */
  def train(vecs: DataFrame, dims: Int, m: Int, k: Int, iters: Int): Seq[Codebook] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    GraftFunctions.register(vecs.sparkSession)
    val sub = dims / m
    val input = vecs.persist()
    try {
      val init = input.orderBy(col("vec_id").asc).limit(k)
        .select(col("v")).collect()
      var books: Seq[Codebook] = (0 until m).map { j =>
        init.zipWithIndex.map { case (r, i) =>
          (i.toLong, r.getSeq[Double](0).slice(j * sub, (j + 1) * sub))
        }.toSeq
      }
      for (_ <- 1 to iters) {
        // ONE native assignment node for all m subspaces (functions
        // .PqEncode), then attribute-producing projections before the
        // explode: generator expressions are not method-split by codegen,
        // so the subvector slices and the codes array materialize as
        // attributes first and the generator only sees small
        // attribute-built structs. (The earlier per-(subspace, codeword)
        // struct composition is Janino-bounded at m×k ≈ a few thousand —
        // see encodeCol's scaladoc.)
        val cidCols = input.select(
          (0 until m).map(j => slice(col("v"), j * sub + 1, sub).as(s"_pq_sv$j")) :+
            encodeCol(books).getField("codes").as("_pq_codes"): _*)
        val perSub = (0 until m).map { j =>
          struct(lit(j).as("sub"),
            element_at(col("_pq_codes"), j + 1).as("cid"),
            col(s"_pq_sv$j").as("sv"))
        }
        val means = cidCols
          .select(explode(array(perSub: _*)).as("e"))
          .select(col("e.sub").as("sub"), col("e.cid").as("cid"), posexplode(col("e.sv")))
          .groupBy(col("sub"), col("cid"), col("pos"))
          .agg((sum(col("col").cast(DecimalType(28, 14))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("m"))
          .groupBy(col("sub"), col("cid"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("cv"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2))
          .toMap
        books = books.zipWithIndex.map { case (book, j) =>
          book.map { case (cid, old) => (cid, means.getOrElse((j, cid), old)) }
        }
      }
      books
    } finally input.unpersist(blocking = false)
  }

  /** As [[train]], but Lloyd rounds run over the [[Ivf.train]]-convention
    * DETERMINISTIC arithmetic-hash subsample when the input exceeds
    * `sampleCap` (`xxhash64(vec_id) mod 2^20` under a threshold —
    * partition-count-independent, reproducible). The production shape:
    * codebooks are per-subspace-cell MEANS, so fitting is
    * sample-proportional (the Ivf.trainSampleCap argument applied to PQ —
    * FAISS's `max_points_per_centroid` convention), and the full corpus
    * pays only its one encode pass. Callers that pin oracles against
    * specific codebooks (the registry ANN rows) use the uncapped form. */
  def train(vecs: DataFrame, dims: Int, m: Int, k: Int, iters: Int,
      sampleCap: Int): Seq[Codebook] = {
    val input = vecs.persist()
    try {
      val full = input.count()
      if (full <= sampleCap) train(input, dims, m, k, iters)
      else {
        val den = 1L << 20
        val num = math.min(den, den * sampleCap / full + 1)
        train(input.filter(
          pmod(xxhash64(col("vec_id")), lit(den)) < lit(num)), dims, m, k, iters)
      }
    } finally input.unpersist(blocking = false)
  }

  /** The [[Ivf.trainSampleCap]] convention at PQ's geometry: ~256 training
    * points per codeword, floored so small corpora never sample. */
  def trainSampleCap(k: Int): Int = math.max(256 * k, 1 << 14)

  /** Encode + reconstruction statistics in ONE map-side pass over (…, v):
    * appends `codes` (array<bigint>, length m), `recon_dot` (= v·v̂) and
    * `recon_norm2` (= ‖v̂‖²), where v̂ is the concatenation of the chosen
    * centroids. One native [[graft.functions.PqEncode]] node computes all
    * of it per row (plan size O(1) in m×k — the struct composition this
    * replaced was Janino-bounded, see encodeCol), and the decoded vector
    * itself is never built. */
  def encodeWithStats(vecs: DataFrame, dims: Int, books: Seq[Codebook]): DataFrame = {
    require(dims % books.size == 0,
      s"dims=$dims not divisible by ${books.size} codebooks")
    GraftFunctions.register(vecs.sparkSession)
    vecs.select(col("*"), encodeCol(books).as("_pq_enc"))
      .withColumn("codes", col("_pq_enc.codes"))
      .withColumn("recon_dot", col("_pq_enc.recon_dot"))
      .withColumn("recon_norm2", col("_pq_enc.recon_norm2"))
      .drop("_pq_enc")
  }

  /** Reconstruction of a `codes` attribute as a literal-indexing
    * expression. SMALL-SCALE / TEST USE ONLY: this inlines the full
    * codebook as literal tables — fine in a spec assertion, but in a hot
    * projection it is exactly the Janino method-size blowup
    * [[encodeWithStats]] exists to avoid. */
  def decodeExpr(codes: Column, books: Seq[Codebook]): Column =
    concat(books.zipWithIndex.map { case (book, j) =>
      val table = typedlit(book.sortBy(_._1).map(_._2))
      element_at(table, element_at(codes, j + 1).cast("int") + 1)
    }: _*)

  /** The ADC (asymmetric distance computation) cosine column over
    * (codes, recon_norm2) attributes — the query-side kernel of an
    * IVF-PQ system (Jégou et al. 2011 §IV), housed with the quantizer it
    * scores against (moved from operators.LlmOps in r16 so the etl-layer
    * preflight [[AnnPreflight]] can share it; LlmOps forwards): per
    * subspace, the query's dot against each centroid precomputes
    * DRIVER-side into an m×k lookup table, and scoring is ONE native
    * `adc_dot` expression per row — a codegen'd table-lookup loop over
    * the flattened m×k table (functions.AdcDot; r13 — 1.16× per row over
    * the previous m-chained `element_at(typedlit)` nodes and ~3·m fewer
    * plan nodes in every freshly-planned probe query). Summation order is
    * j-ascending, bit-identical to the old `reduce(_ + _)` composition
    * (NativeExprSpec's adc_dot case pins the parity), so the persisted≡inline agreement
    * PqSpec pins cannot drift; the zero-reconstruction guard mirrors
    * llm_embed_pq's; subspace width derives from q.length and books.size
    * (never hardcoded). */
  private[graft] def adcCosCol(books: Seq[Codebook], q: Seq[Double]): Column = {
    val sub = q.length / books.size
    val kpq = books.head.size
    require(books.forall(_.size == kpq),
      s"adc_dot flattened table needs uniform codebook sizes, got ${books.map(_.size)}")
    val flat = books.zipWithIndex.flatMap { case (book, j) =>
      val qj = q.slice(j * sub, (j + 1) * sub)
      adcTableRow(book, qj)
    }
    val adcDot = call_function("adc_dot",
      col("codes"), typedlit(flat), lit(kpq))
    val qnorm = math.sqrt(q.map(x => x * x).sum)
    // all-zero query → score 0 for every row (the jvmCos convention), not
    // a NaN-ordered top-k
    if (qnorm == 0.0) lit(0.0)
    else round(when(col("recon_norm2") === 0.0, 0.0).otherwise(
      adcDot / (lit(qnorm) * sqrt(col("recon_norm2")))), 6)
  }

  /** One subspace's ADC lookup row: ⟨query_j, centroid_jc⟩ for each of
    * the codebook's centroids in code order — shared by [[adcCosCol]]
    * and its parity spec so the table derivation cannot drift. */
  private[graft] def adcTableRow(book: Codebook, qj: Seq[Double]): Seq[Double] =
    book.sortBy(_._1).map { case (_, cv) =>
      var d = 0.0; var i = 0
      while (i < qj.length) { d += qj(i) * cv(i); i += 1 }
      d
    }
}
