package graft.etl

import graft.functions.GraftFunctions
import graft.etl.StageCheckpoint.StageCheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Random-hyperplane LSH for embedding vectors (the second ANN scale path
  * beside IVF): each vector gets an nBits sign-bucket — sign(v·h_j) per
  * hyperplane — and search probes only buckets within Hamming distance 1
  * of the query's bucket. Cosine-similar vectors agree on sign bits with
  * probability 1 − θ/π, so near-duplicates collide with high probability
  * while the scan shrinks by ~2^nBits/(nBits+1).
  *
  * Hyperplanes are DERIVED, not random: component h_j[i] is a hash of
  * (j, i) mapped to [−1, 1) — reproducible across runs, sessions, and
  * cluster sizes with no stored model. Bit j is the sign of
  * cosine_fast(v, h_j) (norms are positive, so sign(cos) = sign(dot)).
  *
  * 100 TB note: partition the vector table by bucket on disk and a probe
  * touches nBits+1 of 2^nBits partitions; bucketing is map-side.
  */
object VectorLsh {

  /** One corpus-profile routing decision (llm_embed_neardup's r8 router):
    * which candidate generator ran and the sampled mass estimate that
    * chose it. `sampled` = false means the corpus was under the
    * estimator's floor and the banded path was taken without sampling
    * (bgPairs/truePairs are 0 in that case, not measurements). */
  final case class RouteDecision(usedCells: Boolean, nDistinct: Long,
      bgPairs: Double, truePairs: Double, sampled: Boolean)

  /** Probe telemetry for the LAST routing decision made in this JVM
    * (the TextDedup.lastIters pattern): callers and specs can see WHICH
    * path a run took — the routed cell path carries a cluster-scoped
    * recall caveat ([[cellBandCandidateIds]]) that is otherwise invisible
    * in the output, and the oracle only ever exercises the banded path.
    * Also logged at WARN when the cell route is taken. */
  @volatile var lastRoute: RouteDecision = null

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Decide the candidate-generation route for a near-dup pass and record
    * it in [[lastRoute]] (+ WARN log when routed to cells, so routed runs
    * are attributable in driver logs). Centralized here so every caller
    * of the router leaves the same audit trail. */
  def routeCandidates(reps: DataFrame, nDistinct: Long, nBands: Int,
      bitsPerBand: Int, dims: Int, simThreshold: Double): Boolean = {
    val decision =
      if (nDistinct <= 10000L)
        RouteDecision(usedCells = false, nDistinct, 0.0, 0.0, sampled = false)
      else {
        val (bg, tru) = estimatedCandidateMass(
          reps, nDistinct, nBands, bitsPerBand, dims, simThreshold)
        RouteDecision(usedCells = bg > 5e7 && bg > 100.0 * tru,
          nDistinct, bg, tru, sampled = true)
      }
    lastRoute = decision
    if (decision.usedCells)
      log.warn(
        f"embed near-dup ROUTED to IVF-cell candidates (cluster-scoped recall " +
        f"contract): nDistinct=${decision.nDistinct} estimated background " +
        f"pairs=${decision.bgPairs}%.3g true pairs=${decision.truePairs}%.3g")
    decision.usedCells
  }

  /** Deterministic pseudo-hyperplane component in [-1, 1). */
  private def component(j: Int, i: Int): Double = {
    var h = j * 2654435761L + i * 40503L + 0x9e3779b97f4a7c15L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    (java.lang.Math.floorMod(h, 2000000L) / 1000000.0) - 1.0
  }

  def hyperplanes(nBits: Int, dims: Int): Seq[Seq[Double]] =
    (0 until nBits).map(j => (0 until dims).map(i => component(j, i)))

  /** Adds an integer `bucket` column from the sign pattern of `v`: the
    * native `band_buckets` kernel with one band of `nBits` planes (bit j
    * = dot(v, h_j) > 0; null and length-mismatched vectors bucket to 0).
    * NativeExprSpec pins it bit-identical to the per-bit
    * `when(dot_fast(v, h_j) > 0, 1 << j)` sum. The one-band array is
    * never empty, so the coalesce never fires: it makes `bucket`
    * non-nullable, and a join on a nullable bucket would make the
    * optimizer infer an `isnotnull` filter that runs the kernel twice. */
  def withBucket(vecs: DataFrame, nBits: Int, dims: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    vecs.withColumn("bucket", coalesce(call_function("band_buckets", col("v"),
      typedlit(hyperplanes(nBits, dims).flatten), lit(1), lit(nBits)).getItem(0), lit(0)))
  }

  /** Candidates within Hamming distance `maxHamming` of the query bucket. */
  def probe(bucketed: DataFrame, queryBucket: Int, maxHamming: Int): DataFrame =
    bucketed.filter(bit_count(col("bucket").bitwiseXOR(lit(queryBucket))) <= maxHamming)

  /** XOR masks enumerating every bucket within Hamming distance `maxHamming`
    * of any bucket: 0, all single bits, all bit pairs, … — Σ C(nBits, h) for
    * h ≤ maxHamming masks (e.g. 79 at 12 bits / distance 2). Static per
    * geometry, so they enter the plan as literals. */
  def hammingMasks(nBits: Int, maxHamming: Int): Seq[Int] = {
    def combos(start: Int, h: Int): Seq[Int] =
      if (h == 0) Seq(0)
      else (start until nBits).flatMap(b => combos(b + 1, h - 1).map(_ | (1 << b)))
    (0 to maxHamming).flatMap(h => combos(0, h))
  }

  /** Multi-probe candidate generation (Lv et al., VLDB'07 shape): the QUERY
    * side fans out to its Hamming-adjacent buckets (query-bucket XOR each
    * static mask) and candidates come from a broadcast EQUI-join on
    * `bucket` — no corpus-side band explosion (1 row per corpus vector,
    * vs ×nBands in [[withBandBuckets]]) and no full-corpus Hamming filter
    * scan (the [[probe]] form). `query` must carry (qv, qbucket); all query
    * columns are preserved on the candidates.
    *
    * 100 TB note: persist the corpus partitioned by `bucket` (the IvfIndex
    * pattern) and the probed buckets become partition filters — the scan
    * touches Σ C(nBits, ≤maxHamming) of 2^nBits partitions. */
  def multiProbe(bucketed: DataFrame, query: DataFrame, nBits: Int,
      maxHamming: Int): DataFrame = {
    val masks = hammingMasks(nBits, maxHamming)
    val probes = query.select(col("*"),
      explode(transform(typedlit(masks), m => col("qbucket").bitwiseXOR(m)))
        .as("bucket"))
    bucketed.join(broadcast(probes.drop("qbucket")), "bucket")
  }

  /** Band/bit sizing for [[withBandBuckets]] as a function of corpus size —
    * the lever that keeps the candidate join LINEAR as the distinct corpus
    * grows. The band join generates ~nBands · N²/2^bits candidate pairs
    * (uniform occupancy), so bits must grow like log2(N/targetBucket) or
    * bucket joins go quadratic: measured on a 4.65 M-distinct-vector corpus
    * (sf3d), the fixed 8×4 default put ~290 k vectors in each of 16 buckets
    * per band and the join spilled past local disk. More bits lower the
    * per-band collision probability p^bits (p = 1 − θ/π per bit), so bands
    * must rise to hold the miss probability: bands =
    * ⌈ln(missProb)/ln(1 − p^bits)⌉. Derived-hyperplane determinism is
    * preserved — for a FIXED corpus size the layout is reproducible, and
    * the sizing itself is a pure function of (n, threshold, targets).
    *
    * Total candidate volume scales as N·bucket·p^−bits ≈ N^(1+ρ) with
    * ρ ≈ 0.22 at threshold 0.9 — the standard LSH exponent, mildly
    * super-linear and embarrassingly parallel, vs the N² all-pairs join.
    *
    * Bucket occupancy is SIZE-DRIVEN (targetBucket ≤ 0 → auto): occupancy
    * k costs ~N·k/2 random candidate pairs PER BAND, while each +1 bit
    * needs ~5 % more bands (projections + band-join rows + per-run plan
    * work). On small distinct corpora the random floor is cheap and the
    * fixed per-band costs dominate — coarse wins; on large ones the floor
    * IS the cost — fine wins. Both sides measured (min-of-2, local[32]):
    * sf3 (2 k distinct) occupancy 32 → 5.4 s vs occupancy 8 → 8.4 s;
    * sf3d (60.6 k distinct, 897 k TRUE pairs ≥ 0.9) occupancy 8 → 33 s vs
    * occupancy 32 → 60 s (97 M raw candidates, random floor ~2× the
    * irreducible true-pair multiplicity). Auto switches at 20 k distinct.
    * Extra bands only ADD candidate pairs (exact verification filters
    * them), so recall can only improve as the geometry grows. */
  def adaptiveBandParams(n: Long, simThreshold: Double, targetBucket: Int = -1,
      missProb: Double = 1e-4): (Int, Int) = {
    val occupancy = if (targetBucket > 0) targetBucket
      else if (n < 20000) 32 else 8
    val bits = math.max(4, math.min(20,
      math.ceil(math.log(math.max(1.0, n.toDouble / occupancy)) / math.log(2)).toInt))
    val p = 1.0 - math.acos(simThreshold) / math.Pi
    val bandMiss = 1.0 - math.pow(p, bits)
    val bands = math.max(8, math.ceil(math.log(missProb) / math.log(bandMiss)).toInt)
    (bands, bits)
  }

  /** Banded sign-buckets for NEAR-DUP search (OR-amplification, the vector
    * analogue of MinHash LSH bands): nBands independent buckets of
    * bitsPerBand sign bits each, exploded to one (band, bucket) row per
    * band. Two vectors are candidates iff they share a bucket in ANY band:
    * with per-bit collision p = 1 − θ/π, a pair at cosine ≥ 0.97 (p ≈ 0.92)
    * is missed with probability (1 − p^4)^8 ≈ 4e-5 at the 8×4 default —
    * and the derived hyperplanes make hit/miss deterministic, so a planted
    * pair that passes the spec passes forever. Size (nBands, bitsPerBand)
    * with [[adaptiveBandParams]] — fixed small bucket counts go quadratic
    * on large distinct corpora (see its scaladoc).
    *
    * 100 TB note: the ONLY shuffle downstream is the equi-join on
    * (band, bucket); bucket occupancy is data-uniform for random
    * hyperplanes, so no single block explodes the way attribute blocking
    * can — but the UNIFORM size N/2^bits must itself be kept small, which
    * is adaptiveBandParams's job. */
  def withBandBuckets(vecs: DataFrame, nBands: Int, bitsPerBand: Int, dims: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    // ONE native expression for the whole bands×bits projection sweep
    // (functions.BandBuckets): the per-bit dot_fast/when/sum composition
    // paid ~0.5 µs of expression overhead per projection, which at
    // adaptive geometry (1350 projections/vector at 245 k distinct) made
    // the banding scan 118 s where the raw flops are ~5 s. Bit-identical
    // buckets (sequential-sum dots, strict > 0, null ⇒ bucket 0) —
    // NativeExprSpec pins the equivalence against the composed form.
    val flat = hyperplanes(nBands * bitsPerBand, dims).flatten
    vecs.withColumn("band_buckets",
        call_function("band_buckets", col("v"), typedlit(flat),
          lit(nBands), lit(bitsPerBand)))
      .select(col("*"), posexplode(col("band_buckets")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .drop("band_buckets")
  }

  /** Banded near-dup candidate pair ids — the DEFAULT corpus-profile
    * path: pairs sharing a sign-bucket in ≥ 1 band, IDS ONLY through the
    * join (24 B/row; vectors are fetched after pair-dedup by id-keyed
    * joins — the embed_neardup lesson). A pair colliding in several
    * bands appears once per band; rows are identical so the keyed dedup
    * is deterministic. ~N^(1+ρ) candidates (ρ ≈ 0.22 at θ = 0.9) when
    * the background is near-orthogonal — use [[estimatedCandidateMass]]
    * to detect when it is not and route to [[cellBandCandidateIds]]. */
  def bandCandidateIds(reps: DataFrame, nBands: Int, bitsPerBand: Int,
      dims: Int): DataFrame = {
    val bucketed = withBandBuckets(reps, nBands, bitsPerBand, dims)
      .select(col("vec_id"), col("band"), col("bucket"))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates(Seq("vec_a", "vec_b"))
  }

  /** CELL-PARTITIONED near-dup candidate pair ids — the fallback for the
    * corpus profile banded LSH alone cannot serve (a mid-similarity
    * background whose weak-tail collisions flood every geometry — see
    * [[estimatedCandidateMass]]): coarse-partition the space FIRST with a
    * deterministic IVF quantizer (Ivf.train/assign — sample-capped Lloyd,
    * k = ⌈N^(1/3)⌉), then band INSIDE cells: candidates are pairs sharing
    * (cent_id, band, bucket). The cent_id conjunct bounds every candidate
    * block at the cell population regardless of the background similarity
    * structure — the exact generator llm_semdedup measured at 1.04–1.18×
    * per 2× data on the spread-profile corpora that kill the plain banded
    * path.
    *
    * RECALL CAVEAT (inherent to coarse partitioning): a near-dup pair
    * whose two vectors fall in disjoint cell sets is missed. The cell
    * assignment is ASYMMETRIC multi-probe (the classic IVF search trick
    * applied to self-join dedup): every vector is INDEXED in its primary
    * (nearest) cell only, but PROBES its top-`probeCells` cells
    * (Ivf.assignTop) — a pair is found when either side's primary cell
    * appears in the other's probe set, so a cell-boundary straddle
    * cannot split it unless both rankings diverge past the probe depth.
    * Measured on the spread corpora (RouteSweep): single-assignment
    * split 114 of 1200 planted cosine-≥ 0.97 pairs at sf6s; symmetric
    * top-3 fixed recall but multiplied within-cell candidate mass ~9×
    * and spilled /tmp dry at sf24s; asymmetric m=3 left 2–3 split pairs
    * per corpus; asymmetric m=5 (the default) recovered ALL planted
    * pairs at sf6s and sf12s at ~5× the single-assignment probe volume
    * (the indexed side — whose population drives the quadratic term —
    * stays 1×).
    * Band buckets are computed ONCE per vector (attached before the
    * cell fan-out), so probing costs candidate-join rows, not banding
    * flops. The residual cluster-scoped contract is the one SemDeDup
    * (Abbas et al. 2023) ships with; callers that need the full banded
    * recall must fix the corpus profile instead (dedup-first, or drop
    * the background by a coarse filter). */
  def cellBandCandidateIds(reps: DataFrame, n: Long, nBands: Int,
      bitsPerBand: Int, dims: Int, probeCells: Int = 5): DataFrame = {
    // k = ⌈√N⌉, NOT semdedup's ⌈N^⅓⌉: here k is not a semantic
    // granularity knob — it exists purely to bound the within-cell
    // quadratic term, which on the mid-similarity profile grows as
    // (N/k)² per cell even after banding. N^⅓ lets cells grow as N^⅔
    // and the candidate mass as N^(4/3): measured, that passed a spill
    // cliff between 245 k and 495 k vectors (m = 5 probing exhausted
    // 57 GB of /tmp shuffle space at sf24s). √N holds cell population
    // at √N, total mass ~N·p̂ per band — corpus-linear. The costs that
    // scale with k stay sane: training is O(256k·k) flops
    // (sample-capped) and assignment O(N·k) — both sub-dominant to the
    // banding scan at every measured scale.
    val k = math.min(4096, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
    // Partition-quality training, not model-quality: the cells exist
    // only to bound the quadratic term, and the multi-probe absorbs
    // boundary noise — so 2 Lloyd iterations over a 64·k sample place
    // cells well enough (recall re-measured: planted misses stay 0)
    // while keeping the O(sample·k) training term from dominating at
    // √N centroids (256·k × 3 iters measured 39 s at k = 349).
    val cents = Ivf.train(reps, k = k, iters = 2,
      sampleCap = math.max(64 * k, 1 << 14))
    // checkpoint: both join sides below reference the assignment, and
    // without materialization each side re-runs the scan + top-m kernel
    val assigned = Ivf.assignTop(reps, cents, m = probeCells).stageCheckpoint()
    val bucketed = withBandBuckets(assigned, nBands, bitsPerBand, dims)
    // indexed side: primary cell only; probe side: all top-3 cells
    val prim = bucketed
      .select(col("vec_id"), col("cells").getItem(0).as("cent_id"),
        col("band"), col("bucket"))
    val probe = bucketed
      .select(col("vec_id"), explode(col("cells")).as("cent_id"),
        col("band"), col("bucket"))
    prim.as("a").join(probe.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .dropDuplicates(Seq("vec_a", "vec_b"))
  }

  /** Sampled estimate of the candidate-pair mass a band geometry will
    * generate on this corpus, split into BACKGROUND (colliding pairs with
    * exact cosine BELOW `simThreshold` — pure waste the verify step must
    * discard) and TRUE (colliding pairs at/above it — the operator's
    * paid-for output). The fail-fast guard for banded sign-LSH's
    * corpus-profile precondition: sign-LSH separates a ≥θ pair from a
    * near-orthogonal background superbly, but a MID-similarity background
    * is a different regime — at cosine ~0.65 the per-bit agreement is
    * ~0.72, and even the weak tail of a random-ish background (cosine
    * ~0.1–0.2) collides at a rate that grows with the band count the
    * miss bound forces. Measured on the spread-mode corpora: ~10⁸
    * background candidates at 122 k distinct vectors for ~2 k true
    * pairs (ran, wastefully), ~2.6×10⁸ at 245 k — where the verify
    * joins' wide intermediate (pairs × two 64-dim vectors) spilled
    * > 60 GB of sort blocks and died. No bits/bands tuning escapes the
    * regime — (p_bg/p_thr)^bits shrinks too slowly against the band
    * count — so the cure is coarse-partition-first (llm_semdedup's IVF
    * cells bound every candidate block at ~√N regardless of the
    * background). The RATIO of the two masses is the machine-independent
    * discriminator: the d-corpora's documented 97 M-candidate runs are
    * legitimate because their background is only ~2× the true mass,
    * while the spread profile wastes 10⁴–10⁵× its output.
    *
    * Estimator: the `sampleSize` vectors with the smallest
    * xxhash64(vec_id) (deterministic, order-free), bucketed DRIVER-SIDE
    * with the same derived hyperplanes and sign rule (dot > 0); distinct
    * colliding sample pairs are classified by exact cosine and each rate
    * scales to the corpus as q·N(N−1)/2. Resolution: smallest detectable
    * q is 1/C(s,2) ≈ 4.8e-7 at s = 2048. Cost: ~s·bands·bits·dims flops
    * + C(s,2)·bands long compares on the driver (~0.5 s at the
    * default). */
  def estimatedCandidateMass(reps: DataFrame, n: Long, nBands: Int,
      bitsPerBand: Int, dims: Int, simThreshold: Double,
      sampleSize: Int = 2048): (Double, Double) = {
    if (n < 2) return (0.0, 0.0)
    // MALFORMED vectors (null, wrong dimension, null element) must bucket
    // exactly like the runtime BandBuckets kernel: ALL-ZERO codes, which
    // collide with every other malformed vector in every band (r7 ADVICE
    // — a partial-dot estimate here under-counted their collision mass
    // and could let the guard pass a corpus the kernel would then flood).
    // Represented as `null` entries; code/cosine handling below mirrors
    // the kernel (all-zero code) and classifies their pairs as
    // background (cosine treated as 0 — verify discards them anyway).
    val sample: Array[Array[Double]] = reps
      .select(col("vec_id"), col("v"))
      .orderBy(xxhash64(col("vec_id")).asc_nulls_first, col("vec_id").asc_nulls_first)
      .limit(math.min(sampleSize.toLong, n).toInt)
      .collect()
      .map { r =>
        val sq = if (r.isNullAt(1)) null else r.getSeq[Any](1)
        if (sq == null || sq.length != dims || sq.exists(_ == null)) null
        else sq.map(_.asInstanceOf[Double]).toArray
      }
    val s = sample.length
    if (s < 2) return (0.0, 0.0)
    val planes = hyperplanes(nBands * bitsPerBand, dims).map(_.toArray).toArray
    val zeroCodes = Array.fill(nBands)(0L)
    val codes = sample.map { v =>
      if (v == null) zeroCodes
      else Array.tabulate(nBands) { b =>
        var code = 0L
        var i = 0
        while (i < bitsPerBand) {
          val p = planes(b * bitsPerBand + i)
          var dot = 0.0
          var d = 0
          while (d < dims) { dot += p(d) * v(d); d += 1 }
          code = (code << 1) | (if (dot > 0) 1L else 0L)
          i += 1
        }
        code
      }
    }
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      if (a == null || b == null) return 0.0
      var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
      val lim = math.min(a.length, b.length)
      while (d < lim) { dot += a(d) * b(d); na += a(d) * a(d); nb += b(d) * b(d); d += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var bg = 0L
    var tru = 0L
    var i = 0
    while (i < s) {
      var j = i + 1
      while (j < s) {
        var hit = false
        var b = 0
        val (ci, cj) = (codes(i), codes(j))
        while (b < nBands && !hit) { hit = ci(b) == cj(b); b += 1 }
        if (hit) {
          if (cosine(sample(i), sample(j)) < simThreshold) bg += 1 else tru += 1
        }
        j += 1
      }
      i += 1
    }
    val scale = n.toDouble * (n - 1) / 2 / (s.toLong * (s - 1) / 2)
    (bg * scale, tru * scale)
  }
}
