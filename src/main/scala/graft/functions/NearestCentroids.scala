package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** TOP-M nearest centroid ids by rounded cosine — the one centroid
  * ranking of the vector layer: IVF assignment (m = 1), multi-cell
  * spilling, query probe selection and the driver-local Lloyd loop all
  * run [[NearestCentroids.topIds]] (SURVEY §4.2's "custom expression
  * only if built-ins too slow" — profiling at sf6d said yes: the
  * literal-argmax formulation — k separate
  * `struct(round(cosine_fast(v, typedlit)), −cid)` expressions under one
  * `array_max` — falls off a codegen/JIT cliff between k = 16 and k = 50,
  * 0.39 s → 25.5 s for the same 122 k-vector scan, and the aggregate
  * top-m formulation (crossJoin fan-out + collect_list + sort_array)
  * measured 168 s for the k = √N cell fallback at 121 k vectors). The
  * flat centroid matrix rides in as one literal and the k×dims loop runs
  * over primitive arrays: map-side only, zero shuffle, so assignment
  * stays a pure scan at any corpus size (within the literal-matrix cap —
  * past it use Ivf.assignTopAgg, the aggregate fallback).
  *
  * Bit-identical to the composition it replaces: sequential-sum dot and
  * norms in element order with cos = dot/(√na·√nb) (√na is row-constant
  * and √nb centroid-constant, so factoring them preserves the exact
  * product CosineSimilarity computes), Spark's Round semantics at scale
  * 6 ([[NearestCentroids.round6]]), and the (rounded cosine desc,
  * cent_id asc) total order with Spark's nan-safe double ordering (NaN
  * above all values). The null contract mirrors the struct form: a null
  * / length-mismatched / null-element vector makes every per-centroid
  * cosine null, and all-null ties resolve down the cent_id order — here
  * the m lowest cent_ids. NativeExprSpec pins top-1 against the struct
  * composition; VectorSpec pins the full order against the aggregate
  * form.
  *
  * Arguments: (v array<double>, cvsFlat array<double> — k×dims
  * row-major, ascending cent_id —, cids array<bigint> ascending,
  * m int). cvsFlat/cids/m must be foldable constants; 1 ≤ m ≤ k.
  *
  * CodegenFallback: the per-row loop is plain compiled JVM code already;
  * fusing it into generated Java would save only the virtual call. */
case class NearestCentroids(vec: Expression, cvsExpr: Expression,
    cidsExpr: Expression, mExpr: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(vec, cvsExpr, cidsExpr, mExpr)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  /** Model-size bound: k×dims doubles ride the plan as one literal; 1 << 20
    * (8 MB) is far above the literal-path cap (Ivf.LiteralArgmaxMaxK × 64)
    * but fails analysis on a typo'd matrix instead of OOMing the driver. */
  private val MaxFlat = 1 << 20

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    (vec.dataType, cvsExpr.dataType, cidsExpr.dataType, mExpr.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _),
          ArrayType(LongType, _), IntegerType) =>
        if (!cvsExpr.foldable || !cidsExpr.foldable || !mExpr.foldable)
          TypeCheckFailure("nearest_centroids: matrix, ids, and m must be foldable constants")
        else (cvsExpr.eval(), cidsExpr.eval(), mExpr.eval()) match {
          case (cvs: ArrayData, cids: ArrayData, m: Int)
              if cids.numElements() >= 1 && cvs.numElements() <= MaxFlat &&
                cvs.numElements() % cids.numElements() == 0 &&
                m >= 1 && m <= cids.numElements() =>
            TypeCheckSuccess
          case _ =>
            TypeCheckFailure("nearest_centroids: need >= 1 centroid, flat matrix length " +
              s"divisible by the id count and <= $MaxFlat, and 1 <= m <= k")
        }
      case _ =>
        TypeCheckFailure("nearest_centroids expects (array<double>, array<double>, " +
          s"array<bigint>, int), got ${children.map(_.dataType).mkString(", ")}")
    }
  }

  private lazy val cvs: Array[Double] = cvsExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
  private lazy val cids: Array[Long] = cidsExpr.eval().asInstanceOf[ArrayData].toLongArray()
  private lazy val m: Int = mExpr.eval().asInstanceOf[Int]
  private lazy val dims: Int = cvs.length / cids.length
  private lazy val nbSqrt: Array[Double] = NearestCentroids.normSqrts(cvs, cids.length)
  private lazy val lowestCids: GenericArrayData =
    new GenericArrayData(cids.take(m).map(x => x: Any))

  override def eval(input: InternalRow): Any = {
    val vAny = vec.eval(input)
    if (vAny == null) return lowestCids
    val vData = vAny.asInstanceOf[ArrayData]
    if (vData.numElements() != dims) return lowestCids
    var i = 0
    while (i < dims) { if (vData.isNullAt(i)) return lowestCids; i += 1 }
    new GenericArrayData(
      NearestCentroids.topIds(vData.toDoubleArray(), cvs, cids, nbSqrt, m).map(x => x: Any))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroids =
    copy(vec = newChildren(0), cvsExpr = newChildren(1),
      cidsExpr = newChildren(2), mExpr = newChildren(3))
}

object NearestCentroids {

  /** √norm per centroid of a flat row-major k×dims matrix, accumulated
    * in element order — the exact factor CosineSimilarity's per-pair
    * norm loop produces. */
  def normSqrts(cvs: Array[Double], k: Int): Array[Double] = {
    val dims = cvs.length / k
    Array.tabulate(k) { j =>
      var nb = 0.0
      var i = 0
      while (i < dims) { val y = cvs(j * dims + i); nb += y * y; i += 1 }
      math.sqrt(nb)
    }
  }

  /** Spark's nan-safe double ordering: NaN == NaN, NaN above all else. */
  private def gt(x: Double, y: Double): Boolean = {
    val xn = java.lang.Double.isNaN(x); val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || x == y) false
    else if (xn) true
    else if (yn) false
    else x > y
  }

  /** The per-row top-m kernel [[NearestCentroids.eval]] runs — public so
    * the driver-local Lloyd loop (Ivf.train on a collected training set)
    * assigns through the IDENTICAL compiled code instead of a
    * reimplementation that could drift by an ulp. `v` must already be
    * null-free and of matrix width (eval's null contract stays at the
    * expression boundary); `nbSqrt` is [[normSqrts]] of `cvs`. */
  def topIds(v: Array[Double], cvs: Array[Double], cids: Array[Long],
      nbSqrt: Array[Double], m: Int): Array[Long] = {
    val dims = cvs.length / cids.length
    var na = 0.0
    var i = 0
    while (i < dims) { val x = v(i); na += x * x; i += 1 }
    val naSqrt = math.sqrt(na)
    // insertion into the running top-m: centroids arrive in ascending
    // cent_id order, so a strict cosine-greater test alone realizes the
    // (cos desc, cent_id asc) total order — equal-cosine later ids file
    // in after earlier ones and never displace them
    val topC = new Array[Double](m)
    val topId = new Array[Long](m)
    var filled = 0
    var j = 0
    while (j < cids.length) {
      var dot = 0.0
      val base = j * dims
      i = 0
      while (i < dims) { dot += v(i) * cvs(base + i); i += 1 }
      val c = round6(dot / (naSqrt * nbSqrt(j)))
      var pos = if (filled < m) filled else -1
      if (filled == m && gt(c, topC(m - 1))) pos = m - 1
      if (pos >= 0) {
        while (pos > 0 && gt(c, topC(pos - 1))) {
          topC(pos) = topC(pos - 1); topId(pos) = topId(pos - 1); pos -= 1
        }
        topC(pos) = c; topId(pos) = cids(j)
        if (filled < m) filled += 1
      }
      j += 1
    }
    topId
  }

  /** Spark Round(d, 6) — BigDecimal.valueOf(d).setScale(6, HALF_UP) —
    * with a provably-equivalent fast path. The BigDecimal pipeline
    * (Double.toString → decimal parse → scale → back) costs ~300 ns per
    * value; at k centroids per row it dominated assignment past k ≈ 100
    * (measured: Ivf.train at k = 349 spent 80 s, mostly here).
    *
    * Equivalence argument for the fast path: BigDecimal.valueOf(d) is
    * the decimal value of d's SHORTEST string representation, which
    * differs from the exact binary value of d by < 1 ulp ≈ 1e-16
    * relative, so for |d| ≤ ~1e3 the scaled value y = d·1e6 moves by
    * < 1e-7. floor(y + 0.5)/1e6 therefore agrees with the decimal
    * HALF_UP result whenever y's fractional part is farther than 1e-4
    * from the 0.5 rounding boundary (three orders of magnitude of
    * slack); inside that window — including the negative-boundary case
    * where HALF_UP (away from zero) and floor (toward +∞) genuinely
    * disagree — the exact BigDecimal path runs. Cosines land in the
    * window with probability ~2e-4, so the amortized cost is the two
    * flops. NativeExprSpec-pinned against Spark's Round on boundary
    * values; the nearest_centroids struct-composition spec (which rounds
    * via Spark Round) pins the composition. */
  /** Test hook: NativeExprSpec pins the fast path against Spark Round. */
  def round6Public(d: Double): Double = round6(d)

  private[functions] def round6(d: Double): Double = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return d
    val y = d * 1e6
    val fl = math.floor(y)
    val f = y - fl
    // fast path only for |d| ≤ 1e3 (cosines are ≤ 1; larger magnitudes
    // shrink the string-repr slack) and away from the 0.5 boundary
    if (math.abs(y) <= 1e9 && math.abs(f - 0.5) > 1e-4) {
      val r = (if (f > 0.5) fl + 1 else fl) / 1e6
      if (r == 0.0) 0.0 else r // BigDecimal has no −0.0; normalize the sign
    } else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}
