package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Full-vector PQ assignment in ONE expression:
  * `pq_encode(v, booksFlat, halfcc, k)` returns
  * `struct(codes array<bigint>, recon_dot double, recon_norm2 double)` —
  * the m per-subspace L2 argmins plus the reconstruction statistics
  * (v·v̂ = Σⱼ x·cⱼ, ‖v̂‖² = Σⱼ cⱼ·cⱼ) that `Pq.encodeWithStats` needs,
  * computed in a single primitive-array loop.
  *
  * Why an expression (the [[NearestCentroids]] escalation, hit again at
  * PQ's own design point — r14): the previous formulation materialized
  * one `struct(lit − dot_fast(sv, typedlit), cid, dot, cc)` per
  * (subspace, codeword) under `array_min` — m×k expression nodes each
  * carrying a sub-dim literal array. At the 64-dim probe scale
  * (m×k ≤ 1024) it compiled; at the 768-dim design point
  * (m = 48–96, k = 256 → 12k–25k nodes) Janino's local-variable maps
  * OOM'd a 24 GB driver before a single row moved. The loop below is
  * the same arithmetic over two flat model arrays — plan size is O(1)
  * in m×k, and the model rides the plan as two literals (dims×k
  * doubles — 1.5 MB at 768×256, bounded below).
  *
  * BIT-EXACT parity with the composition it replaces (PqSpec pins it on
  * real corpora): per (j, cid), dot accumulates t-ascending over the
  * subvector — `dot_fast`'s element order; negscore = halfcc − dot with
  * halfcc the DRIVER-computed `cv.map(x·x).sum / 2.0` literal passed in
  * verbatim; the argmin scans cid-ascending replacing only on a nan-safe
  * strictly-smaller negscore — `array_min`'s (negscore, cid, …) struct
  * order (NaN above all values, ties → lowest cid); recon sums fold
  * j-ascending — the `reduce(_ + _)` order.
  *
  * Null contract: a null, length-mismatched, or null-element vector
  * yields a NULL struct. (The composition degenerated to all-zero codes
  * with null stats via all-null struct comparison; no caller feeds
  * malformed vectors — Pq corpora are validated upstream — and the
  * explicit null is the saner surface for one.)
  *
  * Arguments: v array<double>; booksFlat array<double>, (j·k + cid)·sub
  * row-major, cid-ascending per subspace; halfcc array<double>, j·k +
  * cid, the per-codeword ‖c‖²/2 literals; k int. m = halfcc.length / k,
  * sub = booksFlat.length / halfcc.length. Model args must be foldable
  * (validated at analysis).
  *
  * Codegen (r15): [[doGenCode]] emits the identical loop into the
  * whole-stage class, with the model arrays installed as plain
  * `double[]` references (addReferenceObj — the AdcDot convention
  * lifted to a MB-scale model: no per-row literal ArrayData
  * indirection, no virtual eval call, and the encode projection stays
  * inside one WholeStageCodegen span instead of forcing the fallback
  * seam). m/k/sub are analysis-time constants, so they inline as Java
  * int literals and the loops unroll-optimize in C2. PqSpec pins
  * interpreted ≡ generated bit-exactness, rows and nulls alike. */
case class PqEncode(vec: Expression, booksExpr: Expression,
    halfccExpr: Expression, kExpr: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(vec, booksExpr, halfccExpr, kExpr)

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("recon_dot", DoubleType, nullable = false),
    StructField("recon_norm2", DoubleType, nullable = false)))

  override def nullable: Boolean = true

  /** Model-size bound: dims×k doubles ride the plan as a literal; 1 << 22
    * (32 MB) admits 4096-dim × 256-codeword books but fails analysis on a
    * typo'd matrix instead of OOMing the driver. */
  private val MaxFlat = 1 << 22

  override def checkInputDataTypes(): TypeCheckResult = {
    import TypeCheckResult._
    (vec.dataType, booksExpr.dataType, halfccExpr.dataType, kExpr.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _),
          ArrayType(DoubleType, _), IntegerType) =>
        if (!booksExpr.foldable || !halfccExpr.foldable || !kExpr.foldable)
          TypeCheckFailure("pq_encode: codebooks, halfcc and k must be foldable constants")
        else (booksExpr.eval(), halfccExpr.eval(), kExpr.eval()) match {
          case (bf: ArrayData, hc: ArrayData, kv: Int)
              if kv >= 1 && hc.numElements() >= kv &&
                hc.numElements() % kv == 0 &&
                bf.numElements() <= MaxFlat &&
                bf.numElements() % hc.numElements() == 0 &&
                // sub >= 1: an empty booksFlat satisfies the modulo checks
                // (0 % n == 0) but makes eval return NULL for every
                // non-empty vector instead of failing at analysis (r14
                // ADVICE)
                bf.numElements() >= hc.numElements() =>
            TypeCheckSuccess
          case _ =>
            TypeCheckFailure("pq_encode: need k >= 1, halfcc length a positive " +
              s"multiple of k, flat books length a multiple of it and <= $MaxFlat")
        }
      case _ =>
        TypeCheckFailure("pq_encode expects (array<double> v, array<double> " +
          "booksFlat, array<double> halfcc, int k), got " +
          children.map(_.dataType).mkString(", "))
    }
  }

  @transient private lazy val books: Array[Double] =
    booksExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val halfcc: Array[Double] =
    halfccExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
  @transient private lazy val k: Int = kExpr.eval().asInstanceOf[Int]
  @transient private lazy val m: Int = halfcc.length / k
  @transient private lazy val sub: Int = books.length / halfcc.length

  /** Spark's nan-safe "strictly smaller": NaN above all values, so a NaN
    * candidate never displaces and anything finite displaces a NaN. */
  private def lt(x: Double, y: Double): Boolean = {
    val xn = java.lang.Double.isNaN(x); val yn = java.lang.Double.isNaN(y)
    if (xn) false
    else if (yn) true
    else x < y
  }

  override def eval(input: InternalRow): Any = {
    val vAny = vec.eval(input)
    if (vAny == null) return null
    val vData = vAny.asInstanceOf[ArrayData]
    if (vData.numElements() != m * sub) return null
    var i = 0
    while (i < m * sub) { if (vData.isNullAt(i)) return null; i += 1 }
    val v = vData.toDoubleArray()
    val codes = new Array[Long](m)
    var sumDot = 0.0
    var sumCc = 0.0
    var j = 0
    while (j < m) {
      val vBase = j * sub
      var bestNeg = 0.0
      var bestCid = 0
      var bestDot = 0.0
      var cid = 0
      while (cid < k) {
        val cBase = (j * k + cid) * sub
        var dot = 0.0
        var t = 0
        while (t < sub) { dot += v(vBase + t) * books(cBase + t); t += 1 }
        val neg = halfcc(j * k + cid) - dot
        if (cid == 0 || lt(neg, bestNeg)) {
          bestNeg = neg; bestCid = cid; bestDot = dot
        }
        cid += 1
      }
      codes(j) = bestCid.toLong
      sumDot += bestDot
      sumCc += 2.0 * halfcc(j * k + bestCid)
      j += 1
    }
    InternalRow(new GenericArrayData(codes), sumDot, sumCc)
  }

  /** The eval loop, emitted as a PRIVATE METHOD of the generated class
    * (ctx.addNewFunction), with the call site inlined at the expression's
    * position. Two constraints force the method split: (a) generator
    * consume paths are not method-split by whole-stage codegen, so a loop
    * emitted INLINE lands inside a giant un-splittable consume method that
    * blows HotSpot's huge-method JIT limit and runs the m×k×sub multiply
    * loop in the BYTECODE INTERPRETER (measured r15: Pq.train's explode
    * stage went 15 s → wedged at ≥50× when this body was inline); (b) a
    * small dedicated method JIT-compiles, and the `references[]` casts
    * hoist to locals outside the hot loop. The model rides as two
    * `double[]` reference fields; m/k/sub inline as int literals
    * (foldable-validated at analysis). Bit-exact with [[eval]]: same
    * accumulation orders, same nan-safe argmin, same null contract (null
    * / length-mismatched / null-element vector → NULL struct, encoded by
    * a null return from the method). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("pqBooksFlat", books, "double[]")
    val hRef = ctx.addReferenceObj("pqHalfcc", halfcc, "double[]")
    val rowCls = classOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow].getName
    val arrCls = classOf[GenericArrayData].getName
    val adCls = classOf[ArrayData].getName
    val irCls = classOf[InternalRow].getName
    val fn = ctx.freshName("pqEncode")
    val encodeFn = ctx.addNewFunction(fn,
      s"""
        |private $irCls $fn($adCls vd) {
        |  if (vd.numElements() != ${m * sub}) return null;
        |  for (int i = 0; i < ${m * sub}; i++) {
        |    if (vd.isNullAt(i)) return null;
        |  }
        |  double[] v = vd.toDoubleArray();
        |  double[] b = $bRef;
        |  double[] h = $hRef;
        |  long[] codes = new long[$m];
        |  double sumDot = 0.0;
        |  double sumCc = 0.0;
        |  for (int j = 0; j < $m; j++) {
        |    int vBase = j * $sub;
        |    double bestNeg = 0.0;
        |    int bestCid = 0;
        |    double bestDot = 0.0;
        |    for (int cid = 0; cid < $k; cid++) {
        |      int cBase = (j * $k + cid) * $sub;
        |      double dot = 0.0;
        |      for (int t = 0; t < $sub; t++) {
        |        dot += v[vBase + t] * b[cBase + t];
        |      }
        |      double neg = h[j * $k + cid] - dot;
        |      if (cid == 0 || (!Double.isNaN(neg) &&
        |          (Double.isNaN(bestNeg) || neg < bestNeg))) {
        |        bestNeg = neg; bestCid = cid; bestDot = dot;
        |      }
        |    }
        |    codes[j] = (long) bestCid;
        |    sumDot += bestDot;
        |    sumCc += 2.0 * h[j * $k + bestCid];
        |  }
        |  return new $rowCls(new Object[] {
        |    new $arrCls(codes), sumDot, sumCc });
        |}
      """.stripMargin)
    val vEv = vec.genCode(ctx)
    ev.copy(code =
      code"""
        |${vEv.code}
        |boolean ${ev.isNull} = true;
        |$irCls ${ev.value} = null;
        |if (!${vEv.isNull}) {
        |  ${ev.value} = $encodeFn(${vEv.value});
        |  ${ev.isNull} = (${ev.value} == null);
        |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PqEncode =
    copy(vec = newChildren(0), booksExpr = newChildren(1),
      halfccExpr = newChildren(2), kExpr = newChildren(3))
}
