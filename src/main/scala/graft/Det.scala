package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions.{abs, count, lit, shiftright, sqrt, sum, when}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

/** Determinism helpers — the oracle-parity conventions from SURVEY.md §7.
  *
  * The driver hash-compares our parquet output against DuckDB running
  * `SparkEntry.oracleSql` on the same inputs, so double aggregates must be
  * BIT-EXACT across engines, not merely close. Floating-point summation is
  * order-dependent (G1), so instead of rounding after the fact we make the
  * aggregation itself exact. The definition is the oracle's: each double is
  * captured as DECIMAL(18,4), the captures are summed exactly, and the exact
  * total is converted to the nearest double once. Exact addition is
  * associative/commutative → any partition order (Spark's partial
  * aggregation, DuckDB's parallel scan) yields the identical result.
  *
  * Domain of oracle parity: inputs with at most 4 decimal digits. Spark's
  * capture rounds HALF_UP on `Double.toString`'s digits, DuckDB's rounds
  * the binary value, and a binary double CAN sit exactly on a .00005 tie:
  * Spark gives 123456.78125 → 123456.7813 and 1234567.03125 →
  * 1234567.0313 where DuckDB 1.0.0 gives …7812 and …0312. The testdata's
  * money/quantity columns carry ≤2 decimal digits (FIXTURES.md) and their
  * products ≤4, so every summed value here is inside the domain.
  *
  * On the Spark side the capture and the sum run on longs ([[MoneyUnscaled]],
  * [[FixedSum]]), not on `java.math.BigDecimal`: the same result bits for
  * less CPU. In a cold session the decimal buffer is mostly JIT-compiling
  * and interpreting the `BigDecimal` paths: on 4 vCPUs at sf0.1 it held
  * 40–56 % of a bucketed `orders`⋈`lineitem` join's sampled CPU, and
  * replacing it cut the benchmark's ingest headline from 22.0 to 19.7
  * CPU-s (median of 10 runs each). A plain double sum remains fine where
  * last-ulp reproducibility is not a contract.
  */
object Det {

  /** Capture type for double measures: values ≤ ~10^14 with 4 decimals. */
  val Money: DecimalType = DecimalType(18, 4)

  /** Order-independent sum of a double column, returned as double.
    * Oracle twin: `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`.
    * Also accepts a [[dsumPartial]] column and sums the partials exactly.
    * It is an aggregate function, so `dsum(x).over(w)` is a window sum. */
  def dsum(c: Column): Column = fixedSum(c, partial = false)

  /** Exact partial of [[dsum]] for a two-level aggregation: an opaque
    * `struct<hi, lo>` that [[dsum]] (or another `dsumPartial`) re-sums
    * with no rounding, so the final double equals a one-level [[dsum]]. */
  def dsumPartial(c: Column): Column = fixedSum(c, partial = true)

  private def fixedSum(c: Column, partial: Boolean): Column =
    Bridge.column(FixedSum(Bridge.expression(c), partial).toAggregateExpression())

  /** Order-independent mean: exact sum, then one double division —
    * identical IEEE operands on both engines → identical result.
    * Oracle twin: `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)
    *              / CAST(COUNT(x) AS DOUBLE)`.
    * NaN and ±Inf raise under ANSI, as in the oracle; outside ANSI the sum
    * skips them while `COUNT(x)` still counts them, here and in [[dstd]],
    * as Spark's decimal form does. */
  def davg(c: Column): Column = dsum(c) / count(c).cast(DoubleType)

  /** [[davg]] over a window frame: both aggregates run over `w`. */
  def davg(c: Column, w: WindowSpec): Column =
    dsum(c).over(w) / count(c).over(w).cast(DoubleType)

  /** Order-independent sample stddev via exact moments:
    * sqrt((Σx² − (Σx)²/n) / (n−1)) with Σx, Σx² computed exactly
    * and the closed form evaluated in double — same expression shape in the
    * oracle SQL → identical IEEE ops → identical result. Cancellation is a
    * non-issue because the sums are exact. Σx² keeps its DECIMAL(38,8) sum:
    * the squares of DECIMAL(18,4) captures need 128-bit products. */
  def dstd(c: Column): Column = {
    val s  = dsum(c)
    val s2 = sum(c.cast(Money) * c.cast(Money)).cast(DoubleType)
    val n  = count(c).cast(DoubleType)
    sqrt((s2 - s * s / n) / (n - lit(1.0)))
  }

  /** Knuth multiplicative hash of an id onto [0, 2³²) — the deterministic
    * sampling coordinate of the mixture/sampling rows (llm_domain_mix,
    * llm_token_budget_mix, sample_stratified_exact). The definition is the
    * oracle's DECIMAL(38,0) form, `(id * 2654435761) % 2³²` with a
    * truncated remainder (a negative id gives a value in (−2³², 0]): the
    * plain BIGINT multiply overflows (and ANSI mode throws) once ids pass
    * ⌊2⁶³/2654435761⌋ ≈ 3.4×10⁹, which replica-offset corpora like the
    * sf3/sf6 sets exceed. It is computed here on longs that cannot
    * overflow: only |id| mod 2³² matters, split into 16-bit limbs whose
    * products with the < 2³² multiplier stay below 2⁴⁸. */
  def knuthU(id: Column): Column = {
    val m = lit(1L << 32)
    val a = abs(id % m)                       // |id| mod 2³², Long.MinValue included
    val low = (a % lit(1L << 16)) * lit(Knuth)
    val high = (shiftright(a, 16) * lit(Knuth) % lit(1L << 16)) * lit(1L << 16)
    val r = (low + high) % m
    when(id < 0, -r).otherwise(r)
  }

  private val Knuth = 2654435761L

  /** Oracle twin of [[knuthU]]. */
  def sqlKnuthU(id: String): String =
    s"CAST((CAST($id AS DECIMAL(38,0)) * 2654435761) % 4294967296 AS BIGINT)"

  /** Oracle-side SQL fragments twinning the above. */
  def sqlSum(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
  def sqlAvg(x: String): String =
    s"(CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT($x) AS DOUBLE))"
  def sqlStd(x: String): String = {
    val s  = s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
    val s2 = s"CAST(SUM(CAST($x AS DECIMAL(18,4)) * CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
    val n  = s"CAST(COUNT($x) AS DOUBLE)"
    s"SQRT(($s2 - $s * $s / $n) / ($n - 1.0))"
  }
}

/** `CAST(x AS DECIMAL(18,4))` of a double, as its unscaled long — the
  * same value, null or ANSI error as the `Cast`, without a `Decimal`.
  *
  * Fast path: u = rint(x·10⁴) when |x| < 2³⁷ and |fl(x·10⁴) − u| ≤ ¼.
  * The `Cast` rounds HALF_UP the decimal digits s of `Double.toString(x)`,
  * which parse back to x, so |s − x|·10⁴ ≤ ulp(x)/2·10⁴ ≤ 2⁻¹⁷·10⁴ < 0.077;
  * fl(x·10⁴) < 2⁵¹ is within 2⁻³ of x·10⁴; so s·10⁴ lies within
  * 0.077 + 0.125 + 0.25 < ½ of the integer u, and rounding returns u with
  * no tie possible. That covers every double with ≤ 4 decimal digits below
  * 2³⁷ and the ulp-off products of such values. Everything else — NaN,
  * ±Inf, |x| ≥ 2³⁷ (which holds the `Cast`'s overflow, |x| ≥ 10¹⁴) and
  * values near a .00005 boundary such as 0.03125 — goes through the `Cast`
  * itself, except that NaN and ±Inf raise under ANSI (see [[slow]]). */
case class MoneyUnscaled(child: Expression, evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a double, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "money_unscaled"

  @transient private lazy val cast =
    Cast(BoundReference(0, DoubleType, nullable = false), Det.Money, None, evalMode)

  /** The `Cast`'s unscaled value, or null where the `Cast` gives null.
    * NaN and ±Inf are the exception under ANSI: the `Cast` gives null for
    * them, but they raise its out-of-range error here, as they do in the
    * oracle (DuckDB cannot cast inf to DECIMAL(18,4) either). */
  def slow(x: Double): Any =
    if (evalMode == EvalMode.ANSI && (x.isNaN || x.isInfinite))
      throw Bridge.decimalOutOfRange(x.toString, Det.Money.precision, Det.Money.scale)
    else cast.eval(InternalRow(x)) match {
      case null => null
      case d: Decimal => d.toUnscaledLong
    }

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[Double]
    val t = x * 1e4
    val u = Math.rint(t)
    if (Math.abs(x) < MoneyUnscaled.Bound && Math.abs(t - u) <= 0.25) u.toLong else slow(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("moneyUnscaled", this)
    nullSafeCodeGen(ctx, ev, x => {
      val t = ctx.freshName("t")
      val u = ctx.freshName("u")
      val slow = ctx.freshName("slow")
      s"""
         |double $t = $x * 1e4;
         |double $u = Math.rint($t);
         |if (Math.abs($x) < ${MoneyUnscaled.Bound}D && Math.abs($t - $u) <= 0.25D) {
         |  ${ev.value} = (long) $u;
         |} else {
         |  Object $slow = $self.slow($x);
         |  ${ev.isNull} = $slow == null;
         |  if (!${ev.isNull}) ${ev.value} = (Long) $slow;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MoneyUnscaled =
    copy(child = newChild)
}

object MoneyUnscaled {
  /** 2³⁷: below it the fast path is exact (see the class doc). */
  val Bound: Double = 137438953472.0
}

/** Exact sum of DECIMAL(18,4) captures held as unscaled longs, the
  * `sum(CAST(x AS DECIMAL(18,4)))` of Spark and the oracle without a
  * `BigDecimal` buffer. Its input is a double, captured per row by
  * [[MoneyUnscaled]], or a partial of another `FixedSum`. A declarative
  * aggregate, so `HashAggregateExec` and window frames keep codegen.
  *
  * The buffer is two longs, total = hi·10¹⁸ + lo with lo carried into
  * [0, 10¹⁸); both are null until the first non-null input, so a group with
  * none gives null. It holds any DECIMAL(28,4) total (|hi| < 10¹⁰) exactly.
  * The result is the total as the nearest double, converted once per group,
  * or with `partial` the `struct<hi, lo>` itself, which a later `FixedSum`
  * takes as input and re-sums exactly. A total outside DECIMAL(28,4) raises
  * Spark's decimal-sum overflow error under ANSI and gives null otherwise.
  * Spark's own sum raises it when a running buffer leaves DECIMAL(28,4);
  * for inputs of one sign that is exactly when the total does, and here
  * the check is on the total, so it does not depend on the row order. */
case class FixedSum(child: Expression, partial: Boolean = false,
    evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends DeclarativeAggregate {

  import FixedSum._

  override def children: Seq[Expression] = child :: Nil
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t if isPartial(t) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects a double or its partial, got $t")
  }
  override def nullable: Boolean = true
  override def dataType: DataType = if (partial) PartialType else DoubleType
  override def prettyName: String = if (partial) "dsum_partial" else "dsum"

  private lazy val hi = AttributeReference("hi", LongType)()
  private lazy val lo = AttributeReference("lo", LongType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = hi :: lo :: Nil

  private def nullLong = Literal.create(null, LongType)
  override lazy val initialValues: Seq[Expression] = Seq(nullLong, nullLong)

  override lazy val updateExpressions: Seq[Expression] = {
    val (in, dHi, dLo) = child.dataType match {
      case DoubleType =>
        val u = MoneyUnscaled(child, evalMode)
        (u, Literal(0L), u)
      case _ => (child, GetStructField(child, 0), GetStructField(child, 1))
    }
    add(coalesce(hi, 0L), coalesce(lo, 0L), dHi, dLo).zip(Seq(hi, lo)).map {
      case (sum, old) => If(in.isNull, old, sum)
    }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val bothEmpty = hi.left.isNull && hi.right.isNull
    add(coalesce(hi.left, 0L), coalesce(lo.left, 0L), coalesce(hi.right, 0L), coalesce(lo.right, 0L))
      .map(If(bothEmpty, nullLong, _))
  }

  override lazy val evaluateExpression: Expression = If(hi.isNull, Literal.create(null, dataType),
    if (partial) CreateNamedStruct(Seq(Literal("hi"), hi, Literal("lo"), lo))
    else FixedToDouble(hi, lo, evalMode))

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FixedSum =
    copy(child = newChildren.head)
}

object FixedSum {
  /** 10¹⁸, the carry base of the buffer's low long. */
  val Base: Long = 1000000000000000000L

  val PartialType: StructType = StructType(Seq(StructField("hi", LongType), StructField("lo", LongType)))

  def isPartial(t: DataType): Boolean = t match {
    case StructType(Array(StructField("hi", LongType, _, _), StructField("lo", LongType, _, _))) => true
    case _ => false
  }

  /** (hi, lo) + (dHi, dLo) with lo kept in [0, 10¹⁸), for dLo in
    * (−10¹⁸, 10¹⁸): lo + dLo is in (−10¹⁸, 2·10¹⁸), one carry at most. */
  private def add(hi: Expression, lo: Expression, dHi: Expression, dLo: Expression): Seq[Expression] = {
    val x = lo + dLo
    val carry = If(x >= Base, Literal(1L), If(x < 0L, Literal(-1L), Literal(0L)))
    Seq(hi + dHi + carry, x - carry * Base)
  }

  /** Whether hi·10¹⁸ + lo (lo in [0, 10¹⁸)) needs more than 28 digits. */
  def overflows(hi: Long, lo: Long): Boolean =
    hi >= 10000000000L || hi < -10000000000L || (hi == -10000000000L && lo == 0L)

  /** The nearest double to (hi·10¹⁸ + lo)·10⁻⁴, as Spark's DECIMAL → DOUBLE
    * cast gives it (`BigDecimal.doubleValue`, correctly rounded): one IEEE
    * division of exact operands while the unscaled total is below 2⁵³. */
  def toDouble(hi: Long, lo: Long): Double = {
    if (hi == 0L || hi == -1L) {
      val u = hi * Base + lo
      if (Math.abs(u) < (1L << 53)) return u.toDouble / 1e4
    }
    new java.math.BigDecimal(java.math.BigInteger.valueOf(hi)
      .multiply(java.math.BigInteger.valueOf(Base))
      .add(java.math.BigInteger.valueOf(lo)), 4).doubleValue
  }
}

/** The double of a [[FixedSum]] buffer, with the overflow check. */
case class FixedToDouble(left: Expression, right: Expression, evalMode: EvalMode.Value)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Spark's own overflow outcome of a DECIMAL(28,4) sum: under ANSI its
    * evaluation raises the decimal-sum overflow error, otherwise it is null. */
  @transient private lazy val overflow = {
    val t = DecimalType(28, 4)
    CheckOverflowInSum(Literal.create(null, t), t, nullOnOverflow = evalMode != EvalMode.ANSI, null)
  }

  /** The result, or null on overflow outside ANSI (boxed for codegen). */
  def convert(hi: Long, lo: Long): Any =
    if (FixedSum.overflows(hi, lo)) overflow.eval() else FixedSum.toDouble(hi, lo)

  override protected def nullSafeEval(hi: Any, lo: Any): Any =
    convert(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fixedToDouble", this)
    val obj = ctx.freshName("obj")
    nullSafeCodeGen(ctx, ev, (hi, lo) =>
      s"""
         |Object $obj = $self.convert($hi, $lo);
         |${ev.isNull} = $obj == null;
         |if (!${ev.isNull}) ${ev.value} = (Double) $obj;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): FixedToDouble =
    copy(left = newLeft, right = newRight)
}
