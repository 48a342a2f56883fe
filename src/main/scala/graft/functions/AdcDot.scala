package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd ADC (asymmetric distance computation) lookup-sum for PQ
  * codes: `adc_dot(codes, table, k)` = Σ_j table[j·k + codes[j]] over
  * the m = table.length / k subspaces — the inner loop of every
  * PQ-coded ANN probe (LlmOps.adcCosCol), where `table` is the
  * driver-precomputed flattened m×k array of ⟨query_j, centroid_jc⟩
  * dots and `codes` a row's PQ code array.
  *
  * Why an expression and not the `element_at(typedlit)` composition it
  * replaces (both measured at 2 M rows, m=16 in the r13 A/B,
  * CROSSOVER.md): under a bare aggregate the composition holds
  * whole-stage codegen and the win is modest (0.28 → 0.24 µs/row,
  * 1.16×), but the m-chained node tree sits near the codegen-collapse
  * threshold — composed under even ONE more expression
  * (xxhash64(score) in the A/B) it degrades to 3.1 µs/row while this
  * kernel stays at ~0.25 (**13.5×**). At 100 TB the scoring column is
  * routinely composed further (rounding, re-rank structs, windows), so
  * the kernel's context-STABILITY is the real win; secondarily, every
  * ANN probe plans fresh literals, and one node replaces ~3·m
  * element_at/cast/Add nodes in analysis/optimization/codegen of every
  * probe plan (20–34 % lower single-query ADC latency across the
  * m × nprobe grid).
  *
  * BIT-EXACT parity contract with the composition (AdcDotSpec): the
  * sum runs j ascending — the same left-fold order as the
  * `reduce(_ + _)` it replaces — so scores are bit-identical and the
  * persisted≡inline agreement pins (PqSpec) are unaffected.
  *
  * Null contract (mirrors the composition's element_at semantics):
  * null codes array → null; a null code element → null; a codes array
  * shorter than m → null (element_at past the end is null in the
  * composition); codes beyond m are ignored; an out-of-range code
  * (< 0 or ≥ k) → null — unreachable for Pq.encode output (codes ∈
  * [0, k)), where the composition would have raised instead. */
case class AdcDot(codes: Expression, table: Expression, k: Expression)
    extends TernaryExpression {

  override def first: Expression = codes
  override def second: Expression = table
  override def third: Expression = k

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, table.dataType, k.dataType) match {
      case (ArrayType(LongType | IntegerType | ShortType | ByteType, _),
          ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          "adc_dot expects (array<integral> codes, array<double> table, " +
            s"int k), got ${codes.dataType} / ${table.dataType} / ${k.dataType}")
    }

  @transient private lazy val elemType =
    codes.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(c: Any, t: Any, kv: Any): Any = {
    val cd = c.asInstanceOf[ArrayData]
    val td = t.asInstanceOf[ArrayData]
    val kk = kv.asInstanceOf[Int]
    if (kk <= 0) return null
    val m = td.numElements() / kk
    if (cd.numElements() < m) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      if (cd.isNullAt(j)) return null
      val code = elemType match {
        case LongType => cd.getLong(j)
        case IntegerType => cd.getInt(j).toLong
        case ShortType => cd.getShort(j).toLong
        case ByteType => cd.getByte(j).toLong
      }
      if (code < 0 || code >= kk) return null
      val idx = j * kk + code.toInt
      if (td.isNullAt(idx)) return null
      s += td.getDouble(idx)
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t, kk) => {
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val code = ctx.freshName("code")
      val idx = ctx.freshName("idx")
      val getCode = elemType match {
        case LongType => s"$c.getLong($j)"
        case IntegerType => s"(long) $c.getInt($j)"
        case ShortType => s"(long) $c.getShort($j)"
        case ByteType => s"(long) $c.getByte($j)"
      }
      s"""
         |if ($kk <= 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $m = $t.numElements() / $kk;
         |  if ($c.numElements() < $m) {
         |    ${ev.isNull} = true;
         |  } else {
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $m; $j++) {
         |      if ($c.isNullAt($j)) { ${ev.isNull} = true; break; }
         |      long $code = $getCode;
         |      if ($code < 0 || $code >= $kk) { ${ev.isNull} = true; break; }
         |      int $idx = $j * $kk + (int) $code;
         |      if ($t.isNullAt($idx)) { ${ev.isNull} = true; break; }
         |      $s += $t.getDouble($idx);
         |    }
         |    if (!${ev.isNull}) {
         |      ${ev.value} = $s;
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): AdcDot =
    copy(codes = newFirst, table = newSecond, k = newThird)
}
