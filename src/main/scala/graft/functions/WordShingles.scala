package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** DISTINCT word k-shingles of a string in one JVM pass — native twin of
  * `array_distinct(TextOps.wordShingles(text, k))` whose interpreted
  * slice/concat_ws per position was the residual cost of the MinHash
  * pipeline at sf0.1 (the shingle subtree is evaluated three times:
  * banding + both sides of the candidate join). Same shingles, same
  * first-occurrence order: texts shorter than k words yield their single
  * full window, and k ≤ 0 yields one empty shingle.
  *
  * r18 allocation-path note: the text kernels are allocation/memory-
  * bandwidth-bound (the r17 stage-widening A/B lost 5.4→33.9 s task time),
  * so this kernel runs BYTE-SLICE-ONLY. The words of `split(" ", -1)` are
  * exactly the byte runs between single 0x20 bytes, empty runs included
  * (0x20 never occurs inside a multi-byte UTF-8 sequence), so joining k
  * consecutive words with one space reproduces a CONTIGUOUS byte range of
  * the input whatever the spacing. One defensive byte copy (`getBytes`),
  * one open-addressed offset table for the distinct filter (hash +
  * byte-compare, no 64-bit-collision risk), and each emitted shingle is a
  * zero-copy `UTF8String.fromBytes` view of that copy. NativeExprSpec
  * compares it with the declarative form on irregularly spaced input. */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_shingles expects (string, int), got ${left.dataType} / ${right.dataType}")
    }

  override def nullSafeEval(textAny: Any, kAny: Any): Any = {
    val u = textAny.asInstanceOf[UTF8String]
    val k = kAny.asInstanceOf[Int]
    // getBytes copies whenever the string aliases a shared buffer slice
    // (the UnsafeRow/column-vector case), so views into it stay stable.
    val bytes = u.getBytes
    val n = bytes.length
    // k ≤ 0 windows are all empty; empty text is one empty word
    if (n == 0 || k <= 0) return new GenericArrayData(Array[Any](UTF8String.EMPTY_UTF8))
    var nWords = 1
    var i = 0
    while (i < n) {
      if (bytes(i) == ' ') nWords += 1
      i += 1
    }
    if (nWords <= k) {
      // single full window — the whole string
      return new GenericArrayData(Array[Any](UTF8String.fromBytes(bytes, 0, n)))
    }
    // word start offsets, plus a sentinel one past the end so window w's
    // bytes are [starts(w), starts(w+k) - 1) for every w
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = n + 1
    val nw = nWords - k + 1
    // distinct filter: open-addressed table of output indexes (hash of the
    // byte slice, byte-equality verified on hit — exact, first-occurrence
    // order preserved)
    var cap = 8
    while (cap < nw * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Int](cap)
    val outOff = new Array[Int](nw)
    val outLen = new Array[Int](nw)
    var outN = 0
    var widx = 0
    while (widx < nw) {
      val off = starts(widx)
      val len = starts(widx + k) - 1 - off
      val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, 42L)
      var slot = ((h ^ (h >>> 32)).toInt) & mask
      var done = false
      while (!done) {
        val e = table(slot)
        if (e == 0) {
          table(slot) = outN + 1
          outOff(outN) = off; outLen(outN) = len; outN += 1
          done = true
        } else {
          val j = e - 1
          if (outLen(j) == len && java.util.Arrays.equals(
              bytes, off, off + len, bytes, outOff(j), outOff(j) + len)) done = true
          else slot = (slot + 1) & mask
        }
      }
      widx += 1
    }
    val arr = new Array[Any](outN)
    var j = 0
    while (j < outN) {
      arr(j) = UTF8String.fromBytes(bytes, outOff(j), outLen(j))
      j += 1
    }
    new GenericArrayData(arr)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)
}
