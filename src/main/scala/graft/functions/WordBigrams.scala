package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word bigram MULTISET of a string in one
  * JVM pass — native twin of the
  * `zip_with(slice(words, 1, n−1), slice(words, 2, n−1), (a,b) →
  * concat(a, ' ', b))` composition the bigram-LM row exploded (r18): that
  * form pays split-to-Strings plus two array copies plus a concat
  * allocation per position, and the bigram stream is deliberately
  * re-evaluated by several count passes (the r7 negative result on
  * materializing it), so the per-pass kernel cost is paid 2–3×.
  *
  * Unlike [[WordShingles]] this keeps DUPLICATES (counts feed the LM) —
  * no distinct filter at all. Every bigram is a contiguous byte range of
  * the input whatever the spacing (the words of `split(" ", -1)` are the
  * byte runs between single 0x20 bytes, empty runs included, and the
  * concat with one space is byte-identical to the slice), so the kernel
  * is one defensive byte copy plus zero-copy `fromBytes` views. Texts
  * with fewer than two words yield an EMPTY array (`explode` drops them —
  * the zip_with-of-empty-slices behavior). NativeExprSpec compares it
  * with the declarative form on irregularly spaced input. */
case class WordBigrams(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_bigrams expects string, got $other")
    }

  override def nullSafeEval(textAny: Any): Any = {
    val u = textAny.asInstanceOf[UTF8String]
    val bytes = u.getBytes
    val n = bytes.length
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    var nWords = 1
    var i = 0
    while (i < n) {
      if (bytes(i) == ' ') nWords += 1
      i += 1
    }
    if (nWords < 2) return new GenericArrayData(new Array[Any](0))
    val starts = new Array[Int](nWords + 1)
    var w = 1
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = n + 1
    val out = new Array[Any](nWords - 1)
    var b = 0
    while (b < nWords - 1) {
      val off = starts(b)
      out(b) = UTF8String.fromBytes(bytes, off, starts(b + 2) - 1 - off)
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordBigrams =
    copy(child = newChild)
}
