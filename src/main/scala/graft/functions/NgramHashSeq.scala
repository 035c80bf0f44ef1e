package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PER-POSITION word n-gram 60-bit hashes of a whitespace-tokenized
  * string: element `i` of the result is the hash of the n-gram starting
  * at token `i` (0-based), so the array length is `max(0, n_tokens-n+1)`
  * and — unlike [[NgramHash60]], which deduplicates for set-similarity
  * operators — repeats are KEPT and order is positional. This is the
  * primitive for span-level duplicate analysis (d19): duplicated-n-gram
  * *coverage* needs to know WHERE in the document each duplicated gram
  * sits, not just that it occurs.
  *
  * Value-identical to
  * `transform(sequence(0, size(toks)-n), i -> <md5-60 of the joined
  * slice>)` but as one hand-rolled loop for the same measured reason as
  * [[NgramHash60]] (the interpreted lambda chain costs ~2 ms/doc at
  * n=8); same `CodegenFallback` rationale (md5 dwarfs boxing).
  */
case class NgramHashSeq(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(
        s"ngram_hash_seq requires a string argument, got ${child.dataType}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"ngram_hash_seq requires n >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hash_seq"

  override def nullSafeEval(input: Any): Any = {
    // exact dual of split(text, " ") with limit -1 (keeps empty tokens)
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val count = math.max(0, toks.length - n + 1)
    val arr = new Array[Long](count)
    val md = NgramHashSeq.digest.get()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes("UTF-8"))
      // first 15 hex chars = 7 full bytes + high nibble of byte 8
      var acc = 0L
      var b = 0
      while (b < 7) { acc = (acc << 8) | (d(b) & 0xffL); b += 1 }
      acc = (acc << 4) | ((d(7) & 0xffL) >>> 4)
      arr(i) = acc
      i += 1
    }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramHashSeq =
    copy(child = newChild)
}

object NgramHashSeq {
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
}
