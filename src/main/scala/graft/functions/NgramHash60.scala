package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram 60-bit hashes of a whitespace-tokenized string —
  * the n-parameterized generalization of [[TrigramHash60]] (kept separate
  * so existing trigram plans and their oracle citations stay untouched).
  *
  * Value-identical to the composed column expression
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ', ...n
  * element_ats...)))` + `conv(substring(md5(g),1,15),16,10)`, but the
  * interpreted lambda chain costs ~2 ms/doc at n=8 (measured: t10 at
  * 10.7 s for 5k docs before this expression; ~1 s after) — all lambda
  * dispatch and intermediate array/string churn. Same single-pass
  * HashSet loop as the trigram version; same `CodegenFallback` rationale
  * (the md5 calls dwarf boxing overhead).
  */
case class NgramHash60(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(
        s"ngram_hashes requires a string argument, got ${child.dataType}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"ngram_hashes requires n >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hashes"

  override def nullSafeEval(input: Any): Any = {
    // exact dual of split(text, " ") with limit -1 (keeps empty tokens)
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val md = NgramHash60.digest.get()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n - 1 < toks.length) {
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
      out.add(acc)
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramHash60 =
    copy(child = newChild)
}

object NgramHash60 {
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
}
