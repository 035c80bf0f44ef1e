package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-trigram 60-bit hashes of a whitespace-tokenized string,
  * in one pass: tokenize → build "a b c" grams → md5 → first 15 hex chars
  * as a long → distinct.
  *
  * Value-identical to the composed column expression
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ', ...)))` +
  * `conv(substring(md5(g),1,15),16,10)` (and therefore to the DuckDB
  * oracle formula in [[EngineFns.sqlTrigrams]]/[[EngineFns.sqlMd5Long]]),
  * but ~15× faster: the interpreted higher-order-function chain costs
  * ~0.9ms/doc (measured: 4.3s for 5k docs), all of it lambda dispatch and
  * intermediate array/string churn; this loop does the same work in tight
  * Java with one HashSet.
  *
  * Deliberately `CodegenFallback`: the per-row work (dozens of md5 calls)
  * dwarfs the boxing overhead codegen would remove, and fallback keeps
  * the md5/parse logic in plain Java.
  */
case class TrigramHash60(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"trigram_hashes requires a string argument, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "trigram_hashes"

  override def nullSafeEval(input: Any): Any = {
    // exact dual of split(text, " ") with limit -1 (keeps empty tokens)
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val md = TrigramHash60.digest.get()
    var i = 0
    while (i + 2 < toks.length) {
      val gram = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
      md.reset()
      val d = md.digest(gram.getBytes("UTF-8"))
      // first 15 hex chars = 7 full bytes + high nibble of byte 8
      var acc = 0L
      var k = 0
      while (k < 7) { acc = (acc << 8) | (d(k) & 0xffL); k += 1 }
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

  override protected def withNewChildInternal(newChild: Expression): TrigramHash60 =
    copy(child = newChild)
}

object TrigramHash60 {
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
}
