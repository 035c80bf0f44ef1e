package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing:
  * local algorithms for document fingerprinting", SIGMOD 2003; the MOSS
  * selection scheme) of a whitespace-tokenized string: the DISTINCT set
  * of sliding-window minima over the ordered word-`n`-gram 60-bit md5
  * hash sequence, window length `w`.
  *
  * Guarantee (the paper's, preserved by the distinct-by-value variant):
  * any two documents sharing a verbatim token run of ≥ w + n − 1 tokens
  * share at least one complete gram window, whose minimum hash both
  * sides select — so they share a fingerprint. Density: ~1/w of the
  * gram stream before dedup (the whole point vs emitting every gram:
  * t28's join input is 5× smaller than a t10-style shingle stream at
  * w = 5).
  *
  * The selection runs entirely INSIDE the expression — ordered gram
  * hashing (same md5 60-bit projection as [[NgramHash60]] /
  * `EngineFns.sqlMd5Long`, so the DuckDB oracle mirrors it textually)
  * plus a monotonic-deque sliding minimum, O(len) single pass — so the
  * positional gram stream never materializes in the plan, only the
  * winnowed survivors explode. A composed-lambda equivalent would pay
  * t10's ~2 ms/doc interpreted overhead AND ship w× the rows into the
  * explode. `CodegenFallback` for the same reason as its siblings: the
  * md5 calls dwarf boxing overhead. */
case class WinnowHash60(child: Expression, n: Int, w: Int)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(
        s"winnow_hashes requires a string argument, got ${child.dataType}")
    else if (n < 1 || w < 1)
      TypeCheckResult.TypeCheckFailure(
        s"winnow_hashes requires n >= 1 and w >= 1, got n=$n w=$w")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_hashes"

  override def nullSafeEval(input: Any): Any = {
    // exact dual of split(text, " ") with limit -1 (keeps empty tokens)
    val toks = input.asInstanceOf[UTF8String].toString.split(" ", -1)
    val nGrams = toks.length - n + 1
    if (nGrams < w) return new GenericArrayData(Array.empty[Long])
    val h = new Array[Long](nGrams)
    val md = WinnowHash60.digest.get()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < nGrams) {
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
      h(i) = acc
      i += 1
    }
    // sliding-window minimum via monotonic index deque: the front is
    // always the index of the window's minimum VALUE (ties keep the
    // earlier index — irrelevant here, only values are emitted)
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // dq[head until tail] are candidate indices, h ascending
    i = 0
    while (i < nGrams) {
      while (tail > head && h(dq(tail - 1)) > h(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) out.add(h(dq(head)))
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var j = 0
    while (it.hasNext) { arr(j) = it.next(); j += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowHash60 =
    copy(child = newChild)
}

object WinnowHash60 {
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
}
