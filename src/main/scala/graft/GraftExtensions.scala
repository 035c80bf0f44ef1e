package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{DoubleSortKey, NgramHash60, NgramHashSeq, PolyHash,
  TrigramHash60, VecDot, WinnowHash60}

/** Session-extension entry point: registers every native graft expression
  * at session build time, the idiomatic way to ship custom Catalyst
  * expressions to a cluster. [[GraftSession.builder]] installs it, so
  * every graft session — and every `newSession()` child, which inherits
  * the parent's extensions — resolves all of them with no per-query
  * call. A session built outside `GraftSession` gets the same functions
  * with
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)` on its builder).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
          "", "", "", "", "", "", "built-in"),
        builder))
    }
}

object GraftExtensions {
  /** (name, usage, builder) for every native expression — the one
    * definition of each SQL function. */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] =
    Seq(
      ("trigram_hashes",
        "trigram_hashes(str) - distinct word-trigram 60-bit md5 hashes",
        exprs => TrigramHash60(exprs.head)),
      ("ngram_hashes",
        "ngram_hashes(str, n) - distinct word n-gram 60-bit md5 hashes",
        exprs => NgramHash60(exprs.head,
          literalInts("ngram_hashes", exprs, arity = 2).head)),
      ("ngram_hash_seq",
        "ngram_hash_seq(str, n) - per-position word n-gram 60-bit md5 hashes",
        exprs => NgramHashSeq(exprs.head,
          literalInts("ngram_hash_seq", exprs, arity = 2).head)),
      ("winnow_hashes",
        "winnow_hashes(str, n, w) - winnowing fingerprints of the word n-gram hashes",
        exprs => {
          val Seq(n, w) = literalInts("winnow_hashes", exprs, arity = 3)
          WinnowHash60(exprs.head, n, w)
        }),
      ("polyhash",
        "polyhash(str) - rolling polynomial hash mod 2^31-1",
        exprs => PolyHash(exprs.head)),
      ("vec_dot",
        "vec_dot(a, b) - sequential left-fold dot product of two double arrays",
        exprs => VecDot(exprs(0), exprs(1))),
      ("double_sort_key",
        "double_sort_key(d) - order-preserving long projection of a double",
        exprs => DoubleSortKey(exprs.head)))

  /** Builder-time validation for the literal-argument functions: a wrong
    * arity or a non-foldable/non-integer trailing argument must fail as
    * an AnalysisException naming the contract, not as an
    * IndexOutOfBounds/ClassCast at plan time. Returns the values of
    * every argument after the first. */
  private def literalInts(fn: String, exprs: Seq[Expression],
      arity: Int): Seq[Int] = {
    // USER_RAISED_EXCEPTION renders the message verbatim as a caller
    // error (SQLSTATE P0001); INTERNAL_ERROR would present a bad arity
    // as an engine bug ("please report")
    def fail(msg: String): Nothing =
      throw new AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          s"$fn: $msg — expected $fn(str${", <int literal>" * (arity - 1)})"),
        None)
    if (exprs.length != arity)
      fail(s"takes $arity arguments, got ${exprs.length}")
    exprs.tail.zipWithIndex.map { case (e, i) =>
      if (!e.foldable) fail(s"argument ${i + 2} must be a literal")
      e.eval() match {
        case n: java.lang.Number => n.intValue()
        case v => fail(s"argument ${i + 2} must be an integer literal, " +
          s"got $v")
      }
    }
  }
}
