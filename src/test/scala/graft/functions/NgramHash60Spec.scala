package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

/** NgramHash60 must agree exactly with (a) the trigram special case and
  * (b) the composed declarative formulation it replaces — the same
  * value-identity contract TrigramHash60 carries. */
class NgramHash60Spec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  private val texts = Seq(
    "a b c d e f g h i j",
    "a b c",
    "a b",          // shorter than most n: empty result
    "",             // one empty token
    "x  y z w v u t s r q", // double space → empty token kept (split -1)
    "dup dup dup dup dup dup dup dup dup" // repeated grams collapse
  ).toDF("text")

  test("n=3 equals trigram_hashes on every text") {
    val rows = texts.select(
      expr("trigram_hashes(text)").as("t3"),
      expr("ngram_hashes(text, 3)").as("n3")).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("n=8 equals the composed distinct/transform/md5 column formulation") {
    val toks = split($"text", " ")
    val composed = when(size(toks) < 8, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - 7),
        i => concat_ws(" ", (0 until 8).map(o => element_at(toks, i + o)): _*))))
    val rows = texts.select(
      transform(composed, g => EngineFns.md5Long(g)).as("want"),
      expr("ngram_hashes(text, 8)").as("got")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0).sorted == r.getSeq[Long](1).sorted)
    }
  }

  test("n=1 hashes every distinct token") {
    val r = Seq("a b a c").toDF("text")
      .select(expr("ngram_hashes(text, 1)")).collect()(0).getSeq[Long](0)
    assert(r.length == 3)
  }

  test("arity/literal mistakes surface as USER_RAISED_EXCEPTION (a " +
      "caller error), never INTERNAL_ERROR's 'please report' framing") {
    val bad = Seq(
      "select ngram_hashes(text) from t16",          // arity
      "select ngram_hashes(text, 2, 3) from t16",    // arity
      "select ngram_hashes(text, text) from t16",    // non-literal n
      "select ngram_hash_seq(text) from t16",        // arity
      "select ngram_hash_seq(text, 2, 3) from t16",  // arity
      "select ngram_hash_seq(text, text) from t16",  // non-literal n
      "select winnow_hashes(text, 3) from t16",      // arity
      "select winnow_hashes(text, 3, 4, 5) from t16", // arity
      "select winnow_hashes(text, text, 4) from t16", // non-literal n
      "select winnow_hashes(text, 3, text) from t16") // non-literal w
    texts.createOrReplaceTempView("t16")
    bad.foreach { sql =>
      val fn = sql.stripPrefix("select ").takeWhile(_ != '(')
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }
      assert(e.getCondition == "USER_RAISED_EXCEPTION",
        s"$sql raised ${e.getCondition}: ${e.getMessage}")
      assert(e.getMessage.contains(fn))
    }
  }
}
