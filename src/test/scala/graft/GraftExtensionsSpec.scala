package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.TrigramHash60

/** Every session [[GraftSession]] builds carries [[GraftExtensions]], so
  * each native function resolves with NO per-query call — including in
  * `newSession()` children, which inherit the parent's extensions. Runs
  * on the shared session: it is built like every other graft session. */
class GraftExtensionsSpec extends AnyFunSuite {
  import SharedSpark.spark

  test("all native functions resolve without register() calls") {
    val r = spark.sql(
      """SELECT
        |  trigram_hashes('a b c d') AS t,
        |  ngram_hashes('a b c d', 2) AS n,
        |  polyhash('abc') AS p,
        |  vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d""".stripMargin)
      .collect()(0)
    assert(r.getSeq[Long](0).length == 2)
    assert(r.getSeq[Long](1).length == 3)
    // polyhash("abc") = ((97*31+98)*31+99) mod (2^31-1)
    assert(r.getLong(2) == (("a".codePointAt(0).toLong * 31 + 'b') * 31 + 'c'))
    assert(r.getDouble(3) == 11.0)
  }

  test("all 7 native functions resolve in a fresh newSession() child") {
    val calls = Seq(
      "trigram_hashes" -> "trigram_hashes('a b c d')",
      "ngram_hashes" -> "ngram_hashes('x y z', 3)",
      "ngram_hash_seq" -> "ngram_hash_seq('a b c d', 2)",
      "winnow_hashes" -> "winnow_hashes('a b c d e f', 2, 3)",
      "polyhash" -> "polyhash('abc')",
      "vec_dot" -> "vec_dot(array(1.0d), array(2.0d))",
      "double_sort_key" -> "double_sort_key(1.5d)")
    assert(calls.map(_._1).toSet == GraftExtensions.functions.map(_._1).toSet)
    val child = spark.newSession()
    calls.foreach { case (name, call) =>
      val r = child.sql(s"SELECT $call AS v").collect()(0)
      assert(!r.isNullAt(0), s"$name returned null in a child session")
    }
    val seq = child.sql("SELECT ngram_hash_seq('a b c d', 2)").collect()(0)
    assert(seq.getSeq[Long](0).length == 3)
  }

  test("building operator plans leaves every injected builder in place") {
    import spark.implicits._
    val registry = spark.sessionState.functionRegistry
    def builders = GraftExtensions.functions.map { case (name, _, _) =>
      registry.lookupFunctionBuilder(FunctionIdentifier(name))
    }
    val before = builders
    assert(before.forall(_.isDefined))
    Seq("d3_ngram_jaccard", "d5_cosine_dup", "d19_dupspan_coverage",
      "t6_polyhash", "t11_decontaminate", "t28_winnow_pairs")
      .foreach(q => SparkEntry.queries(q)(spark, SharedSpark.sf))
    graft.operators.PercentileOps.exactPercentiles(
      Seq(("a", 1.0)).toDF("k", "v"), Seq("k"), "v", Seq(0.5))
    builders.zip(before).zip(GraftExtensions.functions).foreach {
      case ((now, was), (name, _, _)) =>
        assert(now.get eq was.get, s"$name was re-registered by a plan build")
    }
  }

  test("injected trigram_hashes matches the temp-registered expression") {
    import spark.implicits._
    val text = "the quick brown fox jumps"
    val df = Seq(text).toDF("text").selectExpr("trigram_hashes(text) AS g")
    val resolved = df.queryExecution.analyzed.expressions.flatMap(_.collect {
      case t: TrigramHash60 => t
    })
    val attr = df.queryExecution.analyzed.children.head.output.head
    assert(resolved == Seq(TrigramHash60(attr)))
    val injected = df.collect()(0).getSeq[Long](0)
    assert(injected.length == 3)
    // the same expression registered as a session temp function, in a
    // child session so the shared session's registry is left untouched
    val child = spark.newSession()
    child.sessionState.functionRegistry.createOrReplaceTempFunction(
      "trigram_hashes_temp",
      (exprs: Seq[Expression]) => TrigramHash60(exprs.head), "scala_udf")
    val temp = child.sql(s"SELECT trigram_hashes_temp('$text') AS g")
      .collect()(0).getSeq[Long](0)
    assert(injected.sorted == temp.sorted)
    val direct = TrigramHash60(Literal(text)).eval()
      .asInstanceOf[ArrayData].toLongArray().toSeq
    assert(injected.sorted == direct.sorted)
  }
}
