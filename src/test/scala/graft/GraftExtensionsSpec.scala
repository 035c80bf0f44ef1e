package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** The extensions entry point must make every native function resolvable
  * with NO per-query register() call, including in child sessions (the
  * property temp-function registration lacks). Uses its own isolated
  * SparkSession — extensions apply at session build time. */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // getOrCreate would silently reuse another suite's default session and
    // drop the extensions — clear, build fresh, then restore the previous
    // default so the shared-session suites are unaffected.
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      // the JVM-wide codegen cache is sized by the first session that
      // generates code; if this suite runs first it must not pin it at
      // Spark's default (see CodegenCacheSpec)
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheMaxEntries.toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    prevDefault.foreach(SparkSession.setDefaultSession)
    SparkSession.clearActiveSession()
    s
  }

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

  test("injected functions survive newSession(), temp registration doesn't") {
    val child = spark.newSession()
    val r = child.sql("SELECT ngram_hashes('x y z', 3) AS g").collect()(0)
    assert(r.getSeq[Long](0).length == 1)
  }

  test("injected trigram_hashes matches the temp-registered expression") {
    import spark.implicits._
    graft.functions.TrigramHash60.register(spark)
    val rows = Seq("the quick brown fox jumps").toDF("text")
      .selectExpr("trigram_hashes(text) AS g").collect()
    assert(rows(0).getSeq[Long](0).length == 3)
  }
}
