package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A recurring plan's generated classes must survive a flood of other
  * plans: Spark's JVM-wide codegen cache is sized by
  * [[GraftSession.CodegenCacheMaxEntries]], and at Spark's default of
  * 100 entries every later run of a plan recompiled its classes once
  * the working set outgrew the cache. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  test("a recurring plan is not recompiled after 250 other generated classes") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def recurring(): Unit = {
      val r = spark.range(64).selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k").sum("v").collect()
      assert(r.length == 7)
    }
    recurring()
    // integer literals are inlined into the generated code, so each of
    // these is a distinct class
    (1 to 250).foreach { i =>
      assert(spark.range(4).selectExpr(s"id * $i + 1").collect().length == 4)
    }
    val before = compiles.getCount
    recurring()
    assert(compiles.getCount - before == 0,
      "the recurring plan's generated classes were evicted and recompiled")
  }
}
