package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ParActions' thread-local contract: the background thunk sees neither
  * the caller's active session nor its SparkContext local properties,
  * whichever thread first spawned the pool thread it runs on. */
class ParActionsSpec extends AnyFunSuite {
  import graft.SharedSpark._

  test("background thunk carries no active session and no local properties") {
    val sc = spark.sparkContext
    val key = "graft.par-actions-spec.marker"
    SparkSession.setActiveSession(spark)
    sc.setLocalProperty(key, "caller")
    try {
      // the second call reuses the pool thread that ran the first call's
      // action: what the action set on it must be gone again
      for (_ <- 1 to 2) {
        val ((n, bgProp, bgSession), fgProp) = ParActions.both {
          val n = spark.range(3).count()
          (n, sc.getLocalProperty(key), SparkSession.getActiveSession)
        }(sc.getLocalProperty(key))
        assert(n == 3 && fgProp == "caller")
        assert(bgProp == null)
        assert(bgSession.isEmpty)
      }
    } finally sc.setLocalProperty(key, null)
  }
}
