package graft.streaming

import java.sql.Timestamp
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedSpark, SparkJobs}

/** The fixed work of a replay-guarded epoch must not grow with the guard
  * log's delta chain: a multi-part log is one scan whatever its length,
  * so a fold's plan (and its generated code) is the same at every epoch
  * after a compaction; and the guard's emptiness test rides the guard
  * checkpoint's own job. */
class EpochFixedCostSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def at(day: Int, h: Int, m: Int) = Timestamp.valueOf(
    java.time.LocalDate.of(2024, 9, 1).plusDays(day.toLong).atTime(h, m))

  test("log(): a 1-, 2- and 6-part chain is read by exactly one file scan") {
    val store = new EpochStore("graft_state_logscan", "spec",
      EpochTables(snaps = Map.empty, logs = Map("l" -> Seq("g"))))
    store.destroy(spark)
    try {
      (1 to 6).foreach { k =>
        store.transact(spark) { tx =>
          tx.writeLogDelta("l", Seq((k.toLong, k * 10L)).toDF("g", "x"))
        }
        if (Set(1, 2, 6)(k)) {
          val log = store.log(spark, "l")
          val scans = log.queryExecution.sparkPlan.collect {
            case s: FileSourceScanExec => s
          }
          assert(scans.size == 1,
            s"$k-part log planned ${scans.size} file scans:\n" +
              log.queryExecution.sparkPlan)
          assert(log.as[(Long, Long)].collect().sorted.toSeq ==
            (1 to k).map(i => (i.toLong, i * 10L)))
        }
      }
    } finally store.destroy(spark)
  }

  /** Maintainer #13's k-th fold batch: adds for users 1–4 and dels of
    * two adds of the batch before, so every fold has the same shape. */
  private def foldBatch(k: Int) = {
    def add(j: Int, kk: Int) =
      (1000L * kk + j, at(kk, 8 + j, 0), 1L + j % 4, "add")
    ((0 until 4).map(add(_, k)) ++
      (0 until 2).map(j => add(j, k - 1).copy(_4 = "del")))
      .toDF("event_id", "ts", "user_id", "op")
  }

  private def bootstrap(store: EpochStore) = {
    store.destroy(spark)
    StreamOps.upsertSessionBatch((0 until 4).map(j =>
        (1000L + j, at(1, 8 + j, 0), 1L + j % 4, "add"))
      .toDF("event_id", "ts", "user_id", "op"),
      "graft_state_fixedcost", "spec")
  }

  test("maintainer #13: a fold at delta-chain length k+1 compiles no " +
      "class the fold at length k did not") {
    val store = new EpochStore("graft_state_fixedcost", "spec",
      StreamOps.UpsertSessionTables)
    bootstrap(store)
    try {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val perFold = (2 to 7).map { k =>
        val before = compiles.getCount
        StreamOps.upsertSessionBatch(foldBatch(k), "graft_state_fixedcost",
          "spec")
        assert(store.committed(spark)._1 == k)
        compiles.getCount - before
      }
      // the first folds meet new plan shapes (a single-part log is read
      // as its bucketed table, two parts by path); from then on the
      // chain only grows
      assert(perFold.drop(3).forall(_ == 0),
        s"codegen compiles per fold, chain length 1..6: $perFold")
    } finally store.destroy(spark)
  }

  test("maintainer #13: a replay-only batch launches no job beyond the " +
      "guard checkpoint's own") {
    val store = new EpochStore("graft_state_fixedcost", "spec",
      StreamOps.UpsertSessionTables)
    bootstrap(store)
    try {
      StreamOps.upsertSessionBatch(foldBatch(2), "graft_state_fixedcost",
        "spec")
      StreamOps.upsertSessionBatch(foldBatch(3), "graft_state_fixedcost",
        "spec")
      val replay = foldBatch(3)
      // the maintainer's guard frame: the batch deduped per
      // (event_id, op), minus the committed guard log
      val guard = replay.groupBy($"event_id", $"op")
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.struct($"ts", $"user_id")).as("w"))
        .select($"event_id", $"op", $"w.user_id", $"w.ts")
        .join(store.log(spark, "proc"), Seq("event_id", "op"), "left_anti")
      val guardJobs = SparkJobs.during(spark)(
        graft.operators.DedupOps.unpersistCheckpointed(guard.localCheckpoint()))
      val replayJobs = SparkJobs.during(spark)(StreamOps.upsertSessionBatch(
        replay, "graft_state_fixedcost", "spec"))
      assert(store.committed(spark)._1 == 3, "the replay opened an epoch")
      assert(replayJobs == guardJobs,
        s"replay ran $replayJobs jobs, its guard checkpoint $guardJobs")
    } finally store.destroy(spark)
  }
}
