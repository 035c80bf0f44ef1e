package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Checkpoint census for the proc-log maintainers: every guarded epoch
  * checkpoints the batch's unseen rows (and most folds checkpoint more),
  * so each path — day 1, a fold, a replayed batch that must no-op, and a
  * fold killed by the injected crash — must release every block it
  * pinned. After the four batches the SparkContext holds no persistent
  * RDD that was not there before (ScaleSpec's d8 census, per
  * maintainer). */
class MaintainerCheckpointSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def at(day: Int, h: Int) = Timestamp.valueOf(
    java.time.LocalDate.of(2024, 8, 1).plusDays(day.toLong).atTime(h, 0))

  /** Feeds `b1` (day 1), `b2` (a fold), `b2` again (a replay) and `b3`
    * with the crash failpoint through `run`, pinning each path's epoch
    * effect, then takes the persistent-RDD census. `day1Epochs` is 2
    * for the maintainers whose first call bootstraps from a standing
    * corpus before folding the batch. */
  private def census(store: EpochStore, b1: DataFrame, b2: DataFrame,
      b3: DataFrame, day1Epochs: Int = 1)(
      run: (DataFrame, Boolean) => Unit): Unit = {
    store.destroy(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def epoch() = store.committed(spark)._1
    run(b1, false)
    assert(epoch() == day1Epochs, "day 1 did not commit")
    run(b2, false)
    assert(epoch() == day1Epochs + 1, "the fold did not commit")
    run(b2, false)
    assert(epoch() == day1Epochs + 1, "a replayed batch opened an epoch")
    intercept[EpochStore.InjectedCrash] { run(b3, true) }
    assert(epoch() == day1Epochs + 1, "the crashed fold committed")
    val leaked = sc.getPersistentRDDs.keys.filterNot(before).toSeq.sorted
    leaked.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    store.destroy(spark)
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  private val baskets = Seq(
    1L -> Seq(10L, 11L, 12L), 2L -> Seq(10L, 11L), 3L -> Seq(11L, 12L),
    4L -> Seq(10L, 11L, 12L), 5L -> Seq(12L, 13L), 6L -> Seq(10L, 13L))

  private def basketRows(orders: Long*) = baskets
    .filter { case (o, _) => orders.contains(o) }
    .flatMap { case (o, ps) => ps.map(o -> _) }.toDF("o", "p")

  test("components: no checkpoint outlives its epoch") {
    val (prefix, dir) = ("graft_state_cen_comp", "census")
    census(new EpochStore(prefix, dir, StreamOps.ComponentsTables),
        basketRows(1, 2, 3), basketRows(4, 5), basketRows(6)) {
      (b, crash) => StreamOps.componentsBatch(b, prefix, dir, crash)
    }
  }

  test("retractions: no checkpoint outlives its epoch") {
    val (prefix, dir) = ("graft_state_cen_ret", "census")
    val corpus = basketRows(1, 2, 3, 4, 5, 6)
    census(new EpochStore(prefix, dir, StreamOps.RetractTables),
        basketRows(1), basketRows(4), basketRows(6), day1Epochs = 2) {
      (b, crash) => StreamOps.retractBatch(b, corpus, prefix, dir, crash)
    }
  }

  test("media dedup: no checkpoint outlives its epoch") {
    val (prefix, dir) = ("graft_state_cen_md", "census")
    val A = "A" * 16; val B = "B" * 16
    def docs(rs: (Long, String)*) = rs
      .map { case (id, t) => (id, t, t.length.toLong) }
      .toDF("doc_id", "text", "n_chars")
    census(new EpochStore(prefix, dir, StreamOps.MediaDedupTables),
        docs(1L -> (A + "u1".padTo(48, '_') + B),
          2L -> (A + "u2".padTo(48, '_') + B),
          3L -> (A + "u3".padTo(48, '_') + "C3" * 8)),
        docs(4L -> (A + "u4".padTo(48, '_') + "C4" * 8)),
        docs(5L -> (A + "u5".padTo(48, '_') + B))) {
      (b, crash) => StreamOps.mediaDedupBatch(b, prefix, dir, crash)
    }
  }

  test("skyline: no checkpoint outlives its epoch (fold and repair)") {
    val (prefix, dir) = ("graft_state_cen_sky", "census")
    val corpus = Seq((1L, 1.0, 10), (2L, 2.0, 9), (3L, 3.0, 8),
      (4L, 4.0, 7), (5L, 5.0, 1))
      .toDF("p_partkey", "p_retailprice", "p_size")
    def batch(rows: (Long, Double, Int, String)*) =
      rows.toDF("p_partkey", "p_retailprice", "p_size", "op")
    // b2's two deletions fill the budget (metadata fold); b3's third
    // deletion takes the repair path
    census(new EpochStore(prefix, dir, StreamOps.SkylineTables),
        batch((6L, 0.5, 11, "insert")),
        batch((6L, 0.0, 0, "delete"), (1L, 0.0, 0, "delete")),
        batch((2L, 0.0, 0, "delete")), day1Epochs = 2) {
      (b, crash) => StreamOps.skylineBatch(b, corpus, prefix, dir, crash)
    }
  }

  test("decay: no checkpoint outlives its epoch") {
    val (prefix, dir) = ("graft_state_cen_dec", "census")
    def ev(rs: (Long, Int, Long, Double)*) = rs
      .map { case (id, d, u, v) => (id, at(d, 12), u, v) }
      .toDF("event_id", "ts", "user_id", "value")
    census(new EpochStore(prefix, dir, StreamOps.DecayTables),
        ev((1, 0, 1, 1.0), (2, 1, 2, 2.0)), ev((3, 2, 1, 0.5)),
        ev((4, 3, 2, 1.5))) {
      (b, crash) => StreamOps.decayBatch(b, prefix, dir, crash)
    }
  }

  test("sessions: no checkpoint outlives its epoch") {
    val (prefix, dir) = ("graft_state_cen_ses", "census")
    def ev(rs: (Long, Int, Long)*) = rs
      .map { case (id, h, u) => (id, at(0, h), u) }
      .toDF("event_id", "ts", "user_id")
    census(new EpochStore(prefix, dir, StreamOps.SessionTables),
        ev((1, 9, 1), (2, 11, 1)), ev((3, 10, 1), (4, 9, 2)),
        ev((5, 13, 2))) {
      (b, crash) => StreamOps.sessionBatch(b, prefix, dir, crash)
    }
  }

  test("session upserts: no checkpoint outlives its epoch") {
    val (prefix, dir) = ("graft_state_cen_ups", "census")
    def cdc(rs: (Long, Int, Long, String)*) = rs
      .map { case (id, h, u, op) => (id, at(0, h), u, op) }
      .toDF("event_id", "ts", "user_id", "op")
    census(new EpochStore(prefix, dir, StreamOps.UpsertSessionTables),
        cdc((1, 9, 1, "add"), (2, 10, 1, "add"), (3, 9, 2, "add")),
        cdc((2, 10, 1, "del"), (4, 14, 1, "add")),
        cdc((3, 9, 2, "del"))) {
      (b, crash) => StreamOps.upsertSessionBatch(b, prefix, dir, crash)
    }
  }

  test("top-k: no checkpoint outlives its epoch") {
    val (prefix, dir) = ("graft_state_cen_topk", "census")
    def cdc(rs: (Long, Long, Double, String)*) = rs
      .map { case (id, g, v, op) => (id, g, v, at(0, 12), op) }
      .toDF("event_id", "g", "v", "ts", "op")
    val day1 = (1L to 8L).map(i => (i, 1L, 100.0 - i, "add"))
    // b2's deletions underflow g1's buffer, so the fold refills it
    census(new EpochStore(prefix, dir, StreamOps.TopkTables),
        cdc(day1: _*),
        cdc(day1.take(6).map { case (i, g, v, _) => (i, g, v, "del") }: _*),
        cdc((9L, 2L, 5.0, "add"))) {
      (b, crash) => StreamOps.topkBatch(b, prefix, dir, crash)
    }
  }
}
