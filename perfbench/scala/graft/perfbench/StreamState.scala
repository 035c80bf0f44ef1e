package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{EpochStore, StreamOps}
import Main.Ctx

/** The streaming half of `olap_stream`: `MemoryStream` →
  * `StreamOps.streamingSessionUpserts` (maintainer #13 over
  * `EpochCommit`'s `EpochStore`) on a seeded CDC feed built from the
  * generated `events` table.
  *
  * [[setUp]] delivers the day-1 bootstrap and `WarmBatches` warm-up
  * batches (every `TrimEvery`-th replay-only plus trim). Each [[batch]]
  * then delivers one fresh batch (a step operation) and waits for it:
  * the next events in time order as adds, dels of surviving events from
  * the last day, and re-deliveries of new rows of the last two fresh
  * batches from the last day, in fixed numbers. [[replayAndTrim]]
  * delivers a replay-only batch (a trim operation), which must not open
  * an epoch, and runs `upsertSessionTrim` inside the same operation.
  * Served state must equal the from-scratch sessionization of the net
  * surviving events, checked after set-up, after every trim operation
  * and by the serves of [[finish]].
  */
final class StreamState(ctx: Ctx) {
  import StreamState._

  private val spark = ctx.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val store = new EpochStore(Prefix, DataSet, StreamOps.UpsertSessionTables)
  private val rnd = new scala.util.Random(ctx.seed * 7919L + 3)
  private var boot: Array[(Long, Timestamp, Long)] = Array.empty
  private var rest: Array[(Long, Timestamp, Long)] = Array.empty
  private var perBatch = 1
  private val input = MemoryStream[Row4]
  private var query: StreamingQuery = null

  // net surviving events, in delivery order
  private val live = mutable.LinkedHashMap.empty[Long, (Long, Timestamp, Long)]
  // the new rows of the last two fresh batches; only those of them from
  // the last day of event time are ever re-delivered (and a re-delivered
  // row never again), so no replay reaches past the trim horizon
  private var recent = Vector.empty[Seq[Row4]]
  private var newest = 0L
  private var cursor = 0
  private val trims = mutable.ArrayBuffer.empty[(Double, Long)]
  private var noop = 0
  private var sinceCheck = mutable.ArrayBuffer.empty[Main.Op]

  /** The store's tables on disk: (bytes, proc log tables). */
  private def storeFiles(): (Long, Int) = {
    val wh = new java.io.File(s"${ctx.workDir}/warehouse")
    val dirs = Option(wh.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith(store.tag))
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
      else f.length
    (dirs.map(bytes).sum, dirs.count(_.getName.contains("_proc__")))
  }

  private def truth(): Seq[Seq[Any]] =
    graft.operators.EventOps.e32Shape(graft.operators.EventOps.e32Sessions(
      live.values.toSeq.toDF("event_id", "ts", "user_id")))
      .orderBy($"user_id", $"sess_id").collect().map(_.toSeq).toSeq

  private def serve(): Seq[Seq[Any]] =
    StreamOps.upsertSessionServe(spark, Prefix, DataSet)
      .collect().map(_.toSeq).toSeq

  private def deliver(rows: Seq[Row4]): Unit = {
    input.addData(rows: _*)
    query.processAllAvailable()
  }

  private def replayable: Seq[Row4] =
    recent.flatten.filter(_._2.getTime >= newest - 86400000L)

  /** The next batch: `perBatch` fresh adds, `Dels` dels of surviving
    * events from the last day and `Redeliveries` re-delivered rows (or
    * fewer, when fewer qualify), or (replay only) every replayable row
    * again. */
  private def nextRows(replayOnly: Boolean): Seq[Row4] =
    if (replayOnly) replayable
    else {
      val redelivered = rnd.shuffle(replayable).take(Redeliveries)
      val fresh = rest.slice(cursor, cursor + perBatch).toSeq
      cursor += fresh.length
      newest = fresh.last._2.getTime
      val horizon = newest - 86400000L
      val dels = rnd.shuffle(live.valuesIterator
        .filter(e => e._2.getTime >= horizon).toSeq).take(Dels)
      fresh.foreach(e => live(e._1) = e)
      dels.foreach(e => live.remove(e._1))
      val rows = fresh.map(e => (e._1, e._2, e._3, "add")) ++
        dels.map(e => (e._1, e._2, e._3, "del"))
      recent = (recent :+ rows).takeRight(2)
      rows ++ redelivered
    }

  /** Deliver one batch; after a replay-only batch, trim. */
  private def epoch(rows: Seq[Row4], replayOnly: Boolean): (Double, (Long, Long)) = {
    val (_, ms, win) = ctx.call("streaming.epoch.deliver")(deliver(rows))
    if (replayOnly) {
      val bytes0 = storeFiles()._1
      val (_, trimMs, _) = ctx.call("streaming.epoch.trim")(
        StreamOps.upsertSessionTrim(spark, Prefix, DataSet, HorizonDays))
      trims += ((trimMs, bytes0 - storeFiles()._1))
    }
    (ms, win)
  }

  /** Served state equals the truth; on a mismatch the differing rows
    * go to the failure message. */
  private def served(): Boolean = {
    val (got, want) = (serve(), truth())
    if (got != want) {
      val (g, w) = (got.toSet, want.toSet)
      ctx.fail(s"served-only rows ${(g -- w).take(3)}; truth-only rows ${(w -- g).take(3)}")
    }
    got == want
  }

  /** Start the stream, deliver the bootstrap and the warm-up batches. */
  def setUp(): Unit = {
    val events = graft.Tables(spark, ctx.dataDir, "events")
      .select($"event_id", $"ts", $"user_id").as[(Long, Timestamp, Long)]
      .collect().sortBy(e => (e._2.getTime, e._1))
    val day2 = Timestamp.valueOf("2024-01-02 00:00:00")
    val (b, r) = events.partition(_._2.before(day2))
    boot = b
    rest = r
    perBatch = math.max(1, rest.length / (if (ctx.tiny) 12 else 60))
    query = StreamOps.streamingSessionUpserts(
      input.toDF().toDF("event_id", "ts", "user_id", "op"), Prefix, DataSet)
      .option("checkpointLocation", s"${ctx.workDir}/checkpoint")
      .start()
    boot.foreach(e => live(e._1) = e)
    deliver(boot.map(e => (e._1, e._2, e._3, "add")).toSeq)
    ctx.detail("bootstrap_rows") = boot.length
    ctx.detail("bootstrap_state_bytes") = storeFiles()._1
    // warm the incremental fold and the trim before timing them
    (1 to WarmBatches).foreach { n =>
      val r = n % TrimEvery == 0
      epoch(nextRows(r), r)
    }
    trims.clear()
    if (!served()) ctx.fail("set-up: served state != from-scratch sessionization")
  }

  def hasMore: Boolean = cursor < rest.length

  /** The `n`-th timed batch, a fresh one (class step). */
  def batch(n: Int): Unit =
    sinceCheck += ctx.timed("step", s"epoch#$n") {
      val rows = nextRows(replayOnly = false)
      val (ms, win) = epoch(rows, replayOnly = false)
      (rows.size.toLong, ms, win)
    }

  /** A replay-only batch plus trim (class trim): it must not open an
    * epoch (the trim commits one of its own), and afterwards the served
    * state must equal the truth, else every batch since the last check
    * fails too. */
  def replayAndTrim(n: Int): Unit = {
    val rows = nextRows(replayOnly = true)
    val before = store.committed(spark)._1
    val op = ctx.timed("trim", s"replay#$n") {
      val (ms, win) = epoch(rows, replayOnly = true)
      (rows.size.toLong, ms, win)
    }
    sinceCheck += op
    noop += 1
    val after = store.committed(spark)._1
    if (after > before + 1) {
      op.ok = false
      ctx.fail(s"${op.name}: replay-only batch opened an epoch ($before -> $after)")
    }
    if (ctx.plant.contains("stream")) live.remove(live.head._1)
    if (!served()) {
      sinceCheck.foreach(_.ok = false)
      ctx.fail(s"${op.name}: served state != from-scratch sessionization")
    }
    sinceCheck = mutable.ArrayBuffer.empty[Main.Op]
  }

  /** Untimed: serve the whole state five times (serve operations, each
    * checked), trim, and fill the artifact's epoch breakdown. */
  def finish(): Unit = {
    val serveOps = (1 to 5).map { i =>
      var out: Seq[Seq[Any]] = Nil
      val op = ctx.timed("serve", s"serve#$i") {
        val (rows, ms, win) = ctx.call("streaming.epoch.serve")(serve())
        out = rows
        (rows.size.toLong, ms, win)
      }
      (op, out)
    }
    val want = truth()
    for ((op, got) <- serveOps if got != want) {
      op.ok = false
      ctx.fail(s"${op.name}: served state != from-scratch sessionization")
    }
    if (sinceCheck.nonEmpty && serveOps.exists(!_._1.ok))
      sinceCheck.foreach(_.ok = false)
    StreamOps.upsertSessionTrim(spark, Prefix, DataSet, HorizonDays)
    val (bytes, logs) = storeFiles()
    ctx.detail("batches") = ctx.ops.count(o => o.cls == "step" || o.cls == "trim")
    ctx.detail("state_bytes_per_row") = bytes.toDouble / math.max(1, live.size)
    ctx.detail("surviving_rows") = live.size
    ctx.detail("streaming.epoch.state_bytes") = bytes
    ctx.detail("streaming.epoch.log_files") = logs
    ctx.detail("streaming.epoch.noop_epochs") = noop
    ctx.detail("streaming.epoch.trim_ms") = trims.map(_._1).sum
    ctx.detail("streaming.epoch.trim_op_ms") =
      Main.median(ctx.ops.filter(_.cls == "trim").map(_.ms).toSeq)
    ctx.detail("streaming.epoch.trim_bytes_reclaimed") = trims.map(_._2).sum
    ctx.detail("streaming.epoch.committed") = store.committed(spark)._1
    ctx.detail("streaming.epoch.serve_ms") =
      Main.median(serveOps.map(_._1.ms))
    ctx.probe.foreach { p =>
      val prog = query.recentProgress.filter(_.batchId > 0)
      def dur(k: String) = prog.map(p => Option(p.durationMs.get(k))
        .map(_.longValue).getOrElse(0L)).sum.toDouble
      val epochs = ctx.ops.count(o => o.cls == "step" || o.cls == "trim")
      ctx.detail("streaming.epoch.add_batch_ms") = dur("addBatch")
      ctx.detail("streaming.epoch.trigger_overhead_ms") =
        dur("triggerExecution") - dur("addBatch")
      ctx.detail("streaming.epoch.jobs_per_epoch") =
        (p.acc("step").jobs + p.acc("trim").jobs).toDouble / math.max(1, epochs)
    }
  }

  def close(): Unit = {
    if (query != null) query.stop()
    store.destroy(spark)
  }
}

object StreamState {
  private val Prefix = "graft_state_perfbench"
  private val DataSet = "perfbench"
  private val TrimEvery = 3
  private val WarmBatches = TrimEvery
  private val Dels = 16
  private val Redeliveries = 32
  private val HorizonDays = 3
  type Row4 = (Long, Timestamp, Long, String)
}
