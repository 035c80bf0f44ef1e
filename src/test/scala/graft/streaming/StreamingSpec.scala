package graft.streaming

import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.sources.{DerbyDialect, SyncConf}

final case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)
final case class EvId(ts: Timestamp, user_id: Long, event_id: Long,
                      event_type: String, value: Double)
final case class Change(id: Long, val_s: String)

/** Structured Streaming specs: windowed aggregation with watermark/late
  * data over MemoryStream, and the foreachBatch JDBC upsert sink. */
class StreamingSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("windowed agg with watermark emits closed windows and drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.windowedAgg(input.toDF(), windowLen = "1 hour",
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("win_agg")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Ev(t("2024-01-01 00:05:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 00:40:00"), 2, "click", 2.0))
      q.processAllAvailable()
      // advance event time far past the window end + lateness → closes it
      input.addData(Ev(t("2024-01-01 03:00:00"), 3, "view", 5.0))
      q.processAllAvailable()
      // this event is way behind the watermark → dropped
      input.addData(Ev(t("2024-01-01 00:50:00"), 4, "click", 100.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 06:00:00"), 5, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select($"win_start", $"event_type", $"n_events", $"total_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains(("2024-01-01 00:00:00.0", "click", 2L, 3.0)),
        s"closed 00:00 window should hold the 2 on-time clicks, got $rows")
      assert(!rows.exists(_._4 == 100.0), "late event must be dropped")
    } finally q.stop()
  }

  test("hopping distinct: dedup state chained into the windowed count") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.hoppingDistinct(input.toDF(), windowLen = "1 hour",
        hop = "30 minutes", lateness = "10 minutes")
      .writeStream.format("memory").queryName("hop_distinct")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 fires twice inside one hop; user 2 once — the 00:00
      // window must count 2 users, not 3 events
      input.addData(
        Ev(t("2024-01-01 00:05:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 00:20:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 00:40:00"), 2, "view", 1.0))
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 06:00:00"), 9, "view", 1.0)) // close all
      q.processAllAvailable()
      val rows = spark.table("hop_distinct").collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      // 1h window / 30m hop: events at :05/:20 (user 1) live in the
      // 23:30 and 00:00 windows; :40 (user 2) in 00:00 and 00:30
      assert(rows("2023-12-31 23:30:00.0") == 1L, s"got $rows")
      assert(rows("2024-01-01 00:00:00.0") == 2L, s"got $rows")
      assert(rows("2024-01-01 00:30:00.0") == 1L, s"got $rows")
    } finally q.stop()
  }

  test("session windows merge events within the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.sessionAgg(input.toDF(), gap = "30 minutes",
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("sess_agg")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Ev(t("2024-01-01 00:00:00"), 7, "click", 1.0),
        Ev(t("2024-01-01 00:10:00"), 7, "view", 1.0),  // same session
        Ev(t("2024-01-01 01:30:00"), 7, "click", 1.0)) // new session
      q.processAllAvailable()
      input.addData(Ev(t("2024-01-01 09:00:00"), 8, "view", 1.0)) // close all
      q.processAllAvailable()
      val sessions = spark.table("sess_agg")
        .filter($"user_id" === 7).collect()
        .map(r => (r.getAs[Timestamp]("sess_start").toString, r.getAs[Long]("n_events")))
        .toSet
      assert(sessions == Set(("2024-01-01 00:00:00.0", 2L),
                             ("2024-01-01 01:30:00.0", 1L)))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EvId]
    val q = StreamOps.runningUserStats(input.toDF())
      .writeStream.format("memory").queryName("user_stats")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        EvId(t("2024-01-01 00:00:00"), 1, 10, "click", 1.5),
        EvId(t("2024-01-01 00:01:00"), 1, 11, "view", 2.5),
        EvId(t("2024-01-01 00:02:00"), 2, 12, "click", 10.0))
      q.processAllAvailable()
      input.addData(EvId(t("2024-01-01 01:00:00"), 1, 13, "click", 4.0))
      q.processAllAvailable()
      // memory sink in Update mode appends updated rows; last row per key wins
      val last = spark.table("user_stats").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getTimestamp(3))))
        .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      assert(last(1L) == ((3L, 8.0, t("2024-01-01 01:00:00"))))
      assert(last(2L) == ((1L, 10.0, t("2024-01-01 00:02:00"))))
    } finally q.stop()
  }

  test("streaming KMV estimate dedups across batches with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val k = 16
    val q = StreamOps.streamingDistinctEstimate(input.toDF(), k = k)
      .writeStream.format("memory").queryName("kmv_est")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: users 1..50 click (+ a few views); batch 2 overlaps
      // 26..100 — only state carried across batches separates "distinct
      // over the union" from "distinct per batch".
      input.addData((1 to 50).map(u =>
        Ev(t("2024-01-01 00:00:00"), u, "click", 1.0)) ++
        (1 to 5).map(u => Ev(t("2024-01-01 00:00:00"), u, "view", 1.0)): _*)
      q.processAllAvailable()
      input.addData((26 to 100).map(u =>
        Ev(t("2024-01-01 01:00:00"), u, "click", 1.0)): _*)
      q.processAllAvailable()
      // expected sketch over the UNION of ids, computed with the same
      // aggregator + driver-side hash twin — batch-boundary independent
      val kmv = new graft.functions.KmvAgg(k)
      val expected = (1 to 100)
        .map(u => graft.functions.EngineFns.md5Long60(u.toString))
        .foldLeft(kmv.zero)(kmv.reduce)
      val (en, ekth) = kmv.finish(expected)
      val eest = graft.functions.KmvAgg.estimate(k, en, ekth)
      val rows = spark.table("kmv_est").collect()
        .map(r => (r.getString(0), (r.getInt(1), r.getLong(2), r.getDouble(3))))
      // Update-mode memory sink appends one row per touched key per
      // batch; the click row emitted by batch 2 must reflect all 100 ids
      assert(rows.toSeq.filter(_._1 == "click").map(_._2).contains((en, ekth, eest)),
        s"click sketch after batch 2 should be ($en,$ekth,$eest), got ${rows.toSeq}")
      // view: 5 distinct < k → exact by construction
      assert(rows.toMap.apply("view") == ((5, rows.toMap.apply("view")._2, 5.0)))
      // relative error sanity at n >= k: ~1/sqrt(k-2) ≈ 27%, bound at 3σ
      assert(math.abs(eest - 100.0) / 100.0 <= 3.0 / math.sqrt(k - 2.0))
    } finally q.stop()
  }

  test("streaming CMS cells after two micro-batches equal the batch build on the union") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.streamingCmsCells(input.toDF())
      .writeStream.format("memory").queryName("cms_cells")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData((1 to 60).map(u =>
        Ev(t("2024-01-01 00:00:00"), u % 7, "click", 1.0)): _*)
      q.processAllAvailable()
      input.addData((1 to 40).map(u =>
        Ev(t("2024-01-01 01:00:00"), u % 11, "view", 1.0)): _*)
      q.processAllAvailable()
      // the streaming state must hold EXACTLY the batch sketch over the
      // union of both micro-batches — mergeability, observed live
      import spark.implicits._
      val unionDf = ((1 to 60).map(u => (u % 7).toLong) ++
        (1 to 40).map(u => (u % 11).toLong)).toDF("user_id")
      val expected = graft.operators.EventOps.cmsCells(unionDf)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val got = spark.table("cms_cells").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == expected,
        s"streaming cells diverge from batch build: $got vs $expected")
      // bounded state: never more than d*w = 192 cells
      assert(got.size <= 192)
    } finally q.stop()
  }

  test("streaming KMV idleTimeout wires ProcessingTimeTimeout into the plan") {
    // Executing a TTL'd query under processAllAvailable is impossible by
    // Spark semantics: with ProcessingTimeTimeout the engine must keep
    // scheduling no-data batches so timeouts can fire, and
    // processAllAvailable never sees quiescence (verified on Spark 4.1 —
    // it hangs). So pin the wiring at plan level: the timeout conf and
    // the state type must reach the FlatMapGroupsWithState node.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
    def timeoutOf(idle: Option[String]) = {
      val input = MemoryStream[Ev]
      StreamOps.streamingDistinctEstimate(input.toDF(), k = 16,
          idleTimeout = idle)
        .queryExecution.analyzed.collect {
          case f: FlatMapGroupsWithState => f.timeout
        }
    }
    assert(timeoutOf(Some("1 hour")) ==
      Seq(org.apache.spark.sql.catalyst.plans.logical.ProcessingTimeTimeout))
    assert(timeoutOf(None) ==
      Seq(org.apache.spark.sql.catalyst.plans.logical.NoTimeout))
    // the event-time TTL wires EventTimeTimeout instead
    val input = MemoryStream[Ev]
    val et = StreamOps.streamingDistinctEstimate(input.toDF(), k = 16,
        eventTimeTtl = Some("30 minutes"))
      .queryExecution.analyzed.collect {
        case f: FlatMapGroupsWithState => f.timeout
      }
    assert(et == Seq(org.apache.spark.sql.catalyst.plans.logical.EventTimeTimeout))
  }

  test("event-time TTL evicts a key by advancing the watermark only") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamOps.streamingDistinctEstimate(input.toDF(), k = 16,
        eventTimeTtl = Some("30 minutes"), lateness = "10 minutes")
      .writeStream.format("memory").queryName("kmv_ettl")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: 20 distinct click users at 00:00 → sketch n_kept = 16(k)
      input.addData((1 to 20).map(u =>
        Ev(t("2024-01-01 00:00:00"), u, "click", 1.0)): _*)
      q.processAllAvailable()
      // batch 2: a DIFFERENT key far in the future. No wall-clock
      // passes; only the watermark advances (to 01:50, past click's
      // 00:00+30m timer). The engine then runs the timer batch and
      // processAllAvailable RETURNS — the processing-time busy-loop
      // trap does not exist on the event-time clock.
      input.addData(Ev(t("2024-01-01 02:00:00"), 999, "view", 1.0))
      q.processAllAvailable()
      // batch 3: click reappears with ONE new user — if eviction really
      // dropped the sketch, the new sketch starts from empty
      input.addData(Ev(t("2024-01-01 02:05:00"), 500, "click", 1.0))
      q.processAllAvailable()
      val clicks = spark.table("kmv_ettl").filter($"event_type" === "click")
        .select($"n_kept").as[Int].collect().toSeq
      // batch 1 update (16 kept of 20), watermark-driven final emit
      // (16), then the restarted sketch (1)
      assert(clicks.count(_ == 16) == 2,
        s"expected update + final emit with 16 kept, got $clicks")
      assert(clicks.contains(1),
        s"restarted sketch must start empty after eviction, got $clicks")
    } finally q.stop()
  }

  test("streaming KMV timed-out groups emit a final estimate then drop state") {
    // Unit-drive the state-update function through the same GroupState
    // machinery Spark uses (TestGroupState), covering the eviction branch
    // a wall-clock test can't reach deterministically.
    val input = (1 to 30).map(u =>
      graft.functions.EngineFns.md5Long60(u.toString))
    val kmv = new graft.functions.KmvAgg(16)
    val buf = input.foldLeft(kmv.zero)(kmv.reduce)
    import org.apache.spark.api.java.Optional
    val state = org.apache.spark.sql.streaming.TestGroupState
      .create[List[Long]](Optional.of(buf),
        org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
        1000L, Optional.empty[Long], hasTimedOut = true)
    val out = StreamOps.distinctEstimateUpdate(kmv, 16, Some("1 hour"))(
      "click", Iterator.empty, state)
    val (en, ekth) = kmv.finish(buf)
    assert(out == DistinctEstimate("click", en, ekth,
      graft.functions.KmvAgg.estimate(16, en, ekth)))
    assert(state.isRemoved, "evicted key must drop its sketch state")
  }

  test("streaming ingest filter: quality gate + compiled decontamination, stateless") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.expr
    // the "benchmark" text whose 8-gram shingles must not leak into the
    // accepted corpus
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench: Array[Long] = spark.range(1)
      .select(expr(s"ngram_hashes('$benchText', 8)"))
      .head().getSeq[Long](0).toArray
    assert(bench.nonEmpty)

    val clean = ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 " +
      "w16 w17 w18 w19 w20 w21 w22 w23 the w25")        // 25 toks, 40‰ stop
    val short = "tiny doc the end"                       // fails length rule
    val contaminated = ("alpha beta gamma delta epsilon zeta eta theta " +
      "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 the x13 x14") // carries a bench 8-gram

    val input = MemoryStream[(Long, String)]
    val q = StreamOps.corpusIngestFilter(
        input.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("ingest_filter")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, clean), (2L, short), (3L, contaminated))
      q.processAllAvailable()
      val rows = spark.table("ingest_filter")
        .select($"doc_id", $"quality_ok", $"contaminated", $"accepted")
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
      assert(rows(1L) == ((true, false, true)), s"clean doc: ${rows(1L)}")
      assert(rows(2L)._1 == false && rows(2L)._3 == false,
        s"short doc must fail quality: ${rows(2L)}")
      assert(rows(3L) == ((true, true, false)),
        s"contaminated doc must be flagged and rejected: ${rows(3L)}")
      // stateless: the plan carries no stateful operator
      assert(q.lastProgress.stateOperators.isEmpty,
        "ingest filter must not create streaming state")
    } finally q.stop()
  }

  test("streaming near-dup ingest: two micro-batches match batch d15 on the union") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val sf = SharedSpark.sf
    // day 1: materialize the standing corpus band table (idempotent)
    graft.SparkEntry.queries("d17_neardup_day2")(spark, sf).collect()
    val bandTable =
      graft.sources.LayoutOps.stateTable("graft_state_d15_bands", sf)
    // today's batch = the d13 coin side, split into two micro-batches
    val batchDocs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
      .where(pmod(graft.functions.EngineFns.md5Long(
        concat($"doc_id".cast("string"), lit(":d13"))), lit(5L)) === 0L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(batchDocs.nonEmpty)
    val (half1, half2) = batchDocs.splitAt(batchDocs.length / 2)
    spark.sql("DROP TABLE IF EXISTS stream_neardup_sink")
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.streamingNeardupIngest(
      input.toDF().toDF("doc_id", "text"), bandTable,
      "stream_neardup_sink").start()
    try {
      input.addData(half1: _*)
      q.processAllAvailable()
      input.addData(half2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_neardup_sink").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = graft.SparkEntry.queries("d15_incremental_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"streamed flags (${got.size}) != batch d15 (${want.size}): " +
        s"missing=${want -- got} extra=${got -- want}")
  }

  test("sink idempotency: a re-delivered batch REPLACES its partition; " +
       "a new batch adds its own") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = SharedSpark.sf
    graft.SparkEntry.queries("d17_neardup_day2")(spark, sf).collect()
    val bandTable =
      graft.sources.LayoutOps.stateTable("graft_state_d15_bands", sf)
    val batchDocs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
      .where(pmod(graft.functions.EngineFns.md5Long(
        concat($"doc_id".cast("string"), lit(":d13"))), lit(5L)) === 0L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (half1, half2) = batchDocs.splitAt(batchDocs.length / 2)
    val sink = "sink_replay_test"
    spark.sql(s"DROP TABLE IF EXISTS $sink")
    StreamOps.neardupIngestBatch(half1.toDF("doc_id", "text"), 7L,
      bandTable, sink)
    val b7 = spark.table(sink).collect().map(_.toSeq).toSet
    assert(b7.nonEmpty, "batch 7 produced no matches to test with")
    // a re-delivered batch (same batchId — the foreachBatch restart
    // contract) must land bit-identically, not append duplicates
    StreamOps.neardupIngestBatch(half1.toDF("doc_id", "text"), 7L,
      bandTable, sink)
    assert(spark.table(sink).collect().map(_.toSeq).toSet == b7,
      "replayed batch changed the sink")
    // a NEW batch writes its own partition, batch 7's rows untouched
    // (same docs under a new id: the matches are identical, so the
    // sink MUST now hold them twice — once per provenance partition)
    StreamOps.neardupIngestBatch(half1.toDF("doc_id", "text"), 8L,
      bandTable, sink)
    val after = spark.table(sink).collect().map(_.toSeq).toSet
    assert(b7.subsetOf(after), "a new batch disturbed an old partition")
    assert(after.size == 2 * b7.size, "batch 8's partition missing")
    // reads prune on the provenance partition
    assert(spark.table(sink).filter($"sink_batch" === 7L)
      .collect().map(_.toSeq).toSet == b7)
    spark.sql(s"DROP TABLE IF EXISTS $sink")
  }

  test("sink adoption: a sink_batch=-partitioned leftover is adopted; " +
       "a legacy flat layout fails once with an actionable error, " +
       "never a per-delivery RECOVER PARTITIONS wedge") {
    import spark.implicits._
    def locOf(t: String) = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(t)))
    val fs = locOf("x").getFileSystem(spark.sparkContext.hadoopConfiguration)
    // (a) a prior process's PARTITIONED sink directory: adopted, its
    // batches recovered, the new batch added alongside
    val adopted = "sink_adopt_part_test"
    spark.sql(s"DROP TABLE IF EXISTS $adopted")
    Seq((1L, 2L)).toDF("batch_id", "corpus_id")
      .withColumn("sink_batch", org.apache.spark.sql.functions.lit(3L))
      .write.partitionBy("sink_batch").parquet(locOf(adopted).toString)
    StreamOps.idempotentSinkWrite(
      Seq((5L, 6L)).toDF("batch_id", "corpus_id"), 4L, adopted)
    assert(spark.table(adopted).select("sink_batch").distinct()
      .collect().map(_.get(0).toString.toInt).toSet == Set(3, 4),
      "prior process's batch partition lost on adoption")
    spark.sql(s"DROP TABLE IF EXISTS $adopted")
    // (b) a legacy PLAIN-APPEND layout (data files directly under the
    // table dir) must be refused with a clear message — silently
    // adopting it would make RECOVER PARTITIONS throw on every
    // re-delivery of the batch, wedging the stream
    val legacy = "sink_adopt_flat_test"
    spark.sql(s"DROP TABLE IF EXISTS $legacy")
    Seq((1L, 2L)).toDF("batch_id", "corpus_id")
      .write.parquet(locOf(legacy).toString)
    val e = intercept[IllegalStateException] {
      StreamOps.idempotentSinkWrite(
        Seq((5L, 6L)).toDF("batch_id", "corpus_id"), 0L, legacy)
    }
    assert(e.getMessage.contains("not sink_batch=-partitioned"),
      s"unhelpful legacy-layout error: ${e.getMessage}")
    fs.delete(locOf(legacy), true)
  }

  test("streaming attribution: cross-batch keyed state matches batch e21 on an ordered feed") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = SharedSpark.sf
    // globally ts-ordered feed split in two => every user's events stay
    // in event-time order across the batch boundary
    val ev = graft.Tables(spark, sf, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
      .collect().sortBy(r => (r._2.getTime, r._3))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = StreamOps.streamingAttribution(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("attr_sink")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_sink")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(28,8)")).cast("double").as("rev"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = graft.SparkEntry.queries("e21_attribution")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == want, s"streamed attribution $got != batch $want")
  }

  test("streaming ANN serving: two micro-batches match batch s10 on the union") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val sf = SharedSpark.sf
    // day 1: build the persisted index once (the only place k-means runs)
    graft.operators.SimilarityOps.s10EnsureIndex(spark, sf)
    // the batch query set, split into two "arriving" micro-batches
    val qs = graft.Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .filter($"vec_id" < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    assert(qs.size == 10)
    val (half1, half2) = qs.splitAt(5)
    spark.sql("DROP TABLE IF EXISTS stream_ann_sink")
    val input = MemoryStream[(Long, Seq[Double])]
    val q = StreamOps.streamingAnnServe(
      input.toDF().toDF("vec_id", "v"), sf, "stream_ann_sink").start()
    // zero k-means per batch: the serve path only READS the persisted
    // index — the codebook table must be untouched after both batches
    val centT = graft.sources.LayoutOps.stateTable("graft_state_s7_cent", sf)
    val centBefore = spark.table(centT).collect().toSet
    try {
      input.addData(half1: _*)
      q.processAllAvailable()
      input.addData(half2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(centT).collect().toSet == centBefore,
      "serving must never retrain/rewrite the index")
    val got = spark.table("stream_ann_sink")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = graft.SparkEntry.queries("s10_knn_serve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want,
      s"streamed top-K (${got.size}) != batch s10 (${want.size}): " +
        s"missing=${want -- got} extra=${got -- want}")
  }

  test("file-source streaming over the real events parquet matches batch") {
    import org.apache.spark.sql.functions._
    val sf = graft.SharedSpark.sf
    val file = s"$sf/events.parquet"
    // file streams watch directories; stage the table file into one
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(file),
      dir.resolve("events.parquet"))
    val rawSchema = spark.read.parquet(file).schema
    // normalize ts across testdata generations, like Tables.apply: raw
    // nanos long (legacy) or TIMESTAMP_NTZ micros (current) → LTZ
    val tsNorm = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts").cast(org.apache.spark.sql.types.TimestampType)
      case _ => col("ts")
    }
    val stream = spark.readStream.schema(rawSchema).parquet(dir.toString)
      .withColumn("ts", tsNorm)
    val q = StreamOps.windowedAgg(stream, windowLen = "1 hour",
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("file_win")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_win").count()
      val batch = graft.operators.EventOps.e1HourlyAgg(spark, sf).count()
      assert(streamed == batch,
        s"streaming windows ($streamed) != batch windows ($batch)")
    } finally q.stop()
  }

  test("incremental high-watermark polling syncs only new/changed rows") {
    import graft.sources.SyncConf
    val url = "jdbc:derby:memory:incr;create=true"
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      for (t <- Seq("SRC_T", "TGT_T"))
        try st.execute(s"""DROP TABLE "$t"""") catch { case _: java.sql.SQLException => () }
      st.execute("""CREATE TABLE "SRC_T" ("id" BIGINT NOT NULL, "v" VARCHAR(20), "seq" BIGINT)""")
      st.execute("""CREATE TABLE "TGT_T" ("id" BIGINT NOT NULL, "v" VARCHAR(20), "seq" BIGINT)""")
      st.execute("""INSERT INTO "SRC_T" VALUES (1,'a',100),(2,'b',101)""")
      st.close()
    } finally conn.close()
    // source table SRC_T, target table TGT_T: use separate confs per name
    val conf = SyncConf(sourceUrl = url, targetUrl = url, database = "APP")

    def targetRows(): List[(Long, String, Long)] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          """SELECT "id", "v", "seq" FROM "TGT_T" ORDER BY "id"""")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toList
      } finally c.close()
    }

    // poll 1: both rows are new
    val inc1 = JdbcIncremental.poll(spark, conf, "SRC_T", "seq", 0L,
      graft.sources.DerbyDialect)
    assert(inc1.rows == 2 && inc1.newMark.contains(101L))
    StreamSync.upsertBatch(conf, graft.sources.DerbyDialect, "TGT_T", Seq("id"))(inc1.df, 1L)
    assert(targetRows() == List((1L, "a", 100L), (2L, "b", 101L)))

    // poll 2: nothing new
    val inc2 = JdbcIncremental.poll(spark, conf, "SRC_T", "seq", 101L,
      graft.sources.DerbyDialect)
    assert(inc2.rows == 0 && inc2.newMark.isEmpty)

    // new + updated rows appear; poll 3 picks up exactly those
    val c2 = DriverManager.getConnection(url)
    try {
      val st = c2.createStatement()
      st.execute("""INSERT INTO "SRC_T" VALUES (3,'c',102)""")
      st.execute("""UPDATE "SRC_T" SET "v"='a2', "seq"=103 WHERE "id"=1""")
      st.close()
    } finally c2.close()
    val mark = JdbcIncremental.syncIncrement(spark, conf, "SRC_T", "seq",
      Seq("id"), 101L, graft.sources.DerbyDialect)
    // note: syncIncrement targets the SOURCE table name; emulate by
    // copying its upsert into TGT_T manually for assertion simplicity
    assert(mark == 103L)
    val inc3 = JdbcIncremental.poll(spark, conf, "SRC_T", "seq", 101L,
      graft.sources.DerbyDialect)
    StreamSync.upsertBatch(conf, graft.sources.DerbyDialect, "TGT_T", Seq("id"))(inc3.df, 2L)
    assert(targetRows() == List((1L, "a2", 103L), (2L, "b", 101L), (3L, "c", 102L)))
  }

  test("foreachBatch upsert applies keyed changes idempotently to JDBC") {
    val tgtUrl = "jdbc:derby:memory:streamtgt;create=true"
    val conn = DriverManager.getConnection(tgtUrl)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE \"UPS\"") catch { case _: java.sql.SQLException => () }
      st.execute("CREATE TABLE \"UPS\" (\"id\" BIGINT NOT NULL, \"val_s\" VARCHAR(20))")
      st.close()
    } finally conn.close()
    val conf = SyncConf(sourceUrl = tgtUrl, targetUrl = tgtUrl, database = "APP")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = input.toDF().writeStream
      .foreachBatch(StreamSync.upsertBatch(conf, DerbyDialect, "UPS", Seq("id")) _)
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Change(1, "a"), Change(2, "b"))
      q.processAllAvailable()
      input.addData(Change(1, "a2"), Change(3, "c")) // update 1, insert 3
      q.processAllAvailable()
      val c2 = DriverManager.getConnection(tgtUrl)
      try {
        val rs = c2.createStatement().executeQuery(
          "SELECT \"id\", \"val_s\" FROM \"UPS\" ORDER BY \"id\"")
        val rows = Iterator.continually(rs)
          .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toList
        assert(rows == List((1L, "a2"), (2L, "b"), (3L, "c")))
        rs.close()
      } finally c2.close()
    } finally q.stop()
  }

  test("upsertBatch with orderCol: rows of one key that tie on it pick " +
      "the same winner whatever their input order") {
    val url = "jdbc:derby:memory:upstie;create=true"
    val conf = SyncConf(sourceUrl = url, targetUrl = url, database = "APP")
    def applyInOrder(rows: Seq[(Long, String, Long)]) = {
      val c = DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.execute("DROP TABLE \"TIE\"")
        catch { case _: java.sql.SQLException => () }
        st.execute("CREATE TABLE \"TIE\" (\"id\" BIGINT NOT NULL, " +
          "\"v\" VARCHAR(20), \"seq\" BIGINT)")
        st.close()
      } finally c.close()
      StreamSync.upsertBatch(conf, DerbyDialect, "TIE", Seq("id"),
        Some("seq"))(rows.toDF("id", "v", "seq"), 0L)
      val c2 = DriverManager.getConnection(url)
      try {
        val rs = c2.createStatement().executeQuery(
          "SELECT \"id\", \"v\", \"seq\" FROM \"TIE\" ORDER BY \"id\"")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toList
      } finally c2.close()
    }
    // key 1: "a" and "b" tie on seq 5; key 2 has a clear winner
    val rows = Seq((1L, "a", 5L), (1L, "b", 5L), (2L, "x", 1L), (2L, "y", 2L))
    val forward = applyInOrder(rows)
    val backward = applyInOrder(rows.reverse)
    assert(forward == backward, "the tie's winner depends on input order")
    // the tie breaks on the non-key columns, descending
    assert(forward == List((1L, "b", 5L), (2L, "y", 2L)))
  }

  /** A fresh Derby table for the upsert specs, created by `ddl`. */
  private def freshTable(url: String, table: String, ddl: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"""DROP TABLE "$table"""")
      catch { case _: java.sql.SQLException => () }
      st.execute(s"""CREATE TABLE "$table" ($ddl)""")
      st.close()
    } finally c.close()
  }

  private def idRows(url: String, sql: String): List[(Long, String)] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2))).toList
    } finally c.close()
  }

  /** The named SQL executions `body` runs, as the session's
    * `QueryExecutionListener`s see them: (name, execution, failure).
    * A `collect` before and after brackets them: the listener bus
    * delivers events in order. `body` must run no `collect` itself. */
  private def executionsDuring(body: => Unit)
      : List[(String, QueryExecution, Option[Exception])] = {
    val seen = new LinkedBlockingQueue[(String, QueryExecution, Option[Exception])]()
    val listener = new QueryExecutionListener {
      def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        seen.put((name, qe, None))
      def onFailure(name: String, qe: QueryExecution, e: Exception): Unit =
        seen.put((name, qe, Some(e)))
    }
    def next() = {
      val e = seen.poll(60, TimeUnit.SECONDS)
      assert(e != null, "no SQL execution ended within 60 s")
      e
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(1).collect()
      body
      spark.range(1).collect()
      while (next()._1 != "collect") {}
      Iterator.continually(next()).takeWhile(_._1 != "collect").toList
    } finally spark.listenerManager.unregister(listener)
  }

  test("upsertBatch with orderCol over a multi-partition batch: the keys' " +
      "exchange brings a key's versions together, and only the latest lands") {
    val url = "jdbc:derby:memory:upsmulti;create=true"
    val conf = SyncConf(sourceUrl = url, targetUrl = url, database = "APP")
    freshTable(url, "MULTI", "\"id\" BIGINT NOT NULL, \"v\" VARCHAR(20), \"seq\" BIGINT")
    val batch = Seq((1L, "a", 1L), (2L, "x", 2L), (1L, "b", 3L), (1L, "c", 4L),
      (2L, "y", 5L), (1L, "d", 6L)).toDF("id", "v", "seq").repartition(3)
    val parts = batch.filter($"id" === 1L)
      .select(org.apache.spark.sql.functions.spark_partition_id()).distinct().count()
    assert(parts > 1, "the versions of key 1 sit in one partition")
    val runs = executionsDuring {
      StreamSync.upsertBatch(conf, DerbyDialect, "MULTI", Seq("id"),
        Some("seq"))(batch, 0L)
    }
    assert(runs.size == 1 && runs.head._3.isEmpty, runs.map(r => (r._1, r._3)))
    object plans extends AdaptiveSparkPlanHelper
    val keyed = plans.collect(runs.head._2.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(keyed.nonEmpty, "a multi-partition batch was deduped without an exchange")
    assert(idRows(url, """SELECT "id", "v" FROM "MULTI" ORDER BY "id"""") ==
      List((1L, "d"), (2L, "y")))
  }

  test("upsertBatch: a row the target rejects fails the batch, and its " +
      "partition's transaction rolls back") {
    val url = "jdbc:derby:memory:upsreject;create=true"
    val conf = SyncConf(sourceUrl = url, targetUrl = url, database = "APP")
    freshTable(url, "REJ", "\"id\" BIGINT NOT NULL, \"v\" VARCHAR(4)")
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute("""INSERT INTO "REJ" VALUES (1, 'old')""")
    finally c.close()
    // one partition: the update of key 1 and a value too long for VARCHAR(4)
    val batch = Seq((1L, "new"), (2L, "toolong")).toDF("id", "v").coalesce(1)
    val e = intercept[Exception] {
      StreamSync.upsertBatch(conf, DerbyDialect, "REJ", Seq("id"))(batch, 0L)
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(messages.exists(_.contains("truncation")), messages.mkString(" | "))
    assert(idRows(url, """SELECT "id", "v" FROM "REJ" ORDER BY "id"""") ==
      List((1L, "old")), "the failed partition's delete or insert was committed")
  }

  test("upsertBatch is one successful SQL execution to a QueryExecutionListener") {
    val url = "jdbc:derby:memory:upslisten;create=true"
    val conf = SyncConf(sourceUrl = url, targetUrl = url, database = "APP")
    freshTable(url, "LSN", "\"id\" BIGINT NOT NULL, \"v\" VARCHAR(20), \"seq\" BIGINT")
    val batch = Seq((1L, "a", 1L), (1L, "b", 2L), (2L, "c", 3L)).toDF("id", "v", "seq")
    for (oc <- Seq(Some("seq"), None, Some("seq"))) {
      val runs = executionsDuring {
        StreamSync.upsertBatch(conf, DerbyDialect, "LSN", Seq("id"), oc)(
          if (oc.isEmpty) batch.filter($"seq" > 1L) else batch, 0L)
      }
      assert(runs.size == 1 && runs.head._3.isEmpty,
        s"upsertBatch(orderCol = $oc) ended as executions ${runs.map(r => (r._1, r._3))}")
    }
    assert(idRows(url, """SELECT "id", "v" FROM "LSN" ORDER BY "id"""") ==
      List((1L, "b"), (2L, "c")))
  }

  test("streaming dedup emits each event_id once across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EvId]
    val q = StreamOps.streamingDedup(input.toDF())
      .writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EvId(t("2024-01-01 00:01:00"), 1, 10, "click", 1.0),
        EvId(t("2024-01-01 00:02:00"), 1, 11, "view", 2.0))
      q.processAllAvailable()
      // redelivery of id 10 in a later batch (same watermark horizon)
      input.addData(
        EvId(t("2024-01-01 00:01:00"), 1, 10, "click", 1.0),
        EvId(t("2024-01-01 00:03:00"), 2, 12, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("sdedup").collect()
        .map(r => r.getLong(r.fieldIndex("event_id")))
      assert(ids.sorted.toSeq == Seq(10L, 11L, 12L),
        s"each id exactly once, got ${ids.toSeq}")
    } finally q.stop()
  }

  test("stream-static join enriches each batch against the dim frame") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[Ev]
    val q = StreamOps.enrichWithDim(input.toDF(), dim)
      .writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Ev(t("2024-01-01 00:01:00"), 1, "click", 1.0),
        Ev(t("2024-01-01 00:02:00"), 3, "view", 2.0)) // 3 has no dim row
      q.processAllAvailable()
      val rows = spark.table("enrich")
        .select($"user_id", $"tier").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    val lIn = MemoryStream[Ev]
    val rIn = MemoryStream[Ev]
    val q = StreamOps.intervalJoin(lIn.toDF(), rIn.toDF(), horizon = "5 minutes")
      .writeStream.format("memory").queryName("sjoin")
      .outputMode(OutputMode.Append).start()
    try {
      lIn.addData(Ev(t("2024-01-01 00:10:00"), 1, "impression", 0.0))
      rIn.addData(
        Ev(t("2024-01-01 00:12:00"), 1, "click", 1.0),   // within 5m → match
        Ev(t("2024-01-01 00:20:00"), 1, "click", 2.0),   // past horizon → no
        Ev(t("2024-01-01 00:12:30"), 2, "click", 3.0))   // other user → no
      // advance both watermarks so buffered state flushes
      lIn.addData(Ev(t("2024-01-01 01:00:00"), 9, "impression", 0.0))
      rIn.addData(Ev(t("2024-01-01 01:00:00"), 9, "noop", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sjoin")
        .select($"l_user", $"r_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(rows.contains((1L, 1.0)), s"in-horizon click must join, got $rows")
      assert(!rows.exists(_._2 == 2.0), "click past the horizon must not join")
      assert(!rows.exists(_._2 == 3.0), "other user's click must not join")
    } finally q.stop()
  }

  test("streaming PIT enrich: events pick the version valid at their own ts") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    spark.sql("DROP TABLE IF EXISTS stream_pit_dim")
    spark.sql("DROP TABLE IF EXISTS stream_pit_sink")
    graft.operators.Scd2Ops.initDim(spark, "stream_pit_dim",
      Seq((1L, "A#0", ts("2024-01-01 00:00:00")),
          (1L, "A#1", ts("2024-02-01 00:00:00")),
          (2L, "B#0", ts("2024-01-15 00:00:00")))
        .toDF("k", "seg_v", "valid_from"))
    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = StreamOps.streamingPitEnrich(
      input.toDF().toDF("event_id", "ts", "user_id"),
      "stream_pit_dim", "stream_pit_sink").start()
    try {
      // batch 1: v0-era and v1-era events for key 1
      input.addData((100L, ts("2024-01-10 12:00:00"), 1L),
                    (101L, ts("2024-02-10 12:00:00"), 1L))
      q.processAllAvailable()
      // batch 2: key 2, a pre-history event, and an unknown key
      input.addData((102L, ts("2024-01-20 00:00:00"), 2L),
                    (103L, ts("2023-12-01 00:00:00"), 1L),
                    (104L, ts("2024-03-01 00:00:00"), 9L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_pit_sink")
      .collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got == Map(
      100L -> Some("A#0"), 101L -> Some("A#1"), 102L -> Some("B#0"),
      103L -> None, 104L -> None),
      s"PIT enrichment wrong: $got")
    spark.sql("DROP TABLE IF EXISTS stream_pit_dim")
    spark.sql("DROP TABLE IF EXISTS stream_pit_sink")
  }

  test("streaming IVM: summary after two micro-batches equals from-scratch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val sf = SharedSpark.sf
    val rows = graft.Tables(spark, sf, "lineitem")
      .select($"l_returnflag", $"l_linestatus", $"l_quantity",
        $"l_extendedprice")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    val (half1, half2) = rows.splitAt(rows.length / 2)
    val store = new graft.streaming.EpochStore(
      "graft_state_sivm", "spec", StreamOps.IvmTables)
    store.destroy(spark)
    val input = MemoryStream[(String, String, Double, Double)]
    val q = StreamOps.streamingIvm(
      input.toDF().toDF("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice"),
      "graft_state_sivm", "spec").start()
    try {
      input.addData(half1: _*)
      q.processAllAvailable()
      input.addData(half2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = store.snap(spark, "summary")
      .orderBy($"l_returnflag", $"l_linestatus")
      .collect().map(_.toSeq).toSeq
    val want = graft.Tables(spark, sf, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(28,8)")).as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(12,2)").cast("decimal(28,8)"))
          .as("sum_price"))
      .orderBy($"l_returnflag", $"l_linestatus")
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"streamed summary diverged:\n$got\nvs\n$want")
    store.destroy(spark)
  }

  test("streaming interval coverage: cross-batch sweep state matches batch e22") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = SharedSpark.sf
    // globally ts-ordered feed split in two => every user's events stay
    // in event-time order across the batch boundary (the sweep is
    // order-sensitive, per the operator's contract)
    val ev = graft.Tables(spark, sf, "events")
      .select($"user_id", $"ts", $"event_id")
      .as[(Long, java.sql.Timestamp, Long)]
      .collect().sortBy(r => (r._2.getTime, r._3))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = StreamOps.streamingIntervalCoverage(
        input.toDF().toDF("user_id", "ts", "event_id"))
      .writeStream.format("memory").queryName("cov_sink")
      .outputMode("update").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // update-mode memory sink appends updated rows; last (max n_events)
    // row per user is the final state
    val got = spark.table("cov_sink").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3) / 1000000L)))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
    val want = graft.SparkEntry.queries("e22_interval_coverage")(spark, sf)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want,
      s"streamed coverage diverged from batch e22:\n$got\nvs\n$want")
  }

  test("streaming top paths: two-event state emits batch e23's trigrams") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = SharedSpark.sf
    val ev = graft.Tables(spark, sf, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .collect().sortBy(r => (r._2.getTime, r._3))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = StreamOps.streamingTopPaths(
        input.toDF().toDF("user_id", "ts", "event_id", "event_type"))
      .writeStream.format("memory").queryName("paths_sink")
      .outputMode("append").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("paths_sink")
      .groupBy($"path").agg(count(lit(1)).as("n_paths"))
      .orderBy($"n_paths".desc, $"path").limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = graft.SparkEntry.queries("e23_top_paths")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, s"streamed paths diverged:\n$got\nvs\n$want")
  }

  test("streaming bm25: two micro-batches equal from-scratch index; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = SharedSpark.sf
    val store = new graft.streaming.EpochStore(
      "graft_state_sbm25", "spec", StreamOps.Bm25Tables)
    store.destroy(spark)
    val all = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val (b1, b2) = all.splitAt(all.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.streamingBm25Index(
      input.toDF().toDF("doc_id", "text"), "graft_state_sbm25", "spec").start()
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // replay batch 2 verbatim (a restart re-delivering the last
      // batch): Δdocs = ∅, no state may move — and no new epoch
      val epochBefore = store.committed(spark)._1
      val postN = store.log(spark, "post").count()
      val dlN = store.log(spark, "dl").count()
      val dfBefore = store.snap(spark, "df").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      assert(store.committed(spark)._1 == epochBefore,
        "replayed batch opened a new epoch")
      assert(store.log(spark, "post").count() == postN,
        "replayed batch grew the posting list")
      assert(store.log(spark, "dl").count() == dlN,
        "replayed batch grew the doc-length table")
      assert(store.snap(spark, "df").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap == dfBefore,
        "replayed batch moved the df table")
    } finally q.stop()
    // ground truth: the from-scratch index over the full corpus
    val tfAll = graft.operators.TextOps.bm25TfOf(
      graft.Tables(spark, sf, "documents").select($"doc_id", $"text"))
    val wantPost = tfAll.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val wantDl = tfAll.groupBy($"doc_id").agg(sum($"tf").as("dl")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantDf = tfAll.groupBy($"term").agg(count(lit(1)).as("df")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(store.log(spark, "post").select($"doc_id", $"term", $"tf").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      == wantPost,
      "maintained posting list diverged from from-scratch rebuild")
    assert(store.log(spark, "dl").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == wantDl,
      "maintained doc-length table diverged")
    assert(store.snap(spark, "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == wantDf,
      "maintained df table diverged")
    // OPTIMIZE: compaction folds the delta chain into one bucketed base
    // as a normal epoch — content identical, epoch advanced, superseded
    // epoch tables vacuumed
    val eBefore = store.committed(spark)._1
    store.compact(spark)
    val (eAfter, bAfter, _) = store.committed(spark)
    assert(eAfter == eBefore + 1 && bAfter == eAfter,
      "compaction did not advance to a fresh base epoch")
    assert(store.log(spark, "post").select($"doc_id", $"term", $"tf").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      == wantPost, "compaction changed the posting content")
    assert(store.snap(spark, "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == wantDf,
      "compaction changed the df snapshot")
    // vacuum dropped everything the pointer no longer references
    val leftover = spark.sessionState.catalog
      .listTables("default", s"${store.tag}_*__*").map(_.table)
      .filterNot(t => t.endsWith(s"__e$eAfter") || t.endsWith(s"__b$bAfter"))
    assert(leftover.isEmpty, s"vacuum left superseded tables: $leftover")
    store.destroy(spark)
  }

  test("streaming bm25: day-1 build heals orphan epoch-table directories") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = SharedSpark.sf
    val store = new graft.streaming.EpochStore(
      "graft_state_sbm25o", "spec", StreamOps.Bm25Tables)
    store.destroy(spark)
    // a run killed mid-day-1 leaves `__e1`/`__d1` DIRECTORIES in the
    // warehouse with no catalog entries (the catalog is per-process)
    // and NO pointer — epoch tables are graft_state_-prefixed, so the
    // re-delivered day-1 clears and rewrites them instead of dying
    // with LOCATION_ALREADY_EXISTS or adopting half-written data
    Seq(s"${store.tag}_post__d1", s"${store.tag}_dl__d1",
        s"${store.tag}_df__e1").foreach { t =>
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(t)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(loc)
      // plant a stray file so the orphan is non-empty (a kill can land
      // mid-write): rebuildable state must still be cleared
      val out = fs.create(new org.apache.hadoop.fs.Path(loc, "part-junk"))
      out.write(Array[Byte](1, 2, 3)); out.close()
    }
    val all = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.streamingBm25Index(
      input.toDF().toDF("doc_id", "text"), "graft_state_sbm25o", "spec")
      .start()
    try {
      input.addData(all: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(store.exists(spark), "day-1 did not commit epoch 1")
    // every doc with at least one token must be present (docs whose
    // text yields no tokens never enter the index, batch or stream)
    val wantDocs = graft.operators.TextOps.bm25TfOf(
        graft.Tables(spark, sf, "documents").select($"doc_id", $"text"))
      .select($"doc_id").distinct().count()
    assert(store.log(spark, "dl").count() == wantDocs,
      "healed day-1 build lost documents")
    store.destroy(spark)
  }

  test("streaming triangles: two micro-batches equal batch rebuild; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val sf = SharedSpark.sf
    val store = new graft.streaming.EpochStore(
      "graft_state_stri", "spec", StreamOps.TrianglesTables)
    store.destroy(spark)
    // whole baskets per batch (the operator's documented contract):
    // split ORDERS, not rows
    val pl = graft.Tables(spark, sf, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      .as[(Long, Long)].collect().toSeq
    val orders = pl.map(_._1).distinct.sorted
    val day1Orders = orders.take(orders.length / 2).toSet
    val (b1, b2) = pl.partition { case (o, _) => day1Orders(o) }
    val input = MemoryStream[(Long, Long)]
    val q = StreamOps.streamingTriangles(
      input.toDF().toDF("o", "p"), "graft_state_stri", "spec").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      // replay batch 2 verbatim (a restart re-delivering the last
      // batch): ΔE = ∅, state must not move — and no new epoch
      val epochBefore = store.committed(spark)._1
      val triAfter = store.snap(spark, "tri").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val edgesAfter = store.log(spark, "edges").count()
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(store.committed(spark)._1 == epochBefore,
        "replayed batch opened a new epoch")
      assert(store.log(spark, "edges").count() == edgesAfter,
        "replayed batch grew the edge state")
      assert(store.snap(spark, "tri").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == triAfter,
        "replayed batch moved the triangle counts")
    } finally q.stop()
    // ground truth: from-scratch triangle counts over the full corpus
    val ed = graft.operators.RelationalOps.basketPairs(
        graft.Tables(spark, sf, "lineitem")
          .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct())
      .distinct()
    val und = ed.unionByName(ed.select($"b".as("a"), $"a".as("b")))
    val want = graft.operators.RelationalOps.q44TrianglesCorners(ed,
        und.groupBy($"a".as("n")).agg(count(lit(1)).as("d")))
      .groupBy($"n").agg(count(lit(1)).as("tri"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = store.snap(spark, "tri").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"streamed triangle counts diverged from rebuild")
    // the standing edge set equals the corpus pair set
    assert(store.log(spark, "edges").count() == ed.count())
    store.destroy(spark)
  }

  test("streaming components: two micro-batches equal from-scratch init; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val sf = SharedSpark.sf
    val store = new graft.streaming.EpochStore(
      "graft_state_scc", "spec", StreamOps.ComponentsTables)
    store.destroy(spark)
    // whole baskets per batch (the operator's documented contract):
    // split ORDERS, not rows
    val pl = graft.Tables(spark, sf, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      .as[(Long, Long)].collect().toSeq
    val orders = pl.map(_._1).distinct.sorted
    val day1 = orders.take(orders.length / 2).toSet
    val (b1, b2) = pl.partition { case (o, _) => day1(o) }
    def cntMap = store.snap(spark, "cnt").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    def lblMap = store.snap(spark, "lbl").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val input = MemoryStream[(Long, Long)]
    val q = StreamOps.streamingComponents(
      input.toDF().toDF("o", "p"), "graft_state_scc", "spec").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val (c0, l0, p0) =
        (cntMap, lblMap, store.log(spark, "proc").count())
      val epochBefore = store.committed(spark)._1
      // replay batch 2 verbatim (a restart re-delivering the last
      // batch): the order-id guard makes it a true no-op
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(store.committed(spark)._1 == epochBefore,
        "replayed batch opened a new epoch")
      assert(cntMap == c0, "replayed batch moved the support counts")
      assert(lblMap == l0, "replayed batch moved the labels")
      assert(store.log(spark, "proc").count() == p0,
        "replayed batch grew the processed-basket marker")
    } finally q.stop()
    // ground truth: from-scratch day-1 init over the union corpus —
    // maintained state must be indistinguishable from a rebuild
    val c2 = "stream_cc_cnt2"
    val l2 = "stream_cc_lbl2"
    Seq(c2, l2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.RelationalOps.q50InitState(pl.toDF("o", "p"), c2, l2)
    val wantCnt = spark.table(c2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wantLbl = spark.table(l2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cntMap == wantCnt, "streamed support counts diverged from rebuild")
    assert(lblMap == wantLbl, "streamed labels diverged from rebuild")
    Seq(c2, l2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    store.destroy(spark)
  }

  test("streaming retractions: a planted bridge deletion splits a " +
       "component through the writeStream path; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val store = new graft.streaming.EpochStore(
      "graft_state_sret", "spec", StreamOps.RetractTables)
    store.destroy(spark)
    // Round12OpsSpec's planted retraction corpus: a 4-node chain whose
    // BRIDGE edge (2,3) holds support 2 from baskets 305/306 alone —
    // deleting them splits {1,2,3,4}; {10,11} is untouched; (20,21)
    // drops 3→2 without crossing
    val corpus = Seq(
      (301L, 1L), (301L, 2L), (302L, 1L), (302L, 2L),
      (303L, 3L), (303L, 4L), (304L, 3L), (304L, 4L),
      (305L, 2L), (305L, 3L), (306L, 2L), (306L, 3L),
      (307L, 10L), (307L, 11L), (308L, 10L), (308L, 11L),
      (309L, 20L), (309L, 21L), (310L, 20L), (310L, 21L),
      (311L, 20L), (311L, 21L)).toDF("o", "p")
    def lblMap = store.snap(spark, "lbl").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val input = MemoryStream[(Long, Long)]
    val q = StreamOps.streamingRetractions(
      input.toDF().toDF("o", "p"), corpus, "graft_state_sret", "spec")
      .start()
    try {
      // batch 1: delete basket 306 — bridge support 2→1, crosses DOWN
      input.addData((306L, 2L), (306L, 3L))
      q.processAllAvailable()
      assert(lblMap == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
        10L -> 10L, 20L -> 20L, 11L -> 10L, 21L -> 20L),
        "bridge deletion did not split the component")
      // batch 2: delete basket 311 — (20,21) 3→2, stays qualified
      input.addData((311L, 20L), (311L, 21L))
      q.processAllAvailable()
      val afterB2 = lblMap
      assert(afterB2(20L) == 20L && afterB2(21L) == 20L,
        "a non-crossing support drop moved labels")
      val epochBefore = store.committed(spark)._1
      // replay batch 2 verbatim: the processed-deletion guard makes a
      // re-delivered retraction a true no-op — never a double delete
      input.addData((311L, 20L), (311L, 21L))
      q.processAllAvailable()
      assert(store.committed(spark)._1 == epochBefore,
        "replayed retraction opened a new epoch")
      assert(lblMap == afterB2, "replayed retraction double-deleted")
    } finally q.stop()
    // maintained ≡ rebuilt over corpus minus both deleted baskets
    val c2 = "sret_rebuild_cnt"; val l2 = "sret_rebuild_lbl"
    Seq(c2, l2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.RelationalOps.q50InitState(
      corpus.filter(!$"o".isin(306L, 311L)), c2, l2)
    assert(lblMap == spark.table(l2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "streamed retraction state diverged from rebuild")
    Seq(c2, l2).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    store.destroy(spark)
  }

  test("streaming media dedup: cap churn retracts a standing pair; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val A = "A" * 16; val B = "B" * 16; val F = "F" * 16; val G = "G" * 16
    def doc(id: Long, text: String) = (id, text, text.length.toLong)
    // batch 1: df(A) = 5 sits exactly AT the cap; pair (1,2) = 500 permille
    val b1 = Seq(
      doc(1L, A + "u1".padTo(48, '_') + B + "v1".padTo(48, '_') + "D1" * 8),
      doc(2L, A + "u2".padTo(48, '_') + B + "v2".padTo(48, '_') + "D2" * 8),
      doc(3L, A + "u3".padTo(48, '_') + "C3" * 8),
      doc(4L, A + "u4".padTo(48, '_') + "C4" * 8),
      doc(5L, A + "u5".padTo(48, '_') + "C5" * 8))
    // batch 2: doc 10 pushes A over the cap; 11/12 are a fresh dup pair
    val b2 = Seq(
      doc(10L, A + "uA".padTo(48, '_') + "XX" * 8),
      doc(11L, F + "p1".padTo(48, '_') + G),
      doc(12L, F + "p2".padTo(48, '_') + G))
    val store = new graft.streaming.EpochStore(
      "graft_state_smd", "spec", StreamOps.MediaDedupTables)
    store.destroy(spark)
    def pairMap = store.snap(spark, "pair").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val input = MemoryStream[(Long, String, Long)]
    val q = StreamOps.streamingMediaDedup(
      input.toDF().toDF("doc_id", "text", "n_chars"),
      "graft_state_smd", "spec").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(pairMap == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (1L, 4L) -> 1L,
        (1L, 5L) -> 1L, (2L, 3L) -> 1L, (2L, 4L) -> 1L, (2L, 5L) -> 1L,
        (3L, 4L) -> 1L, (3L, 5L) -> 1L, (4L, 5L) -> 1L),
        "day-1 pair intersections wrong")
      input.addData(b2: _*)
      q.processAllAvailable()
      // A crossed: every A-only intersection retracts to zero and drops;
      // (1,2) keeps only B; (11,12) arrives with {F,G}
      val afterChurn = Map((1L, 2L) -> 1L, (11L, 12L) -> 2L)
      assert(pairMap == afterChurn, s"churn fold wrong: $pairMap")
      val procBefore = store.log(spark, "proc").count()
      val epochBefore = store.committed(spark)._1
      // replay batch 2 verbatim: the processed-id guard makes it a no-op
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(store.committed(spark)._1 == epochBefore,
        "replayed batch opened a new epoch")
      assert(pairMap == afterChurn, "replayed batch moved the pair state")
      assert(store.log(spark, "proc").count() == procBefore)
    } finally q.stop()
    // ground truth: from-scratch init over the union on every state table
    import spark.implicits._
    val g = Seq("smd_g_post", "smd_g_df", "smd_g_pair", "smd_g_n")
    g.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.MultimodalOps.m9InitState(
      (b1 ++ b2).toDF("doc_id", "text", "n_chars"),
      g(0), g(1), g(2), g(3))
    def m(df: org.apache.spark.sql.DataFrame, k: Int) = df.collect()
      .map(r => r.toSeq.take(k).mkString(",")).sorted.toSeq
    def t(name: String) = spark.table(name)
    assert(m(store.snap(spark, "pair"), 3) == m(t("smd_g_pair"), 3),
      "streamed pairs diverged from rebuild")
    assert(m(store.snap(spark, "n"), 2) == m(t("smd_g_n"), 2),
      "streamed sizes diverged from rebuild")
    assert(m(store.snap(spark, "df"), 2) == m(t("smd_g_df"), 2),
      "streamed df diverged from rebuild")
    assert(store.log(spark, "post").count() ==
      spark.table("smd_g_post").count())
    g.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    store.destroy(spark)
  }

  test("streaming skyline: inserts, a budget-exceeding deletion batch " +
      "(repair), and a replay through the writeStream path — served " +
      "frontier equals from-scratch after every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val store = new graft.streaming.EpochStore(
      "graft_state_ssky", "spec", StreamOps.SkylineTables)
    store.destroy(spark)
    // the planted chain (each point dominates the next): layers {1},
    // {2}, {3}; 4 and 5 below — the EpochCommitSpec scenario driven
    // through an ACTUAL writeStream this time
    val corpusRows = Seq((1L, 1.0, 10), (2L, 2.0, 9), (3L, 3.0, 8),
      (4L, 4.0, 7), (5L, 5.0, 1))
    val corpus = corpusRows.toDF("p_partkey", "p_retailprice", "p_size")
    def serve() = StreamOps.skylineServe(spark, "graft_state_ssky", "spec")
      .select(col("p_partkey")).as[Long].collect().toSet
    def truth(live: Seq[(Long, Double, Int)]) =
      graft.operators.RelationalOps.q56From(
          live.toDF("p_partkey", "p_retailprice", "p_size"))
        .select(col("p_partkey")).as[Long].collect().toSet
    val input = MemoryStream[(Long, Double, Int, String)]
    val q = StreamOps.streamingSkyline(
      input.toDF().toDF("p_partkey", "p_retailprice", "p_size", "op"),
      corpus, "graft_state_ssky", "spec").start()
    try {
      // batch 1: a frontier-evicting insert cascades through the layers
      input.addData((6L, 0.5, 11, "insert"))
      q.processAllAvailable()
      val live1 = corpusRows :+ ((6L, 0.5, 11))
      assert(serve() == truth(live1) && serve() == Set(6L))
      // batch 2: three deletions exceed the k = 2 budget → repair path
      input.addData((6L, 0.0, 0, "delete"), (1L, 0.0, 0, "delete"),
        (2L, 0.0, 0, "delete"))
      q.processAllAvailable()
      val live2 = live1.filterNot(r => Set(6L, 1L, 2L).contains(r._1))
      assert(serve() == truth(live2) && serve() == Set(3L),
        "repair through the stream path diverged")
      val epochBefore = store.committed(spark)._1
      // replay the deletion batch verbatim: the (key, op) guard makes
      // it a true no-op
      input.addData((6L, 0.0, 0, "delete"), (1L, 0.0, 0, "delete"),
        (2L, 0.0, 0, "delete"))
      q.processAllAvailable()
      assert(store.committed(spark)._1 == epochBefore,
        "replayed deletion batch opened a new epoch")
      assert(serve() == Set(3L))
    } finally q.stop()
    store.destroy(spark)
  }

  test("streaming decay: micro-batched events fold into the daily " +
      "sufficient statistic; serve equals from-scratch under the " +
      "moving as-of date; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val store = new graft.streaming.EpochStore(
      "graft_state_sdecay", "spec", StreamOps.DecayTables)
    store.destroy(spark)
    def ev(id: Long, day: Int, u: Long, v: Double) =
      (id, t(f"2024-01-${day + 1}%02d 12:00:00"), u, v)
    // batch 2 advances the as-of date by a week: every batch-1 event's
    // weight halves between the two serves — the case a standing SCORE
    // gets wrong and the standing STATISTIC gets right
    val b1 = Seq(ev(1, 0, 1, 10.00), ev(2, 0, 1, 5.00), ev(3, 0, 2, -0.02))
    val b2 = Seq(ev(4, 7, 1, 3.00), ev(5, 7, 2, 0.01))
    def truth(rows: Seq[(Long, Timestamp, Long, Double)]) =
      graft.operators.EventOps.e31Score(graft.operators.EventOps.e31Daily(
          rows.toDF("event_id", "ts", "user_id", "value")
            .select(col("user_id"), col("ts"), col("value"))))
        .collect().map(_.toSeq).toSeq
    def serve() = StreamOps.decayServe(spark, "graft_state_sdecay", "spec")
      .collect().map(_.toSeq).toSeq
    val input = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = StreamOps.streamingDecay(
      input.toDF().toDF("event_id", "ts", "user_id", "value"),
      "graft_state_sdecay", "spec").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(serve() == truth(b1), "day-1 serve diverged from rebuild")
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(serve() == truth(b1 ++ b2),
        "serve after the as-of advance diverged from rebuild")
      val epochBefore = store.committed(spark)._1
      input.addData(b2: _*) // verbatim re-delivery after a restart
      q.processAllAvailable()
      assert(store.committed(spark)._1 == epochBefore,
        "replayed batch opened a new epoch")
      assert(serve() == truth(b1 ++ b2), "replayed batch moved the state")
    } finally q.stop()
    // crash-before-commit is invisible: inject on a THIRD batch, then
    // the retry lands it exactly once
    val b3 = Seq(ev(6, 8, 2, 1.00))
    intercept[EpochStore.InjectedCrash] {
      StreamOps.decayBatch(
        b3.toDF("event_id", "ts", "user_id", "value"),
        "graft_state_sdecay", "spec", crashBeforeCommit = true)
    }
    assert(serve() == truth(b1 ++ b2),
      "crashed batch became visible before the epoch flip")
    StreamOps.decayBatch(b3.toDF("event_id", "ts", "user_id", "value"),
      "graft_state_sdecay", "spec")
    assert(serve() == truth(b1 ++ b2 ++ b3),
      "post-crash retry did not land the batch exactly once")
    // compaction folds the processed-id log into its base table — the
    // replay guard must survive it (a compaction that dropped history
    // would double-count any replayed old batch)
    store.compact(spark)
    StreamOps.decayBatch(b1.toDF("event_id", "ts", "user_id", "value"),
      "graft_state_sdecay", "spec") // replay DAY ONE after compaction
    assert(serve() == truth(b1 ++ b2 ++ b3),
      "compaction dropped the replay guard: day-1 replay double-counted")
    store.destroy(spark)
  }
}
