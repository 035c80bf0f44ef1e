package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode}

/** Per-user running totals maintained by custom state. */
final case class UserStats(user_id: Long, n_events: Long, total_value: Double,
                           last_ts: Timestamp)

/** Running distinct-count estimate per key (streaming KMV, see
  * [[StreamOps.streamingDistinctEstimate]]). */
final case class DistinctEstimate(event_type: String, n_kept: Int,
                                  kth_hash: Long, est_distinct: Double)

/** One attributed purchase (streaming last-touch, see
  * [[StreamOps.streamingAttribution]]). */
final case class Attributed(user_id: Long, event_id: Long, channel: String,
                            value: Double)

/** Per-user last-touch state carried across micro-batches. */
final case class TouchState(touch: String, last_us: Long)

/** Per-user interval-coverage state (streaming dual of batch e22, see
  * [[StreamOps.streamingIntervalCoverage]]): the running-max interval
  * end plus the accumulated totals — four longs per user, forever. */
final case class CoverageState(user_id: Long, n_events: Long,
                               n_stretches: Long, covered_us: Long,
                               pmax_us: Long)

/** The last two event types per user (streaming dual of batch e23, see
  * [[StreamOps.streamingTopPaths]]) — the whole n-gram window. */
final case class PathState(a: String, b: String)

/** One completed 3-step path emitted by [[StreamOps.streamingTopPaths]]. */
final case class PathHit(user_id: Long, path: String)

/** Streaming transforms for the `events` shape (ts, user_id, event_type,
  * value). Each takes and returns a DataFrame so the SAME logic runs on a
  * batch frame or a `readStream` frame — the batch duals are oracle-checked
  * in [[graft.operators.EventOps]], and the streaming specs drive these
  * through MemoryStream with watermarks.
  *
  * The reference is one-shot batch only (Boot.java:17-20); streaming is
  * north-star extension surface (Structured Streaming + JDBC sinks).
  *
  * The twelve standing-state maintainers (`xBatch`, run per micro-batch
  * by `streamingX`) keep their state in [[EpochStore]]. Eleven guard on
  * content: each states only its batch normalisation, its guard (the
  * batch rows committed state has not seen), its day-1 write and its
  * fold, and [[EpochStore.guardedEpoch]] runs the shared protocol —
  * replayed batch = true no-op, atomic multi-table commit, crash
  * failpoint, checkpoint release. The IVM maintainer's additive fold
  * cannot reveal a replay, so it guards on the committed batchId
  * instead.
  */
object StreamOps {

  /** The foreachBatch writer behind every `streamingX` maintainer and
    * result sink: `f(batch, batchId)` once per micro-batch, in append
    * mode. */
  private def eachBatch(stream: DataFrame)(f: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] =
    stream.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], id: Long) => f(batch.toDF(), id) }

  /** Tumbling-window counts/sums per event type with a watermark: late
    * events beyond `lateness` are dropped and state is bounded — the
    * standard unbounded-stream aggregation shape. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
                  lateness: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupBy(window($"ts", windowLen).as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
           sum($"value".cast("decimal(28,8)")).cast("double").as("total_value"))
      .select($"w.start".as("win_start"), $"event_type", $"n_events", $"total_value")
  }

  /** Streaming dual of the batch e19 hopping-window distinct-users
    * query: stateful dedup on (window, user) chained into a windowed
    * count — the two-stateful-operator pipeline (dedup → agg) Spark
    * supports in append mode. The dedup state holds one entry per
    * (window, user) and is dropped with the watermark, exactly the
    * bounded-state shape of the batch form's first-level hash agg;
    * the downstream count then sees each user once per window. */
  def hoppingDistinct(events: DataFrame, windowLen: String = "2 hours",
                      hop: String = "30 minutes",
                      lateness: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .select(window($"ts", windowLen, hop).as("w"), $"user_id", $"ts")
      .dropDuplicates("w", "user_id")
      .groupBy($"w")
      .agg(count(lit(1)).as("n_users"))
      .select($"w.start".as("win_start"), $"n_users")
  }

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * count + value total, updated each micro-batch. This is the escape
    * hatch for stateful logic Spark's built-in windows can't express
    * (counters, ML feature state, CDC reconciliation); values are summed
    * in (ts, event_id) order within each batch so results are
    * deterministic for tests.
    *
    * `eventTimeTtl`: evict users whose last event is older than the TTL
    * in EVENT time — the timer is an event-time timestamp and fires when
    * the WATERMARK passes it, so eviction is driven purely by the data's
    * own clock (advance the watermark, keys expire; no wall-clock in the
    * loop, so the processing-time no-data-batch busy-loop documented on
    * [[streamingDistinctEstimate]] cannot arise and
    * `processAllAvailable` terminates). The evicted key's final stats
    * are emitted once more, then its state drops. */
  def runningUserStats(events: DataFrame,
                       eventTimeTtl: Option[String] = None,
                       lateness: String = "10 minutes"): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    def update(userId: Long, rows: Iterator[(Long, Timestamp, Long, Double)],
               state: GroupState[UserStats]): UserStats =
      if (state.hasTimedOut) {
        // final emit for the evicted user, then drop its state
        val last = state.get
        state.remove()
        last
      } else {
        val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
        val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0, new Timestamp(0)))
        val next = sorted.foldLeft(prev) { (acc, r) =>
          UserStats(userId, acc.n_events + 1, acc.total_value + r._4,
            if (r._2.after(acc.last_ts)) r._2 else acc.last_ts)
        }
        state.update(next)
        // timer = last event time + ttl, clamped above the current
        // watermark (late rows reach mapGroupsWithState unfiltered, and
        // Spark rejects a timer at or below the watermark)
        eventTimeTtl.foreach(ttl => state.setTimeoutTimestamp(
          math.max(next.last_ts.getTime, state.getCurrentWatermarkMs + 1), ttl))
        next
      }
    val timeoutConf =
      if (eventTimeTtl.isDefined) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val src =
      if (eventTimeTtl.isDefined) events.withWatermark("ts", lateness)
      else events
    src
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, Timestamp, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf)(update)
  }

  /** Streaming dual of batch e22's merged-interval coverage: each event
    * opens a 5-minute activity interval, and per user the state carries
    * the running max of interval ENDS plus the accumulated coverage —
    * the ONLINE form of the batch sweep, updating billable-seconds /
    * uptime metering as events arrive instead of rescanning history.
    *
    * The state is exactly the sweep's loop variable: FOUR LONGS per
    * user, bounded forever, where a naive online form would buffer the
    * user's intervals. Within a batch rows fold in (ts, event_id)
    * order; across batches correctness needs per-user event-time order
    * (the interval sweep is order-sensitive, unlike KMV's commutative
    * merge) — ingest through a watermark-sorted stage or accept the
    * batch boundary as the ordering unit, the same contract as
    * [[streamingAttribution]]. Key cardinality is unbounded; for an
    * open-ended user universe bolt on [[runningUserStats]]'s
    * event-time-TTL eviction pattern. */
  def streamingIntervalCoverage(events: DataFrame): Dataset[CoverageState] = {
    import events.sparkSession.implicits._
    val IntervalUs = 300000000L
    def update(userId: Long, rows: Iterator[(Long, Long, Long)],
               state: GroupState[CoverageState]): CoverageState = {
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      val prev = state.getOption.getOrElse(
        CoverageState(userId, 0L, 0L, 0L, Long.MinValue))
      val next = sorted.foldLeft(prev) { (acc, r) =>
        val s = r._2
        val e = s + IntervalUs
        val fresh = acc.pmax_us == Long.MinValue || acc.pmax_us < s
        val floor = if (acc.pmax_us == Long.MinValue) s else math.max(s, acc.pmax_us)
        CoverageState(userId, acc.n_events + 1,
          acc.n_stretches + (if (fresh) 1L else 0L),
          acc.covered_us + math.max(0L, e - floor),
          math.max(acc.pmax_us, e))
      }
      state.update(next)
      next
    }
    events
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
  }

  /** Streaming dual of batch e23's path mining: emit each completed
    * 3-step event-type sequence as it happens. The per-user state is
    * the ENTIRE n-gram window — the last two event types, two short
    * strings, bounded forever — which is why sequence n-gram mining is
    * one of the cheapest stateful streaming operators there is (the
    * batch form's `lead()` window becomes two fields). Downstream the
    * emitted paths feed any streaming count (the alphabet is
    * |event_types|³, so a windowed count on top stays metadata-sized).
    * Cross-batch correctness needs per-user event-time order, the same
    * contract as [[streamingIntervalCoverage]]. */
  def streamingTopPaths(events: DataFrame): Dataset[PathHit] = {
    import events.sparkSession.implicits._
    def update(uid: Long, rows: Iterator[(Long, Long, Long, String)],
               state: GroupState[PathState]): Iterator[PathHit] = {
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      var st = state.getOption.getOrElse(PathState(null, null))
      val out = Seq.newBuilder[PathHit]
      for (r <- sorted) {
        val c = r._4
        if (st.a != null && st.b != null) out += PathHit(uid, s"${st.a}>${st.b}>$c")
        st = PathState(st.b, c)
      }
      state.update(st)
      out.result().iterator
    }
    events
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout())(update)
  }

  /** Running distinct-user estimate per event type: a KMV bottom-k sketch
    * ([[graft.functions.KmvAgg]]'s reduce/finish — the streaming dual of
    * batch q33) maintained in keyed state. The state is the k smallest
    * distinct md5 hashes — BOUNDED at k longs per key FOREVER, where an
    * exact streaming countDistinct would grow state with the id universe
    * (the reason exact distinct isn't offered on unbounded streams).
    * Emits the updated estimate for each key touched by the micro-batch;
    * the estimate is deterministic in the set of ids seen, independent of
    * batch boundaries or arrival order (KMV is a commutative,
    * idempotent merge).
    *
    * State is k longs per key — bounded per key, but unbounded in key
    * cardinality. For the fixed `event_type` domain that is fine; before
    * pointing this at a high-cardinality/open-ended key, pass a TTL to
    * evict idle keys (an evicted key that reappears restarts its sketch
    * from empty — the estimate becomes a lower bound for such keys,
    * which is the standard TTL trade-off). Two TTL clocks are offered:
    *
    *  - `eventTimeTtl` (PREFER THIS): the eviction timer is an
    *    event-time timestamp (last event seen + ttl) and fires when the
    *    WATERMARK passes it. Eviction follows the data's own clock —
    *    deterministic, replayable, and the engine only schedules extra
    *    no-data batches until pending timers fire, so
    *    `processAllAvailable` terminates normally.
    *  - `idleTimeout`: wall-clock eviction (processing-time timeout).
    *    OPERATIONAL CAVEAT (Spark semantics, not specific to this op):
    *    a processing-time timeout can only fire inside a micro-batch,
    *    so Spark keeps scheduling no-data batches for the query's
    *    LIFETIME — always run such queries with a positive trigger
    *    interval (`Trigger.ProcessingTime(...)`) or the default 0 ms
    *    trigger busy-loops, and do not drive them with
    *    `StreamingQuery.processAllAvailable`, which never returns once
    *    `shouldRunAnotherBatch` is permanently true (verified against
    *    Spark 4.1; the spec pins that wiring at plan level instead). */
  def streamingDistinctEstimate(events: DataFrame, k: Int = 64,
                                idleTimeout: Option[String] = None,
                                eventTimeTtl: Option[String] = None,
                                lateness: String = "10 minutes")
      : Dataset[DistinctEstimate] = {
    import events.sparkSession.implicits._
    import graft.functions.EngineFns.md5Long
    require(idleTimeout.isEmpty || eventTimeTtl.isEmpty,
      "streamingDistinctEstimate: pass at most one of idleTimeout/eventTimeTtl")
    val kmv = new graft.functions.KmvAgg(k)
    val timeoutConf =
      if (eventTimeTtl.isDefined) GroupStateTimeout.EventTimeTimeout()
      else if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    val src =
      if (eventTimeTtl.isDefined) events.withWatermark("ts", lateness)
      else events
    src
      .select($"event_type", md5Long($"user_id".cast("string")).as("h"), $"ts")
      .as[(String, Long, Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf)(
        distinctEstimateUpdate(kmv, k, idleTimeout, eventTimeTtl))
  }

  /** The state-update function behind [[streamingDistinctEstimate]],
    * exposed so the spec can drive the eviction branch through
    * `TestGroupState` (wall-clock timeouts can't fire deterministically
    * in a test). */
  private[streaming] def distinctEstimateUpdate(
      kmv: graft.functions.KmvAgg, k: Int, idleTimeout: Option[String],
      eventTimeTtl: Option[String] = None)(
      key: String, rows: Iterator[(String, Long, Timestamp)],
      state: GroupState[List[Long]]): DistinctEstimate =
    if (state.hasTimedOut) {
      // final emit for the evicted key, then drop its sketch
      val (n, kth) = kmv.finish(state.get)
      state.remove()
      DistinctEstimate(key, n, kth, graft.functions.KmvAgg.estimate(k, n, kth))
    } else {
      var maxTs = Long.MinValue
      val buf = rows.foldLeft(state.getOption.getOrElse(kmv.zero)) { (b, r) =>
        if (r._3 != null && r._3.getTime > maxTs) maxTs = r._3.getTime
        kmv.reduce(b, r._2)
      }
      state.update(buf)
      idleTimeout.foreach(state.setTimeoutDuration)
      // timer = last event time + ttl, clamped above the watermark (late
      // rows reach mapGroupsWithState unfiltered, and Spark rejects a
      // timer at or below the watermark)
      eventTimeTtl.foreach(ttl => state.setTimeoutTimestamp(
        math.max(maxTs, state.getCurrentWatermarkMs + 1), ttl))
      val (n, kth) = kmv.finish(buf)
      DistinctEstimate(key, n, kth, graft.functions.KmvAgg.estimate(k, n, kth))
    }

  /** Session windows (30-minute gap) per user via Spark's native
    * session_window — state is merged incrementally in streaming mode. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 lateness: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window($"ts", gap).as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"w.start".as("sess_start"), $"w.end".as("sess_end"),
              $"user_id", $"n_events")
  }

  /** Streaming corpus-ingest filter — the stateless streaming dual of
    * p8's batch refresh funnel: each arriving document is flagged by
    * t3's quality gate and a compiled decontamination check before it
    * reaches the sink, with WHY attached so the funnel is observable.
    *
    * Both stages are per-row map work — the quality rules are column
    * expressions and the benchmark shingle set (bounded, t11's argument)
    * ships as a LITERAL array probed with `arrays_overlap` (the
    * query-compiled pattern; a deployment with a larger set swaps in a
    * bloom filter, q34's shape, still a per-row probe). No watermark, no
    * state, no shuffle: the filter runs in append mode and adds nothing
    * to the ingest path's state store at any volume. */
  def corpusIngestFilter(docsStream: DataFrame,
                         benchShingles: Array[Long]): DataFrame = {
    val sp = docsStream.sparkSession
    import sp.implicits._
    val toks = split($"text", " ")
    val nTok = size(toks)
    val nStop = size(filter(toks,
      tk => tk.isInCollection(graft.operators.TextOps.stopwords)))
    val stopMilli = floor(lit(1000.0) * nStop / nTok).cast("long")
    docsStream
      .withColumn("quality_ok",
        nTok >= 20 && stopMilli >= 10 && stopMilli <= 150)
      .withColumn("contaminated",
        arrays_overlap(expr("ngram_hashes(text, 8)"),
          typedLit(benchShingles)))
      .withColumn("accepted", $"quality_ok" && !$"contaminated")
  }

  /** Streaming Count-Min sketch — e18's batch build run as a LIVE
    * aggregation: because a CMS is a mergeable grouped count, the same
    * `groupBy(r, b).count()` that builds it in batch IS its streaming
    * maintenance; Spark's state store holds exactly the 192 fixed-width
    * cells and each micro-batch folds in map-side partials. No custom
    * state function needed — the mergeable-sketch property collapses
    * "maintain a sketch over a stream" to a native streaming aggregate
    * with O(d·w) state REGARDLESS of stream volume or key cardinality
    * (contrast [[streamingDistinctEstimate]], whose KMV state is also
    * bounded but needs mapGroupsWithState because a k-minimum set is
    * not a grouped count). Run in Complete/Update mode; the spec
    * asserts cells after N micro-batches equal e18's batch build over
    * the same prefix — the mergeability proof, live. */
  def streamingCmsCells(events: DataFrame): DataFrame =
    graft.operators.EventOps.cmsCells(events)

  /** Streaming exact dedup: at-least-once delivery → exactly-once rows,
    * keyed on event_id. `dropDuplicatesWithinWatermark` bounds the dedup
    * state to the watermark horizon (plain dropDuplicates would grow
    * state forever on an unbounded stream) — the streaming dual of the
    * batch d1 operator. */
  def streamingDedup(events: DataFrame,
                     lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: each micro-batch joins against a
    * static dimension frame. The dim side is broadcast per batch (no
    * stream state), which is the scale-correct shape for slowly-changing
    * small dimensions; re-reading the frame each batch picks up dim
    * updates between batches. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join (streaming dual of the batch e6 range
    * join): per user, pair each `left` event with `right` events that
    * occur within [left.ts, left.ts + horizon]. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can expire buffered state — an unbounded-condition
    * stream-stream join would hold both streams forever. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   horizon: String = "5 minutes",
                   lateness: String = "10 minutes"): DataFrame = {
    import left.sparkSession.implicits._
    val l = left.withWatermark("ts", lateness)
      .select($"user_id".as("l_user"), $"ts".as("l_ts"),
              $"event_type".as("l_type"))
    val r = right.withWatermark("ts", lateness)
      .select($"user_id".as("r_user"), $"ts".as("r_ts"),
              $"event_type".as("r_type"), $"value".as("r_value"))
    l.join(r,
      $"l_user" === $"r_user" &&
        $"r_ts" >= $"l_ts" &&
        $"r_ts" <= $"l_ts" + expr(s"interval $horizon"))
  }

  /** Streaming NEAR-dup ingest — d15's streaming dual, probing the
    * PERSISTED corpus band table (d17's standing state): each
    * micro-batch of (doc_id, text) documents is shingled, minhashed and
    * LSH-banded with exactly the batch pipeline's hashes
    * ([[graft.operators.DedupOps.bandKeysFor]] — per-doc and stateless,
    * so a doc's band keys do not depend on which micro-batch carried
    * it), then joined against the bucketed standing table (merge hint:
    * the corpus side reads exchange-free and is never broadcastable at
    * scale). Matched (batch_id, corpus_id) pairs append to `sinkTable`.
    *
    * Banding needs a per-doc aggregation (the 16 min-hash slots), which
    * streaming append mode cannot host without watermark gymnastics —
    * and needs none: foreachBatch runs the SAME batch plan per
    * micro-batch, which is exactly the daily-ingest shape d17
    * materializes the state for. The streamed union over any batch
    * split equals the one-shot batch d15 (spec-pinned).
    *
    * Sink idempotency ([[idempotentSinkWrite]]): the matches land in
    * the sink's `sink_batch=<batchId>` partition via dynamic partition
    * overwrite, so a re-delivered micro-batch REPLACES its own output
    * instead of appending duplicate flag rows — spec-pinned. */
  def streamingNeardupIngest(docsStream: DataFrame, corpusBandTable: String,
                             sinkTable: String)
      : DataStreamWriter[Row] =
    eachBatch(docsStream)((batch, id) =>
      neardupIngestBatch(batch, id, corpusBandTable, sinkTable))

  private[graft] def neardupIngestBatch(batch: DataFrame, batchId: Long,
      corpusBandTable: String, sinkTable: String): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val matches = graft.operators.DedupOps.bandKeysFor(batch)
      .withColumn("bk", concat_ws(":", $"band", $"key"))
      .select($"bk", $"doc_id".as("batch_id"))
      .join(sp.table(corpusBandTable).hint("merge")
        .withColumnRenamed("doc_id", "corpus_id"), Seq("bk"))
      .select($"batch_id", $"corpus_id").distinct()
    idempotentSinkWrite(matches, batchId, sinkTable)
  }

  /** At-least-once delivery → exactly-once SINK rows for the
    * foreachBatch RESULT sinks (the duals' standing STATE goes through
    * [[EpochStore]]; a result sink needs only per-batch idempotency):
    * each batch's output lands in its own `sink_batch=<batchId>` hive
    * partition via DYNAMIC partition overwrite — `insertInto` with
    * `partitionOverwriteMode=dynamic` replaces exactly the partitions
    * present in the data, so a re-delivered batch (same batchId, the
    * foreachBatch contract) REWRITES its own partition bit-identically
    * instead of appending duplicates, and every other batch's output
    * is untouched. The partition column doubles as provenance (which
    * batch produced this row), and downstream reads prune on it. */
  private[graft] def idempotentSinkWrite(out: DataFrame, batchId: Long,
                                         sinkTable: String): Unit = {
    val sp = out.sparkSession
    val stamped = out.withColumn("sink_batch",
      org.apache.spark.sql.functions.lit(batchId))
    if (!sp.catalog.tableExists(sinkTable)) {
      // the warehouse outlives the in-memory catalog: a prior process's
      // sink directory is caller-owned ACCUMULATED OUTPUT — adopt it
      // (register + recover its batch partitions) rather than wipe it;
      // an empty leftover directory is cleared so creation can proceed
      val loc = new org.apache.hadoop.fs.Path(
        sp.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(sinkTable)))
      val fs = loc.getFileSystem(sp.sparkContext.hadoopConfiguration)
      val entries =
        if (fs.exists(loc)) fs.listStatus(loc).toSeq else Nil
      def visible(st: org.apache.hadoop.fs.FileStatus) = {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      val partDirs = entries.exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("sink_batch="))
      val looseFiles = entries.exists(st => visible(st) && !st.isDirectory)
      if (looseFiles)
        // a leftover directory in a DIFFERENT layout (e.g. a legacy
        // plain-append sink with data files directly under the table
        // dir) must not be silently adopted: RECOVER PARTITIONS would
        // throw on every re-delivery and wedge the stream. Fail ONCE
        // with an actionable message instead.
        throw new IllegalStateException(
          s"sink $sinkTable: existing directory $loc is not " +
            "sink_batch=-partitioned (loose data files found) — migrate " +
            "it into sink_batch=<n>/ subdirectories or point the sink " +
            "at a fresh table name")
      if (partDirs) {
        sp.catalog.createTable(sinkTable, loc.toString, "parquet")
        sp.sql(s"ALTER TABLE $sinkTable RECOVER PARTITIONS")
      } else {
        if (fs.exists(loc)) fs.delete(loc, true)
        stamped.write.partitionBy("sink_batch")
          .format("parquet").saveAsTable(sinkTable)
        return
      }
    }
    // The per-write option('partitionOverwriteMode', 'dynamic') is not
    // honored on this insertInto path (re-verified on Spark 4.1: a new
    // batch statically wiped the previous batch's partition), so the
    // session conf must carry it — but mutating the CALLER's session
    // conf would leak dynamic-overwrite semantics to any concurrent
    // write on the same session. Run the insert through a fresh
    // newSession() instead: it shares the SparkContext and the external
    // catalog (the sink table resolves) while owning a private conf,
    // so the flag never escapes this write. The frame crosses sessions
    // via a global temp view (session-bound plans cannot).
    val v = s"__sink_stage_${batchId}_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    stamped.createOrReplaceGlobalTempView(v)
    try {
      val wsp = sp.newSession()
      wsp.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
      wsp.table(s"global_temp.$v").write.mode("overwrite")
        .insertInto(sinkTable)
      // the write ran in wsp; the caller's session still caches the
      // replaced partition's old file listing — invalidate it
      sp.catalog.refreshTable(sinkTable)
    } finally sp.catalog.dropGlobalTempView(v)
  }

  /** Streaming last-touch attribution — e21's online dual: each
    * arriving purchase is credited to the user's most recent preceding
    * touch within `lookbackUs`, else "organic", with the last touch
    * carried ACROSS micro-batches in keyed state (two longs + a string
    * per user — bounded forever). Within a batch, a user's rows apply
    * in (ts, touch-before-purchase, event_id) order, matching the
    * batch operator's window ordering exactly.
    *
    * Semantics note (inherent to streaming attribution, documented
    * rather than hidden): credit is FORWARD-ONLY — a touch that
    * arrives in a later micro-batch than the purchase it preceded in
    * event time cannot retro-attribute it; the batch dual re-reading
    * the full log is the reconciliation path. As long as each user's
    * events arrive in event-time order across batches, the streamed
    * output equals batch e21 (spec-pinned on a time-split feed). */
  def streamingAttribution(events: DataFrame,
                           lookbackUs: Long = 3600L * 1000000L)
      : Dataset[Attributed] = {
    import events.sparkSession.implicits._
    def us(t: Timestamp): Long =
      (t.getTime / 1000) * 1000000L + t.getNanos / 1000
    def update(user: Long,
               rows: Iterator[(Long, Timestamp, Long, String, Double)],
               state: GroupState[TouchState]): Iterator[Attributed] = {
      val sorted = rows.toSeq.sortBy(r =>
        (us(r._2), if (r._4 == "purchase") 1 else 0, r._3))
      var st = state.getOption.getOrElse(TouchState("", Long.MinValue))
      val out = Seq.newBuilder[Attributed]
      sorted.foreach { r =>
        val t = us(r._2)
        r._4 match {
          case "purchase" =>
            val ch = if (st.last_us != Long.MinValue && t - st.last_us <= lookbackUs)
              st.touch else "organic"
            out += Attributed(user, r._3, ch, r._5)
          case "click" | "view" | "signup" =>
            st = TouchState(r._4, t)
          case _ => ()
        }
      }
      state.update(st)
      out.result().iterator
    }
    events.select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .as[(Long, Timestamp, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout())(update)
  }

  /** Streaming ANN SERVING — the online half of s10's build/serve
    * split: query vectors arrive as a stream, and every micro-batch is
    * answered against the PERSISTED index (cell-partitioned code
    * lists + saved codebooks) with top-K per query appended to
    * `sinkTable`. The index must already exist
    * ([[graft.operators.SimilarityOps.s10EnsureIndex]] — day-1 build);
    * the per-batch work is exactly s10's serve step: read the
    * codebooks ONCE per batch (driver-cached, metadata-sized), compile
    * the batch's probe lists + ADC lookup literals, one
    * partition-pruned scan of the probed cells. ZERO k-means jobs per
    * batch — training never appears in this lineage, which is what
    * makes per-arrival latency proportional to nprobe·cell size, not
    * corpus size. Schema in: (vec_id LONG, v ARRAY<DOUBLE>); out:
    * (qid, nid, rnk, adc_micro) + the [[idempotentSinkWrite]] batch
    * partition (re-delivered batches rewrite their own answers,
    * never duplicate them). */
  def streamingAnnServe(queryStream: DataFrame, dir: String,
                        sinkTable: String)
      : DataStreamWriter[Row] =
    eachBatch(queryStream) { (batch, id) =>
      val sp = batch.sparkSession
      val qs = batch.select("vec_id", "v").collect().toSeq
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
      if (qs.nonEmpty)
        idempotentSinkWrite(
          graft.operators.SimilarityOps.s10ServeFrom(sp, dir, qs),
          id, sinkTable)
    }

  /** Streaming point-in-time enrichment — q38's SCD2 lookup as an
    * ONLINE operator: each micro-batch of events joins the dimension
    * version valid AT THE EVENT'S OWN event time (not the current
    * version — [[enrichWithDim]] answers that simpler question), so a
    * replayed or late event enriches identically to the batch PIT join.
    * Events with no valid version (before the key's first version, or
    * an unknown key) pass through with a null segment rather than being
    * dropped — the reconciliation query decides their fate.
    *
    * Scale shape: the dimension is the q40-maintained standing table,
    * BUCKETED on the entity key, so the per-batch join plans no
    * exchange on the dimension side; the (small) event batch is the
    * side that moves. The version predicate
    * (valid_from ≤ ts < valid_to) rides the equi-join on the key as a
    * codegen'd residual — never a range-only join. Versions per key are
    * bounded by churn, not event volume, so the matched row count
    * equals the batch size. Sink writes are [[idempotentSinkWrite]]
    * batch-partitioned: a re-delivered batch re-enriches and REPLACES
    * its own partition. */
  def streamingPitEnrich(events: DataFrame, dimTable: String,
                         sinkTable: String)
      : DataStreamWriter[Row] =
    eachBatch(events) { (batch, id) =>
      val sp = batch.sparkSession
      import sp.implicits._
      val dim = sp.table(dimTable)
      val enriched = batch.as("e")
        .join(dim.as("d"),
          $"e.user_id" === $"d.k" &&
            $"e.ts" >= $"d.valid_from" && $"e.ts" < $"d.valid_to",
          "left")
        .select($"e.event_id", $"e.user_id", $"e.ts", $"d.seg_v")
      idempotentSinkWrite(enriched, id, sinkTable)
    }

  /** Streaming day-2 GRAPH maintenance — q48's online dual (r9/r10
    * verdicts' open item): a stream of basket items `(o, p)` folds
    * into the standing triangle state per micro-batch. First batch is
    * day-1 (persist bucketed canonical edges + per-node triangle
    * counts); every later batch computes ΔE = batch pairs \ E_standing,
    * counts ONLY the triangles touching ΔE
    * ([[graft.operators.RelationalOps.q48DeltaTriangles]], the exact
    * probe batch q48 runs), merges them into the count table, and
    * lands ΔE as the edge log's next delta — per-batch work is
    * O(|ΔE|·min-deg), never a graph re-enumeration.
    *
    * Contract (documented, corpusIngestFilter's discipline): each
    * micro-batch carries COMPLETE baskets — the ingest unit is an
    * order, so an order's lines never straddle a batch boundary (a
    * splitting feed would need per-order reassembly state upstream).
    * Under that contract the fold is exactly batch q48's: edges are
    * canonical/deduped, and the guard is the edge set itself — ΔE =
    * batch pairs ∖ committed edges, empty for a replayed batch. */
  private[graft] def trianglesBatch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, TrianglesTables)
    val pairs = graft.operators.RelationalOps
      .basketPairs(batch.select($"o", $"p").distinct()).distinct()
    lazy val edOld = store.log(sp, "edges")
    store.guardedEpoch(sp, crashBeforeCommit)(
        pairs.join(edOld, Seq("a", "b"), "left_anti")) { tx =>
      graft.operators.RelationalOps.q48InitState(
        pairs, tx.logDeltaName("edges"), tx.snapName("tri"))
    } { (tx, delta) =>
      val deltaTri = graft.operators.RelationalOps
        .q48DeltaTriangles(edOld, delta)
      tx.writeSnap("tri", store.snap(sp, "tri")
        .unionByName(deltaTri.select($"n", $"dtri".as("tri")))
        .groupBy($"n").agg(sum($"tri").as("tri")))
      tx.writeLogDelta("edges", delta)
    }
  }

  private[graft] val TrianglesTables = EpochTables(
    snaps = Map("tri" -> Nil), logs = Map("edges" -> Seq("a")))

  def streamingTriangles(basketStream: DataFrame, prefix: String,
                         dir: String)
      : DataStreamWriter[Row] =
    eachBatch(basketStream)((batch, _) =>
      trianglesBatch(batch, prefix, dir))

  /** Streaming SCD2 dimension maintenance — q40's online dual, the
    * CDC shape every warehouse runs: a stream of dimension-change
    * records `(k, seg_v, valid_from)` folds into the standing
    * versioned dimension per micro-batch. The first batch is the
    * initial load ([[graft.operators.Scd2Ops.initDim]] — full history,
    * multiple versions per key close each other in order); every later
    * batch is [[graft.operators.Scd2Ops.upsertDim]]'s MERGE, inheriting
    * its daily-digest contract (intra-batch churn collapses to the
    * latest row per key) and its bucketed-dimension scale shape (the
    * close-join plans no exchange on the dimension side; only the
    * batch shuffles).
    *
    * Guard: the digest is computed BEFORE the anti-join on
    * `(k, valid_from)` against the committed dimension — a re-delivered
    * batch collapses to exactly the rows its first delivery landed, so
    * the guard drops them all. Without the digest-first order, a
    * replayed two-version key would re-apply its SUPERSEDED earlier
    * version on top of the landed latest one.
    *
    * The dimension is a single table, but it still publishes through
    * [[EpochStore]], so a reader never sees (and a crash never leaves)
    * a half-written dimension — the batch
    * [[graft.operators.Scd2Ops.upsertDim]]'s materialize-then-overwrite
    * publish upgraded to an atomic one. */
  private[graft] def scd2Batch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, Scd2Tables)
    val changes = batch.select($"k", $"seg_v", $"valid_from").distinct()
    lazy val dim = store.snap(sp, "dim")
    store.guardedEpoch(sp, crashBeforeCommit) {
      // upsertDim's digest, replicated ahead of the replay guard
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"k").orderBy($"valid_from".desc, $"seg_v".desc)
      changes
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).drop("rn")
        .join(dim.select($"k", $"valid_from"), Seq("k", "valid_from"),
          "left_anti")
    } { tx =>
      tx.writeSnap("dim", graft.operators.Scd2Ops.initDimFrame(changes))
    } { (tx, delta) =>
      tx.writeSnap("dim", graft.operators.Scd2Ops.mergedDim(dim, delta))
    }
  }

  private[graft] val Scd2Tables = EpochTables(
    snaps = Map("dim" -> Seq("k")), logs = Map.empty)

  def streamingScd2(changeStream: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(changeStream)((batch, _) =>
      scd2Batch(batch, prefix, dir))

  /** Streaming day-2 RETRIEVAL-INDEX maintenance — t26's online dual,
    * completing the pattern pairing every day-2 batch maintainer with
    * a foreachBatch stream (q41↔streamingIvm, q48↔streamingTriangles,
    * d16↔streamingNeardupIngest): a stream of documents `(doc_id,
    * text)` folds into the standing BM25 index tables per micro-batch.
    * First batch is day-1 (posting list `(term, doc_id, tf)` BUCKETED
    * BY TERM — the probe join's key — plus doc-length and per-term df
    * tables); every later batch explodes ONLY its new docs and merges:
    * postings/dl land as LOG DELTAS (doc sets are disjoint, so no
    * read-modify-write), df folds by ADDITION into a vocabulary-sized
    * snapshot. The corpus text is never re-read — per-batch cost is the
    * batch explode plus metadata-sized folds, t26's exact scale story.
    *
    * Guard: new docs are the batch MINUS doc_ids already in the
    * committed dl log — the anti-join probes dl (doc-count-sized),
    * never the posting list. Postings and dl land as the epoch's log
    * deltas, the vocabulary-sized df fold as its snapshot. */
  private[graft] def bm25Batch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, Bm25Tables)
    val docs = batch.select($"doc_id", $"text").distinct()
    store.guardedEpoch(sp, crashBeforeCommit)(docs.join(
        store.log(sp, "dl").select($"doc_id"), Seq("doc_id"), "left_anti")) {
      tx =>
        val tf = graft.operators.TextOps.bm25TfOf(docs)
          .localCheckpoint() // three writes below share the explode
        try {
          tx.writeLogDelta("post", tf)
          tx.writeLogDelta("dl",
            tf.groupBy($"doc_id").agg(sum($"tf").as("dl")))
          tx.writeSnap("df",
            tf.groupBy($"term").agg(count(lit(1)).as("df")))
        } finally graft.operators.DedupOps.unpersistCheckpointed(tf)
    } { (tx, newDocs) =>
      val tfNew = graft.operators.TextOps.bm25TfOf(newDocs)
        .localCheckpoint() // shared by the three merges
      try {
        // df folds by addition (disjoint doc sets)
        tx.writeSnap("df", store.snap(sp, "df")
          .unionByName(tfNew.groupBy($"term")
            .agg(count(lit(1)).as("df")))
          .groupBy($"term").agg(sum($"df").as("df")))
        tx.writeLogDelta("dl",
          tfNew.groupBy($"doc_id").agg(sum($"tf").as("dl")))
        tx.writeLogDelta("post", tfNew)
      } finally graft.operators.DedupOps.unpersistCheckpointed(tfNew)
    }
  }

  private[graft] val Bm25Tables = EpochTables(
    snaps = Map("df" -> Nil),
    logs = Map("post" -> Seq("term"), "dl" -> Nil))

  def streamingBm25Index(docStream: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(docStream)((batch, _) =>
      bm25Batch(batch, prefix, dir))

  /** Streaming incremental aggregate maintenance — q41's ONLINE dual:
    * the per-(returnflag, linestatus) summary is a standing snapshot
    * and every micro-batch of lineitem arrivals folds in additively
    * (batch-local partial aggregate → union with the standing summary →
    * re-aggregate groups-sized rows → epoch publish). Counts and
    * exact-decimal sums are the additive parts, so after ANY batch
    * split the summary is bit-identical to the from-scratch aggregate
    * over everything that has arrived (spec-pinned) — no retraction
    * handling needed because lineitem is append-only.
    *
    * Scale shape: the per-batch cost is one partial aggregate of the
    * BATCH (map-side combine collapses to groups-sized before any
    * shuffle) plus a rewrite of the groups-sized summary — never a
    * rescan of history.
    *
    * Replay guard: the fold is purely ADDITIVE, so (unlike the
    * content-guarded duals) the state itself cannot reveal a
    * re-delivered batch — a replay would silently double-count. The
    * guard is the committed `batchId` carried by [[EpochStore]]'s
    * pointer: foreachBatch re-delivers under the SAME id, so
    * `batchId <= lastCommitted` short-circuits before any write — the
    * standard idempotent-foreachBatch pattern, here made atomic with
    * the data because the id flips in the SAME pointer write that
    * commits the fold.
    *
    * SHARE-FATE contract (every batchId-guarded sink has it): the
    * streaming CHECKPOINT and the store live and die together. Deleting
    * the checkpoint restarts ids at 0, which the guard would otherwise
    * misread as replays and silently drop; since ids are monotonic per
    * checkpoint and only the most recent batch is ever re-delivered, a
    * batchId STRICTLY below the committed one is proof of a reset and
    * fails loudly (spec-pinned) instead. */
  private[graft] def ivmBatch(batch: DataFrame, prefix: String, dir: String,
      batchId: Long, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, IvmTables)
    if (store.exists(sp) && batchId >= 0) {
      val last = store.lastBatchId(sp)
      if (batchId == last)
        return // re-delivered last batch: already committed, a TRUE no-op
      if (batchId < last)
        // Structured Streaming re-delivers only the MOST RECENT batch
        // (ids are monotonic per checkpoint), so an id strictly below
        // the committed one means the CHECKPOINT WAS RESET while the
        // store survived — treating it as a replay would silently drop
        // every batch until ids catch up. Fail loudly instead.
        throw new IllegalStateException(
          s"ivm store $prefix: batchId $batchId < committed $last — the " +
            "streaming checkpoint was reset/replaced while the store " +
            "survived (they share fate); restore the checkpoint or " +
            "destroy the store / point it at a fresh prefix")
    }
    val delta = batch
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum($"l_quantity".cast("decimal(28,8)")).as("sum_qty"),
        sum($"l_extendedprice".cast("decimal(12,2)").cast("decimal(28,8)"))
          .as("sum_price"))
    val merged =
      if (store.exists(sp))
        store.snap(sp, "summary").unionByName(delta)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(sum($"n_rows").as("n_rows"),
            sum($"sum_qty").as("sum_qty"),
            sum($"sum_price").as("sum_price"))
      else delta
    store.transact(sp, batchId) { tx =>
      tx.writeSnap("summary", merged)
      if (crashBeforeCommit) throw new EpochStore.InjectedCrash
    }
  }

  private[graft] val IvmTables = EpochTables(
    snaps = Map("summary" -> Nil), logs = Map.empty)

  def streamingIvm(lineitemStream: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(lineitemStream)((batch, id) =>
      ivmBatch(batch, prefix, dir, id))

  /** Streaming connected-component maintenance — q50's online dual: a
    * stream of basket rows `(o, p)` folds into the standing support
    * counts and component labels per micro-batch. First batch is day 1
    * ([[graft.operators.RelationalOps.q50InitState]]: counts bucketed
    * on the (a, b) fold key, labels = converged propagation over the
    * edges at/above the support threshold); every later batch folds
    * ONLY its new baskets' pair counts in by addition
    * ([[graft.operators.RelationalOps.q50Fold]] — co-partitioned with
    * the bucketed counts, delta-sized shuffle) and repairs labels
    * through the contracted graph
    * ([[graft.operators.RelationalOps.q50Relabel]] — CC over the
    * labels actually touched, never |V|). Counts only grow, so
    * components only MERGE — the monotonicity that makes the
    * incremental fold sound under any batch slicing.
    *
    * Guard: support counts are READ-MODIFY-WRITE, so (unlike
    * streamingTriangles' set-semantics edge state) a replayed batch
    * cannot be detected from the counts themselves — a standing
    * processed-baskets log (order-id-sized, bucketed by o: the
    * anti-join's key) supplies it: Δbaskets = batch ∖ processed. The
    * counts, labels and the batch's order ids land in one epoch, so
    * "counts landed, marker not" cannot be observed. The counts
    * snapshot stays bucketed on the (a, b) fold key at every epoch, so
    * q50Fold's standing side remains exchange-free.
    *
    * Contract (streamingTriangles'): baskets arrive WHOLE within one
    * micro-batch — a basket split across batches would under-count its
    * cross-slice pairs, and the order-id replay guard would drop a
    * second slice as a replay. The upstream source keys delivery by
    * order, which is what every CDC/outbox feed of order lines gives. */
  private[graft] def componentsBatch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, ComponentsTables)
    val pl = batch.select($"o", $"p").distinct()
    store.guardedEpoch(sp, crashBeforeCommit)(
        pl.join(store.log(sp, "proc"), Seq("o"), "left_anti")) { tx =>
      graft.operators.RelationalOps.q50InitState(
        pl, tx.snapName("cnt"), tx.snapName("lbl"))
      tx.writeLogDelta("proc", pl.select($"o").distinct())
    } { (tx, newBaskets) =>
      val sup = graft.operators.RelationalOps.Q49MinSupport
      val merged = graft.operators.RelationalOps
        .q50Fold(store.snapName(sp, "cnt"), newBaskets)
        .localCheckpoint() // consumed by the labels AND the write
      try {
        val labels = graft.operators.RelationalOps.q50Relabel(
          store.snap(sp, "lbl"),
          merged.filter($"n" >= sup)
            .select($"a", $"b", ($"n_old" < sup).as("is_new")))
        try {
          tx.writeSnap("cnt", merged.select($"a", $"b", $"n"))
          tx.writeSnap("lbl", labels)
          tx.writeLogDelta("proc", newBaskets.select($"o").distinct())
        } finally graft.operators.DedupOps.unpersistCheckpointed(labels)
      } finally graft.operators.DedupOps.unpersistCheckpointed(merged)
    }
  }

  private[graft] val ComponentsTables = EpochTables(
    snaps = Map("cnt" -> Seq("a", "b"), "lbl" -> Nil),
    logs = Map("proc" -> Seq("o")))

  def streamingComponents(basketStream: DataFrame, prefix: String,
                          dir: String)
      : DataStreamWriter[Row] =
    eachBatch(basketStream)((batch, _) =>
      componentsBatch(batch, prefix, dir))

  /** Streaming component RETRACTION maintenance — q52's online dual and
    * the graph-state decremental path (r12 verdict #5; media dedup
    * already exercises decremental folds for the dedup family). The
    * stream carries basket DELETIONS `(o, p)` (a GDPR/compliance
    * retraction feed); each micro-batch folds its baskets' pair counts
    * OUT of the standing support by subtraction
    * ([[graft.operators.RelationalOps.q52Fold]] — co-partitioned with
    * the bucketed counts, delta-sized shuffle) and repairs labels with
    * the SAME detect-affected + bounded-recompute core the batch read
    * runs ([[graft.operators.RelationalOps.q52RepairLabels]]): an edge
    * crossing DOWN through the threshold can SPLIT a component — the
    * non-monotone direction where q50's min-label merge folding is
    * unsound — so only affected components' surviving edges recompute.
    *
    * Day 1 (store absent) initializes from `standingCorpus` — the full
    * basket corpus the retraction feed runs against — exactly as
    * q52From's day 1 does ([[graft.operators.RelationalOps
    * .q50InitState]] + the truncation count), with an EMPTY
    * processed-deletions log.
    *
    * Contract: deletions arrive as WHOLE baskets within one micro-batch
    * (the truncation fold derives a deleted basket's truncation from
    * the feed's own rows, and the pair subtraction needs every pair the
    * basket contributed — exactly what a CDC delete of an order gives).
    * Guard: the processed-deletion order-id log. Counts stay bucketed
    * on the (a, b) fold key at every epoch so the subtraction's
    * standing side remains exchange-free — including after a process
    * restart (the store re-registers the bucket spec on adoption). */
  private[graft] def retractBatch(batch: DataFrame,
      standingCorpus: => DataFrame, prefix: String, dir: String,
      crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, RetractTables)
    val del = batch.select($"o", $"p").distinct()
    if (!store.exists(sp)) {
      val pl = standingCorpus.select($"o", $"p").distinct()
      store.transact(sp) { tx =>
        graft.operators.RelationalOps.q50InitState(
          pl, tx.snapName("cnt"), tx.snapName("lbl"))
        tx.writeSnap("tr", graft.operators.RelationalOps.truncatedBaskets(pl))
        tx.writeLogDelta("proc",
          sp.emptyDataset[Long].toDF("o").select($"o"))
      }
    }
    // the bootstrap above is day 1, so the day-1 body never runs
    store.guardedEpoch(sp, crashBeforeCommit)(
        del.join(store.log(sp, "proc"), Seq("o"), "left_anti"))(_ => ()) {
      (tx, newDel) =>
        val sup = graft.operators.RelationalOps.Q49MinSupport
        val folded = graft.operators.RelationalOps
          .q52Fold(store.snapName(sp, "cnt"), newDel)
          .localCheckpoint() // consumed by removed/survived/cnt below
        try {
          val removed = folded
            .filter($"n_old" >= sup && $"n" < sup).select($"a", $"b")
          val survived = folded.filter($"n" >= sup).select($"a", $"b")
          val labels = graft.operators.RelationalOps.q52RepairLabels(
            removed, survived, store.snap(sp, "lbl"))
          try {
            // a pair subtracted to zero no longer exists in a rebuild
            // over the surviving corpus — drop it, don't keep a zero row
            tx.writeSnap("cnt",
              folded.filter($"n" > 0).select($"a", $"b", $"n"))
            tx.writeSnap("lbl", labels)
            tx.writeSnap("tr", store.snap(sp, "tr")
              .select($"truncated_baskets".as("__tall"))
              .crossJoin(graft.operators.RelationalOps
                .truncatedBaskets(newDel)
                .select($"truncated_baskets".as("__tdel")))
              .select(($"__tall" - $"__tdel").as("truncated_baskets")))
            tx.writeLogDelta("proc", newDel.select($"o").distinct())
          } finally graft.operators.DedupOps.unpersistCheckpointed(labels)
        } finally graft.operators.DedupOps.unpersistCheckpointed(folded)
    }
  }

  private[graft] val RetractTables = EpochTables(
    snaps = Map("cnt" -> Seq("a", "b"), "lbl" -> Nil, "tr" -> Nil),
    logs = Map("proc" -> Seq("o")))

  def streamingRetractions(deletionStream: DataFrame,
      standingCorpus: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(deletionStream)((batch, _) =>
      retractBatch(batch, standingCorpus, prefix, dir))

  /** Streaming media near-dup maintenance — m9's online dual, and the
    * first streaming maintainer here whose fold is DECREMENTAL: a
    * micro-batch can push a frame signature over the boilerplate
    * df-cap, which retracts that sig's intersection from standing
    * pairs and shrinks doc set sizes (m9's churn semantics, via the
    * shared [[graft.operators.MultimodalOps.m9Fold]] core — batch and
    * stream provably run the same fold). First batch is day 1
    * ([[graft.operators.MultimodalOps.m9InitState]]).
    *
    * Guard: streamingComponents' processed-id log (pair intersections
    * and df counts are read-modify-write, so a replay cannot be
    * detected from the state itself) — Δdocs = batch ∖ processed.
    * df/pairs/sizes land as the epoch's snapshots, the batch sigs and
    * processed ids as log deltas. The fold core reads the committed
    * posting log through [[EpochStore.logView]], so it stays
    * storage-agnostic. */
  private[graft] def mediaDedupBatch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    import graft.operators.{DedupOps, MultimodalOps}
    val store = new EpochStore(prefix, dir, MediaDedupTables)
    val docsB = batch.select($"doc_id", $"text", $"n_chars").distinct()
    store.guardedEpoch(sp, crashBeforeCommit)(
        docsB.join(store.log(sp, "proc"), Seq("doc_id"), "left_anti")) { tx =>
      MultimodalOps.m9InitState(docsB, tx.logDeltaName("post"),
        tx.snapName("df"), tx.snapName("pair"), tx.snapName("n"))
      tx.writeLogDelta("proc", docsB.select($"doc_id").distinct())
    } { (tx, newDocs) =>
      val sigsNew = MultimodalOps.m9SigsFrom(newDocs)
        .localCheckpoint() // consumed by the fold AND the post delta
      try {
        val (dfj, pairsF, nF) = MultimodalOps.m9Fold(
          store.logView(sp, "post"), store.snapName(sp, "df"),
          store.snapName(sp, "pair"), store.snapName(sp, "n"), sigsNew)
        try {
          tx.writeSnap("df", dfj.select($"frame_sig", $"df"))
          tx.writeSnap("pair", pairsF)
          tx.writeSnap("n", nF)
          tx.writeLogDelta("post", sigsNew)
          tx.writeLogDelta("proc", newDocs.select($"doc_id").distinct())
        } finally DedupOps.unpersistCheckpointed(dfj)
      } finally DedupOps.unpersistCheckpointed(sigsNew)
    }
  }

  private[graft] val MediaDedupTables = EpochTables(
    snaps = Map("df" -> Nil, "pair" -> Nil, "n" -> Nil),
    logs = Map("post" -> Seq("frame_sig"), "proc" -> Seq("doc_id")))

  def streamingMediaDedup(docStream: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(docStream)((batch, _) =>
      mediaDedupBatch(batch, prefix, dir))

  /** Streaming skyline maintenance — the q56/q58/q59/q63 family's
    * online dual (r13 verdict #4: the one day-2 family without one),
    * handling BOTH change directions through one maintainer. The
    * change stream carries (p_partkey, p_retailprice, p_size, op) with
    * op ∈ insert | delete; standing state is the k+1 = [[graft
    * .operators.RelationalOps.Q63Layers]] skyline layers plus the
    * pending-deletion key set and its count.
    *
    *  - INSERTS cascade through the layers exactly: L1' =
    *    skyline(L1 ∪ Δ), and each layer's rejects (evicted standing
    *    points + dominated new points) fold into the next. This is
    *    EXACT layer maintenance because a point's layer index is
    *    1 + (max dominator chain above it), which only GROWS under
    *    insertion — so new-L_i ⊆ old-L_i ∪ rejects-from-L_{i-1},
    *    and dominance inside that candidate set is dominance in the
    *    full corpus restricted to layer i. Points rejected from the
    *    last layer drop from state (recovered from the ins log at
    *    repair) — they cannot matter until more than k deletions.
    *  - DELETES are metadata-only: append the keys, bump the count.
    *    The served frontier is skyline(⋃ layers ∖ deleted) — exact
    *    while ≤ k deletions are pending (the q63 theorem).
    *  - When a batch would push pending deletions past k, the
    *    maintainer runs the amortized REPAIR pass instead: rebuild
    *    the true layers from {standing corpus ∪ ins log ∪ Δins}
    *    ∖ {deleted ∪ Δdel} — the one corpus scan per deletion cycle
    *    the batch twin (q63) documents — and resets the budget, so
    *    an oversized deletion batch is also correct by construction.
    *
    * Guard: the processed (key, op) log — Δ = batch ∖ processed. Keys
    * are assumed ingested at most once per direction (no re-insert
    * after delete — streamingRetractions' one-way-feed contract).
    * Deletions are double-tracked: the PENDING snapshot (cleared at
    * repair, it is the budget) and the PERMANENT `delx` log that
    * repair subtracts — repair against the pending set alone would
    * resurrect earlier repaired-away deletions (the seeded-random
    * multi-repair spec caught exactly that). */
  private[graft] def skylineBatch(batch: DataFrame,
      standingCorpus: => DataFrame, prefix: String, dir: String,
      crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    import graft.operators.{DedupOps, RelationalOps}
    val nLayers = RelationalOps.Q63Layers
    val layerNames = (1 to nLayers).map(i => s"l$i")
    val store = new EpochStore(prefix, dir, SkylineTables)
    if (!store.exists(sp)) {
      val corpus = standingCorpus
        .select($"p_partkey", $"p_retailprice", $"p_size")
      store.transact(sp) { tx =>
        val layers = RelationalOps.skylineLayers(corpus, nLayers)
        try {
          layerNames.zip(layers).foreach { case (ln, l) =>
            tx.writeSnap(ln, l)
          }
          tx.writeSnap("del", Seq.empty[Long].toDF("p_partkey"))
          tx.writeSnap("meta", Seq(0L).toDF("n_del"))
          tx.writeLogDelta("ins", corpus.limit(0))
          tx.writeLogDelta("delx", Seq.empty[Long].toDF("p_partkey"))
          tx.writeLogDelta("proc",
            Seq.empty[(Long, String)].toDF("p_partkey", "op"))
        } finally layers.foreach(DedupOps.unpersistCheckpointed)
      }
    }
    val ops = batch
      .select($"p_partkey", $"p_retailprice", $"p_size", $"op").distinct()
    // the bootstrap above is day 1, so the day-1 body never runs
    store.guardedEpoch(sp, crashBeforeCommit)(ops.join(
        store.log(sp, "proc"), Seq("p_partkey", "op"), "left_anti"))(_ => ()) {
      (tx, newOps) =>
        val ins = newOps.filter($"op" === "insert")
          .select($"p_partkey", $"p_retailprice", $"p_size")
        val del = newOps.filter($"op" === "delete").select($"p_partkey")
        // both bounded reads: a 1-row snapshot and a batch-sized count
        val nPending = store.snap(sp, "meta").select($"n_del")
          .as[Long].head()
        val nDel = del.count()
        if (nPending + nDel > nLayers - 1) {
          // REPAIR: the one amortized corpus pass per deletion cycle.
          // Subtracts the FULL deletion LOG, not the pending set —
          // repair clears the pending budget, so deletions from an
          // earlier repaired cycle live only in the log; rebuilding
          // against the pending set alone would RESURRECT them
          // (caught by the seeded-random multi-repair spec).
          val live = standingCorpus
            .select($"p_partkey", $"p_retailprice", $"p_size")
            .unionByName(store.log(sp, "ins"))
            .unionByName(ins)
            .join(store.log(sp, "delx").unionByName(del),
              Seq("p_partkey"), "left_anti")
          val layers = RelationalOps.skylineLayers(live, nLayers)
          try {
            layerNames.zip(layers).foreach { case (ln, l) =>
              tx.writeSnap(ln, l)
            }
            tx.writeSnap("del", Seq.empty[Long].toDF("p_partkey"))
            tx.writeSnap("meta", Seq(0L).toDF("n_del"))
          } finally layers.foreach(DedupOps.unpersistCheckpointed)
        } else {
          // metadata-only fold: cascade inserts, append deletions
          var add = ins
          val folded = layerNames.map { ln =>
            val merged = store.snap(sp, ln).unionByName(add)
            val li = RelationalOps.q56From(merged).localCheckpoint()
            add = merged.join(li.select($"p_partkey"),
              Seq("p_partkey"), "left_anti")
            (ln, li)
          }
          try {
            folded.foreach { case (ln, l) => tx.writeSnap(ln, l) }
            tx.writeSnap("del", store.snap(sp, "del").unionByName(del))
            tx.writeSnap("meta", Seq(nPending + nDel).toDF("n_del"))
          } finally folded.foreach { case (_, l) =>
            DedupOps.unpersistCheckpointed(l)
          }
        }
        tx.writeLogDelta("ins", ins)
        tx.writeLogDelta("delx", del)
        tx.writeLogDelta("proc", newOps.select($"p_partkey", $"op"))
    }
  }

  /** The served frontier over [[skylineBatch]]'s committed state:
    * skyline(⋃ layers ∖ pending deletions) — metadata-only, never the
    * corpus. */
  private[graft] def skylineServe(sp: org.apache.spark.sql.SparkSession,
      prefix: String, dir: String): DataFrame = {
    import graft.operators.RelationalOps
    val store = new EpochStore(prefix, dir, SkylineTables)
    RelationalOps.q63Fold(
      (1 to RelationalOps.Q63Layers).map(i => store.snap(sp, s"l$i")),
      store.snap(sp, "del"))
  }

  private[graft] val SkylineTables = EpochTables(
    snaps = Map("l1" -> Nil, "l2" -> Nil, "l3" -> Nil,
      "del" -> Nil, "meta" -> Nil),
    logs = Map("ins" -> Seq("p_partkey"), "delx" -> Seq("p_partkey"),
      "proc" -> Seq("p_partkey")))

  def streamingSkyline(changeStream: DataFrame,
      standingCorpus: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(changeStream)((batch, _) =>
      skylineBatch(batch, standingCorpus, prefix, dir))

  // -------------------------------------------------- decayed engagement

  /** Streaming decayed-engagement maintenance — e31's online dual and
    * maintainer #11. The stream carries raw events
    * `(event_id, ts, user_id, value)`; each micro-batch folds into the
    * standing (user, date) daily table — e31's SUFFICIENT STATISTIC
    * for the half-life-quantized decay — by plain additive re-sum
    * ([[graft.operators.EventOps.e31Daily]]). The decayed score is
    * computed at SERVE time ([[decayServe]] →
    * [[graft.operators.EventOps.e31Score]]) under the then-current
    * as-of date, which is the whole point of maintaining the statistic
    * instead of the score: a standing SCORE is stale the moment the
    * as-of date advances (every weight changes), while the daily table
    * never goes stale — time advancing is just a different broadcast
    * constant at read time, no state touch at all.
    *
    * Guard: daily sums are READ-MODIFY-WRITE (the components/IVM case,
    * not the set-semantics one), so a standing processed-event-id log
    * supplies it: Δevents = batch ∖ processed. The daily snapshot
    * stays bucketed on the FULL fold key (user_id, d) at every epoch so
    * [[graft.operators.EventOps.e31Fold]]'s standing side plans zero
    * exchange — per batch, only the batch's own daily partials
    * shuffle, the standing table never moves. Serve is e31's score
    * pass: 1-row as-of broadcast + 62-row weight broadcast + a
    * partial-aggregated groupBy(user) whose exchange carries
    * users-sized partials. */
  private[graft] def decayBatch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, DecayTables)
    // ONE row per event_id (r15 ADVICE): full-row distinct() would let
    // two same-batch deliveries of one id with differing ts/value BOTH
    // fold into the daily table while the proc log records the id once
    // — a silent double count. The arg-max pick (greatest (ts, user_id,
    // value) struct) is deterministic, so replays of the same messy
    // batch still converge to the same winner.
    val ev = batch
      .select($"event_id", $"user_id", $"ts", $"value")
      .groupBy($"event_id")
      .agg(max(struct($"ts", $"user_id", $"value")).as("w"))
      .select($"event_id", $"w.user_id", $"w.ts", $"w.value")
    store.guardedEpoch(sp, crashBeforeCommit)(
        ev.join(store.log(sp, "proc"), Seq("event_id"), "left_anti")) { tx =>
      tx.writeSnap("daily", graft.operators.EventOps.e31Daily(ev))
      tx.writeLogDelta("proc", // unique by dedupe; d enables decayTrim
        ev.select($"event_id", to_date($"ts").as("d")))
    } { (tx, newEv) =>
      // e31Fold: co-partitioned full-outer against the bucketed
      // snapshot — only the batch's daily partials shuffle
      tx.writeSnap("daily", graft.operators.EventOps.e31Fold(
        store.snapName(sp, "daily"), newEv))
      tx.writeLogDelta("proc", // unique by dedupe; d enables decayTrim
        newEv.select($"event_id", to_date($"ts").as("d")))
    }
  }

  /** The decayed scores under the CURRENT as-of date, from the standing
    * daily table only. */
  def decayServe(sp: org.apache.spark.sql.SparkSession,
      prefix: String, dir: String): DataFrame =
    graft.operators.EventOps.e31Score(
      new EpochStore(prefix, dir, DecayTables).snap(sp, "daily"))

  private[graft] val DecayTables = EpochTables(
    snaps = Map("daily" -> Seq("user_id", "d")), // the FULL fold key
    // proc rows are (event_id, d): the guard anti-joins on event_id;
    // the event DATE is carried solely so [[decayTrim]] can apply the
    // re-delivery-horizon retention. Uniqueness contract: decayBatch
    // reduces every batch to ONE row per event_id before folding.
    logs = Map("proc" -> Seq("event_id")))

  /** RETENTION for the decay maintainer's processed-id log (r15 verdict
    * item 4). The replay guard is read-modify-write IVM's cost: the
    * proc log otherwise grows O(|event stream|) forever, and every
    * batch anti-joins against all of it. The trim drops ids whose event
    * date is more than `horizonDays` behind the daily table's max day,
    * folded atomically into a fresh compacted base (crash mid-trim
    * leaves readers on the untrimmed chain).
    *
    * HORIZON CONTRACT (the caller's to uphold): `horizonDays` must be
    * ≥ the source's maximum re-delivery horizon — Kafka retention, the
    * checkpoint replay window, whichever bound says "an event this old
    * can never arrive again". An in-horizon replay after the trim is
    * still a true no-op (its id is retained; spec-pinned); a source
    * that re-delivers BEYOND the horizon violates the premise and
    * would double-fold, exactly like any lake retention policy shorter
    * than its upstream's replay window. The same mechanism
    * ([[EpochStore.compact]]'s logRetention) serves any RMW
    * maintainer's guard log with a time column. */
  def decayTrim(sp: org.apache.spark.sql.SparkSession, prefix: String,
      dir: String, horizonDays: Int): Unit =
    horizonTrim(sp, prefix, dir, DecayTables, horizonDays)(store =>
      maxDay(store.snap(sp, "daily")))

  /** Compact the maintainer's store, keeping only `proc` rows dated
    * within `horizonDays` of `maxDay` (plus any `otherLogs` retention)
    * — the trim behind [[decayTrim]], [[sessionTrim]],
    * [[upsertSessionTrim]] and [[topkCompact]]. With no reference day
    * (an empty state) the whole log is kept: conservative. */
  private def horizonTrim(sp: SparkSession, prefix: String, dir: String,
      tables: EpochTables, horizonDays: Int,
      otherLogs: Map[String, DataFrame => DataFrame] = Map.empty)(
      maxDay: EpochStore => Option[java.time.LocalDate]): Unit = {
    require(horizonDays >= 0, s"horizonDays must be >= 0, got $horizonDays")
    val store = new EpochStore(prefix, dir, tables)
    val keep: DataFrame => DataFrame = maxDay(store) match {
      case None => identity
      case Some(mx) =>
        val cutoff = java.sql.Date.valueOf(mx.minusDays(horizonDays.toLong))
        _.filter(col("d") >= lit(cutoff))
    }
    store.compact(sp, retain = 0, logRetention = otherLogs + ("proc" -> keep))
  }

  /** The greatest `d` (a DATE column) in `df`; None when `df` is empty. */
  private def maxDay(df: DataFrame): Option[java.time.LocalDate] =
    Option(df.agg(max(col("d"))).first().getDate(0)).map(_.toLocalDate)

  /** The UTC day the latest session in a sessions snapshot ends on. */
  private def lastSessionDay(sessions: DataFrame) =
    Option(sessions.agg(max(col("end_us"))).first().getAs[java.lang.Long](0))
      .map(us => java.time.LocalDate.ofEpochDay(us / 86400000000L))

  def streamingDecay(eventStream: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(eventStream)((batch, _) =>
      decayBatch(batch, prefix, dir))

  // ---------------------------------------------- streaming sessions

  /** Maintainer #12: streaming SESSIONIZATION — e32's non-additive
    * fold behind [[EpochStore]]. Sessions cannot be maintained by any
    * per-group additive state: one arriving event can MERGE two
    * standing sessions (a bridge landing in their > 30 min gap), so
    * the maintainer carries per-user session INTERVALS and each batch
    * re-sweeps ONLY the users it touches
    * ([[graft.operators.EventOps.e32MergedParts]] — the same core the
    * batch day-2 query shapes), writing the merged interval set as the
    * next epoch's snapshot, bucketed on user_id so the next batch's
    * touched/untouched split again plans zero exchange on the standing
    * side. Correctness rests on e32's connectivity proof plus one
    * inductive step: the written snapshot IS the exact sessionization
    * of all processed events, so its sessions are > gap apart and the
    * proof's premises hold for every subsequent batch.
    *
    * Guard: decayBatch's — one row per event_id per batch
    * (deterministic arg-max) anti-joined against the processed-id log,
    * which carries the event DATE so [[sessionTrim]] can apply the same
    * re-delivery-horizon retention as [[decayTrim]] (same contract:
    * the horizon must cover the source's replay window). */
  private[graft] val SessionTables = EpochTables(
    snaps = Map("sessions" -> Seq("user_id")),
    logs = Map("proc" -> Seq("event_id")))

  private[graft] def sessionBatch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, SessionTables)
    val ev = batch
      .select($"event_id", $"user_id", $"ts")
      .groupBy($"event_id")
      .agg(max(struct($"ts", $"user_id")).as("w"))
      .select($"event_id", $"w.user_id", $"w.ts")
    store.guardedEpoch(sp, crashBeforeCommit)(
        ev.join(store.log(sp, "proc"), Seq("event_id"), "left_anti")) { tx =>
      tx.writeSnap("sessions", graft.operators.EventOps.e32Sessions(ev))
      tx.writeLogDelta("proc",
        ev.select($"event_id", to_date($"ts").as("d")))
    } { (tx, newEv) =>
      val (resw, untouched) = graft.operators.EventOps
        .e32MergedParts(store.snapName(sp, "sessions"), newEv)
      tx.writeSnap("sessions", resw.unionByName(untouched))
      tx.writeLogDelta("proc",
        newEv.select($"event_id", to_date($"ts").as("d")))
    }
  }

  /** Current sessions at the query shape (per-user rank + duration),
    * from the standing snapshot only — the shape pass is one window
    * riding the snapshot's bucketing. */
  def sessionServe(sp: org.apache.spark.sql.SparkSession,
      prefix: String, dir: String): DataFrame =
    graft.operators.EventOps.e32Shape(
        new EpochStore(prefix, dir, SessionTables).snap(sp, "sessions"))
      .orderBy(col("user_id"), col("sess_id"))

  /** [[decayTrim]]'s retention for the session maintainer's
    * processed-id log; same horizon contract. */
  def sessionTrim(sp: org.apache.spark.sql.SparkSession, prefix: String,
      dir: String, horizonDays: Int): Unit =
    horizonTrim(sp, prefix, dir, SessionTables, horizonDays)(store =>
      lastSessionDay(store.snap(sp, "sessions")))

  def streamingSessions(eventStream: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(eventStream)((batch, _) =>
      sessionBatch(batch, prefix, dir))

  // ------------------------------------ streaming session upserts

  /** Maintainer #13: BIDIRECTIONAL streaming sessionization —
    * [[graft.operators.EventOps.e35MergedParts]]'s mixed fold behind
    * [[EpochStore]]. Batches are CDC rows (event_id, user_id, ts, op)
    * with op ∈ {'add', 'del'}: ONE maintainer consumes inserts and
    * retractions in the same feed (new activity interleaved with GDPR
    * erasures), where #12 can only grow. State is e34's ts_list
    * multiset snapshot, bucketed on user_id; the inductive step that
    * makes the maintainer sound: the snapshot written after every
    * batch IS the exact multiset of surviving events, so the fold's
    * premise (standing ts_list = surviving multiset) re-establishes
    * itself for the next batch.
    *
    * Guard: decayBatch's, keyed on (event_id, op) — an event's add and
    * its later del are DISTINCT ledger entries, each deduped to one row
    * per batch (deterministic arg-max) and anti-joined against the proc
    * log, so replays of either are true no-ops. CDC contract (the
    * caller's to uphold, exactly like any changelog consumer): a del
    * names the same (user_id, ts) as the add it retracts and must
    * causally FOLLOW it — a del for a never-seen event no-ops (the
    * ledger clips at zero, never negative), so a del delivered before
    * its add would be silently lost when the add later lands. */
  private[graft] val UpsertSessionTables = EpochTables(
    snaps = Map("sessions" -> Seq("user_id")),
    // proc rows are (event_id, op, d); the guard anti-joins on
    // (event_id, op), d enables the horizon trim
    logs = Map("proc" -> Seq("event_id")))

  private[graft] def upsertSessionBatch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val store = new EpochStore(prefix, dir, UpsertSessionTables)
    // one row per (event_id, op): a messy batch may carry an event's
    // add AND its del — distinct ledger entries — but duplicates of
    // either collapse to the deterministic arg-max winner
    val ev = batch
      .select($"event_id", $"user_id", $"ts", $"op")
      .groupBy($"event_id", $"op")
      .agg(max(struct($"ts", $"user_id")).as("w"))
      .select($"event_id", $"op", $"w.user_id", $"w.ts")
    def side(rows: DataFrame, o: String) = rows.filter($"op" === o)
      .select($"user_id", unix_micros($"ts").as("us"))
    store.guardedEpoch(sp, crashBeforeCommit)(ev.join(
        store.log(sp, "proc"), Seq("event_id", "op"), "left_anti")) { tx =>
      val empty = sp.createDataFrame(
        sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.operators.EventOps.E35StateSchema)
      tx.writeSnap("sessions", graft.operators.EventOps.e35Resweep(
        empty, side(ev, "add"), side(ev, "del")))
      tx.writeLogDelta("proc",
        ev.select($"event_id", $"op", to_date($"ts").as("d")))
    } { (tx, newEv) =>
      val (resw, untouched) = graft.operators.EventOps
        .e35MergedParts(store.snapName(sp, "sessions"),
          side(newEv, "add"), side(newEv, "del"))
      tx.writeSnap("sessions", resw.unionByName(untouched))
      tx.writeLogDelta("proc",
        newEv.select($"event_id", $"op", to_date($"ts").as("d")))
    }
  }

  /** Surviving sessions at the query shape, from the snapshot only. */
  def upsertSessionServe(sp: org.apache.spark.sql.SparkSession,
      prefix: String, dir: String): DataFrame =
    graft.operators.EventOps.e32Shape(
        new EpochStore(prefix, dir, UpsertSessionTables).snap(sp, "sessions"))
      .orderBy(col("user_id"), col("sess_id"))

  /** [[decayTrim]]'s horizon retention for the upsert maintainer's
    * (event_id, op) guard log; same contract — and note the horizon
    * must cover re-delivery of DELS as well as adds (a replayed del
    * whose log entry was trimmed would re-subtract only if a surviving
    * copy matches; the contract forbids the source re-delivering past
    * the horizon either way). */
  def upsertSessionTrim(sp: org.apache.spark.sql.SparkSession,
      prefix: String, dir: String, horizonDays: Int): Unit =
    // an ALL-DELETED corpus is legitimate here (total GDPR erasure):
    // with no surviving event to date the horizon from, the whole guard
    // log is kept — conservative, and replays stay no-ops
    horizonTrim(sp, prefix, dir, UpsertSessionTables, horizonDays)(store =>
      lastSessionDay(store.snap(sp, "sessions")))

  def streamingSessionUpserts(cdcStream: DataFrame, prefix: String,
      dir: String)
      : DataStreamWriter[Row] =
    eachBatch(cdcStream)((batch, _) =>
      upsertSessionBatch(batch, prefix, dir))

  // ------------------------------------------ streaming top-k upserts

  /** Maintainer #14: streaming TOP-K per group under a mixed CDC feed
    * (leaderboards under refunds and bans) — the materialized
    * companion to [[graft.operators.RelationalOps.q64Fold]]'s
    * read-only fold, built on the THRESHOLD invariant the top-k view
    * maintenance literature uses (Yi et al., ICDE 2003 — public):
    *
    *   INVARIANT: `buf`(g) = EXACTLY the survivors of g with
    *   (v, id) ≥ θ_g, where θ_g is the group's threshold in `thr`
    *   (a group with no `thr` row has θ = −∞: its buffer holds ALL
    *   its survivors).
    *
    * Every batch preserves it without reading the corpus: dels remove
    * from the buffer (survivors ≥ θ lose exactly those rows); adds
    * ABOVE θ enter the buffer, adds below it touch only the base
    * ledger (they sit under the known prefix end — the step a naive
    * buffer-merge gets wrong: merging a below-θ add and later serving
    * it would mask the deleted-then-still-better rows the buffer no
    * longer holds). Groups whose buffer UNDERFLOWS K while holding a
    * finite θ rebuild their prefix from the base ledger (semi-join
    * pruned to exactly those groups — q64's refill, against a log
    * instead of a table); groups whose buffer OVERGROWS K+S trim in
    * place and tighten θ (valid without a log read: the trimmed set is
    * still survivors ≥ the new, higher θ), which also bounds the
    * buffer of young groups that never had a θ.
    *
    * State: `buf`/`thr` snapshots (group-bucketed, groups×(k+s) and
    * groups×1 rows) + the `base` ledger log (±1-weighted CDC rows,
    * group-bucketed — the honest cost of EXACT deletion: a deleted
    * row's replacement can come from arbitrarily deep below the
    * prefix; [[topkCompact]] folds the ledger to its net survivors).
    * Guard: (event_id, op) exactly as maintainer #13; same CDC
    * contract (a del names its add's (g, v) and follows it). */
  private[graft] val TopkTables = EpochTables(
    snaps = Map("buf" -> Seq("g"), "thr" -> Seq("g")),
    logs = Map("base" -> Seq("g"), "proc" -> Seq("event_id")))

  private[graft] def topkBatch(batch: DataFrame, prefix: String,
      dir: String, crashBeforeCommit: Boolean = false): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    val cap = graft.operators.RelationalOps.Q64K +
      graft.operators.RelationalOps.Q64S
    val store = new EpochStore(prefix, dir, TopkTables)
    val ev = batch.select($"event_id", $"g", $"v", $"ts", $"op")
      .groupBy($"event_id", $"op")
      .agg(max(struct($"ts", $"g", $"v")).as("w"))
      .select($"event_id", $"op", $"w.g", $"w.v", $"w.ts")
    def side(rows: DataFrame, o: String) = rows.filter($"op" === o)
      .select($"g", $"event_id".as("id"), $"v")
    def ledgerDelta(rows: DataFrame) =
      side(rows, "add").withColumn("w", lit(1L))
        .unionByName(side(rows, "del").withColumn("w", lit(-1L)))
    store.guardedEpoch(sp, crashBeforeCommit)(ev.join(
        store.log(sp, "proc"), Seq("event_id", "op"), "left_anti")) { tx =>
      val (buf, thr) = topkPrefix(topkSurvivors(ledgerDelta(ev)), cap)
      tx.writeSnap("buf", buf)
      tx.writeSnap("thr", thr)
      tx.writeLogDelta("base", ledgerDelta(ev))
      tx.writeLogDelta("proc",
        ev.select($"event_id", $"op", to_date($"ts").as("d")))
    } { (tx, newEv) =>
      val adds = side(newEv, "add")
      val dels = side(newEv, "del")
      val buf0 = store.snap(sp, "buf")
      val thr0 = store.snap(sp, "thr")
      val delsK = dels.repartition(graft.sources.LayoutOps
        .tableBuckets(sp, store.snapName(sp, "buf")), $"g")
      val bufSurv = buf0.join(delsK, Seq("g", "id"), "left_anti")
      val aboveThr = adds.join(thr0, Seq("g"), "left")
        .filter($"tv".isNull || $"v" > $"tv" ||
          ($"v" === $"tv" && $"id" <= $"tid"))
        .select($"g", $"id", $"v")
      val merged = bufSurv.unionByName(aboveThr)
      val nByG = merged.groupBy($"g").agg(count(lit(1)).as("nb"))
      // refill candidates come from θ's group list LEFT-joined to
      // the counts, NOT semi-joined from them: a θ'd group whose
      // ENTIRE buffer a batch deletes has zero merged rows — no
      // count row at all — and must still refill (below-θ
      // survivors may exist in the ledger)
      val refillG = thr0.select($"g")
        .join(nByG, Seq("g"), "left")
        .filter(coalesce($"nb", lit(0L)) <
          graft.operators.RelationalOps.Q64K)
        .select($"g")
      val overG = nByG.filter($"nb" > cap).select($"g")
      val routed = refillG.unionByName(overG)
      val ledger = store.log(sp, "base").unionByName(ledgerDelta(newEv))
      val (bufR, thrR) = topkPrefix(
        topkSurvivors(ledger.join(refillG, Seq("g"), "left_semi")), cap)
      val (bufO, thrO) = topkPrefix(
        merged.join(overG, Seq("g"), "left_semi"), cap)
      val bufP = merged.join(routed, Seq("g"), "left_anti")
      val thrP = thr0.join(routed, Seq("g"), "left_anti")
      tx.writeSnap("buf",
        bufP.unionByName(bufO).unionByName(bufR))
      tx.writeSnap("thr",
        thrP.unionByName(thrO).unionByName(thrR))
      tx.writeLogDelta("base", ledgerDelta(newEv))
      tx.writeLogDelta("proc",
        newEv.select($"event_id", $"op", to_date($"ts").as("d")))
    }
  }

  /** Net survivors of a ±1-weighted (g, id, v, w) ledger. */
  private def topkSurvivors(ledger: DataFrame): DataFrame = {
    val sp = ledger.sparkSession
    import sp.implicits._
    ledger.groupBy($"g", $"id", $"v").agg(sum($"w").as("n"))
      .filter($"n" > 0).select($"g", $"id", $"v")
  }

  /** Top-`cap` prefix per group plus the threshold row for every group
    * whose prefix is FULL (the cap-th row is θ — groups with fewer
    * rows keep θ = −∞ by absence: their prefix is the whole group). */
  private def topkPrefix(rows: DataFrame, cap: Int)
      : (DataFrame, DataFrame) = {
    val sp = rows.sparkSession
    import sp.implicits._
    val byG = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"v".desc, $"id")
    val ranked = rows.withColumn("rn", row_number().over(byG))
    (ranked.filter($"rn" <= cap).select($"g", $"id", $"v"),
      ranked.filter($"rn" === cap)
        .select($"g", $"v".as("tv"), $"id".as("tid")))
  }

  /** Current top-k per group, straight off the buffer snapshot — the
    * threshold invariant makes the buffer's prefix the survivors'. */
  def topkServe(sp: org.apache.spark.sql.SparkSession, prefix: String,
      dir: String): DataFrame = {
    import sp.implicits._
    val byG = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"v".desc, $"id")
    new EpochStore(prefix, dir, TopkTables).snap(sp, "buf")
      .withColumn("rank", row_number().over(byG).cast("long"))
      .filter($"rank" <= graft.operators.RelationalOps.Q64K)
      .select($"g", $"rank", $"id", $"v")
      .orderBy($"g", $"rank")
  }

  /** Fold the base ledger to its net survivors and trim the guard log
    * to the re-delivery horizon (anchored on the guard log's own max
    * day), atomically in one compaction. The folded ledger stays
    * equivalent for every future refill — `w` sums are replaced by a
    * single +1 row per survivor. */
  def topkCompact(sp: org.apache.spark.sql.SparkSession, prefix: String,
      dir: String, horizonDays: Int): Unit =
    horizonTrim(sp, prefix, dir, TopkTables, horizonDays, Map(
      "base" -> ((log: DataFrame) =>
        topkSurvivors(log).withColumn("w", lit(1L)))))(store =>
      maxDay(store.log(sp, "proc")))

  def streamingTopk(cdcStream: DataFrame, prefix: String, dir: String)
      : DataStreamWriter[Row] =
    eachBatch(cdcStream)((batch, _) =>
      topkBatch(batch, prefix, dir))
}
