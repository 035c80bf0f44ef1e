package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.EngineFns.{md5Long, sqlMd5Long}

/** Event-stream analytics over the `events` table: tumbling/sliding
  * windows, JSON property extraction, and gap-based sessionization.
  *
  * These are the batch duals of the Structured Streaming pipeline in
  * [[graft.streaming.StreamSync]] — the same window/sessionize logic runs
  * identically in `readStream` mode with `withWatermark` (see the streaming
  * specs). Batch form keeps them oracle-checkable by DuckDB.
  *
  * The reference is batch-snapshot-only with no time semantics at all
  * (SURVEY.md §1.1 "Stream: none"), so this whole module is north-star
  * extension surface.
  */
object EventOps {

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")

  /** Exact decimal sum of the 2-decimal `value` column, as double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(28,8)")).cast("double")

  private val dsumSql = "CAST(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)"

  // ---------------------------------------------------------------- e1
  /** Tumbling 1-hour window aggregation per event type. Spark's `window`
    * is epoch-aligned, identical to date_trunc('hour') for a 1h tumble. */
  def e1HourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
      .select($"w.start".as("hour"), $"event_type", $"n_events", $"total_value")
      .orderBy($"hour", $"event_type")
  }

  val e1HourlyAggSql: String =
    s"""SELECT date_trunc('hour', ts) AS hour, event_type,
       |  COUNT(*) AS n_events, $dsumSql AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY hour, event_type""".stripMargin

  // ---------------------------------------------------------------- e2
  /** JSON property extraction (`props` is a JSON object column) feeding a
    * group-by: per event type, stats of the numeric `k` property.
    *
    * DELIBERATELY NAIVE: `get_json_object` re-parses the JSON string per
    * extraction through the JSON-path engine — this query exists as the
    * contrast case and is the slowest in the bench. A real pipeline must
    * use the parse-once shapes: e13 (`from_json` with an explicit schema
    * — the fastest when the fields are known) or e7 (VariantType — the
    * open-schema path). */
  def e2JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = get_json_object($"props", "$.k").cast("int")
    events(spark, dir)
      .select($"event_type", k.as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), count($"k").as("n_k"),
           sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val e2JsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- e3
  /** Gap-based sessionization (30-minute inactivity gap): classic
    * lag → new-session flag → running sum → per-session rollup. One
    * shuffle on user_id; all window work is within-partition. Durations
    * are exact epoch-microsecond integers. */
  def e3Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = lit(30L * 60 * 1000000)
    val us = unix_micros($"ts")
    events(spark, dir)
      .withColumn("prev_us", lag(us, 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_us".isNull || us - $"prev_us" > gapUs, 1).otherwise(0))
      .withColumn("sess_id", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sess_id")
      .agg(count(lit(1)).as("n_events"),
           (max(us) - min(us)).as("dur_us"),
           countDistinct($"event_type").as("n_types"))
      .orderBy($"user_id", $"sess_id")
  }

  val e3SessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_type, us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM flagged)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |  CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us,
      |  COUNT(DISTINCT event_type) AS n_types
      |FROM sess
      |GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""".stripMargin

  // ---------------------------------------------------------------- e4
  /** Sliding window (1 hour long, 30-minute slide): every event lands in
    * exactly two windows. Spark's `window(ts, len, slide)` is expressed in
    * the oracle as the two epoch-aligned 30-minute slots covering t. */
  def e4SlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("total_value"))
      .select($"w.start".as("win_start"), $"n_events", $"total_value")
      .orderBy($"win_start")
  }

  val e4SlidingWindowSql: String =
    s"""SELECT TIMESTAMP '1970-01-01 00:00:00'
       |    + ((epoch_us(ts) // 1000000 // 1800 - u.o) * 1800) * INTERVAL '1 second' AS win_start,
       |  COUNT(*) AS n_events, $dsumSql AS total_value
       |FROM events, UNNEST([0, 1]) AS u(o)
       |GROUP BY 1
       |ORDER BY win_start""".stripMargin

  // ---------------------------------------------------------------- e5
  /** AS-OF join: for every purchase, the most recent click at-or-before
    * it by the same user. Spark has no asof join operator; the scalable
    * composition is union-the-streams + one window pass (last click
    * carried forward) — a single shuffle on user_id, no range probing.
    * At equal timestamps the click sorts first ('click' < 'purchase'),
    * matching ASOF's >= semantics. Oracle: DuckDB's native ASOF JOIN. */
  def e5AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val us = unix_micros($"ts")
    val raw = events(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"event_id", $"event_type", us.as("us"))
    // Collapse same-(user, us) clicks to the max event_id BEFORE the
    // window: ASOF tie choice among equal timestamps is unspecified in
    // the oracle engine, so both sides must agree on one winner.
    val clicks = raw.filter($"event_type" === "click")
      .groupBy($"user_id", $"us")
      .agg(max($"event_id").as("event_id"))
      .withColumn("event_type", lit("click"))
      .select($"user_id", $"event_id", $"event_type", $"us")
    val ev = raw.filter($"event_type" === "purchase").union(clicks)
    val w = Window.partitionBy($"user_id")
      .orderBy($"us", $"event_type", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("click_id",
        last(when($"event_type" === "click", $"event_id"), ignoreNulls = true).over(w))
      .withColumn("click_us",
        last(when($"event_type" === "click", $"us"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"us", $"click_id",
              ($"us" - $"click_us").as("gap_us"))
      .orderBy($"user_id", $"event_id")
  }

  val e5AsofJoinSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, us, MAX(event_id) AS event_id FROM ev
      |      WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.user_id, p.event_id, p.us, c.event_id AS click_id,
      |  p.us - c.us AS gap_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.us >= c.us
      |ORDER BY p.user_id, p.event_id""".stripMargin

  // ---------------------------------------------------------------- e6
  /** Range (interval) join: clicks within ±60 s of each error by the
    * same user. A naive inequality join is a per-user cross product; the
    * scale shape buckets time into 60 s cells and joins each error to its
    * 3 adjacent cells — candidates are bounded by temporal locality.
    * The oracle is the plain inequality join (fine at oracle scale). */
  def e6RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 60L * 1000000 // 60 s in micros
    val us = unix_micros($"ts")
    val ev = events(spark, dir)
    val err = ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id".as("err_id"), us.as("eus"))
    val clk = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), us.as("cus"))
      .withColumn("bucket", floor($"cus" / W).cast("long"))
    val errB = err.withColumn("bucket",
      explode(array(
        (floor($"eus" / W) - 1).cast("long"),
        floor($"eus" / W).cast("long"),
        (floor($"eus" / W) + 1).cast("long"))))
    val counts = errB.join(clk,
        errB("user_id") === clk("c_user") && errB("bucket") === clk("bucket") &&
        abs($"eus" - $"cus") <= W)
      .groupBy($"err_id").agg(count(lit(1)).as("n_nearby"))
    err.join(counts, Seq("err_id"), "left")
      .select($"user_id", $"err_id", $"eus",
              coalesce($"n_nearby", lit(0L)).as("n_nearby"))
      .orderBy($"user_id", $"err_id")
  }

  val e6RangeJoinSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
      |err AS (SELECT user_id, event_id AS err_id, us AS eus FROM ev
      |        WHERE event_type = 'error'),
      |clk AS (SELECT user_id, us AS cus FROM ev WHERE event_type = 'click'),
      |counts AS (
      |  SELECT e.err_id, COUNT(*) AS n_nearby
      |  FROM err e JOIN clk c
      |    ON e.user_id = c.user_id AND abs(e.eus - c.cus) <= 60000000
      |  GROUP BY 1)
      |SELECT e.user_id, e.err_id, e.eus,
      |  CAST(COALESCE(t.n_nearby, 0) AS BIGINT) AS n_nearby
      |FROM err e LEFT JOIN counts t ON e.err_id = t.err_id
      |ORDER BY e.user_id, e.err_id""".stripMargin

  // ---------------------------------------------------------------- e7
  /** Semi-structured columns via Spark 4 VariantType: `props` parsed once
    * into a variant, fields extracted with variant_get — the open-schema
    * path for event properties (vs. e2's per-field JSON string probing,
    * which re-parses the string per extraction). */
  def e7Variant(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .withColumn("v", parse_json($"props"))
      .select($"event_type",
        expr("variant_get(v, '$.k', 'int')").as("k"))
      .groupBy($"event_type")
      .agg(count($"k").as("n_k"),
           sum($"k").cast("long").as("sum_k"),
           max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  val e7VariantSql: String =
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS n_k,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- e8
  /** Time-series gap filling: per-user hourly event counts with explicit
    * zero rows for every silent hour between the user's first and last
    * event. The hour spine is `sequence(min, max, 1h)` exploded per user
    * — generated distributively from each group's own span (no
    * driver-side calendar), then left-joined back to the real counts.
    * Spine size is bounded by the observation window, not the event
    * count, so the join stays cheap at any SF. */
  def e8GapFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
      .filter($"user_id" < 8)
      .select($"user_id", date_trunc("hour", $"ts").as("hr"))
    val counts = ev.groupBy($"user_id", $"hr").agg(count(lit(1)).as("n"))
    val spine = ev.groupBy($"user_id")
      .agg(min($"hr").as("h0"), max($"hr").as("h1"))
      .select($"user_id",
              explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("hr"))
    spine.join(counts, Seq("user_id", "hr"), "left")
      .select($"user_id", $"hr", coalesce($"n", lit(0L)).as("n_events"))
      .orderBy($"user_id", $"hr")
  }

  val e8GapFillSql: String =
    """WITH ev AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hr
      |  FROM events WHERE user_id < 8),
      |cnt AS (SELECT user_id, hr, COUNT(*) AS n FROM ev GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id,
      |    unnest(generate_series(MIN(hr), MAX(hr), INTERVAL 1 HOUR)) AS hr
      |  FROM ev GROUP BY user_id)
      |SELECT s.user_id, s.hr, CAST(COALESCE(n, 0) AS BIGINT) AS n_events
      |FROM spine s LEFT JOIN cnt c ON s.user_id = c.user_id AND s.hr = c.hr
      |ORDER BY s.user_id, s.hr""".stripMargin

  // ---------------------------------------------------------------- e9
  /** First/last-event extraction per user via min_by/max_by — one
    * hash-aggregate pass, no window sort. The ordering key is the
    * order-preserving fixed-width hex encoding of (epoch micros,
    * event_id) — sign-bit-flipped 16-char hex per field
    * ([[graft.functions.EngineFns.orderKey64]]) — so ties are
    * deterministic and both engines compare identically for ANY 64-bit
    * timestamp/id, including negatives and ids past 10 digits (a plain
    * '%020d%010d' printf key silently mis-orders those). */
  def e9MinMaxBy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.orderKey64
    val key = concat(orderKey64(unix_micros($"ts")), orderKey64($"event_id"))
    events(spark, dir)
      .filter($"user_id" < 100)
      .groupBy($"user_id")
      .agg(
        min_by($"event_type", key).as("first_type"),
        min_by($"value", key).as("first_value"),
        max_by($"event_type", key).as("last_type"),
        max_by($"value", key).as("last_value"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  val e9MinMaxBySql: String = {
    import graft.functions.EngineFns.sqlOrderKey64
    val key =
      s"${sqlOrderKey64("epoch_us(ts)")} || ${sqlOrderKey64("event_id")}"
    s"""SELECT user_id,
      |  arg_min(event_type, $key) AS first_type,
      |  arg_min(value, $key) AS first_value,
      |  arg_max(event_type, $key) AS last_type,
      |  arg_max(value, $key) AS last_value,
      |  COUNT(*) AS n_events
      |FROM events
      |WHERE user_id < 100
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- e10
  /** Ordered conversion funnel (view → click → purchase) per user: the
    * first view, the first click at-or-after that view, and the first
    * purchase at-or-after that click. Each stage is one conditional
    * `min()` hash-aggregate keyed on user_id — no window sort, no
    * self-join on the event stream — so the funnel costs three narrow
    * aggregates regardless of events-per-user. Timestamps are exact
    * epoch-micros integers. */
  def e10Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val us = unix_micros($"ts")
    val ev = events(spark, dir)
      .filter($"event_type".isin("view", "click", "purchase"))
      .select($"user_id", $"event_type", us.as("us"))
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("view_us"))
    val c = ev.filter($"event_type" === "click")
      .join(v, "user_id").filter($"us" >= $"view_us")
      .groupBy($"user_id").agg(min($"us").as("click_us"))
    val p = ev.filter($"event_type" === "purchase")
      .join(c, "user_id").filter($"us" >= $"click_us")
      .groupBy($"user_id").agg(min($"us").as("purchase_us"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select($"user_id", $"view_us", $"click_us", $"purchase_us",
        (lit(1) + when($"click_us".isNotNull, 1).otherwise(0)
                + when($"purchase_us".isNotNull, 1).otherwise(0))
          .as("depth"))
      .orderBy($"user_id")
  }

  val e10FunnelSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT user_id, MIN(us) AS view_us FROM ev
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(us) AS click_us FROM ev e
      |      JOIN v ON e.user_id = v.user_id AND e.us >= v.view_us
      |      WHERE event_type = 'click' GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(us) AS purchase_us FROM ev e
      |      JOIN c ON e.user_id = c.user_id AND e.us >= c.click_us
      |      WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT v.user_id, view_us, click_us, purchase_us,
      |  1 + CASE WHEN click_us IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN purchase_us IS NOT NULL THEN 1 ELSE 0 END AS depth
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  // ---------------------------------------------------------------- e11
  /** Retention cohort matrix: users grouped by first-activity date
    * (cohort), counted on each subsequent active day as a day offset.
    * Two hash aggregates (first-day per user, distinct active days per
    * user) and one join on user_id — the cohort matrix itself is tiny
    * (days × days) no matter how many users flow in. */
  def e11Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
      .select($"user_id", to_date($"ts").as("d"))
    val cohort = ev.groupBy($"user_id").agg(min($"d").as("d0"))
    val active = ev.distinct()
    active.join(cohort, "user_id")
      .groupBy($"d0".as("cohort_date"), datediff($"d", $"d0").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_date", $"day_offset")
  }

  val e11RetentionSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |cohort AS (SELECT user_id, MIN(d) AS d0 FROM ev GROUP BY 1)
      |SELECT d0 AS cohort_date, CAST(d - d0 AS INT) AS day_offset,
      |  COUNT(*) AS n_users
      |FROM ev JOIN cohort USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY cohort_date, day_offset""".stripMargin

  // ---------------------------------------------------------------- e12
  /** Fixed-width histogram of `value` per event type: bin = floor(v/50).
    * Binning is a codegen'd projection (one IEEE divide + floor, exact on
    * both engines); the aggregate is a two-phase hash agg over at most
    * types × bins cells — constant-size output at any SF. */
  def e12Histogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"event_type", floor($"value" / 50.0).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("bin_total"))
      .orderBy($"event_type", $"bin")
  }

  val e12HistogramSql: String =
    s"""SELECT event_type, CAST(FLOOR(value / 50.0) AS INT) AS bin,
       |  COUNT(*) AS n, $dsumSql AS bin_total
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY event_type, bin""".stripMargin

  // --------------------------------------------------------------- e13
  /** Parse-once JSON extraction — the PRODUCTION path when the property
    * schema is known. `from_json` parses each `props` string exactly once
    * into a typed struct (Jackson straight to an InternalRow, no JSON-path
    * engine, no re-parse per field), and every downstream extraction is a
    * codegen'd struct field access. Same answer as e2, which re-parses
    * the string per `get_json_object` call; e7 (VariantType) is the
    * middle ground when the schema is open. */
  def e13JsonParseOnce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val propsSchema = StructType(Seq(StructField("k", IntegerType)))
    events(spark, dir)
      .select($"event_type", from_json($"props", propsSchema).as("p"))
      .select($"event_type", $"p.k".as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), count($"k").as("n_k"),
           sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** e13 shares e2's oracle text. NOTE the equivalence is corpus-
    * structural, not universal: `from_json` with IntegerType nulls
    * non-plain-int tokens (`"7"`, `3.0`) where `get_json_object` + ANSI
    * cast would coerce them. The generator emits plain ints only, and
    * the hash gate would surface any drift as an e13-vs-oracle mismatch. */
  val e13JsonParseOnceSql: String = e2JsonExtractSql

  // --------------------------------------------------------------- e14
  /** First-order event-type transition matrix: per user, order events by
    * (ts, event_id) and count each consecutive (from → to) pair, with a
    * permille transition probability per source type — the sequence-
    * mining primitive behind next-event prediction and funnel discovery.
    *
    * Scale shape: the only data-size shuffle is the per-user window
    * (bounded state: one row of lookahead per task, partitions are
    * per-user so skew is capped by the busiest user); the transition
    * counts collapse to ≤ |types|² rows before the probability window
    * touches them. The tie-break on event_id makes the sequence — and
    * therefore the matrix — deterministic under equal timestamps. */
  def e14Transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val seqW = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("from_type"),
        lead($"event_type", 1).over(seqW).as("to_type"))
      .filter($"to_type".isNotNull)
    val fromW = Window.partitionBy($"from_type")
    pairs.groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("prob_permille",
        graft.functions.EngineFns.permille($"n", sum($"n").over(fromW)))
      .orderBy($"from_type", $"to_type")
  }

  val e14TransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |cnt AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM seq WHERE to_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  CAST(FLOOR(1000.0 * n / SUM(n) OVER (PARTITION BY from_type)) AS BIGINT)
      |    AS prob_permille
      |FROM cnt
      |ORDER BY from_type, to_type""".stripMargin

  // --------------------------------------------------------------- e15
  /** Volume-anomaly detection: per event type, the z-score of each hour's
    * event count against that type's full-history mean/stddev, with a
    * |z| ≥ 3 flag — the standard ops/pipeline-health primitive (traffic
    * spikes, ingestion gaps).
    *
    * Exactness: counts are integers, so Σn and Σn² accumulate as exact
    * longs inside window aggregates (integer adds are order-independent,
    * unlike the double sums a naive stddev window would use). The
    * variance is formed as the exact integer ratio (cnt·Σn² − (Σn)²) /
    * cnt² and only then divided and square-rooted — one double divide,
    * one IEEE sqrt, one floor-milli projection, identical on both
    * engines. A zero-variance type (all hours equal) gets z = 0 rather
    * than a divide-by-zero. The anomaly FLAG is not taken from the
    * floored z (|floor| treats z ∈ (−3, −2.999] as anomalous but
    * [2.999, 3) as not — asymmetric): |z| ≥ 3 ⇔ (n−mean)² ≥ 9·var is
    * cross-multiplied by cnt² into the all-integer test
    * (n·cnt − Σn)² ≥ 9·var_num — exact, symmetric, no floats at all.
    * At extreme scale the long products would need decimal(38) —
    * documented bound: cnt·Σn² < 2⁶³ holds through ~10¹² events per
    * type at hourly granularity.
    *
    * Scale shape: one hash aggregate to hourly counts (bounded at
    * types × hours rows regardless of event volume), then window sums
    * over that bounded frame. */
  def e15Anomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byType = Window.partitionBy($"event_type")
    val hourly = events(spark, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("n"))
    hourly
      .withColumn("cnt", count(lit(1)).over(byType))
      .withColumn("s1", sum($"n").over(byType))
      .withColumn("s2", sum($"n" * $"n").over(byType))
      .withColumn("var_num", $"cnt" * $"s2" - $"s1" * $"s1")
      .withColumn("mean", $"s1".cast("double") / $"cnt")
      .withColumn("z_milli",
        when($"var_num" === 0, 0L).otherwise(
          floor(lit(1000.0) * ($"n".cast("double") - $"mean") /
            sqrt($"var_num".cast("double") / ($"cnt" * $"cnt").cast("double")))
            .cast("long")))
      .withColumn("dev", $"n" * $"cnt" - $"s1")
      .withColumn("is_anomaly", $"dev" * $"dev" >= lit(9L) * $"var_num" &&
        $"var_num" =!= 0)
      .select($"event_type", $"hour", $"n", $"z_milli", $"is_anomaly")
      .orderBy($"event_type", $"hour")
  }

  val e15AnomalySql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, hour, n,
      |    COUNT(*) OVER w AS cnt,
      |    SUM(n) OVER w AS s1,
      |    SUM(n * n) OVER w AS s2
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY event_type)),
      |scored AS (
      |  SELECT event_type, hour, n,
      |    CAST(cnt * s2 - s1 * s1 AS BIGINT) AS var_num,
      |    CAST(s1 AS DOUBLE) / cnt AS mean,
      |    CAST(cnt AS BIGINT) AS cntb,
      |    CAST(s1 AS BIGINT) AS s1b
      |  FROM stats)
      |SELECT event_type, hour, n,
      |  CASE WHEN var_num = 0 THEN 0
      |       ELSE CAST(FLOOR(1000.0 * (CAST(n AS DOUBLE) - mean) /
      |         sqrt(CAST(var_num AS DOUBLE) / CAST(cntb * cntb AS DOUBLE))) AS BIGINT)
      |  END AS z_milli,
      |  (CAST(n * cntb - s1b AS BIGINT) * CAST(n * cntb - s1b AS BIGINT)
      |     >= 9 * var_num) AND var_num <> 0 AS is_anomaly
      |FROM scored
      |ORDER BY event_type, hour""".stripMargin

  // ---------------------------------------------------------------- e16
  /** Per-user engagement concentration: the Simpson index Σnᵢ²/n² over a
    * user's event-type distribution — 1/n_types when perfectly spread,
    * →1 when one event type dominates. The standard diversity signal
    * that needs NO logarithm, so unlike Shannon entropy it stays in
    * exact integer arithmetic end-to-end (Σnᵢ² and n² are exact longs;
    * ONE floor-micro division at the end) and hash-matches across
    * engines — the same reason e15 uses cross-multiplied variance.
    *
    * Scale shape: two partial-aggregated hash shuffles, (user, type)
    * then user — both keyed on user-cardinality keys, no windows, no
    * per-user sort. */
  def e16SimpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("ni"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_types"),
           sum($"ni").as("n_events"),
           sum($"ni" * $"ni").as("s2"))
      .select($"user_id", $"n_types", $"n_events",
        floor(lit(1000000.0) * $"s2" / ($"n_events" * $"n_events"))
          .cast("long").as("simpson_micro"))
      .orderBy($"user_id")
  }

  val e16SimpsonDiversitySql: String =
    """WITH per AS (
      |  SELECT user_id, event_type, COUNT(*) AS ni
      |  FROM events GROUP BY 1, 2),
      |agg AS (
      |  SELECT user_id, COUNT(*) AS n_types,
      |    CAST(SUM(ni) AS BIGINT) AS n_events,
      |    CAST(SUM(ni * ni) AS BIGINT) AS s2
      |  FROM per GROUP BY user_id)
      |SELECT user_id, n_types, n_events,
      |  CAST(FLOOR(1000000.0 * s2 / (n_events * n_events)) AS BIGINT)
      |    AS simpson_micro
      |FROM agg
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- e17
  /** Per-event-type Gini coefficient of the per-user activity
    * distribution — the inequality complement to e16's concentration:
    * 0 when every user fires a type equally often, →1 when a few users
    * dominate it. Exact integer arithmetic end-to-end via the HISTOGRAM
    * PAIR identity: with the per-user counts collapsed to (value v_k,
    * multiplicity c_k), the mean-absolute-difference numerator
    * Σᵢⱼ|xᵢ−xⱼ| equals Σ_kl c_k·c_l·|v_k−v_l| — computable from the
    * value histogram alone. One floor-permille division at the end;
    * G = Σ|xᵢ−xⱼ| / (2·n·Σx).
    *
    * Scale shape — the p5 lesson applied to Gini: the textbook rank
    * formulation (2Σi·xᵢ…) needs a per-type SORT of all user counts —
    * a full-stratum window, the exact hazard p5 removed. The histogram
    * pair trick needs no order at all: one (type, user) hash agg, one
    * (type, value) hash agg — the histogram is bounded by the number of
    * DISTINCT activity levels, not by users — and a per-type self-join
    * of that tiny frame. Nothing user-cardinality ever sorts. */
  /** Gini from a (event_type, v, c) value histogram — e17's arithmetic
    * core, exposed so the overflow spec can feed planted BIGINT-breaking
    * cardinalities. The pair sum Σ c_a·c_b·|v_a−v_b| runs in
    * DECIMAL(38,0): each factor is cast to DECIMAL(12,0) so the triple
    * product lands exactly in (38,0) — longs overflow this sum past
    * ~10⁹ users per type (n²·v̄ ≈ 10²¹ > 2⁶³), decimals hold to ~10¹⁷
    * users. The single mad_num→double conversion at the end is the same
    * one the long path did (both engines round-to-nearest), so the
    * permille result is unchanged where longs sufficed. */
  private[operators] def giniFromHist(hist: DataFrame): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val totals = hist.groupBy($"event_type")
      .agg(sum($"c").as("n_users"), sum($"c" * $"v").as("total_events"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(12,0)")
    hist.as("a").join(hist.as("b"), "event_type")
      .groupBy($"event_type")
      .agg(sum(dec($"a.c") * dec($"b.c") * dec(abs($"a.v" - $"b.v")))
        .as("mad_num"))
      .join(totals, "event_type")
      .select($"event_type", $"n_users", $"total_events",
        floor(lit(1000.0) * $"mad_num".cast("double") /
          (lit(2.0) * $"n_users" * $"total_events"))
          .cast("long").as("gini_permille"))
      .orderBy($"event_type")
  }

  def e17GiniActivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    giniFromHist(events(spark, dir)
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("x"))
      .groupBy($"event_type", $"x".as("v"))
      .agg(count(lit(1)).as("c")))
  }

  val e17GiniActivitySql: String =
    """WITH per AS (
      |  SELECT event_type, user_id, COUNT(*) AS x
      |  FROM events GROUP BY 1, 2),
      |hist AS (
      |  SELECT event_type, x AS v, COUNT(*) AS c
      |  FROM per GROUP BY 1, 2),
      |totals AS (
      |  SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_users,
      |    CAST(SUM(c * v) AS BIGINT) AS total_events
      |  FROM hist GROUP BY event_type),
      |num AS (
      |  SELECT a.event_type,
      |    CAST(SUM(CAST(a.c AS DECIMAL(12,0)) * CAST(b.c AS DECIMAL(12,0))
      |             * CAST(abs(a.v - b.v) AS DECIMAL(12,0)))
      |         AS DECIMAL(38,0)) AS mad_num
      |  FROM hist a JOIN hist b USING (event_type)
      |  GROUP BY a.event_type)
      |SELECT event_type, n_users, total_events,
      |  CAST(FLOOR(1000.0 * CAST(mad_num AS DOUBLE)
      |             / (2.0 * n_users * total_events)) AS BIGINT)
      |    AS gini_permille
      |FROM num JOIN totals USING (event_type)
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- e18
  /** Count-Min sketch build + probe with a full accuracy ledger — the
    * mergeable frequency sketch (Cormode & Muthukrishnan) in the one
    * form that stays hash-checkable cross-engine: unlike q15's HLL/KLL
    * (whose internals differ by engine, hence golden-pinned only), a
    * CMS is plain integer arithmetic over deterministic hash buckets,
    * so BOTH the sketch cells and every estimate are engine-exact.
    *
    * Build: each event increments d=3 salted md5 rows × w=64 buckets —
    * as a grouped count it partial-aggregates map-side to ≤ 192
    * fixed-width cells per partition, the textbook mergeable-sketch
    * shape (at 100 TB each executor emits one 192-cell partial; the
    * reduce is trivial). Probe: every key's estimate is the MIN of its
    * 3 cells, joined against the 192-cell sketch — broadcast by
    * construction. The ledger pairs each estimate with the exact count
    * (CMS guarantees est ≥ exact; the spec asserts it), and flags
    * heavy hitters at 5% of the stream — the decision a frequency-
    * capped pipeline (hot-key salting, d11's df-cap) would make from
    * the sketch alone. */
  /** The CMS build as a plain grouped count over (row, bucket) — the
    * mergeability of the sketch IS the associativity of this aggregate,
    * which is why the SAME definition serves batch (e18) and streaming
    * ([[graft.streaming.StreamOps.streamingCmsCells]], where Spark
    * maintains the cells as native streaming state across
    * micro-batches). */
  private[graft] def cmsBucket: Column =
    pmod(md5Long(concat(col("user_id").cast("string"), lit(":cms"),
      col("r").cast("string"))), lit(64L))

  private[graft] def cmsCells(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.select($"user_id")
      .withColumn("r", explode(sequence(lit(0), lit(2))))
      .withColumn("b", cmsBucket)
      .groupBy($"r", $"b").agg(count(lit(1)).as("cell"))
  }

  def e18CmsHeavy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir).select($"user_id")
    val bucket = cmsBucket
    val cells = cmsCells(ev)
    val exact = ev.groupBy($"user_id").agg(count(lit(1)).as("exact_n"))
    val total = exact.agg(sum($"exact_n").as("total_n"))
    exact.withColumn("r", explode(sequence(lit(0), lit(2))))
      .withColumn("b", bucket)
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy($"user_id", $"exact_n").agg(min($"cell").as("est_n"))
      .crossJoin(broadcast(total))
      .select($"user_id", $"exact_n", $"est_n",
        ($"est_n" - $"exact_n").as("over_n"),
        ($"est_n" * 20L >= $"total_n").as("heavy"))
      .orderBy($"user_id")
  }

  val e18CmsHeavySql: String = {
    val bHash = sqlMd5Long("CAST(user_id AS VARCHAR) || ':cms' || CAST(r AS VARCHAR)")
    s"""WITH ev AS (SELECT user_id FROM events),
       |threes AS (SELECT CAST(unnest(generate_series(0, 2)) AS BIGINT) AS r),
       |cells AS (
       |  SELECT r, $bHash % 64 AS b, COUNT(*) AS cell
       |  FROM ev CROSS JOIN threes GROUP BY 1, 2),
       |exact AS (SELECT user_id, COUNT(*) AS exact_n FROM ev GROUP BY 1),
       |total AS (SELECT CAST(SUM(exact_n) AS BIGINT) AS total_n FROM exact),
       |keyb AS (
       |  SELECT e.user_id, e.exact_n, t.r,
       |    ${sqlMd5Long(
                "CAST(e.user_id AS VARCHAR) || ':cms' || CAST(t.r AS VARCHAR)")}
       |      % 64 AS b
       |  FROM exact e CROSS JOIN threes t),
       |est AS (
       |  SELECT k.user_id, k.exact_n, MIN(c.cell) AS est_n
       |  FROM keyb k JOIN cells c ON c.r = k.r AND c.b = k.b
       |  GROUP BY 1, 2)
       |SELECT user_id, exact_n, est_n, est_n - exact_n AS over_n,
       |  est_n * 20 >= total_n AS heavy
       |FROM est CROSS JOIN total
       |ORDER BY user_id""".stripMargin
  }

  // --------------------------------------------------------------- e19
  /** Hopping-window distinct users (2-hour window, 30-minute hop): the
    * active-users dashboard query, exact. Each event belongs to 4
    * windows; distinctness is NOT mergeable across windows, so the
    * scalable exact form is the explicit two-level reduction written
    * here:
    *
    *   1. collapse to (window, user_id) — the heavy hash agg. The
    *      map-side partial dedups within each task, so the exchange
    *      carries at most one row per (window, user, task), never the
    *      raw event stream;
    *   2. count rows per window — trivial after step 1.
    *
    * Spark plans the same Expand + two-stage shape for
    * `countDistinct`, but writing the levels out keeps the first-level
    * output reusable (a production pipeline persists level 1 and serves
    * many distinct-style rollups from it) and makes the explode factor
    * explicit: ×4 here, bounded by window/hop, applied BEFORE any
    * shuffle so it never amplifies exchanged bytes beyond the dedup'd
    * (window, user) set. */
  def e19HoppingDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perUser = events(spark, dir)
      .groupBy(window($"ts", "2 hours", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
    perUser
      .groupBy($"w")
      .agg(count(lit(1)).as("n_users"), sum($"n_events").as("n_events"))
      .select($"w.start".as("win_start"), $"n_users", $"n_events")
      .orderBy($"win_start")
  }

  val e19HoppingDistinctSql: String =
    """SELECT TIMESTAMP '1970-01-01 00:00:00'
      |    + ((epoch_us(ts) // 1000000 // 1800 - u.o) * 1800) * INTERVAL '1 second' AS win_start,
      |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events, UNNEST([0, 1, 2, 3]) AS u(o)
      |GROUP BY 1
      |ORDER BY win_start""".stripMargin

  // --------------------------------------------------------------- e20
  /** Sequence-pattern matching over per-user event streams — the
    * MATCH_RECOGNIZE / funnel-regex workload: each user's events
    * collapse to an ordered initial-letter string (c=click, v=view,
    * p=purchase, …) and conversions are counted as non-overlapping
    * `cv*p` matches (a click, any views, then a purchase). e10's funnel
    * asks "did the steps happen in order at least once"; this operator
    * counts EVERY completed pattern instance and exposes the raw
    * sequence for downstream mining.
    *
    * Engine safety: the pattern uses only literals and a starred
    * literal class — in the common subset where Java regex (Spark) and
    * RE2 (DuckDB) provably agree; leftmost-earliest non-overlapping
    * matching is the same rule in both. Ordering ties break on
    * event_id, so both engines build the identical sequence string.
    *
    * Scale shape: ONE shuffle on user_id serves both the window pass
    * and the collect — the groupBy's required hashpartitioning is
    * already satisfied by the window's, so Catalyst plans no second
    * exchange. The HOT-ENTITY CAP is the load-bearing piece: a bot
    * user with 10⁸ events would otherwise accumulate a 10⁸-element
    * collect_list buffer, and aggregation buffers do NOT spill — the
    * row OOMs the executor. The row_number pre-filter keeps only the
    * EARLIEST [[E20MaxEventsPerUser]] events per user (by (ts,
    * event_id)) before anything is collected: the window SORT handles
    * the bot's volume and sorts spill gracefully, so the collected
    * row is bounded by construction. The true event count and an
    * `overflow` flag survive the cut (d11's df-cap discipline — cap
    * plus an honest flag, never a silent truncation). The sort +
    * regex still run INSIDE the row over the ≤cap structs. */
  private[operators] val E20MaxEventsPerUser = 1000L

  def e20PatternMatch(spark: SparkSession, dir: String): DataFrame =
    e20PatternMatchFrom(events(spark, dir), E20MaxEventsPerUser)

  private[operators] def e20PatternMatchFrom(ev: DataFrame, cap: Long): DataFrame = {
    import ev.sparkSession.implicits._
    val byTime = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
    val perUser = Window.partitionBy($"user_id")
    val seq0 = ev
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        substring($"event_type", 1, 1).as("ini"))
      .withColumn("rn", row_number().over(byTime))
      .withColumn("n_events", count(lit(1)).over(perUser))
      .filter($"rn" <= cap)
      .groupBy($"user_id")
      .agg(max($"n_events").as("n_events"),
        array_join(
          transform(array_sort(collect_list(struct($"us", $"event_id", $"ini"))),
            x => x.getField("ini")), "").as("seq"))
    seq0
      .withColumn("n_conversions",
        size(expr("regexp_extract_all(seq, 'cv*p', 0)")).cast("long"))
      .select($"user_id", $"n_events", $"seq", $"n_conversions",
        ($"n_conversions" > 0).as("converted"),
        ($"n_events" > cap).as("overflow"))
      .orderBy($"user_id")
  }

  val e20PatternMatchSql: String =
    s"""WITH r AS (
      |  SELECT user_id, event_id, ts, substr(event_type, 1, 1) AS ini,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_us(ts), event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
      |  FROM events),
      |s AS (
      |  SELECT user_id, MAX(n_events) AS n_events,
      |    string_agg(ini, '' ORDER BY epoch_us(ts), event_id) AS seq
      |  FROM r WHERE rn <= $E20MaxEventsPerUser GROUP BY user_id)
      |SELECT user_id, n_events, seq,
      |  CAST(len(regexp_extract_all(seq, 'cv*p')) AS BIGINT) AS n_conversions,
      |  len(regexp_extract_all(seq, 'cv*p')) > 0 AS converted,
      |  n_events > $E20MaxEventsPerUser AS overflow
      |FROM s
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- e21
  /** Last-touch attribution — the revenue question behind every funnel:
    * each purchase is credited to the user's most recent preceding
    * touch (click/view/signup) within a 1-hour lookback, else
    * "organic"; output is per-channel purchase count and exact-decimal
    * revenue. A touch at the purchase's own timestamp counts (the
    * union's kind column sorts touches first at equal ts — q38's
    * inclusive-boundary convention).
    *
    * Scale shape: the naive form is a per-purchase as-of join against
    * the touch stream (a range probe); this is e5/q38's union trick
    * instead — ONE shuffle on user_id, one running window pass
    * carrying the last touch's (type, time) forward, and the hot-key
    * story is q38's: the window rides a spillable sort, no collect
    * buffer, no cap needed. Revenue sums decimal-exact, cast to
    * double once at the end. */
  def e21Attribution(spark: SparkSession, dir: String): DataFrame =
    e21AttributionFrom(events(spark, dir))

  private[operators] def e21AttributionFrom(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val touches = ev.filter($"event_type".isin("click", "view", "signup"))
      .select($"user_id", $"ts", $"event_id", lit(0).as("kind"),
        $"event_type".as("touch"), lit(null).cast("double").as("value"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", lit(1).as("kind"),
        lit(null).cast("string").as("touch"), $"value")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"kind", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    touches.unionByName(purchases)
      .withColumn("last_touch", last($"touch", ignoreNulls = true).over(w))
      .withColumn("last_us",
        last(when($"kind" === 0, unix_micros($"ts")), ignoreNulls = true).over(w))
      .filter($"kind" === 1)
      .withColumn("channel",
        when($"last_touch".isNull ||
             unix_micros($"ts") - $"last_us" > 3600L * 1000000L, "organic")
          .otherwise($"last_touch"))
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_purchases"),
        sum($"value".cast("decimal(28,8)")).cast("double").as("revenue"))
      .orderBy($"channel")
  }

  val e21AttributionSql: String =
    """WITH t AS (
      |  SELECT user_id, ts, event_id, 0 AS kind,
      |    event_type AS touch, CAST(NULL AS DOUBLE) AS value
      |  FROM events WHERE event_type IN ('click', 'view', 'signup')),
      |p AS (
      |  SELECT user_id, ts, event_id, 1 AS kind,
      |    CAST(NULL AS VARCHAR) AS touch, value
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (SELECT * FROM t UNION ALL SELECT * FROM p),
      |c AS (
      |  SELECT *,
      |    last_value(touch IGNORE NULLS) OVER w AS last_touch,
      |    last_value(CASE WHEN kind = 0 THEN epoch_us(ts) END IGNORE NULLS)
      |      OVER w AS last_us
      |  FROM u
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, kind, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT
      |  CASE WHEN last_touch IS NULL OR epoch_us(ts) - last_us > 3600000000
      |       THEN 'organic' ELSE last_touch END AS channel,
      |  COUNT(*) AS n_purchases,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)
      |    AS revenue
      |FROM c WHERE kind = 1
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- e22
  /** Per-user merged-interval coverage — each event opens a 5-minute
    * activity interval and the question is "how much DISTINCT time was
    * each user active, in how many separate stretches?". Interval
    * union is the operator behind billable-seconds metering, SLA
    * uptime, and machine-utilization reports, and the naive form
    * (explode each interval into seconds, COUNT DISTINCT) is a
    * 300×-row blowup that gets worse with interval length.
    *
    * The scalable form is the classic sweep: order each user's events
    * by time and carry a running max of interval ENDS over the
    * preceding rows; a row's novel contribution is
    * `max(0, end − max(start, prior_max_end))`, and it opens a new
    * stretch iff `prior_max_end < start`. One window pass, O(1) state
    * per row, exact BIGINT microsecond arithmetic throughout.
    *
    * Scale shape: ONE shuffle on user_id shared by the window and the
    * final groupBy (e20's plan-guarded pattern); a hot user rides a
    * SPILLABLE window sort, never a collect buffer (q38's note) —
    * running-max-over-preceding needs no per-user materialization. */
  def e22IntervalCoverage(spark: SparkSession, dir: String): DataFrame =
    e22IntervalCoverageFrom(events(spark, dir))

  /** [[e22IntervalCoverage]] over an arbitrary (user_id, event_id, ts)
    * frame — planted-interval specs enter here. */
  private[operators] def e22IntervalCoverageFrom(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val iv = ev.select($"user_id", $"event_id",
        unix_micros($"ts").as("s"))
      .withColumn("e", $"s" + lit(300000000L))
    val w = Window.partitionBy($"user_id").orderBy($"s", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("pmax", max($"e").over(w))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"pmax".isNull || $"pmax" < $"s", 1L).otherwise(0L))
          .as("n_stretches"),
        sum(greatest($"e" - greatest($"s", coalesce($"pmax", $"s")), lit(0L)))
          .as("cov_us"))
      .select($"user_id", $"n_events", $"n_stretches",
        expr("cov_us div 1000000").as("covered_sec"))
      .orderBy($"user_id")
  }

  val e22IntervalCoverageSql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + 300000000 AS e
      |  FROM events),
      |sw AS (
      |  SELECT user_id, s, e,
      |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN pmax IS NULL OR pmax < s THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_stretches,
      |  CAST(CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(pmax, s)), 0)) AS BIGINT)
      |    // 1000000 AS BIGINT) AS covered_sec
      |FROM sw
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- e23
  /** Top event PATHS — the most common 3-step behavioral sequences
    * (consecutive event-type trigrams per user), the product-analytics
    * "what do users actually do" query and the n-gram dual of e14's
    * single-step transition matrix.
    *
    * Scale shape: two `lead()`s over the per-user time order turn each
    * event row into its own trigram — no self-joins, no per-user
    * collect (e20 needs the whole sequence for regex matching; a
    * fixed-length path does not, so the window form is strictly
    * better here and a bot user rides a spillable sort). The path
    * alphabet is |event_types|³ (≤125 here), so the count aggregates
    * collapse map-side and the top-20 is a TakeOrdered over a
    * metadata-sized frame — no full sort at any corpus size. */
  def e23TopPaths(spark: SparkSession, dir: String): DataFrame =
    e23TopPathsFrom(events(spark, dir))

  /** [[e23TopPaths]] over an arbitrary event frame — planted-sequence
    * specs enter here. */
  private[operators] def e23TopPathsFrom(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    ev.select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .filter($"e2".isNotNull && $"e3".isNotNull)
      .select(concat_ws(">", $"event_type", $"e2", $"e3").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_paths"))
      .orderBy($"n_paths".desc, $"path").limit(20)
  }

  val e23TopPathsSql: String =
    """WITH seq AS (
      |  SELECT event_type,
      |    LEAD(event_type, 1) OVER w AS e2,
      |    LEAD(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type || '>' || e2 || '>' || e3 AS path,
      |  COUNT(*) AS n_paths
      |FROM seq
      |WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1
      |ORDER BY n_paths DESC, path
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- e24
  /** Cohort LTV triangle — users grouped by first-seen day, purchase
    * revenue laid out by day-offset since the cohort's start, with
    * the running (cumulative) revenue per cohort: the
    * lifetime-value curve every growth team reads, and the revenue
    * dual of e11's retention counts.
    *
    * Scale shape: the cohort assignment is a `min(ts)` WINDOW over
    * user_id (one shuffle, spillable sort) rather than a
    * groupBy-then-join-back — the same frame then collapses into the
    * (cohort, offset) aggregate, which is |weeks|²-bounded however
    * large the event log grows; the cumulative window runs over that
    * metadata-sized triangle. Day arithmetic is exact BIGINT
    * microseconds between midnight-truncated stamps, and revenue is
    * the exact decimal sum surfaced as double. */
  def e24CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wu = Window.partitionBy($"user_id")
    val cohorted = events(spark, dir)
      .withColumn("cohort_day", date_trunc("day", min($"ts").over(wu)))
      .filter($"event_type" === "purchase")
      .withColumn("day_offset",
        expr("(unix_micros(date_trunc('day', ts)) - unix_micros(cohort_day)) div 86400000000"))
    val tri = cohorted.groupBy($"cohort_day", $"day_offset")
      .agg(count_distinct($"user_id").as("n_users"),
        sum($"value".cast("decimal(28,8)")).as("rev"))
    val wc = Window.partitionBy($"cohort_day").orderBy($"day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tri
      .withColumn("cum_rev", sum($"rev").over(wc))
      .select($"cohort_day", $"day_offset", $"n_users",
        $"rev".cast("double").as("revenue"),
        $"cum_rev".cast("double").as("cum_revenue"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val e24CohortLtvSql: String =
    """WITH cohorted AS (
      |  SELECT user_id, ts, event_type, value,
      |    date_trunc('day', MIN(ts) OVER (PARTITION BY user_id)) AS cohort_day
      |  FROM events),
      |p AS (
      |  SELECT cohort_day,
      |    (epoch_us(date_trunc('day', ts)) - epoch_us(cohort_day))
      |      // 86400000000 AS day_offset,
      |    user_id, value
      |  FROM cohorted WHERE event_type = 'purchase'),
      |tri AS (
      |  SELECT cohort_day, day_offset,
      |    COUNT(DISTINCT user_id) AS n_users,
      |    SUM(CAST(value AS DECIMAL(28,8))) AS rev
      |  FROM p GROUP BY 1, 2)
      |SELECT cohort_day, day_offset, n_users,
      |  CAST(CAST(rev AS VARCHAR) AS DOUBLE) AS revenue,
      |  CAST(CAST(SUM(rev) OVER (PARTITION BY cohort_day ORDER BY day_offset
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
      |    AS cum_revenue
      |FROM tri
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---------------------------------------------------------------- e25
  /** Conversion-latency histogram — for every user who signed up, the
    * hours from FIRST signup to FIRST subsequent purchase, bucketed by
    * hour with the cumulative convert share in permille: the
    * time-to-value curve growth teams read next to e10's step counts
    * (the funnel says HOW MANY convert; this says HOW FAST, and the
    * cumulative tail says how long a conversion window the attribution
    * model needs).
    *
    * Scale shape: two per-user aggregates (first signup; first
    * qualifying purchase — the candidate purchases ride the same
    * user-keyed shuffle as the signup frame) and then a bounded-domain
    * histogram: latency lives on integer hour buckets, so the
    * cumulative window runs over a ≤ |hours-in-log| frame at any
    * corpus size (p14's bounded-domain discipline). Exact BIGINT
    * microsecond arithmetic throughout. */
  def e25ConversionLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = events(spark, dir)
    val signup = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min(unix_micros($"ts")).as("s_us"))
    val converts = ev.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("p_us"))
      .join(signup, Seq("user_id"))
      .filter($"p_us" >= $"s_us")
      .groupBy($"user_id", $"s_us").agg(min($"p_us").as("p_us"))
      .select($"user_id", expr("(p_us - s_us) div 3600000000").as("latency_hours"))
    val nSignup = signup.agg(count(lit(1)).as("n_signup"))
    val w = Window.orderBy($"latency_hours")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    converts.groupBy($"latency_hours").agg(count(lit(1)).as("n_users"))
      .withColumn("cum_users", sum($"n_users").over(w))
      .crossJoin(broadcast(nSignup))
      .select($"latency_hours", $"n_users", $"cum_users",
        expr("(1000 * cum_users) div n_signup").as("cum_permille"))
      .orderBy($"latency_hours")
  }

  val e25ConversionLatencySql: String =
    """WITH signup AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS s_us
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |converts AS (
      |  SELECT e.user_id,
      |    (MIN(epoch_us(e.ts)) - s.s_us) // 3600000000 AS latency_hours
      |  FROM events e JOIN signup s USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.s_us
      |  GROUP BY e.user_id, s.s_us),
      |n AS (SELECT COUNT(*) AS n_signup FROM signup),
      |hist AS (
      |  SELECT latency_hours, COUNT(*) AS n_users
      |  FROM converts GROUP BY latency_hours)
      |SELECT latency_hours, n_users,
      |  CAST(SUM(n_users) OVER (ORDER BY latency_hours
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users,
      |  CAST((1000 * CAST(SUM(n_users) OVER (ORDER BY latency_hours
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
      |    // (SELECT n_signup FROM n) AS BIGINT) AS cum_permille
      |FROM hist
      |ORDER BY latency_hours""".stripMargin

  // ------------------------------------------------------------ registry
  // --------------------------------------------------------------- e26
  /** PIVOT — the wide activity matrix (one row per day, one count
    * column per event type), the long→wide reshape every BI export and
    * feature-store join asks for. Spark's `pivot` WITH an explicit
    * value list compiles to ONE conditional-aggregation pass — each
    * cell is a `count(CASE WHEN type = v)` inside the same hash
    * aggregate, so the matrix costs exactly one scan + one day-keyed
    * exchange. Omitting the list would be wrong twice at 100 TB: Spark
    * runs an EXTRA distinct job over the type column to discover the
    * output schema, and that schema becomes data-dependent (a new type
    * in tomorrow's data silently widens the table downstream). A
    * (day, type) pair with no rows pivots to NULL where the oracle's
    * FILTER count gives 0 — `na.fill` pins the 0-not-NULL semantics.
    * Output is days × |types| — metadata-sized at any volume. */
  private val PivotTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The matrix without the presentation sort, so e27's melt can add
    * its OWN sort instead of stacking one on an inherited one (the
    * unpivot generator blocks EliminateSorts across it — two sorts
    * would mean two range exchanges, spec-pinned at one). */
  private def pivotMatrixOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    events(spark, dir)
      .groupBy(to_date($"ts").as("day"))
      .pivot("event_type", PivotTypes)
      .agg(count(lit(1)))
      .na.fill(0L, PivotTypes)
  }

  def e26PivotMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pivotMatrixOf(spark, dir).orderBy($"day")
  }

  val e26PivotMatrixSql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error')    AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view')     AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  // --------------------------------------------------------------- e27
  /** UNPIVOT — the wide→long inverse of e26, run as a ROUNDTRIP: the
    * pivoted day × type matrix melts back to (day, event_type,
    * n_events) rows. `unpivot` is a per-row generator (each input row
    * expands to |types| output rows inside the same stage — no
    * exchange, no extra scan), so the reshape itself is free at any
    * scale; the cost is e26's one aggregation underneath. The
    * roundtrip is NOT the identity of a plain group-by: the matrix
    * materialized absent (day, type) cells as 0, so the long form has
    * exactly days × |types| rows — the densified shape a feature
    * store wants (every entity × feature key present) — which is what
    * the oracle certifies via days ⨯ types LEFT JOIN counts. */
  def e27UnpivotLong(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pivotMatrixOf(spark, dir)
      .unpivot(Array($"day"), PivotTypes.map(col).toArray,
        "event_type", "n_events")
      .orderBy($"day", $"event_type")
  }

  val e27UnpivotLongSql: String =
    """WITH m AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      |ty AS (SELECT * FROM (VALUES ('click'), ('error'), ('purchase'),
      |                             ('signup'), ('view')) v(event_type))
      |SELECT d.day AS day, t.event_type AS event_type,
      |  COALESCE(m.n, 0) AS n_events
      |FROM days d CROSS JOIN ty t
      |LEFT JOIN m ON m.day = d.day AND m.event_type = t.event_type
      |ORDER BY d.day, t.event_type""".stripMargin

  // --------------------------------------------------------------- e28
  /** Longest purchase-day streak per user — the gaps-and-islands
    * pattern (consecutive-day runs found WITHOUT a self-join): for
    * each user's distinct purchase days in order, `day − row_number`
    * is constant exactly along a consecutive run, so the island key
    * falls out of one window pass and runs become plain groups. The
    * naive alternative (join day d to d−1 and chase chains) is
    * iterative and quadratic-ish; this is two window passes and an
    * aggregation, all partitioned by user — at 100 TB every exchange
    * is user-keyed and the frame entering the windows is already
    * collapsed to distinct user-days (≤ users × days, far below raw
    * events). Output per user: the best streak length, the start day
    * of the earliest best streak (ties broken by start), and how many
    * distinct streaks the user had. */
  def e28Streaks(spark: SparkSession, dir: String): DataFrame =
    e28From(events(spark, dir))

  /** [[e28Streaks]]'s core over an arbitrary (user_id, ts, event_type)
    * frame — planted-streak specs enter here. */
  private[operators] def e28From(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val days = ev
      .filter($"event_type" === "purchase")
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val byDay = Window.partitionBy($"user_id").orderBy($"day")
    val streaks = days
      .withColumn("grp", date_sub($"day", row_number().over(byDay)))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("len"), min($"day").as("start"))
    val pick = Window.partitionBy($"user_id")
      .orderBy($"len".desc, $"start")
    streaks
      .withColumn("n_streaks",
        count(lit(1)).over(Window.partitionBy($"user_id")))
      .withColumn("rn", row_number().over(pick))
      .filter($"rn" === 1)
      .select($"user_id", $"len".as("best_len"),
        $"start".as("best_start"), $"n_streaks")
      .orderBy($"user_id")
  }

  val e28StreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events WHERE event_type = 'purchase'),
      |isl AS (
      |  SELECT user_id, day,
      |    day - CAST(ROW_NUMBER() OVER (
      |      PARTITION BY user_id ORDER BY day) AS INT) AS grp
      |  FROM days),
      |st AS (
      |  SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start
      |  FROM isl GROUP BY 1, 2),
      |rk AS (
      |  SELECT user_id, len, start,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_streaks,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY user_id ORDER BY len DESC, start) AS rn
      |  FROM st)
      |SELECT user_id, len AS best_len, start AS best_start, n_streaks
      |FROM rk WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------- e29
  /** RFM segmentation — recency / frequency / monetary quintile scores
    * per purchaser, the standard customer-value grid ("545" = recent,
    * frequent, big spender). Each dimension scores 1–5 against the
    * EXACT quintile boundaries of the user-level distribution, and the
    * boundaries come from [[PercentileOps.exactPercentiles]] — the
    * distributed threshold-selection pass — NOT from an `ntile` window,
    * because ntile without a partition key is a single-partition sort
    * of the whole user frame (fine at 1 500 users, a one-task funnel at
    * 100 M). All three measures ride ONE selection pass via the q25
    * stack-melt; the 12 boundary values are a provably-one-row frame
    * (aggregate without grouping), so the scoring join is a safe
    * broadcast by construction. Scoring is explicit boundary
    * comparisons (strictly-below for recency where smaller is better,
    * strictly-above for frequency/monetary), so tie semantics are
    * pinned in both engines rather than inherited from ntile's
    * row-splitting. */
  def e29RfmSegments(spark: SparkSession, dir: String): DataFrame =
    e29From(events(spark, dir))

  /** [[e29RfmSegments]]'s core over an arbitrary (user_id, ts,
    * event_type, value) frame — planted-quintile specs enter here. */
  private[operators] def e29From(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val p = ev
      .filter($"event_type" === "purchase")
      .select($"user_id", to_date($"ts").as("day"), $"value")
    val u = p.groupBy($"user_id").agg(
      max($"day").as("last_day"),
      count(lit(1)).as("frequency"),
      dsum($"value").as("monetary"))
    val asof = p.agg(max($"day").as("today")) // provably one row
    val stats = u.crossJoin(broadcast(asof))
      .withColumn("recency_days",
        datediff($"today", $"last_day").cast("int"))
    val melted = stats.selectExpr(
      """stack(3, 'r', cast(recency_days as double),
        |         'f', cast(frequency as double),
        |         'm', monetary) AS (which, v)""".stripMargin)
    val bCols = for {
      w <- Seq("r", "f", "m"); f <- Seq(20, 40, 60, 80)
    } yield max(when($"which" === w && $"frac" === f / 100.0, $"pct"))
      .as(s"$w$f")
    val b = PercentileOps
      .exactPercentiles(melted, Seq("which"), "v", Seq(0.2, 0.4, 0.6, 0.8))
      .groupBy() // one row: the 12 quintile boundaries
      .agg(bCols.head, bCols.tail: _*)
    def below(v: Column, bs: Seq[String]): Column =
      bs.map(bn => when(v < col(bn), 1).otherwise(0)).reduce(_ + _)
    def above(v: Column, bs: Seq[String]): Column =
      bs.map(bn => when(v > col(bn), 1).otherwise(0)).reduce(_ + _)
    stats.crossJoin(broadcast(b))
      .withColumn("r_score",
        lit(1) + below($"recency_days", Seq("r20", "r40", "r60", "r80")))
      .withColumn("f_score",
        lit(1) + above($"frequency", Seq("f20", "f40", "f60", "f80")))
      .withColumn("m_score",
        lit(1) + above($"monetary", Seq("m20", "m40", "m60", "m80")))
      .select($"user_id", $"recency_days", $"frequency", $"monetary",
        $"r_score", $"f_score", $"m_score",
        concat($"r_score".cast("string"), $"f_score".cast("string"),
          $"m_score".cast("string")).as("segment"))
      .orderBy($"user_id")
  }

  val e29RfmSegmentsSql: String = {
    def cases(v: String, op: String, bs: Seq[String]): String =
      bs.map(b => s"CASE WHEN $v $op $b THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH p AS (
       |  SELECT user_id, CAST(ts AS DATE) AS day, value
       |  FROM events WHERE event_type = 'purchase'),
       |u AS (
       |  SELECT user_id, MAX(day) AS last_day, COUNT(*) AS frequency,
       |    $dsumSql AS monetary
       |  FROM p GROUP BY 1),
       |a AS (SELECT MAX(day) AS today FROM p),
       |s AS (SELECT u.*,
       |    CAST(date_diff('day', last_day, today) AS INT) AS recency_days
       |  FROM u, a),
       |b AS (SELECT
       |  quantile_cont(CAST(recency_days AS DOUBLE), 0.2) AS r20,
       |  quantile_cont(CAST(recency_days AS DOUBLE), 0.4) AS r40,
       |  quantile_cont(CAST(recency_days AS DOUBLE), 0.6) AS r60,
       |  quantile_cont(CAST(recency_days AS DOUBLE), 0.8) AS r80,
       |  quantile_cont(CAST(frequency AS DOUBLE), 0.2) AS f20,
       |  quantile_cont(CAST(frequency AS DOUBLE), 0.4) AS f40,
       |  quantile_cont(CAST(frequency AS DOUBLE), 0.6) AS f60,
       |  quantile_cont(CAST(frequency AS DOUBLE), 0.8) AS f80,
       |  quantile_cont(monetary, 0.2) AS m20,
       |  quantile_cont(monetary, 0.4) AS m40,
       |  quantile_cont(monetary, 0.6) AS m60,
       |  quantile_cont(monetary, 0.8) AS m80
       |  FROM s)
       |SELECT user_id, recency_days,
       |  CAST(frequency AS BIGINT) AS frequency, monetary,
       |  CAST(1 + ${cases("recency_days", "<", Seq("r20", "r40", "r60", "r80"))} AS INT) AS r_score,
       |  CAST(1 + ${cases("frequency", ">", Seq("f20", "f40", "f60", "f80"))} AS INT) AS f_score,
       |  CAST(1 + ${cases("monetary", ">", Seq("m20", "m40", "m60", "m80"))} AS INT) AS m_score,
       |  CAST(1 + ${cases("recency_days", "<", Seq("r20", "r40", "r60", "r80"))} AS VARCHAR) ||
       |  CAST(1 + ${cases("frequency", ">", Seq("f20", "f40", "f60", "f80"))} AS VARCHAR) ||
       |  CAST(1 + ${cases("monetary", ">", Seq("m20", "m40", "m60", "m80"))} AS VARCHAR) AS segment
       |FROM s, b
       |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- e30
  /** Time-decayed engagement score per user — the recency-weighted
    * activity signal sampling/curation pipelines want next to e29's
    * RFM quintiles: every event contributes value · 2^(−age/half-life),
    * so yesterday's purchase outweighs last month's without a hard
    * recency cutoff.
    *
    * Engine-exactness: exponential decay is normally exp/pow territory
    * — libm doubles that differ across engines in the last bits. This
    * operator makes the decay EXACT instead: the decay step is a
    * half-life of [[E30HalfLifeDays]] days, so the weight is 2^(−k)
    * with k = age_days div half-life an integer, and each event's
    * decayed contribution is the INTEGER
    * sign(cents) · ((|cents| · 10^6) div 2^k). Per-event floor loss is
    * ≤ 1 micro-cent, applied identically on both sides —
    * deterministic, not approximate-and-hope. Sums accumulate in
    * decimal(38,0)/HUGEINT (q62's overflow discipline) but SURFACE as
    * BIGINT: the r15 driver gate proved DECIMAL(38,0) OUTPUT columns
    * are value-hash-unportable across oracle-harness builds — the only
    * two queries emitting them were the only two red entries, across
    * two disjoint compute encodings, while every oracle TOKEN was
    * proven portable by green siblings. Outputs stay inside the
    * driver-proven type set (OutputSchemaSpec gates this repo-wide);
    * int64 headroom for the surfaced sums is pinned by a guard spec.
    *
    * PORTABLE-DIALECT discipline (the r14 driver gate's one red
    * entry): the first encoding computed 2^k with a `<<` shift and
    * the divide as `cents div/\/\/ pow2` directly. The local DuckDB
    * build and the driver's evaluated that SQL DIFFERENTLY — `<<` was
    * the only shift operator in all 211 oracles, and the one query
    * using it was the one that hash-diverged. The weights are
    * therefore now DATA, not operators: [[E30Pow2]] is a 62-row
    * (k, 2^k) literal table joined in BOTH the Spark arm and the
    * oracle's VALUES CTE — generated from the same Scala constant, so
    * the divisor is identical by construction in every engine build.
    * The divide runs on |cents| with the sign reapplied (Spark `div`
    * truncates toward zero, DuckDB `//` floors — they agree only on
    * non-negative operands, so a refund/adjustment corpus with
    * negative values would silently split the engines otherwise), and
    * cents = floor(value·100 + 0.5) instead of round() (half-up in
    * both engines for EVERY sign, no shortest-representation or
    * negative-tie hazard). k ≥ 62 short-circuits to weight 0 before
    * 2^k could overflow int64.
    *
    * Scale shape: one scan, one broadcast of the 1-row as-of date,
    * one broadcast of the 62-row weight table, one map-side-partial
    * hash aggregate keyed by user — the same linear-cost shape as
    * e1. */
  private[operators] val E30HalfLifeDays = 7

  /** Largest k with 2^k in int64; k beyond this decays to exactly 0. */
  private[operators] val E30MaxK = 61

  /** The exact power-of-two weights, as data: joined in the Spark arm
    * via a broadcast [[org.apache.spark.sql.DataFrame]] and textually
    * inlined into the oracle's VALUES CTE — one source of truth. */
  private[operators] val E30Pow2: Seq[(Int, Long)] =
    (0 to E30MaxK).map(k => k -> (1L << k))

  def e30DecayedEngagement(spark: SparkSession, dir: String): DataFrame =
    e30From(events(spark, dir))

  /** e30 over any (ts, user_id, value) frame — planted exact-weight
    * specs enter here. */
  private[operators] def e30From(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val asof = ev.agg(max(to_date($"ts")).as("asof")) // provably one row
    val pow2 = E30Pow2.toDF("k", "pow2") // 62 rows — broadcast, never shuffled
    ev.crossJoin(broadcast(asof))
      .select($"user_id",
        floor($"value" * 100 + 0.5).cast("long").as("cents"),
        // asof = max(date) ⇒ the diff is ≥ 0, where div and // agree
        expr(s"datediff(asof, to_date(ts)) div $E30HalfLifeDays").as("k"))
      .join(broadcast(pow2), Seq("k"), "left")
      .withColumn("dm", when($"k" > E30MaxK, lit(0L))
        .otherwise(when($"cents" < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(abs(cents) * 1000000) div pow2")))
      .groupBy($"user_id")
      // Accumulate in decimal(38,0) (q62's overflow discipline) but
      // SURFACE as BIGINT: the r15 driver gate proved wide-decimal
      // OUTPUT columns are the one non-portable feature of the result
      // schema (both red queries, both encodings — every oracle token
      // was proven portable by green siblings). Values fit int64 with
      // orders of magnitude of headroom (E30HeadroomSpec pins it).
      .agg(count(lit(1)).as("n_events"),
        sum($"cents".cast("decimal(38,0)")).cast("long").as("total_cents"),
        sum($"dm".cast("decimal(38,0)")).cast("long").as("score_micro"))
      .orderBy($"user_id")
  }

  // NOTE: `asof` is a reserved word in DuckDB (ASOF JOIN) — the oracle
  // aliases the anchor date `as_of`. The pow2 CTE is pure integer
  // literals generated from [[E30Pow2]] — the same values the Spark
  // arm broadcasts, so the decay divisor is identical by construction
  // (no `<<`, no least(), no round(): see the portable-dialect note).
  val e30DecayedEngagementSql: String = {
    val pow2Rows = E30Pow2
      .map { case (k, p) => s"($k, CAST($p AS BIGINT))" }.mkString(", ")
    s"""WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS as_of FROM events),
       |p(k, pow2) AS (VALUES $pow2Rows),
       |e AS (
       |  SELECT user_id,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
       |    date_diff('day', CAST(ts AS DATE), as_of)
       |      // $E30HalfLifeDays AS k
       |  FROM events, mx),
       |d AS (
       |  SELECT user_id, cents,
       |    CASE WHEN e.k > $E30MaxK THEN 0
       |         ELSE (CASE WHEN cents < 0 THEN -1 ELSE 1 END)
       |           * ((abs(cents) * 1000000) // p.pow2)
       |    END AS dm
       |  FROM e LEFT JOIN p ON e.k = p.k)
       |SELECT user_id, COUNT(*) AS n_events,
       |  CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS total_cents,
       |  CAST(SUM(CAST(dm AS HUGEINT)) AS BIGINT) AS score_micro
       |FROM d GROUP BY 1
       |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- e31
  /** INCREMENTAL maintenance of e30's decayed engagement — the day-2
    * story for a time-decayed view. Decayed aggregates are the
    * canonical "cannot be incrementally maintained" case: advancing
    * the as-of date changes EVERY row's weight, so a naive standing
    * score is stale the moment it's written and the refresh rescans
    * the corpus. e30's half-life quantization dissolves the problem:
    * the weight 2^(−k) depends only on the event's DATE
    * (k = days(as_of − date) div half-life), so the per-(user, date)
    * cents sum is a SUFFICIENT STATISTIC. The standing state is a
    * daily table (users × active-days rows — metadata-sized next to
    * the event corpus), today's arrivals fold in ADDITIVELY at the
    * same grain, and the score recomputes from the folded daily table
    * under the NEW as-of date without rescanning history — the same
    * shape q42 gives KMV sketches (mergeable state + exact refold).
    *
    * Grain contract: e31 scores at DAILY grain — the micro-floor
    * divide applies to each (user, date) bucket's summed cents, not
    * per event. That per-day floor is precisely what makes the daily
    * table sufficient (a per-event floor would need the events), and
    * it is applied identically in both engines via e30's portable
    * encoding: the [[E30Pow2]] literal weight table, magnitude
    * division with the sign reapplied, floor(x·100 + 0.5) cents.
    *
    * Scale shape: the day-1 build collapses the corpus map-side to
    * (user, date) grain and writes it bucketed on the FULL fold key
    * (user_id, d) ([[graft.sources.LayoutOps.stateBuckets]]); day-2
    * folds by q50Fold's discipline — a full-outer join in which the
    * standing side plans ZERO exchange (the delta repartitions to the
    * table's actual bucket spec) — so the daily write moves only the
    * delta, never the standing table (a union + re-groupBy would
    * re-shuffle ALL of it every day). The score pass is a 1-row as-of
    * broadcast + 62-row weight broadcast + a partial-aggregated
    * groupBy(user) whose exchange carries users-sized partials.
    * ScaleSpec pins ≤ 2 events scans, the standing table in the plan,
    * and the standing side exchange-free. */
  def e31DecayedDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val ev = events(spark, dir)
    val isNew = pmod(md5Long(concat($"event_id".cast("string"), lit(":e31"))),
      lit(5L)) === 0L
    val dayT = graft.sources.LayoutOps.stateTable("graft_state_e31_daily", dir)
    if (!spark.catalog.tableExists(dayT))
      graft.sources.LayoutOps.writeBucketed(
        e31Daily(ev.filter(!isNew)), dayT, Seq("user_id", "d"),
        graft.sources.LayoutOps.stateBuckets(spark))
    val delta = ev.filter(isNew)
    // the as-of date from the fold's INPUTS, not its output: deriving
    // it from the folded frame would re-run the whole join a second
    // time for a 1-row max (plan-audited), while the inputs need only
    // two single-column scans — identical by construction, since the
    // full-outer fold's day set IS the union of its inputs' day sets
    val asof = spark.table(dayT).select($"d")
      .unionByName(delta.select(to_date($"ts").as("d")))
      .agg(max($"d").as("asof"))
    e31Score(e31Fold(dayT, delta), Some(asof))
  }

  /** The delta-only fold: full-outer join of the bucketed standing
    * daily table with the delta's daily partials, co-partitioned on
    * the table's actual bucket spec so the standing side plans zero
    * exchange — additive sums merge by coalesce (q50Fold's shape). */
  private[graft] def e31Fold(dayT: String, delta: DataFrame): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    spark.table(dayT)
      .select($"user_id", $"d",
        $"n_ev".as("n_old"), $"day_cents".as("c_old"))
      .join(e31Daily(delta)
          .select($"user_id", $"d",
            $"n_ev".as("n_new"), $"day_cents".as("c_new"))
          .repartition(graft.sources.LayoutOps.tableBuckets(spark, dayT),
            $"user_id", $"d"),
        Seq("user_id", "d"), "full_outer")
      .select($"user_id", $"d",
        (coalesce($"n_old", lit(0L)) + coalesce($"n_new", lit(0L)))
          .as("n_ev"),
        (coalesce($"c_old", lit(0L)) + coalesce($"c_new", lit(0L)))
          .as("day_cents"))
  }

  /** The sufficient statistic: exact integer cents + event counts at
    * (user, date) grain — additive, so day-2 folds by plain re-sum.
    * `private[graft]`: [[graft.streaming.StreamOps]]' decay maintainer
    * folds micro-batches through the same core. */
  private[graft] def e31Daily(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.select($"user_id", to_date($"ts").as("d"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"user_id", $"d")
      .agg(count(lit(1)).as("n_ev"), sum($"cents").as("day_cents"))
  }

  /** e30's portable decay applied to a (user_id, d, n_ev, day_cents)
    * daily frame — planted fold-vs-from-scratch specs and the
    * streaming maintainer's serve path enter here. `asofOverride`
    * supplies a pre-computed 1-row (asof DATE) frame when deriving it
    * from `dailyF` itself would recompute an expensive plan twice. */
  private[graft] def e31Score(dailyF: DataFrame,
      asofOverride: Option[DataFrame] = None): DataFrame = {
    val spark = dailyF.sparkSession
    import spark.implicits._
    val asof = asofOverride // provably one row either way
      .getOrElse(dailyF.agg(max($"d").as("asof")))
    val pow2 = E30Pow2.toDF("k", "pow2")
    dailyF.crossJoin(broadcast(asof))
      .withColumn("k", expr(s"datediff(asof, d) div $E30HalfLifeDays"))
      .join(broadcast(pow2), Seq("k"), "left")
      .withColumn("dm", when($"k" > E30MaxK, lit(0L))
        .otherwise(when($"day_cents" < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("(abs(day_cents) * 1000000) div pow2")))
      .groupBy($"user_id")
      // decimal(38,0) accumulators, BIGINT surface — e30's discipline
      .agg(sum($"n_ev").cast("long").as("n_events"),
        sum($"day_cents".cast("decimal(38,0)")).cast("long").as("total_cents"),
        sum($"dm".cast("decimal(38,0)")).cast("long").as("score_micro"))
      .orderBy($"user_id")
  }

  // The oracle is the FROM-SCRATCH daily-grain decay over all events
  // (standing ∪ delta = everything): the fold must be indistinguishable
  // from a full rebuild — integer sums make the equality exact.
  val e31DecayedDay2Sql: String = {
    val pow2Rows = E30Pow2
      .map { case (k, p) => s"($k, CAST($p AS BIGINT))" }.mkString(", ")
    s"""WITH p(k, pow2) AS (VALUES $pow2Rows),
       |daily AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d,
       |    COUNT(*) AS n_ev,
       |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS day_cents
       |  FROM events GROUP BY 1, 2),
       |mx AS (SELECT MAX(d) AS as_of FROM daily),
       |e AS (
       |  SELECT user_id, n_ev, day_cents,
       |    date_diff('day', d, as_of) // $E30HalfLifeDays AS k
       |  FROM daily, mx),
       |d2 AS (
       |  SELECT user_id, n_ev, day_cents,
       |    CASE WHEN e.k > $E30MaxK THEN 0
       |         ELSE (CASE WHEN day_cents < 0 THEN -1 ELSE 1 END)
       |           * ((abs(day_cents) * 1000000) // p.pow2)
       |    END AS dm
       |  FROM e LEFT JOIN p ON e.k = p.k)
       |SELECT user_id, CAST(SUM(n_ev) AS BIGINT) AS n_events,
       |  CAST(SUM(CAST(day_cents AS HUGEINT)) AS BIGINT) AS total_cents,
       |  CAST(SUM(CAST(dm AS HUGEINT)) AS BIGINT) AS score_micro
       |FROM d2 GROUP BY 1
       |ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------- e32
  /** INCREMENTAL sessionization — e3's 30-minute-gap sessions with a
    * day-2 story. Sessions are the canonical NON-ADDITIVE windowed
    * state: a new event does not just increment a group, it can EXTEND
    * a standing session, OPEN a new one, or MERGE two standing sessions
    * into one (a bridge event landing in the > 30 min gap between
    * them) — so no per-group additive fold exists, and the naive
    * refresh re-sessionizes the whole corpus.
    *
    * The incremental algorithm rests on a connectivity argument. Treat
    * each event as a point; two events chain into one session iff
    * consecutive gaps are ≤ G. A standing session is an interval
    * [s, e] whose internal gaps are all ≤ G, and distinct standing
    * sessions of a user are > G apart BY CONSTRUCTION. Then for a new
    * point p: (a) p inside [s−G, e+G] is within G of one of the
    * session's events (inside the span, the events tile it with gaps
    * ≤ G; outside, the nearest event IS the span endpoint) — connected;
    * (b) two standing sessions never connect directly (gap > G), only
    * through a bridging new point. So a 1-D sweep over {standing
    * intervals} ∪ {new points} sorted by start, merging whenever
    * start ≤ runningMaxEnd + G, reproduces EXACTLY the from-scratch
    * session partition — and only for users that actually received new
    * events. Session stats recombine exactly: counts add, endpoints
    * are min/max of member endpoints.
    *
    * Scale shape: the standing session table is users×sessions rows —
    * metadata-sized next to the event corpus — bucketed on user_id;
    * the delta's touched-user semi/anti split co-partitions against it
    * with the standing side planning ZERO exchange (delta users
    * repartition to the table's actual bucket spec), untouched users'
    * sessions pass through untouched, and only touched users (the
    * delta's user set, not the corpus's) re-sweep — per-user window
    * work over per-user-session rows. A full re-sessionize would
    * re-shuffle every EVENT; the fold moves only sessions of users
    * that changed. */
  def e32SessionsDay2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val ev = events(spark, dir)
    val isNew = pmod(md5Long(concat($"event_id".cast("string"), lit(":e32"))),
      lit(5L)) === 0L
    val sessT = graft.sources.LayoutOps.stateTable("graft_state_e32_sessions", dir)
    if (!spark.catalog.tableExists(sessT))
      graft.sources.LayoutOps.writeBucketed(
        e32Sessions(ev.filter(!isNew)), sessT, Seq("user_id"),
        graft.sources.LayoutOps.stateBuckets(spark))
    e32Fold(sessT, ev.filter(isNew))
  }

  private[operators] val E32GapUs = 30L * 60 * 1000000

  /** Standing-state shape: per-user session INTERVALS (start/end in
    * epoch micros — both are event timestamps) + member count. */
  private[graft] def e32Sessions(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val us = unix_micros($"ts")
    ev.withColumn("prev_us", lag(us, 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_us".isNull || us - $"prev_us" > E32GapUs, 1).otherwise(0))
      .withColumn("sid", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min(us).as("start_us"), max(us).as("end_us"),
        count(lit(1)).as("n_events"))
      .select($"user_id", $"start_us", $"end_us", $"n_events")
  }

  /** The touched-users-only fold at the QUERY shape. */
  private[graft] def e32Fold(sessT: String, delta: DataFrame): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    val (resw, untouched) = e32MergedParts(sessT, delta)
    e32Shape(resw).unionByName(e32Shape(untouched))
      .orderBy($"user_id", $"sess_id")
  }

  /** (user_id, start_us, end_us, n_events) → the query/serve shape:
    * per-user sess_id rank + duration. Applied per BRANCH in the fold
    * (branch user sets are disjoint, so ranks equal a global window)
    * so untouched standing sessions ride their bucketing instead of a
    * post-union re-hash; applied once over the bucketed snapshot in
    * the streaming maintainer's serve. */
  private[graft] def e32Shape(sessions: DataFrame): DataFrame = {
    val spark = sessions.sparkSession
    import spark.implicits._
    sessions
      .withColumn("sess_id", row_number().over(
        Window.partitionBy($"user_id").orderBy($"start_us")).cast("long"))
      .select($"user_id", $"sess_id", $"n_events",
        ($"end_us" - $"start_us").as("dur_us"))
  }

  /** The sweep core shared by the batch day-2 query and the streaming
    * session maintainer: (re-swept touched users, untouched pass-
    * through), both at the STATE shape — the maintainer unions and
    * writes them as the next epoch's snapshot, the query shapes each
    * branch. */
  private[graft] def e32MergedParts(sessT: String,
      delta: DataFrame): (DataFrame, DataFrame) = {
    val spark = delta.sparkSession
    import spark.implicits._
    val standing = spark.table(sessT)
    val users = delta.select($"user_id").distinct()
      .repartition(graft.sources.LayoutOps.tableBuckets(spark, sessT),
        $"user_id")
    val touched = standing.join(users, Seq("user_id"), "left_semi")
    val untouched = standing.join(users, Seq("user_id"), "left_anti")
    val points = delta
      .select($"user_id", unix_micros($"ts").as("start_us"),
        unix_micros($"ts").as("end_us"), lit(1L).as("n_events"))
    val byUser = Window.partitionBy($"user_id")
      .orderBy($"start_us", $"end_us")
    // running max end over PRECEDING items: merge iff this item starts
    // within G of anything already swept (transitivity via the max)
    val cumEnd = max($"end_us").over(
      byUser.rowsBetween(Window.unboundedPreceding, -1))
    val resw = touched.unionByName(points)
      .withColumn("new_sess",
        when(cumEnd.isNull || $"start_us" > cumEnd + E32GapUs, 1).otherwise(0))
      .withColumn("sid", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"start_us").as("start_us"), max($"end_us").as("end_us"),
        sum($"n_events").as("n_events"))
      .select($"user_id", $"start_us", $"end_us", $"n_events")
    (resw, untouched)
  }

  // The oracle is e3's from-scratch sessionization over ALL events
  // (standing ∪ delta = everything), at the fold's output shape: the
  // merge must be indistinguishable from a full re-sessionize.
  val e32SessionsDay2Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      |  FROM flagged)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |  CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
      |FROM sess
      |GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_id""".stripMargin

  // ---------------------------------------------------------------- e34
  /** DECREMENTAL sessionization — event retraction (GDPR erasure,
    * bot-traffic purges), the direction e32's interval state cannot
    * express: deleting an event can SPLIT a session (the two
    * half-sessions around a removed bridge event are suddenly > gap
    * apart), and an interval [s, e] carries no information about where
    * the split lands. The sufficient statistic for deletion is the
    * session's EVENT-TIME MULTISET, so e34's standing state extends
    * e32's rows with a sorted `ts_list` (bounded by events-per-session
    * — human activity inside one 30-minute-gap window, never
    * corpus-sized).
    *
    * The retract is q52's detect-affected + bounded-recompute
    * discipline at session grain: deletions name their users; ONLY
    * those users' sessions explode back to (user, time, weight) rows,
    * subtract the deletion multiset EXACTLY (weight = copies present −
    * copies deleted, so duplicate timestamps retract one-for-one), and
    * re-sweep — splits fall out naturally, and deletion can never
    * MERGE sessions (removing events never shrinks a gap), so
    * untouched users pass through verbatim. q41's read-only IVM rule:
    * the fold never persists, so a replayed read cannot double-delete.
    *
    * Scale shape: standing sessions bucketed on user_id; the
    * touched/untouched semi/anti split probes them in place
    * (spec-pinned); the explode + re-sweep shuffle carries only the
    * DELETION-TOUCHED users' events, never the corpus; per-branch
    * sess_id ranks exactly as e32. */
  def e34SessionsRetract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val ev = events(spark, dir)
    val isDel = pmod(md5Long(concat($"event_id".cast("string"), lit(":e34"))),
      lit(6L)) === 0L
    val sessT = graft.sources.LayoutOps.stateTable("graft_state_e34_sessions", dir)
    if (!spark.catalog.tableExists(sessT))
      graft.sources.LayoutOps.writeBucketed(
        e34Sessions(ev), sessT, Seq("user_id"),
        graft.sources.LayoutOps.stateBuckets(spark))
    e34Retract(sessT,
      ev.filter(isDel).select($"user_id", unix_micros($"ts").as("us")))
  }

  /** e32's standing sessions plus the per-session sorted event-time
    * multiset — the extra column that makes deletion expressible. */
  private[graft] def e34Sessions(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val us = unix_micros($"ts")
    ev.withColumn("prev_us", lag(us, 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_us".isNull || us - $"prev_us" > E32GapUs, 1).otherwise(0))
      .withColumn("sid", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min(us).as("start_us"), max(us).as("end_us"),
        count(lit(1)).as("n_events"),
        sort_array(collect_list(us)).as("ts_list"))
      .select($"user_id", $"start_us", $"end_us", $"n_events", $"ts_list")
  }

  /** Touched-users-only retraction: e35's mixed fold with no adds — the
    * deletion feed (user_id, us) enters the ±1 ledger at −1, so a
    * subtraction is exact per copy, spurious deletions are no-ops and
    * a user whose every event is deleted vanishes, exactly as a
    * from-scratch build over the surviving corpus drops them. */
  private[graft] def e34Retract(sessT: String, del: DataFrame): DataFrame =
    e35Upsert(sessT, del.limit(0), del)

  // The oracle is the from-scratch sessionization over the SURVIVING
  // corpus (events minus the md5-picked deletions — the same 60-bit
  // pick, driver-proven by q52): the retract must be indistinguishable
  // from rebuilding without the deleted events.
  val e34SessionsRetractSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val kept =
      "NOT (" + sqlMd5Long("CAST(event_id AS VARCHAR) || ':e34'") + " % 6 = 0)"
    s"""WITH kept AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us
       |  FROM events WHERE $kept),
       |flagged AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN LAG(us) OVER w IS NULL
       |           OR us - LAG(us) OVER w > $E32GapUs
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |sess AS (
       |  SELECT user_id, us,
       |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
       |  FROM flagged)
       |SELECT user_id, sess_id, COUNT(*) AS n_events,
       |  CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
       |FROM sess
       |GROUP BY user_id, sess_id
       |ORDER BY user_id, sess_id""".stripMargin
  }

  // ---------------------------------------------------------------- e33
  /** Daily GROWTH ACCOUNTING — the user-base decomposition every
    * product/analytics stack reports: for each day, how many active
    * users are NEW (first day ever), RETAINED (also active the day
    * before), RESURRECTED (active before, but not yesterday), and how
    * many CHURNED INTO this day (active yesterday, silent now). The
    * streams reconcile: actives(D) = new + retained + resurrected, and
    * actives(D−1) − retained(D) = churned(D) — the standard
    * growth-accounting identity (weekly/monthly reports are this exact
    * query at a coarser index; the testdata spans one month, so the
    * gated grain is daily).
    *
    * Engine-exactness: days are the INTEGER epoch-day index
    * (datediff from 1970-01-01) — lag/lead comparisons and the churn
    * day (di + 1) are pure int arithmetic, no interval/date-add
    * construct (whose calendar semantics vary across engines)
    * anywhere. Churn past the observation window's last active day is
    * not counted (nothing can be said about a day after the data
    * ends).
    *
    * Scale shape: one distinct to (user, day) grain — corpus-sized
    * shuffle ONCE, partial-aggregated — then every window runs over
    * per-user day sequences, and the report is a days-sized full-outer
    * join of two tiny aggregates. Nothing after the first distinct
    * touches event rows. */
  def e33GrowthAccounting(spark: SparkSession, dir: String): DataFrame =
    e33From(events(spark, dir))

  /** e33 over any (user_id, ts) frame — planted lifecycle specs enter
    * here. */
  private[operators] def e33From(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val um = ev
      .select($"user_id",
        datediff(to_date($"ts"), lit("1970-01-01").cast("date"))
          .cast("int").as("di"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"di")
    val maxDi = um.agg(max($"di").as("max_di"))
    val flagged = um
      .withColumn("prev", lag($"di", 1).over(w))
      .withColumn("next", lead($"di", 1).over(w))
    val act = flagged.groupBy($"di")
      .agg(sum(when($"prev".isNull, 1).otherwise(0)).as("n_new"),
        sum(when($"prev" === $"di" - 1, 1).otherwise(0)).as("n_retained"),
        sum(when($"prev".isNotNull && $"prev" < $"di" - 1, 1).otherwise(0))
          .as("n_resurrected"))
    val churn = flagged.crossJoin(broadcast(maxDi))
      .filter(($"next".isNull || $"next" > $"di" + 1) &&
        $"di" + 1 <= $"max_di")
      .select(($"di" + 1).as("di"))
      .groupBy($"di").agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("di"), "full_outer")
      .select($"di",
        coalesce($"n_new", lit(0L)).as("n_new"),
        coalesce($"n_retained", lit(0L)).as("n_retained"),
        coalesce($"n_resurrected", lit(0L)).as("n_resurrected"),
        coalesce($"n_churned", lit(0L)).as("n_churned"))
      .orderBy($"di")
  }

  val e33GrowthAccountingSql: String =
    """WITH um AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS INT) AS di
      |  FROM events),
      |mx AS (SELECT MAX(di) AS max_di FROM um),
      |flagged AS (
      |  SELECT user_id, di,
      |    LAG(di) OVER w AS prev, LEAD(di) OVER w AS next
      |  FROM um WINDOW w AS (PARTITION BY user_id ORDER BY di)),
      |act AS (
      |  SELECT di,
      |    CAST(SUM(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(SUM(CASE WHEN prev = di - 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev < di - 1
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM flagged GROUP BY di),
      |churn AS (
      |  SELECT di + 1 AS di, COUNT(*) AS n_churned
      |  FROM flagged, mx
      |  WHERE (next IS NULL OR next > di + 1) AND di + 1 <= max_di
      |  GROUP BY di + 1)
      |SELECT COALESCE(act.di, churn.di) AS di,
      |  COALESCE(n_new, 0) AS n_new,
      |  COALESCE(n_retained, 0) AS n_retained,
      |  COALESCE(n_resurrected, 0) AS n_resurrected,
      |  COALESCE(n_churned, 0) AS n_churned
      |FROM act FULL OUTER JOIN churn ON act.di = churn.di
      |ORDER BY di""".stripMargin

  // ---------------------------------------------------------------- e35
  /** BIDIRECTIONAL session maintenance — one fold applying a mixed
    * change batch (insertions AND retractions) to standing sessions,
    * completing the e32 (insert-only) / e34 (delete-only) pair into
    * the general CDC contract a session store actually faces: a batch
    * interleaves new activity with GDPR erasures, and the two interact
    * (an insert can bridge the gap a deletion just opened, a deletion
    * can split the session an insert just extended).
    *
    * Correctness reduces to one observation: the per-user surviving
    * event-time MULTISET determines the session partition exactly (the
    * gap rule reads only sorted times), and e34's ts_list state IS
    * that multiset. The fold therefore never reasons about the
    * insert/delete interaction at all: touched users' sessions explode
    * to weighted time rows, the batch folds in as +1 (adds) / −1
    * (dels) weight deltas, surviving rows (weight > 0) re-sweep — the
    * same 1-D sweep both parents use — and untouched users pass
    * through verbatim (their multiset is unchanged; neither direction
    * can affect another user's gaps). A delete of an event added in
    * the SAME batch cancels to weight 0 before the sweep ever sees it.
    *
    * Scale shape: standing sessions bucketed on user_id, probed in
    * place by the touched/untouched semi/anti split (spec-pinned); the
    * explode + re-sweep shuffle carries only batch-touched users'
    * events; q41's read-only rule — the fold never persists, so
    * replayed reads cannot double-apply (the PERSISTING variant is
    * streaming maintainer #13, [[graft.streaming.StreamOps]], which
    * adds the processed-id guard). */
  def e35SessionsUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val ev = events(spark, dir)
    val h = pmod(md5Long(concat($"event_id".cast("string"), lit(":e35"))),
      lit(7L))
    val isNew = h === 0L
    val isDel = h === 1L
    val sessT = graft.sources.LayoutOps.stateTable("graft_state_e35_sessions", dir)
    if (!spark.catalog.tableExists(sessT))
      graft.sources.LayoutOps.writeBucketed(
        e34Sessions(ev.filter(!isNew)), sessT, Seq("user_id"),
        graft.sources.LayoutOps.stateBuckets(spark))
    // one corpus scan for the whole change batch: adds and dels are
    // each referenced twice downstream (the touched-user set and the
    // weight ledger), and deriving them separately re-ran the events
    // scan + md5 coin once per reference (r16-opt plan audit: 8 scans
    // in one fold plan). The batch is the CDC input — small by the
    // operator's own premise — so an eager checkpoint pins it and
    // every downstream reference reads the materialized rows.
    val batch = ev.filter(isNew || isDel)
      .select($"user_id", unix_micros($"ts").as("us"), isNew.as("is_add"))
      .localCheckpoint()
    e35Upsert(sessT,
      batch.filter($"is_add").select($"user_id", $"us"),
      batch.filter(!$"is_add").select($"user_id", $"us"))
  }

  /** The mixed fold at the query shape. */
  private[graft] def e35Upsert(sessT: String, adds: DataFrame,
      dels: DataFrame): DataFrame = {
    val spark = adds.sparkSession
    import spark.implicits._
    val (resw, untouched) = e35MergedParts(sessT, adds, dels)
    e32Shape(resw).unionByName(e32Shape(untouched))
      .orderBy($"user_id", $"sess_id")
  }

  /** The fold core shared by the batch query and streaming maintainer
    * #13: (re-swept touched users, untouched pass-through), BOTH at
    * e34's ts_list STATE shape so the maintainer can union and write
    * them as the next epoch's snapshot — the written multiset is the
    * exact multiset of surviving events, which re-establishes this
    * fold's own premise for the next batch (the inductive step).
    * Deletes must causally follow the insert they retract (the CDC
    * contract); a delete with no matching surviving copy is a no-op,
    * never a negative weight (the `w > 0` filter drops every time
    * whose ledger sum is zero or below). */
  private[graft] def e35MergedParts(sessT: String, adds: DataFrame,
      dels: DataFrame): (DataFrame, DataFrame) = {
    val spark = adds.sparkSession
    import spark.implicits._
    val standing = spark.table(sessT)
    val users = adds.select($"user_id").unionByName(dels.select($"user_id"))
      .distinct()
      .repartition(graft.sources.LayoutOps.tableBuckets(spark, sessT),
        $"user_id")
    val touched = standing.join(users, Seq("user_id"), "left_semi")
    val untouched = standing.join(users, Seq("user_id"), "left_anti")
    (e35Resweep(touched, adds, dels), untouched)
  }

  /** The weight ledger + re-sweep over one set of touched state rows
    * and a batch's ± deltas — [[e35MergedParts]] supplies the
    * semi-probed standing rows; maintainer #13's bootstrap supplies an
    * EMPTY frame (the first batch sweeps its own adds minus its own
    * dels). Output at the ts_list STATE shape.
    *
    * One ±1 ledger (standing copies and adds +1, dels −1) is shuffled
    * ONCE on user_id; the (user_id, us) weight sum, both windows and
    * the session group-by all ride that partitioning, so the fold plans
    * a single exchange. */
  private[graft] def e35Resweep(touched: DataFrame, adds: DataFrame,
      dels: DataFrame): DataFrame = {
    val spark = touched.sparkSession
    import spark.implicits._
    val remaining = touched
      .select($"user_id", explode($"ts_list").as("us"), lit(1L).as("d"))
      .unionByName(adds.select($"user_id", $"us", lit(1L).as("d")))
      .unionByName(dels.select($"user_id", $"us", lit(-1L).as("d")))
      .repartition($"user_id")
      .groupBy($"user_id", $"us").agg(sum($"d").as("w"))
      .filter($"w" > 0)
    val byUser = Window.partitionBy($"user_id").orderBy($"us")
    remaining
      .withColumn("prev", lag($"us", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev".isNull || $"us" - $"prev" > E32GapUs, 1).otherwise(0))
      .withColumn("sid", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("start_us"), max($"us").as("end_us"),
        sum($"w").as("n_events"),
        sort_array(flatten(collect_list(
          array_repeat($"us", $"w".cast("int"))))).as("ts_list"))
      .select($"user_id", $"start_us", $"end_us", $"n_events", $"ts_list")
  }

  /** The ts_list state schema maintainer #13's bootstrap needs for its
    * empty day-0 frame. */
  private[graft] val E35StateSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("user_id", LongType), StructField("start_us", LongType),
      StructField("end_us", LongType), StructField("n_events", LongType),
      StructField("ts_list", ArrayType(LongType))))
  }

  // The oracle is the from-scratch sessionization over the NET corpus
  // — all events except the md5-picked deletions (the inserts are
  // events too, just withheld from day-1 state): the mixed fold must
  // be indistinguishable from rebuilding over what survives.
  val e35SessionsUpsertSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    val kept =
      "NOT (" + sqlMd5Long("CAST(event_id AS VARCHAR) || ':e35'") + " % 7 = 1)"
    s"""WITH kept AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us
       |  FROM events WHERE $kept),
       |flagged AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN LAG(us) OVER w IS NULL
       |           OR us - LAG(us) OVER w > $E32GapUs
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |sess AS (
       |  SELECT user_id, us,
       |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
       |  FROM flagged)
       |SELECT user_id, sess_id, COUNT(*) AS n_events,
       |  CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
       |FROM sess
       |GROUP BY user_id, sess_id
       |ORDER BY user_id, sess_id""".stripMargin
  }

  // ---------------------------------------------------------------- e36
  /** CUSUM CHANGEPOINT detection — Page's sequential test over each
    * user's daily engagement series, the ONSET-of-shift question e15's
    * per-point z-score cannot answer (a level shift spread over many
    * mildly-elevated days never trips a point test, but its cumulative
    * excess is unbounded). Page 1954 is public; the two-sided test
    * keeps S⁺ᵢ = max(0, S⁺ᵢ₋₁ + yᵢ) and S⁻ᵢ = max(0, S⁻ᵢ₋₁ − yᵢ) over
    * drift-adjusted residuals yᵢ = xᵢ − k and alarms when either
    * exceeds a threshold h.
    *
    * The recurrences look inherently sequential, but both telescope
    * into window primitives: S⁺ᵢ = cumᵢ − min(0, min_{j≤i} cumⱼ) and
    * S⁻ᵢ = max(0, max_{j≤i} cumⱼ) − cumᵢ where cum is the running sum
    * of y — one cumulative sum plus running extrema, all inside one
    * per-user ordered window. Everything is INTEGER (cents via the
    * q56/q62 floor discipline; drift k = per-user mean daily cents
    * rounded down by integer division; h = 4k, four average days of
    * accumulated excess), so both engines agree bit-for-bit — no
    * float accumulation order to diverge on.
    *
    * Output: each user whose series alarms, the first alarm day per
    * the earlier-crossing direction (tie → up), and both peak
    * statistics. Scale shape: one map-side-partial collapse to
    * (user, day) grain, one per-user window pass, one users-sized
    * aggregate — no corpus-sized join anywhere; at 100 TB the only
    * corpus-sized exchange is the daily-grain partial agg. */
  def e36ChangepointCusum(spark: SparkSession, dir: String): DataFrame =
    e36From(events(spark, dir))

  /** [[e36ChangepointCusum]] over an arbitrary (user_id, ts, value)
    * frame — planted-series and recurrence-fuzz specs enter here. */
  private[graft] def e36From(ev: DataFrame): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val daily = ev
      .select($"user_id",
        datediff(to_date($"ts"), lit("1970-01-01").cast("date")).as("di"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy($"user_id", $"di").agg(sum($"cents").as("x"))
    val wu = Window.partitionBy($"user_id")
    val ord = Window.partitionBy($"user_id").orderBy($"di")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cur = daily
      .withColumn("tot", sum($"x").over(wu))
      .withColumn("n", count(lit(1)).over(wu))
      .withColumn("k", expr("tot div n"))
      .withColumn("cum", sum($"x" - $"k").over(ord))
      .withColumn("sp", $"cum" - least(lit(0L), min($"cum").over(ord)))
      .withColumn("sm", greatest(lit(0L), max($"cum").over(ord)) - $"cum")
    cur.groupBy($"user_id")
      .agg(
        min(when($"sp" > lit(E36HMult) * $"k", $"di")).as("first_up"),
        min(when($"sm" > lit(E36HMult) * $"k", $"di")).as("first_dn"),
        max($"sp").as("peak_up"),
        max($"sm").as("peak_down"))
      .filter($"first_up".isNotNull || $"first_dn".isNotNull)
      .select($"user_id",
        when($"first_dn".isNull ||
            ($"first_up".isNotNull && $"first_up" <= $"first_dn"), "up")
          .otherwise("down").as("direction"),
        least(coalesce($"first_up", $"first_dn"),
          coalesce($"first_dn", $"first_up")).as("change_di"),
        $"peak_up", $"peak_down")
      .orderBy($"user_id")
  }

  /** Alarm threshold as a multiple of the per-user mean daily cents —
    * h = 4k alarms on four average-days of accumulated one-sided
    * excess (91/150 users at sf0.01; 2k alarms everyone, 8k no one). */
  private[graft] val E36HMult = 4L

  val e36ChangepointCusumSql: String =
    s"""WITH daily AS (
      |  SELECT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
      |      AS INT) AS di,
      |    CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |cur AS (
      |  SELECT user_id, di,
      |    CAST(CAST(SUM(x) OVER u AS BIGINT)
      |      // CAST(COUNT(*) OVER u AS BIGINT) AS BIGINT) AS k,
      |    SUM(x) OVER w AS raw_cum
      |  FROM daily
      |  WINDOW u AS (PARTITION BY user_id),
      |         w AS (PARTITION BY user_id ORDER BY di
      |               ROWS UNBOUNDED PRECEDING)),
      |adj AS (
      |  SELECT user_id, di, k,
      |    CAST(raw_cum AS BIGINT)
      |      - k * CAST(ROW_NUMBER() OVER w AS BIGINT) AS cum
      |  FROM cur
      |  WINDOW w AS (PARTITION BY user_id ORDER BY di
      |               ROWS UNBOUNDED PRECEDING)),
      |s AS (
      |  SELECT user_id, di, k,
      |    cum - LEAST(CAST(0 AS BIGINT), MIN(cum) OVER w) AS sp,
      |    GREATEST(CAST(0 AS BIGINT), MAX(cum) OVER w) - cum AS sm
      |  FROM adj
      |  WINDOW w AS (PARTITION BY user_id ORDER BY di
      |               ROWS UNBOUNDED PRECEDING)),
      |det AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN sp > $E36HMult * k THEN di END) AS first_up,
      |    MIN(CASE WHEN sm > $E36HMult * k THEN di END) AS first_dn,
      |    CAST(MAX(sp) AS BIGINT) AS peak_up,
      |    CAST(MAX(sm) AS BIGINT) AS peak_down
      |  FROM s GROUP BY user_id)
      |SELECT user_id,
      |  CASE WHEN first_dn IS NULL
      |         OR (first_up IS NOT NULL AND first_up <= first_dn)
      |       THEN 'up' ELSE 'down' END AS direction,
      |  CAST(LEAST(COALESCE(first_up, first_dn),
      |             COALESCE(first_dn, first_up)) AS INT) AS change_di,
      |  peak_up, peak_down
      |FROM det
      |WHERE first_up IS NOT NULL OR first_dn IS NOT NULL
      |ORDER BY user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e1_hourly_agg"  -> (e1HourlyAgg _),
    "e2_json_extract" -> (e2JsonExtract _),
    "e3_sessionize"  -> (e3Sessionize _),
    "e4_sliding_window" -> (e4SlidingWindow _),
    "e5_asof_join"   -> (e5AsofJoin _),
    "e6_range_join"  -> (e6RangeJoin _),
    "e7_variant"     -> (e7Variant _),
    "e8_gapfill"     -> (e8GapFill _),
    "e9_minmax_by"   -> (e9MinMaxBy _),
    "e10_funnel"     -> (e10Funnel _),
    "e11_retention"  -> (e11Retention _),
    "e12_histogram"  -> (e12Histogram _),
    "e13_json_parse_once" -> (e13JsonParseOnce _),
    "e14_transitions" -> (e14Transitions _),
    "e15_anomaly"    -> (e15Anomaly _),
    "e16_simpson"    -> (e16SimpsonDiversity _),
    "e17_gini"       -> (e17GiniActivity _),
    "e18_cms_heavy"  -> (e18CmsHeavy _),
    "e19_hopping_distinct" -> (e19HoppingDistinct _),
    "e20_pattern_match" -> (e20PatternMatch _),
    "e21_attribution" -> (e21Attribution _),
    "e22_interval_coverage" -> (e22IntervalCoverage _),
    "e23_top_paths"  -> (e23TopPaths _),
    "e24_cohort_ltv" -> (e24CohortLtv _),
    "e25_conversion_latency" -> (e25ConversionLatency _),
    "e26_pivot_matrix" -> (e26PivotMatrix _),
    "e27_unpivot_long" -> (e27UnpivotLong _),
    "e28_streaks" -> (e28Streaks _),
    "e29_rfm_segments" -> (e29RfmSegments _),
    "e30_decayed_engagement" -> (e30DecayedEngagement _),
    "e31_decayed_day2" -> (e31DecayedDay2 _),
    "e32_sessions_day2" -> (e32SessionsDay2 _),
    "e33_growth_accounting" -> (e33GrowthAccounting _),
    "e34_sessions_retract" -> (e34SessionsRetract _),
    "e35_sessions_upsert" -> (e35SessionsUpsert _),
    "e36_changepoint_cusum" -> (e36ChangepointCusum _),
  )

  def oracles: Map[String, String] = Map(
    "e1_hourly_agg"  -> e1HourlyAggSql,
    "e2_json_extract" -> e2JsonExtractSql,
    "e3_sessionize"  -> e3SessionizeSql,
    "e4_sliding_window" -> e4SlidingWindowSql,
    "e5_asof_join"   -> e5AsofJoinSql,
    "e6_range_join"  -> e6RangeJoinSql,
    "e7_variant"     -> e7VariantSql,
    "e8_gapfill"     -> e8GapFillSql,
    "e9_minmax_by"   -> e9MinMaxBySql,
    "e10_funnel"     -> e10FunnelSql,
    "e11_retention"  -> e11RetentionSql,
    "e12_histogram"  -> e12HistogramSql,
    "e13_json_parse_once" -> e13JsonParseOnceSql,
    "e14_transitions" -> e14TransitionsSql,
    "e15_anomaly"    -> e15AnomalySql,
    "e16_simpson"    -> e16SimpsonDiversitySql,
    "e17_gini"       -> e17GiniActivitySql,
    "e18_cms_heavy"  -> e18CmsHeavySql,
    "e19_hopping_distinct" -> e19HoppingDistinctSql,
    "e20_pattern_match" -> e20PatternMatchSql,
    "e21_attribution" -> e21AttributionSql,
    "e22_interval_coverage" -> e22IntervalCoverageSql,
    "e23_top_paths"  -> e23TopPathsSql,
    "e24_cohort_ltv" -> e24CohortLtvSql,
    "e25_conversion_latency" -> e25ConversionLatencySql,
    "e26_pivot_matrix" -> e26PivotMatrixSql,
    "e27_unpivot_long" -> e27UnpivotLongSql,
    "e28_streaks" -> e28StreaksSql,
    "e29_rfm_segments" -> e29RfmSegmentsSql,
    "e30_decayed_engagement" -> e30DecayedEngagementSql,
    "e31_decayed_day2" -> e31DecayedDay2Sql,
    "e32_sessions_day2" -> e32SessionsDay2Sql,
    "e33_growth_accounting" -> e33GrowthAccountingSql,
    "e34_sessions_retract" -> e34SessionsRetractSql,
    "e35_sessions_upsert" -> e35SessionsUpsertSql,
    "e36_changepoint_cusum" -> e36ChangepointCusumSql,
  )
}
