package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.EngineFns._

/** The operators composed end-to-end: what a user actually runs nightly
  * over a raw crawl. Quality filter (t3's heuristic) → exact dedup
  * keep-first (d1's signature) → set-normalized near-dup keep-best (d2's
  * signature, d7's selection) → per-language funnel report. One query,
  * one oracle — proof the pieces compose without driver-side glue.
  *
  * Scale shape: both dedup stages are hash aggregates on fixed-width md5
  * signatures carrying only narrow columns (doc_id, lang, counts) — the
  * document text never rides a shuffle (`min_by`/`max_by` aggregates
  * replace window sorts, so there is no per-group sort either). The
  * funnel stats are three partial-aggregated group-bys on `lang`
  * (5 groups) left-joined at the end. Everything between the two
  * signature shuffles is map-side.
  */
object PipelineOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")

  // ---------------------------------------------------------------- p1
  /** Per-language funnel of the prep pipeline:
    * (n_input, n_good, n_exact_kept, n_final_kept, total_tokens). */
  def p1PrepPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val nTok = size(toks)
    val nStop = size(filter(toks, tk => tk.isInCollection(TextOps.stopwords)))
    val base = docs(spark, dir)
      .select($"doc_id", $"lang", $"text", $"n_chars",
        nTok.as("n_tokens"), permille(nStop, nTok).as("stop_milli"))
      // t3's "good" bucket, as one predicate
      .withColumn("good",
        $"n_tokens" >= 20 && $"stop_milli" <= 150 && $"stop_milli" >= 10)
    val quality = base.filter($"good")
      .select($"doc_id", $"lang", $"n_chars", $"n_tokens",
        md5($"text".cast("binary")).as("sig"),
        md5(concat_ws(" ", array_sort(array_distinct(tokens($"text"))))
          .cast("binary")).as("nsig"))
    // exact dedup, keep lowest doc_id: one hash agg on the 32-byte sig
    val k1 = quality.groupBy($"sig")
      .agg(min_by(struct($"nsig", $"lang", $"n_chars", $"n_tokens", $"doc_id"),
        $"doc_id").as("r"))
      .select($"r.*")
    // near-dup keep-best (d7 semantics): longest doc, tie lowest doc_id
    val k2 = k1.groupBy($"nsig")
      .agg(max_by(struct($"lang", $"n_tokens", $"doc_id"),
        struct($"n_chars", $"doc_id" * -1)).as("r"))
      .select($"r.*")
    val aggIn = base.groupBy($"lang").agg(
      count(lit(1)).as("n_input"),
      sum(when($"good", 1L).otherwise(0L)).as("n_good"))
    val agg1 = k1.groupBy($"lang").agg(count(lit(1)).as("n_exact_kept"))
    val agg2 = k2.groupBy($"lang").agg(
      count(lit(1)).as("n_final_kept"),
      sum($"n_tokens".cast("long")).as("total_tokens"))
    aggIn.join(agg1, Seq("lang"), "left").join(agg2, Seq("lang"), "left")
      .select($"lang", $"n_input", $"n_good",
        coalesce($"n_exact_kept", lit(0L)).as("n_exact_kept"),
        coalesce($"n_final_kept", lit(0L)).as("n_final_kept"),
        coalesce($"total_tokens", lit(0L)).as("total_tokens"))
      .orderBy($"lang")
  }

  val p1PrepPipelineSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, lang, text, n_chars,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '),
       |                         tk -> tk IN (${TextOps.stopwordsSql}))) AS INT) AS n_stop
       |  FROM documents),
       |flagged AS (
       |  SELECT doc_id, lang, text, n_chars, n_tokens,
       |    (n_tokens >= 20
       |     AND ${sqlPermille("n_stop", "n_tokens")} <= 150
       |     AND ${sqlPermille("n_stop", "n_tokens")} >= 10) AS good
       |  FROM s),
       |quality AS (
       |  SELECT doc_id, lang, n_chars, n_tokens,
       |    md5(text) AS sig,
       |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS nsig
       |  FROM flagged WHERE good),
       |k1 AS (
       |  SELECT nsig, lang, n_chars, n_tokens, doc_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
       |    FROM quality)
       |  WHERE rn = 1),
       |k2 AS (
       |  SELECT lang, n_tokens, doc_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY nsig ORDER BY n_chars DESC, doc_id) AS rn2
       |    FROM k1)
       |  WHERE rn2 = 1),
       |agg_in AS (
       |  SELECT lang, COUNT(*) AS n_input,
       |    CAST(SUM(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS n_good
       |  FROM flagged GROUP BY lang),
       |agg1 AS (SELECT lang, COUNT(*) AS n_exact_kept FROM k1 GROUP BY lang),
       |agg2 AS (
       |  SELECT lang, COUNT(*) AS n_final_kept,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
       |  FROM k2 GROUP BY lang)
       |SELECT i.lang, i.n_input, i.n_good,
       |  COALESCE(a1.n_exact_kept, 0) AS n_exact_kept,
       |  COALESCE(a2.n_final_kept, 0) AS n_final_kept,
       |  COALESCE(a2.total_tokens, 0) AS total_tokens
       |FROM agg_in i
       |LEFT JOIN agg1 a1 ON i.lang = a1.lang
       |LEFT JOIN agg2 a2 ON i.lang = a2.lang
       |ORDER BY i.lang""".stripMargin

  // ---------------------------------------------------------------- p2
  /** Deterministic stratified sampling + train/val/test split: every doc
    * gets two INDEPENDENT md5 buckets (different salt strings), one
    * deciding stratified keep (downsample the dominant `en` stratum to
    * 10%, others to 50% — corpus rebalancing) and one deciding the
    * 80/10/10 split. Hash-based, so membership is a pure function of
    * doc_id: reproducible across runs, clusters and engines, no RNG
    * state, no shuffle — the whole query is one map-side projection
    * (+ output sort). This is how a 100 TB corpus is split: any worker
    * can answer "which split is doc X in" without coordination. */
  def p2HashSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sampleB = pmod(md5Long($"doc_id".cast("string")), lit(1000L))
    val splitB  = pmod(md5Long(concat($"doc_id".cast("string"), lit(":split"))),
                       lit(1000L))
    docs(spark, dir)
      .select($"doc_id", $"lang",
        sampleB.as("sample_bucket"), splitB.as("split_bucket"))
      .withColumn("kept",
        $"sample_bucket" < when($"lang" === "en", 100).otherwise(500))
      .withColumn("split",
        when($"split_bucket" < 800, "train")
          .when($"split_bucket" < 900, "val")
          .otherwise("test"))
      .orderBy($"doc_id")
  }

  val p2HashSampleSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 1000 AS sample_bucket,
       |    ${sqlMd5Long("CAST(doc_id AS VARCHAR) || ':split'")} % 1000 AS split_bucket
       |  FROM documents)
       |SELECT doc_id, lang, sample_bucket, split_bucket,
       |  sample_bucket < CASE WHEN lang = 'en' THEN 100 ELSE 500 END AS kept,
       |  CASE WHEN split_bucket < 800 THEN 'train'
       |       WHEN split_bucket < 900 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p3
  /** Context-window chunking: split each document into overlapping
    * token windows (window 50, stride 40 ⇒ overlap 10), the prep step
    * that turns variable-length documents into model-sized pieces. Chunk
    * count is 1 + ceil((n-50)/40) so the tail is always covered (the
    * last window starts early enough to reach the final token). Explode
    * of a computed index range + `slice` — per-row generative work that
    * stays inside whole-stage codegen; no shuffle (+ output sort). The
    * chunk rides as its md5 signature, not text, so output width is
    * fixed. */
  def p3ChunkWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 50
    val S = 40
    val toks = tokens($"text")
    val n = size(toks)
    val lastIdx = when(n <= W, 0)
      .otherwise(floor((n - W + (S - 1)).cast("double") / S).cast("int"))
    docs(spark, dir)
      .select($"doc_id", toks.as("toks"), n.as("n_tok"),
        explode(sequence(lit(0), lastIdx)).as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        ($"chunk_id" * S + 1).as("chunk_start"),
        slice($"toks", $"chunk_id" * S + 1, lit(W)).as("chunk"))
      .select($"doc_id", $"chunk_id", $"chunk_start",
        size($"chunk").as("n_chunk_tokens"),
        md5(concat_ws(" ", $"chunk").cast("binary")).as("chunk_sig"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val p3ChunkWindowsSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    CAST(len(string_split(text, ' ')) AS INT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks, n_tok, CAST(k AS INT) AS chunk_id
      |  FROM t, UNNEST(generate_series(0,
      |    CASE WHEN n_tok <= 50 THEN 0
      |         ELSE CAST(FLOOR((n_tok - 50 + 39) / 40.0) AS INT) END)) AS u(k))
      |SELECT doc_id, chunk_id,
      |  chunk_id * 40 + 1 AS chunk_start,
      |  CAST(len(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50]) AS INT)
      |    AS n_chunk_tokens,
      |  md5(array_to_string(toks[chunk_id * 40 + 1 : chunk_id * 40 + 50], ' '))
      |    AS chunk_sig
      |FROM c
      |ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------- p4
  /** Token-budget sequence packing: assign docs to training sequences of
    * ≤ ~1024 tokens by cumulative token count, in deterministic doc_id
    * order WITHIN (lang, hash-shard). The shard key bounds every window
    * partition to corpus/|langs|/|shards| — at 100 TB you raise the
    * shard count and each partition still fits one task, where a naive
    * partition-by-lang cumsum would funnel a whole language through one
    * core. A doc whose cumsum crosses the boundary goes to the bin its
    * predecessor count lands in (first-fit approximation — sequences can
    * overflow by at most one doc, the standard streaming-packing
    * tradeoff). Output is the per-sequence manifest. */
  def p4PackSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val B = 1024
    val w = Window.partitionBy($"lang", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .select($"doc_id", $"lang",
        pmod(md5Long($"doc_id".cast("string")), lit(4L)).as("shard"),
        size(tokens($"text")).as("n_tokens"))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0)))
      .withColumn("seq_id",
        floor($"cum_before".cast("double") / B).cast("long"))
      .groupBy($"lang", $"shard", $"seq_id")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens".cast("long")).as("seq_tokens"))
      .orderBy($"lang", $"shard", $"seq_id")
  }

  val p4PackSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 4 AS shard,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT lang, shard, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (
       |      PARTITION BY lang, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t)
       |SELECT lang, shard,
       |  CAST(FLOOR(cum_before / 1024.0) AS BIGINT) AS seq_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
       |FROM c
       |GROUP BY lang, shard, seq_id
       |ORDER BY lang, shard, seq_id""".stripMargin

  // ---------------------------------------------------------------- p5
  /** Exact-quota stratified sampling: EXACTLY `Quota` documents per
    * language stratum (p2's hash sampling hits a RATE in expectation;
    * rebalancing a corpus to a fixed per-language budget needs exact
    * counts). Selection is deterministic: rank within each stratum by an
    * independent md5 hash of the doc id (+ doc_id tie-break, though the
    * 60-bit hash never ties in practice) and keep the first `Quota` — a
    * pure function of the ids, reproducible across runs and engines.
    *
    * Shape at scale — THRESHOLD SELECTION, not a full-stratum sort. A
    * naive `row_number() OVER (PARTITION BY lang ORDER BY h)` funnels
    * every row of a language through ONE task; at 100 TB that is
    * billions of rows sorted on one core. Instead:
    *
    *  1. Histogram the hash's top [[CutBits]] bits per stratum — one
    *     map-side-partial hash aggregate whose result is at most
    *     |langs| × 2^CutBits rows (metadata-sized at any corpus scale).
    *  2. A running sum over that tiny frame finds, per stratum, the
    *     smallest bucket whose cumulative count reaches the quota — an
    *     EXACT cut (no sketch, no error bound): the Quota-th smallest
    *     hash provably lies at or below it. A stratum smaller than the
    *     quota has no such bucket and keeps everything (left join).
    *  3. The per-stratum cuts broadcast (≤ |langs| rows) and the corpus
    *     filters MAP-SIDE: only the boundary sliver — expected
    *     Quota + n/2^CutBits rows per stratum — reaches the rank
    *     window. Raise CutBits with scale to keep the sliver bounded
    *     (hashes are uniform, so bucket occupancy is n/2^CutBits).
    *
    * The sliver provably contains every row of global rank ≤ Quota, and
    * every row ranked below a sliver row is itself in the sliver, so
    * ranks computed on the sliver equal global ranks — the output is
    * bit-identical to the declarative window form (which remains the
    * oracle SQL). */
  private val CutBits = 12

  /** The pre-rank sliver of [[p5StratifiedQuota]]: rows at or below the
    * per-stratum histogram cut. Exposed for the ScaleSpec guard that the
    * rank window sorts only this sliver, never the full stratum. */
  private[graft] def p5Sliver(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Quota = 40
    val h = md5Long(concat($"doc_id".cast("string"), lit(":strat")))
    val base = docs(spark, dir).select($"doc_id", $"lang", h.as("h"))
    val bkt = shiftright($"h", 60 - CutBits)
    val wcum = Window.partitionBy($"lang").orderBy($"b")
    val cuts = base.groupBy($"lang", bkt.as("b")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(wcum))
      .filter($"cum" >= Quota)
      .groupBy($"lang").agg(min($"b").as("cut_b"))
    base.join(broadcast(cuts), Seq("lang"), "left")
      .filter(bkt <= coalesce($"cut_b", lit(1L << CutBits)))
      .select($"doc_id", $"lang", $"h")
  }

  def p5StratifiedQuota(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Quota = 40
    val w = Window.partitionBy($"lang").orderBy($"h".asc, $"doc_id".asc)
    p5Sliver(spark, dir)
      .withColumn("strat_rank", row_number().over(w).cast("int"))
      .filter($"strat_rank" <= Quota)
      .select($"lang", $"strat_rank", $"doc_id", $"h")
      .orderBy($"lang", $"strat_rank")
  }

  val p5StratifiedQuotaSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    ${sqlMd5Long("CAST(doc_id AS VARCHAR) || ':strat'")} AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id, h,
       |    CAST(ROW_NUMBER() OVER (
       |      PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS INT) AS strat_rank
       |  FROM b)
       |SELECT lang, strat_rank, doc_id, h
       |FROM r WHERE strat_rank <= 40
       |ORDER BY lang, strat_rank""".stripMargin

  // ---------------------------------------------------------------- p6
  /** Temperature-scaled data-mixture weights (the multilingual-corpus
    * rebalancing rule: sample language l with probability ∝ n_l^α,
    * α = 0.5): per language, its natural share, its temperature-scaled
    * target share, and the per-document acceptance rate that realizes
    * the target from a fixed 1000-doc budget. α < 1 upweights the tail —
    * low-resource languages get sampled more than their natural share,
    * the standard fix for high-resource languages drowning the mixture.
    *
    * Determinism: n^0.5 is one correctly-rounded IEEE sqrt, immediately
    * projected to floor-micro fixed point so the DENOMINATOR Σ√n is an
    * exact integer sum — order-independent, where a double sum over an
    * unordered window would depend on Spark's nondeterministic row
    * order within the partition (the hazard e15's integer Σn/Σn²
    * discipline avoids). Shares are then single divides of exact
    * integers, floor-micro'd — bit-exact on both engines. Acceptance is
    * capped at 1 (a stratum smaller than its target keeps everything;
    * realized budget then undershoots, as a real sampler would
    * report).
    *
    * Scale shape: one partial-aggregated count per language (5 rows),
    * then window math over that constant-size frame — the 100 TB input
    * contributes exactly one count shuffle; the mixture arithmetic never
    * sees data volume. */
  def p6MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val BUDGET = 1000.0
    val all = Window.partitionBy(lit(1))
    docs(spark, dir)
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("share_micro",
        micro($"n_docs" / sum($"n_docs").over(all)))
      .withColumn("wm",
        floor(lit(1000000.0) * sqrt($"n_docs".cast("double"))).cast("long"))
      .withColumn("wt", sum($"wm").over(all))
      .withColumn("ratio", $"wm".cast("double") / $"wt".cast("double"))
      .withColumn("target_micro", micro($"ratio"))
      .withColumn("accept_micro",
        least(lit(1000000L), micro(lit(BUDGET) * $"ratio" / $"n_docs")))
      .select($"lang", $"n_docs", $"share_micro", $"target_micro",
        $"accept_micro")
      .orderBy($"lang")
  }

  val p6MixtureWeightsSql: String =
    s"""WITH c AS (
       |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |w AS (
       |  SELECT lang, n_docs,
       |    n_docs / SUM(n_docs) OVER () AS share,
       |    CAST(FLOOR(1000000.0 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS wm,
       |    SUM(CAST(FLOOR(1000000.0 * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT))
       |      OVER () AS wt
       |  FROM c),
       |r AS (
       |  SELECT lang, n_docs, share,
       |    CAST(wm AS DOUBLE) / CAST(wt AS DOUBLE) AS ratio
       |  FROM w)
       |SELECT lang, n_docs,
       |  ${sqlMicro("share")} AS share_micro,
       |  ${sqlMicro("ratio")} AS target_micro,
       |  LEAST(1000000, ${sqlMicro("1000.0 * ratio / n_docs")}) AS accept_micro
       |FROM r
       |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------ registry
  // ---------------------------------------------------------------- p7
  /** Mixture-REALIZED training schedule: p6 computes the temperature-
    * scaled language weights; p7 turns them into an actual deterministic
    * interleaved order — every document gets a virtual-time slot, and
    * reading the corpus in vt order plays languages at their α=0.5
    * target rates (the mixture a trainer actually consumes, not just its
    * summary). vt = pos·10¹²/wm in pure BIGINT floor division: a
    * language with twice the weight fires twice as often per unit of
    * virtual time; ties cannot collide across langs at the same pos
    * because wm differs, and the (vt, lang, pos) sort is total.
    *
    * The in-language position is a SHARDED rank (p4's trick, the p5
    * hazard avoided): docs hash into [[ScheduleShards]] shards; per-
    * (lang, shard) row_number windows are bounded at corpus/|langs|/
    * |shards| rows, and a tiny (langs×shards) offset table — prefix sums
    * over shard sizes, broadcast — lifts shard-local ranks to the
    * lang-global position. Total order: (shard, h, doc_id), mirrored
    * verbatim in the oracle's single window. At 100 TB raise the shard
    * count and every window partition still fits one task; a naive
    * `Window.partitionBy(lang)` rank would sort billions of rows on one
    * core. The vt product pos·10¹² runs in DECIMAL(38,0) — BIGINT
    * overflows it past ~9·10⁶ docs per language — and the integral
    * divide lands back in BIGINT (vt itself ≈ pos·10⁶/√n fits longs at
    * any plausible corpus size; only the intermediate product needs the
    * lift — overflow-spec'd at a planted 10⁷-doc language). */
  private val ScheduleShards = 8L

  /** p7's schedule from any (doc_id, lang) frame — exposed for the
    * planted-cardinality overflow spec. */
  private[operators] def p7ScheduleFrom(d0: DataFrame): DataFrame = {
    val spark = d0.sparkSession
    import spark.implicits._
    val d = d0.select($"doc_id", $"lang")
      .withColumn("h", md5Long(concat($"doc_id".cast("string"), lit(":p7"))))
      .withColumn("shard", pmod($"h", lit(ScheduleShards)))
    val sizes = d.groupBy($"lang", $"shard").agg(count(lit(1)).as("n"))
    val wOff = Window.partitionBy($"lang").orderBy($"shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sizes.withColumn("off", coalesce(sum($"n").over(wOff), lit(0L)))
      .select($"lang", $"shard", $"off")
    val wIn = Window.partitionBy($"lang", $"shard").orderBy($"h", $"doc_id")
    val ranked = d.withColumn("rin", row_number().over(wIn))
      .join(broadcast(offs), Seq("lang", "shard"))
      .withColumn("pos", $"off" + $"rin")
    val wm = d0.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("wm",
        floor(lit(1000000.0) * sqrt($"n_docs".cast("double"))).cast("long"))
      .select($"lang", $"wm")
    ranked.join(broadcast(wm), Seq("lang"))
      .withColumn("vt",
        expr("CAST(pos AS DECIMAL(38,0)) * 1000000000000 DIV wm"))
      .select($"doc_id", $"lang", $"pos", $"vt")
      .orderBy($"vt", $"lang", $"pos")
  }

  def p7MixtureSchedule(spark: SparkSession, dir: String): DataFrame =
    p7ScheduleFrom(docs(spark, dir))

  val p7MixtureScheduleSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    ${sqlMd5Long("CAST(doc_id AS VARCHAR) || ':p7'")} AS h
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY h % $ScheduleShards, h, doc_id) AS pos
       |  FROM d),
       |w AS (
       |  SELECT lang,
       |    CAST(FLOOR(1000000.0 * sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS wm
       |  FROM documents GROUP BY lang)
       |SELECT r.doc_id, r.lang, CAST(r.pos AS BIGINT) AS pos,
       |  CAST((CAST(r.pos AS HUGEINT) * 1000000000000) // w.wm AS BIGINT) AS vt
       |FROM r JOIN w USING (lang)
       |ORDER BY vt, lang, pos""".stripMargin

  // ---------------------------------------------------------------- p8
  /** Incremental corpus-refresh funnel — the DAILY-INGEST pipeline
    * composed end-to-end, the incremental twin of p1's batch prep:
    * today's batch (d13's md5 coin; production swaps in the ingest
    * partition) flows through quality gate (t3's predicate) → novelty
    * vs the STANDING corpus (d13's normalized signature) → benchmark
    * decontamination (t11's 8-gram shingles vs the corpus's src0 set),
    * reported as a per-language cascade with accepted token volume.
    *
    * Scale shape: the corpus side collapses to DISTINCT fixed-width
    * signatures before its join (persist that table bucketed between
    * ingests and the daily join is exchange-free); the benchmark shingle
    * set is bounded (t11's argument) and broadcast, so decontamination
    * never shuffles the batch; every flag is computed once per batch doc
    * and the funnel is one partial-aggregated groupBy on lang. Nothing
    * document-sized rides any shuffle. */
  def p8IncrementalRefresh(spark: SparkSession, dir: String): DataFrame =
    p8Funnel(spark, dir, fromStandingState = false)

  /** Shared p8/p10 funnel body; `fromStandingState = true` is p10's
    * day-2 form — the corpus signature table is materialized once via
    * [[graft.sources.LayoutOps.writeBucketed]] and the novelty join
    * probes the catalog table (exchange-free on the corpus side, merge
    * hint for the same reason as d16: the standing side is never
    * broadcastable at 100 TB). */
  private def p8Funnel(spark: SparkSession, dir: String,
                       fromStandingState: Boolean): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val nTok = size(toks)
    val nStop = size(filter(toks, tk => tk.isInCollection(TextOps.stopwords)))
    val normSig =
      md5(concat_ws(" ", array_sort(array_distinct(toks))).cast("binary"))
    val coined = docs(spark, dir)
      .select($"doc_id", $"lang", $"source", $"text",
        nTok.as("n_tokens"), permille(nStop, nTok).as("stop_milli"),
        normSig.as("sig"),
        (pmod(md5Long(concat($"doc_id".cast("string"), lit(":d13"))),
          lit(5L)) === 0L).as("is_batch"))
    val corpusSigs =
      if (!fromStandingState)
        coined.filter(!$"is_batch")
          .select($"sig").distinct().withColumn("known", lit(1))
      else {
        val t = graft.sources.LayoutOps.stateTable("graft_state_p8_sigs", dir)
        if (!spark.catalog.tableExists(t))
          graft.sources.LayoutOps.writeBucketed(
            coined.filter(!$"is_batch")
              .select($"sig").distinct().withColumn("known", lit(1)),
            t, "sig", 8)
        spark.table(t).hint("merge")
      }
    val benchShingles = coined.filter(!$"is_batch" && $"source" === "src0")
      .select(explode(expr("ngram_hashes(text, 8)")).as("h")).distinct()
    val batch = coined.filter($"is_batch")
      .withColumn("good",
        $"n_tokens" >= 20 && $"stop_milli" <= 150 && $"stop_milli" >= 10)
    val dirty = batch
      .select($"doc_id", explode(expr("ngram_hashes(text, 8)")).as("h"))
      .join(broadcast(benchShingles), Seq("h"), "left_semi")
      .select($"doc_id").distinct().withColumn("dirty", lit(1))
    batch.join(corpusSigs, Seq("sig"), "left")
      .withColumn("novel", $"known".isNull)
      .join(dirty, Seq("doc_id"), "left")
      .withColumn("clean", $"dirty".isNull)
      .groupBy($"lang").agg(
        count(lit(1)).as("n_batch"),
        sum(when($"good", 1L).otherwise(0L)).as("n_good"),
        sum(when($"good" && $"novel", 1L).otherwise(0L)).as("n_novel"),
        sum(when($"good" && $"novel" && $"clean", 1L).otherwise(0L))
          .as("n_accepted"),
        sum(when($"good" && $"novel" && $"clean", $"n_tokens".cast("long"))
          .otherwise(0L)).as("tok_accepted"))
      .orderBy($"lang")
  }

  // --------------------------------------------------------------- p10
  /** p8's DAY-2 form: same funnel, novelty checked against the
    * PERSISTED bucketed corpus signature table instead of a same-run
    * aggregate. Output (and oracle) identical to p8 by construction. */
  def p10RefreshDay2(spark: SparkSession, dir: String): DataFrame =
    p8Funnel(spark, dir, fromStandingState = true)

  val p8IncrementalRefreshSql: String = {
    val shingle = (0 until 8).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
    s"""WITH base AS (
       |  SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    ${sqlMd5Long("CAST(doc_id AS VARCHAR) || ':d13'")} % 5 = 0 AS is_batch,
       |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS sig,
       |    ${sqlPermille(
            s"len(list_filter(string_split(text, ' '), tk -> tk IN (${TextOps.stopwordsSql})))",
            "len(string_split(text, ' '))")} AS stop_milli
       |  FROM documents),
       |corpus_sigs AS (SELECT DISTINCT sig FROM base WHERE NOT is_batch),
       |bsh AS (
       |  SELECT DISTINCT ${sqlMd5Long("g")} AS h
       |  FROM (SELECT unnest(list_distinct(list_transform(
       |          generate_series(1, greatest(len(toks) - 7, 0)),
       |          i -> $shingle))) AS g
       |        FROM base WHERE NOT is_batch AND source = 'src0')),
       |batch AS (
       |  SELECT *, (n_tokens >= 20 AND stop_milli <= 150 AND stop_milli >= 10)
       |    AS good
       |  FROM base WHERE is_batch),
       |dirty AS (
       |  SELECT DISTINCT doc_id
       |  FROM (SELECT doc_id, ${sqlMd5Long("g")} AS h
       |        FROM (SELECT doc_id, unnest(list_distinct(list_transform(
       |                generate_series(1, greatest(len(toks) - 7, 0)),
       |                i -> $shingle))) AS g
       |              FROM batch))
       |  WHERE h IN (SELECT h FROM bsh)),
       |flags AS (
       |  SELECT b.lang, b.n_tokens, b.good,
       |    b.sig NOT IN (SELECT sig FROM corpus_sigs) AS novel,
       |    b.doc_id NOT IN (SELECT doc_id FROM dirty) AS clean
       |  FROM batch b)
       |SELECT lang, COUNT(*) AS n_batch,
       |  CAST(SUM(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       |  CAST(SUM(CASE WHEN good AND novel THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN good AND novel AND clean THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_accepted,
       |  CAST(SUM(CASE WHEN good AND novel AND clean THEN n_tokens ELSE 0 END)
       |    AS BIGINT) AS tok_accepted
       |FROM flags
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------- p9
  /** Epoch-repeat schedule under data-constrained training (Muennighoff
    * et al. 2023: repeating good data up to ~4 epochs is nearly as good
    * as fresh data; junk is not worth one): per (lang, quality tier),
    * document/token volume, the tier's epoch multiplicity (good ×3,
    * stopword_heavy ×2, anything else ×1) and its share of the
    * EFFECTIVE — post-repeat — token budget within its language. Tiers
    * are t3's exact quality buckets, so the gate and the schedule agree
    * document-for-document.
    *
    * Scale shape: one partial-aggregated groupBy over (lang, tier) —
    * ≤ |langs|×4 result rows; the epoch arithmetic and the per-lang
    * share window run on that constant-size frame with integer sums
    * (order-independent), one floor-permille division at the end. The
    * 100 TB input contributes exactly one count shuffle. */
  def p9EpochSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = tokens($"text")
    val nTok = size(toks)
    val nStop = size(filter(toks, tk => tk.isInCollection(TextOps.stopwords)))
    val stopMilli = permille(nStop, nTok)
    val tier = when(nTok < 20, "too_short")
      .when(stopMilli > 150, "stopword_heavy")
      .when(stopMilli < 10, "unnatural")
      .otherwise("good")
    val perLang = Window.partitionBy($"lang")
    docs(spark, dir)
      .select($"lang", tier.as("tier"), nTok.as("n_tokens"))
      .groupBy($"lang", $"tier")
      .agg(count(lit(1)).as("n_docs"),
           sum($"n_tokens".cast("long")).as("tokens"))
      .withColumn("epochs",
        when($"tier" === "good", 3L)
          .when($"tier" === "stopword_heavy", 2L).otherwise(1L))
      .withColumn("effective_tokens", $"epochs" * $"tokens")
      .withColumn("eff_share_permille",
        permille($"effective_tokens", sum($"effective_tokens").over(perLang)))
      .orderBy($"lang", $"tier")
  }

  val p9EpochScheduleSql: String =
    s"""WITH s AS (
       |  SELECT lang,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    CAST(len(list_filter(string_split(text, ' '),
       |                         tk -> tk IN (${TextOps.stopwordsSql}))) AS INT) AS n_stop
       |  FROM documents),
       |q AS (
       |  SELECT lang, n_tokens,
       |    CASE WHEN n_tokens < 20 THEN 'too_short'
       |         WHEN ${sqlPermille("n_stop", "n_tokens")} > 150 THEN 'stopword_heavy'
       |         WHEN ${sqlPermille("n_stop", "n_tokens")} < 10 THEN 'unnatural'
       |         ELSE 'good' END AS tier
       |  FROM s),
       |a AS (
       |  SELECT lang, tier, COUNT(*) AS n_docs,
       |    CAST(SUM(n_tokens) AS BIGINT) AS tokens
       |  FROM q GROUP BY 1, 2),
       |e AS (
       |  SELECT lang, tier, n_docs, tokens,
       |    CAST(CASE tier WHEN 'good' THEN 3
       |                   WHEN 'stopword_heavy' THEN 2 ELSE 1 END AS BIGINT) AS epochs
       |  FROM a)
       |SELECT lang, tier, n_docs, tokens, epochs,
       |  CAST(epochs * tokens AS BIGINT) AS effective_tokens,
       |  ${sqlPermille("epochs * tokens",
                        "SUM(epochs * tokens) OVER (PARTITION BY lang)")} AS eff_share_permille
       |FROM e ORDER BY lang, tier""".stripMargin

  // --------------------------------------------------------------- p11
  /** Deterministic training-order shuffle: the "randomize the corpus
    * once, write sharded" job every pretraining pipeline runs between
    * curation and the data loader. Each document draws a 60-bit md5
    * position key, lands in one of [[P11Shards]] shards by key modulus,
    * and gets a dense within-shard position by (key, doc_id) — a
    * reproducible global permutation (reshuffling an epoch = changing
    * the salt), with no global total order ever materialized.
    *
    * Scale shape: the shard assignment is a map-side expression; the
    * within-shard rank is a window per shard — shard-parallel. The
    * shard count is DERIVED from the corpus (one metadata-cheap
    * parquet count, then [[p11ShardCount]]'s integer formula), so each
    * shard's window input is capped at ~[[P11TargetShardRows]] rows no
    * matter how large the corpus grows — at 100 TB the count rises
    * instead of any task sorting corpus/8 rows. The oracle computes
    * the identical formula as a scalar subquery, so both engines
    * derive the same count from the same table. The same move as p7's
    * sharded rank, pointed at loader-order instead of mixture
    * accounting. */
  private[operators] val P11TargetShardRows = 25000L

  /** ceil(nDocs / target) with an 8-shard floor — pure integer
    * arithmetic so Spark and the SQL oracle agree exactly. */
  private[operators] def p11ShardCount(nDocs: Long): Long =
    math.max(8L, (nDocs + P11TargetShardRows - 1) / P11TargetShardRows)

  def p11TrainingOrder(spark: SparkSession, dir: String): DataFrame =
    p11TrainingOrderFrom(docs(spark, dir),
      p11ShardCount(docs(spark, dir).count()))

  private[operators] def p11TrainingOrderFrom(
      d: DataFrame, shards: Long): DataFrame = {
    import d.sparkSession.implicits._
    val w = Window.partitionBy($"shard").orderBy($"h", $"doc_id")
    d.select($"doc_id",
        md5Long(concat($"doc_id".cast("string"), lit(":p11"))).as("h"))
      .withColumn("shard", pmod($"h", lit(shards)))
      .withColumn("pos", row_number().over(w))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  val p11TrainingOrderSql: String = {
    val h = sqlMd5Long("CAST(doc_id AS VARCHAR) || ':p11'")
    val t = P11TargetShardRows
    s"""WITH n AS (
       |  SELECT GREATEST(8, CAST(FLOOR((COUNT(*) + ${t - 1}.0) / $t.0)
       |                          AS BIGINT)) AS shards
       |  FROM documents),
       |keyed AS (
       |  SELECT doc_id, $h AS h,
       |    $h % (SELECT shards FROM n) AS shard
       |  FROM documents)
       |SELECT doc_id, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT)
       |    AS pos
       |FROM keyed
       |ORDER BY shard, pos""".stripMargin
  }

  // --------------------------------------------------------------- p12
  /** The WHOLE corpus-prep pipeline as one funnel: quality gate →
    * exact dedup → near dedup → benchmark decontamination → mixture
    * sampling → sequence packing → training-order sharding, reported
    * as one stage-by-stage (n_docs, n_tokens) table — the nightly
    * job's one-page answer to "where did my tokens go". Each stage is
    * the batch dual of an operator shipped standalone (t3's gate, d1/
    * d7's dedups — the derivations d16/d17 keep as standing state —
    * t11's shingle decontamination, p6's temperature mixture, p4's
    * packing, p11's shard layout), composed without driver-side glue.
    *
    * Scale shape: document text NEVER rides a shuffle (plan-guarded).
    * One text-bearing scan computes every per-doc feature map-side
    * (token/stopword counts, exact + normalized md5 signatures); the
    * persisted narrow frame (ids, counts, 32-byte sigs) is what the
    * dedup hash-aggs, the anti-join and the stage counts shuffle. The
    * decontamination side runs t11's shape: shingle hashes (60-bit
    * longs, not text) explode map-side and semi-join the broadcast
    * bench set. Mixture weights are p6's integer fixed-point over a
    * |langs|-row frame; the accept coin is a pure doc_id hash, so the
    * sampled subset is reproducible on any engine. Packing windows
    * are (lang, shard)-bounded (p4), and the final stage reports
    * p11's corpus-derived shard count without materializing the
    * permutation. */
  def p12CorpusFunnel(spark: SparkSession, dir: String): DataFrame =
    p12CorpusFunnelPlan(spark, dir, checkpoint = true)

  /** `checkpoint = false` keeps the full funnel plan inspectable for
    * the text-never-rides-a-shuffle guard (q37Plan's pattern); the
    * shipped query eagerly checkpoints the 8-row result so the finally
    * can release the narrow caches. */
  private[operators] def p12CorpusFunnelPlan(spark: SparkSession, dir: String,
                                             checkpoint: Boolean): DataFrame = {
    import spark.implicits._
    val BUDGET = 1000.0
    val toks = tokens($"text")
    val nTok = size(toks)
    val nStop = size(filter(toks, tk => tk.isInCollection(TextOps.stopwords)))
    val feat = docs(spark, dir)
      .filter($"source" =!= "src0")
      .select($"doc_id", $"lang", $"n_chars",
        nTok.as("n_tokens"), permille(nStop, nTok).as("stop_milli"),
        md5($"text".cast("binary")).as("sig"),
        md5(concat_ws(" ", array_sort(array_distinct(toks)))
          .cast("binary")).as("nsig"))
      .persist()   // narrow: the ONE text scan feeds every stage once
    val sh = docs(spark, dir)
      .select($"doc_id", $"source", explode(expr("ngram_hashes(text, 8)")).as("h"))
    val benchSet = sh.filter($"source" === "src0").select($"h").distinct()
    val contamIds = sh.filter($"source" =!= "src0")
      .join(broadcast(benchSet), Seq("h"), "left_semi")
      .select($"doc_id").distinct()
    var s5Cache: DataFrame = null
    var s6Cache: DataFrame = null
    try {
      val s2 = feat.filter(
        $"n_tokens" >= 20 && $"stop_milli" <= 150 && $"stop_milli" >= 10)
      val s3 = s2.groupBy($"sig")
        .agg(min_by(struct($"doc_id", $"lang", $"n_chars", $"n_tokens", $"nsig"),
          $"doc_id").as("r"))
        .select($"r.*")
      val s4 = s3.groupBy($"nsig")
        .agg(max_by(struct($"doc_id", $"lang", $"n_chars", $"n_tokens"),
          struct($"n_chars", $"doc_id" * -1)).as("r"))
        .select($"r.*")
      val s5 = s4.join(contamIds, Seq("doc_id"), "left_anti")
        .persist()   // feeds the mixture counts AND the coin filter
      s5Cache = s5
      // p6's temperature mixture computed over the SURVIVORS (the set a
      // sampler would actually draw from), realized by a doc_id coin
      val all = Window.partitionBy(lit(1))
      val mix = s5.groupBy($"lang").agg(count(lit(1)).as("n_l"))
        .withColumn("wm",
          floor(lit(1000000.0) * sqrt($"n_l".cast("double"))).cast("long"))
        .withColumn("wt", sum($"wm").over(all))
        .withColumn("accept_micro",
          least(lit(1000000L),
            micro(lit(BUDGET) * ($"wm".cast("double") / $"wt".cast("double"))
              / $"n_l")))
        .select($"lang", $"accept_micro")
      val s6 = s5.join(broadcast(mix), Seq("lang"))
        .filter(pmod(md5Long(concat($"doc_id".cast("string"), lit(":p12mix"))),
          lit(1000000L)) < $"accept_micro")
        .persist()   // feeds packing, the shard row and its own count
      s6Cache = s6
      val wPack = Window.partitionBy($"lang", $"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val packed = s6
        .select($"lang", $"doc_id", $"n_tokens",
          pmod(md5Long($"doc_id".cast("string")), lit(4L)).as("shard"))
        .withColumn("cum_before", coalesce(sum($"n_tokens").over(wPack), lit(0)))
        .withColumn("seq_id", floor($"cum_before".cast("double") / 1024).cast("long"))
        .groupBy($"lang", $"shard", $"seq_id")
        .agg(sum($"n_tokens".cast("long")).as("seq_tokens"))
      def stage(no: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("t"))
          .select(lit(no).as("stage_no"), lit(name).as("stage"),
            $"n_docs", coalesce($"t", lit(0L)).as("n_tokens"))
      val s7row = packed
        .agg(count(lit(1)).as("n_docs"), sum($"seq_tokens").as("t"))
        .select(lit(7).as("stage_no"), lit("packed").as("stage"),
          $"n_docs", coalesce($"t", lit(0L)).as("n_tokens"))
      // p11's integer shard formula, in-plan so no driver-side count
      val s8row = s6
        .agg(count(lit(1)).as("n"), sum($"n_tokens".cast("long")).as("t"))
        .select(lit(8).as("stage_no"), lit("training_order").as("stage"),
          greatest(lit(8L),
            floor(($"n" + (P11TargetShardRows - 1)) / P11TargetShardRows)
              .cast("long")).as("n_docs"),
          coalesce($"t", lit(0L)).as("n_tokens"))
      val out = stage(1, "input", feat)
        .unionByName(stage(2, "quality", s2))
        .unionByName(stage(3, "exact_dedup", s3))
        .unionByName(stage(4, "near_dedup", s4))
        .unionByName(stage(5, "decontaminated", s5))
        .unionByName(stage(6, "mixture_sampled", s6))
        .unionByName(s7row)
        .unionByName(s8row)
        .orderBy($"stage_no")
      // 8 rows; the eager checkpoint lets the finally release the caches
      if (checkpoint) out.localCheckpoint() else out
    } finally {
      feat.unpersist(blocking = false)
      if (s5Cache != null) s5Cache.unpersist(blocking = false)
      if (s6Cache != null) s6Cache.unpersist(blocking = false)
    }
  }

  val p12CorpusFunnelSql: String = {
    val shingle = (0 until 8).map(o => s"toks[i+$o]").mkString(" || ' ' || ")
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |    ${sqlPermille(
            s"len(list_filter(string_split(text, ' '), tk -> tk IN (${TextOps.stopwordsSql})))",
            "len(string_split(text, ' '))")} AS stop_milli,
       |    md5(text) AS sig,
       |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS nsig
       |  FROM documents WHERE source <> 'src0'),
       |q AS MATERIALIZED (
       |  SELECT * FROM f
       |  WHERE n_tokens >= 20 AND stop_milli <= 150 AND stop_milli >= 10),
       |k1 AS MATERIALIZED (
       |  SELECT doc_id, lang, n_chars, n_tokens, nsig FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
       |    FROM q)
       |  WHERE rn = 1),
       |k2 AS MATERIALIZED (
       |  SELECT doc_id, lang, n_chars, n_tokens FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY nsig ORDER BY n_chars DESC, doc_id) AS rn2
       |    FROM k1)
       |  WHERE rn2 = 1),
       |t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, source, ${sqlMd5Long("g")} AS h
       |  FROM (SELECT doc_id, source,
       |          unnest(list_distinct(list_transform(
       |            generate_series(1, greatest(len(toks) - 7, 0)),
       |            i -> $shingle))) AS g
       |        FROM t)),
       |contam AS (
       |  SELECT DISTINCT doc_id FROM sh
       |  WHERE source <> 'src0'
       |    AND h IN (SELECT h FROM sh WHERE source = 'src0')),
       |s5 AS MATERIALIZED (
       |  SELECT * FROM k2 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |mix AS (
       |  SELECT lang,
       |    LEAST(1000000, ${sqlMicro(
            "1000.0 * (CAST(wm AS DOUBLE) / CAST(wt AS DOUBLE)) / n_l")}) AS accept_micro
       |  FROM (
       |    SELECT lang, n_l,
       |      CAST(FLOOR(1000000.0 * sqrt(CAST(n_l AS DOUBLE))) AS BIGINT) AS wm,
       |      SUM(CAST(FLOOR(1000000.0 * sqrt(CAST(n_l AS DOUBLE))) AS BIGINT))
       |        OVER () AS wt
       |    FROM (SELECT lang, COUNT(*) AS n_l FROM s5 GROUP BY lang))),
       |s6 AS MATERIALIZED (
       |  SELECT s5.* FROM s5 JOIN mix USING (lang)
       |  WHERE ${sqlMd5Long("CAST(doc_id AS VARCHAR) || ':p12mix'")} % 1000000
       |        < accept_micro),
       |packed AS (
       |  SELECT lang, shard,
       |    CAST(FLOOR(cum_before / 1024.0) AS BIGINT) AS seq_id,
       |    CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
       |  FROM (
       |    SELECT lang, n_tokens,
       |      ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 4 AS shard,
       |      COALESCE(SUM(n_tokens) OVER (
       |        PARTITION BY lang, ${sqlMd5Long("CAST(doc_id AS VARCHAR)")} % 4
       |        ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |    FROM s6)
       |  GROUP BY 1, 2, 3)
       |SELECT 1 AS stage_no, 'input' AS stage, COUNT(*) AS n_docs,
       |  COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) AS n_tokens FROM f
       |UNION ALL
       |SELECT 2, 'quality', COUNT(*),
       |  COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM q
       |UNION ALL
       |SELECT 3, 'exact_dedup', COUNT(*),
       |  COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM k1
       |UNION ALL
       |SELECT 4, 'near_dedup', COUNT(*),
       |  COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM k2
       |UNION ALL
       |SELECT 5, 'decontaminated', COUNT(*),
       |  COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM s5
       |UNION ALL
       |SELECT 6, 'mixture_sampled', COUNT(*),
       |  COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM s6
       |UNION ALL
       |SELECT 7, 'packed', COUNT(*),
       |  COALESCE(CAST(SUM(seq_tokens) AS BIGINT), 0) FROM packed
       |UNION ALL
       |SELECT 8, 'training_order',
       |  GREATEST(8, CAST(FLOOR((COUNT(*) + ${P11TargetShardRows - 1}.0)
       |                         / $P11TargetShardRows.0) AS BIGINT)),
       |  COALESCE(CAST(SUM(n_tokens) AS BIGINT), 0) FROM s6
       |ORDER BY stage_no""".stripMargin
  }

  // --------------------------------------------------------------- p13
  /** Leakage-safe train/holdout split — the eval-integrity primitive a
    * per-doc coin gets WRONG: if two near-duplicate documents land on
    * opposite sides of the split, the holdout is contaminated and eval
    * loss is a lie. The split coin is therefore flipped on the
    * duplicate-GROUP representative (d8's connected-component cluster
    * id; singletons are their own group), so an entire near-dup cluster
    * moves as one unit — members of a cluster CANNOT straddle the
    * split, by construction rather than by audit.
    *
    * Scale shape: group discovery is d8's pipeline (banded LSH
    * candidates + label-propagation components — everything
    * candidate-generated, nothing all-pairs); the per-doc group join
    * shuffles only (doc_id, cluster_id) pairs, and the cluster frame is
    * LEFT UNHINTED — it is usually tiny (only docs in dup clusters)
    * but adversarially corpus-sized (q36's lesson: never force a
    * broadcast on a side that can grow with the corpus; AQE broadcasts
    * it when it measures small). The coin is the same deterministic
    * md5-mod family every sampling op here uses, so the split is
    * reproducible run to run and engine to engine. */
  def p13LeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    val clusters = DedupOps.d8DupClusters(spark, dir)
      .select($"doc_id", $"cluster_id")
    docs(spark, dir).select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("group_id"))
      .withColumn("split",
        when(pmod(md5Long(concat($"group_id".cast("string"), lit(":p13"))),
          lit(10L)) === 0L, "holdout").otherwise("train"))
      .orderBy($"doc_id")
  }

  val p13LeakageSplitSql: String = {
    import graft.functions.EngineFns.sqlMd5Long
    s"""WITH clusters AS (
       |  SELECT doc_id, cluster_id FROM (
       |    ${DedupOps.d8DupClustersSql.replaceAll("ORDER BY doc_id$", "")})),
       |grouped AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS group_id
       |  FROM documents d LEFT JOIN clusters c USING (doc_id))
       |SELECT doc_id, group_id,
       |  CASE WHEN ${sqlMd5Long("CAST(group_id AS VARCHAR) || ':p13'")} % 10 = 0
       |       THEN 'holdout' ELSE 'train' END AS split
       |FROM grouped
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- p14
  /** Curriculum-ordered training layout — the easy→hard document
    * schedule curriculum-learning pipelines feed the trainer: per doc
    * an integer difficulty score, docs cut into three difficulty TIERS
    * at exact tertiles, and within each tier p11's sharded
    * deterministic shuffle (phase p of training consumes tiers ≤ p, in
    * (shard, pos) order). The score here is the type-token ratio in
    * permille — repetitive text reads easier — but any integer per-doc
    * score plugs into the same layout.
    *
    * The scale trick is the TERTILE computation: exact quantiles
    * normally need a global sort, but a permille score lives on a
    * BOUNDED integer domain (0..1000), so its exact CDF is a ≤1001-row
    * histogram — the cumulative window runs over a metadata-sized
    * frame at ANY corpus size, and the thresholds
    * `min{q : 3·cdf(q) ≥ k·N}` are exact integer statements (the same
    * bounded-domain argument behind t19's alphabet-bounded model and
    * e12's histogram). Everything downstream is p11's machinery: hash
    * coin, corpus-derived shard count, per-(tier, shard) window whose
    * input stays ~[[P11TargetShardRows]] rows.
    *
    * Scale shape: one text scan computes scores map-side; the
    * histogram agg collapses to ≤1001 rows; thresholds broadcast back
    * as a 1-row frame; the only data-sized shuffle is the (tier,
    * shard) window — sorted per shard, spillable, bounded. */
  def p14Curriculum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = docs(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id",
        expr("(CAST(1000 AS BIGINT) * size(array_distinct(toks))) div size(toks)")
          .as("ttr_permille"))
    val n = scored.count()
    val shards = p11ShardCount(n)
    val cumW = Window.orderBy($"ttr_permille")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = scored.groupBy($"ttr_permille").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(cumW))
      .agg(
        min(when($"cum" * 3 >= n, $"ttr_permille")).as("t1"),
        min(when($"cum" * 3 >= 2 * n, $"ttr_permille")).as("t2"))
    val keyed = scored.crossJoin(broadcast(thr))
      .withColumn("tier",
        when($"ttr_permille" <= $"t1", 0)
          .when($"ttr_permille" <= $"t2", 1).otherwise(2))
      .withColumn("h", md5Long(concat($"doc_id".cast("string"), lit(":p14"))))
      .withColumn("shard", pmod($"h", lit(shards)))
    val w = Window.partitionBy($"tier", $"shard").orderBy($"h", $"doc_id")
    keyed
      .withColumn("pos", row_number().over(w))
      .select($"doc_id", $"ttr_permille", $"tier", $"shard", $"pos")
      .orderBy($"tier", $"shard", $"pos")
  }

  val p14CurriculumSql: String = {
    val h = sqlMd5Long("CAST(doc_id AS VARCHAR) || ':p14'")
    val t = P11TargetShardRows
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    (CAST(1000 AS BIGINT) * len(list_distinct(string_split(text, ' '))))
       |      // len(string_split(text, ' ')) AS ttr_permille
       |  FROM documents),
       |nn AS (SELECT COUNT(*) AS n FROM scored),
       |hist AS (SELECT ttr_permille, COUNT(*) AS c FROM scored GROUP BY 1),
       |cum AS (
       |  SELECT ttr_permille, SUM(c) OVER (ORDER BY ttr_permille) AS cum
       |  FROM hist),
       |thr AS (SELECT
       |  (SELECT MIN(ttr_permille) FROM cum WHERE 3 * cum >= (SELECT n FROM nn)) AS t1,
       |  (SELECT MIN(ttr_permille) FROM cum WHERE 3 * cum >= 2 * (SELECT n FROM nn)) AS t2),
       |sh AS (
       |  SELECT GREATEST(8, CAST(FLOOR((COUNT(*) + ${t - 1}.0) / $t.0) AS BIGINT))
       |    AS shards
       |  FROM scored),
       |keyed AS (
       |  SELECT doc_id, ttr_permille,
       |    CASE WHEN ttr_permille <= (SELECT t1 FROM thr) THEN 0
       |         WHEN ttr_permille <= (SELECT t2 FROM thr) THEN 1
       |         ELSE 2 END AS tier,
       |    $h AS h,
       |    $h % (SELECT shards FROM sh) AS shard
       |  FROM scored)
       |SELECT doc_id, ttr_permille, tier, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY tier, shard ORDER BY h, doc_id)
       |    AS INT) AS pos
       |FROM keyed
       |ORDER BY tier, shard, pos""".stripMargin
  }

  // --------------------------------------------------------------- p15
  /** k-anonymity audit — the privacy gate a training-data pipeline runs
    * before releasing a corpus with person-linked attributes. A row is
    * re-identifiable when its QUASI-IDENTIFIER combination (here
    * nation × market segment × account-balance band — the classic
    * "zip × gender × birthdate" shape) is shared by fewer than k
    * individuals: linkage with any external dataset carrying the same
    * QIs singles those rows out. The audit reports every equivalence
    * class below k = [[P15K]] — the exact set a release must suppress
    * or generalize (coarser bands) to claim k-anonymity.
    *
    * Engine-exactness: the balance band is floor(acctbal / 2000.0) on
    * the raw DOUBLE — floor agrees across engines for every sign (no
    * div-vs-`//` hazard since no integer division is involved), and
    * 2-decimal balances sit ≥ 5·10⁻⁶ band-widths from any band
    * boundary, 10 orders of magnitude beyond double error.
    *
    * Scale shape: ONE map-side-partial hash aggregate on the QI key +
    * a HAVING filter — the cheapest possible distributive shape; at
    * 100 TB the shuffle carries only (QI, partial count) pairs, and
    * the QI-class cardinality (nations × segments × bands) is tiny
    * next to the row count. */
  private[operators] val P15K = 5

  def p15KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "customer")
      .select($"c_nationkey", $"c_mktsegment",
        floor($"c_acctbal" / 2000.0).as("bal_bucket"))
      .groupBy($"c_nationkey", $"c_mktsegment", $"bal_bucket")
      .agg(count(lit(1)).as("n_rows"))
      .filter($"n_rows" < P15K)
      .orderBy($"c_nationkey", $"c_mktsegment", $"bal_bucket")
  }

  val p15KAnonymitySql: String =
    s"""SELECT c_nationkey, c_mktsegment,
       |  CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS bal_bucket,
       |  COUNT(*) AS n_rows
       |FROM customer
       |GROUP BY 1, 2, 3
       |HAVING COUNT(*) < $P15K
       |ORDER BY c_nationkey, c_mktsegment, bal_bucket""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_prep_pipeline" -> (p1PrepPipeline _),
    "p2_hash_sample"   -> (p2HashSample _),
    "p3_chunk_windows" -> (p3ChunkWindows _),
    "p4_pack_sequences" -> (p4PackSequences _),
    "p5_stratified_quota" -> (p5StratifiedQuota _),
    "p6_mixture_weights" -> (p6MixtureWeights _),
    "p7_mixture_schedule" -> (p7MixtureSchedule _),
    "p8_incremental_refresh" -> (p8IncrementalRefresh _),
    "p9_epoch_schedule" -> (p9EpochSchedule _),
    "p10_refresh_day2" -> (p10RefreshDay2 _),
    "p11_training_order" -> (p11TrainingOrder _),
    "p12_corpus_funnel" -> (p12CorpusFunnel _),
    "p13_leakage_split" -> (p13LeakageSplit _),
    "p14_curriculum" -> (p14Curriculum _),
    "p15_k_anonymity" -> (p15KAnonymity _),
  )

  def oracles: Map[String, String] = Map(
    "p1_prep_pipeline" -> p1PrepPipelineSql,
    "p2_hash_sample"   -> p2HashSampleSql,
    "p3_chunk_windows" -> p3ChunkWindowsSql,
    "p4_pack_sequences" -> p4PackSequencesSql,
    "p5_stratified_quota" -> p5StratifiedQuotaSql,
    "p6_mixture_weights" -> p6MixtureWeightsSql,
    "p7_mixture_schedule" -> p7MixtureScheduleSql,
    "p8_incremental_refresh" -> p8IncrementalRefreshSql,
    "p9_epoch_schedule" -> p9EpochScheduleSql,
    // day-2 form: result identical to p8 (corpus side materialized)
    "p10_refresh_day2" -> p8IncrementalRefreshSql,
    "p11_training_order" -> p11TrainingOrderSql,
    "p12_corpus_funnel" -> p12CorpusFunnelSql,
    "p13_leakage_split" -> p13LeakageSplitSql,
    "p14_curriculum" -> p14CurriculumSql,
    "p15_k_anonymity" -> p15KAnonymitySql,
  )
}
