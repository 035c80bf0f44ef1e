package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact interpolated percentiles via distributed selection.
  *
  * Spark's built-in `percentile` buffers every value of the group in an
  * in-memory counts map per aggregation buffer — at 100 TB a single hot
  * group OOMs the executor. And the obvious distributed-exact
  * formulation (rank every row with a per-group window sort) funnels
  * each group through ONE task — memory-safe but serial per group.
  * This operator does neither: it is a THRESHOLD-SELECTION pass (the
  * same shape as p5's stratified quota):
  *
  *  1. Every row gets an order-aligned bucket: the top [[CutBits]] bits
  *     of [[graft.functions.DoubleSortKey]] — a pure per-row bit
  *     projection of the value, monotone with the double's sort order,
  *     so buckets are contiguous value ranges with no data-dependent
  *     boundary choice.
  *  2. One map-side-partial hash aggregate histograms (group, bucket);
  *     a running sum over that metadata-sized frame locates, for each
  *     requested rank, the bucket containing it and the exact count of
  *     rows before that bucket.
  *  3. ONLY rows in needed buckets are ranked — and the rank window
  *     partitions by (group, BUCKET), so the sort is bucket-local:
  *     parallel across buckets, expected n/2^CutBits rows per task no
  *     matter how large the group. Global rank = rows-before-bucket +
  *     local rank; rows in all other buckets are never sorted at all.
  *
  * Equal values share a bucket by construction (the key is a function
  * of the value, -0.0 normalized), so bucket-local ranking reproduces
  * the global ranking exactly; a group of all-identical values
  * degenerates to one bucket — correct, just unparallelized, like any
  * selection algorithm on a constant stream.
  *
  * The positions frame (`need`) carries #groups × #fractions × 2 rows.
  * It is joined WITHOUT a broadcast hint: AQE broadcasts it at runtime
  * when it is actually small, and falls back to a shuffle join when the
  * key space is high-cardinality — an unconditional `broadcast(need)`
  * would pin an unbounded frame to the driver at 100× scale.
  *
  * Interpolation is the lerp form `v_lo*(1-w) + v_hi*w` — the same
  * floating-point expression DuckDB's `quantile_cont` evaluates, so
  * results are bit-identical to the oracle. (Spark's builtin uses
  * `v_lo + (v_hi-v_lo)*w`, which differs by 1 ulp on some inputs.)
  */
object PercentileOps {

  // 20 bits = sign + 11 exponent + 8 mantissa bits. The mantissa bits
  // matter: real columns (prices, quantities) often span only a few
  // exponents, so a prefix that stopped at the exponent would yield ~8
  // effective buckets and a sliver of n/8; eight mantissa bits give
  // ~256 sub-buckets per exponent. Histogram cardinality stays bounded
  // by min(distinct values, 2^20) per group — raise further at extreme
  // group sizes.
  private val CutBits = 20

  /** Per-group exact percentiles of `value` at `fractions`, grouped by
    * the composite key `keys`. Returns (keys..., frac, pct) in long form
    * — one row per group×fraction. NULL values are ignored (like DuckDB
    * `quantile_cont` and Spark's builtin `percentile`): they are
    * excluded from both the ranking and the count n.
    *
    * ORACLE CAVEAT: a group whose values are ALL NULL yields no rows
    * here, but DuckDB's `quantile_cont ... GROUP BY` emits a
    * (key, NULL) row for it — an oracle compared on NULL-bearing data
    * must filter NULLs before grouping (`WHERE value IS NOT NULL`). */
  def exactPercentiles(df: DataFrame, keys: Seq[String], value: String,
                       fractions: Seq[Double]): DataFrame = {
    // internal working columns carry a __pct_ prefix so caller key names
    // can never collide with (or be shadowed by) them; the output columns
    // `frac`/`pct` are the one reserved part of the contract
    require(!keys.exists(k => k == "frac" || k == "pct" || k.startsWith("__pct_")),
      s"exactPercentiles: key names $keys collide with output/internal columns " +
        "(reserved: frac, pct, __pct_*)")
    val kcols: Seq[Column] = keys.map(col)
    val rows = df.select(kcols :+ col(value).cast("double").as("__pct_v"): _*)
      .filter(col("__pct_v").isNotNull)
      .withColumn("__pct_b",
        shiftright(call_function("double_sort_key", col("__pct_v")), 64 - CutBits))
    // (group, bucket) histogram → per-bucket cumulative count, the
    // exact count of rows BEFORE each bucket, and the group total n —
    // the running and full-frame sums share one window partitioning, so
    // both ride the SAME exchange + sort (no extra shuffle for n). The
    // frame is tiny (≤ |groups| × min(distinct values, 2^CutBits)
    // rows) at any data size.
    val histW = Window.partitionBy(kcols: _*)
    val cum = rows.groupBy(kcols :+ col("__pct_b"): _*)
      .agg(count(lit(1)).as("__pct_c"))
      .withColumn("__pct_cum",
        sum(col("__pct_c")).over(histW.orderBy(col("__pct_b"))))
      .withColumn("__pct_n", sum(col("__pct_c")).over(histW))
      .withColumn("__pct_cb", col("__pct_cum") - col("__pct_c"))
    // 0-based position p0 = frac*(n-1); rows lo=floor(p0)+1 and lo+1
    // (clamped to n) bracket it; wt is the upper-row weight. One row
    // per group comes free from the cum frame (its first bucket,
    // __pct_cb = 0) — no separate count aggregate. Duplicate (lo, hi)
    // rows when lo == n are harmless: the final max() aggregation is
    // duplicate-insensitive, so no dedup shuffle either.
    val need = cum.filter(col("__pct_cb") === 0)
      .select(kcols :+ col("__pct_n") :+
        explode(array(fractions.map(lit): _*)).as("frac"): _*)
      .withColumn("__pct_p0", col("frac") * (col("__pct_n") - 1).cast("double"))
      .withColumn("__pct_lo", floor(col("__pct_p0")).cast("long") + 1)
      .withColumn("__pct_wt", col("__pct_p0") - floor(col("__pct_p0")))
      .select(kcols ++ Seq(col("frac"), col("__pct_lo"), col("__pct_wt"),
        explode(array(col("__pct_lo"),
          least(col("__pct_lo") + 1, col("__pct_n")))).as("__pct_rn")): _*)
    // which bucket holds each needed global rank, and how many rows
    // precede that bucket — a join between two metadata-sized frames
    val needBuckets = need.select(kcols :+ col("__pct_rn"): _*)
      .join(cum, keys)
      .filter(col("__pct_cb") < col("__pct_rn") &&
              col("__pct_rn") <= col("__pct_cum"))
      .select(kcols ++ Seq(col("__pct_b"), col("__pct_cb")): _*)
      .distinct()
    // rank ONLY the needed buckets' rows; the sort partition is
    // (group, bucket) — bucket-local, parallel, bounded
    val ranked = rows.join(needBuckets, keys :+ "__pct_b")
      .withColumn("__pct_rn",
        col("__pct_cb") + row_number().over(
          Window.partitionBy(kcols :+ col("__pct_b"): _*).orderBy(col("__pct_v"))))
    ranked.join(need, keys :+ "__pct_rn")
      .groupBy(kcols :+ col("frac"): _*)
      .agg(
        max(when(col("__pct_rn") === col("__pct_lo"), col("__pct_v"))).as("__pct_vlo"),
        max(when(col("__pct_rn") =!= col("__pct_lo"), col("__pct_v"))).as("__pct_vhi"),
        max(col("__pct_wt")).as("__pct_w"))
      .select(kcols ++ Seq(col("frac"),
        (col("__pct_vlo") * (lit(1.0) - col("__pct_w")) +
          coalesce(col("__pct_vhi"), col("__pct_vlo")) * col("__pct_w")).as("pct")): _*)
  }

  /** Single-key convenience form. */
  def exactPercentiles(df: DataFrame, key: String, value: String,
                       fractions: Seq[Double]): DataFrame =
    exactPercentiles(df, Seq(key), value, fractions)
}
