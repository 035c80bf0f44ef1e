package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** The relational graph operators' driver arms: the shared bounded
  * probe and dense id index, and the bounded-hop path family — q54
  * (hop counts) and q55 (weighted costs), both computed by one bounded
  * Bellman-Ford engine, q54 at unit weight. Each arm pair is forced
  * output-identical, the planted graphs pin the relaxation, the hop
  * bound and the unit weight, and the standing bucketed adjacency's
  * superstep round is pinned exchange-free on its |E|-sized side. */
class RelationalSpec extends AnyFunSuite {
  import graft.SharedSpark._

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def digest(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  /** Planted weighted graph, encoded as baskets (edge weight = number
    * of baskets holding exactly that pair; support threshold 2):
    *
    *  - 1—2 (w=2), 2—5 (w=2), 1—5 (w=5): the 2-hop path 1→2→5 costs 4,
    *    BEATING the direct hop-1 edge of cost 5 — the relaxation BFS
    *    cannot express (hop-1 would freeze 5 at cost 5).
    *  - 5—6 (w=2): dist(6) = 6 via the cheap path, not 7 via direct.
    *  - an 8-edge chain 1—10—11—…—17 (w=2 each): 16 and 17 sit 7 and 8
    *    hops out — PAST the PathMaxHops=6 budget — and must be absent
    *    even though finite-cost paths to them exist. */
  private def plantedPl = {
    import spark.implicits._
    def edge(u: Long, v: Long, w: Int, base: Long) =
      (0 until w).flatMap(k => Seq((base + k, u), (base + k, v)))
    val chain = Seq(1L -> 10L, 10L -> 11L, 11L -> 12L, 12L -> 13L,
      13L -> 14L, 14L -> 15L, 15L -> 16L, 16L -> 17L)
    (edge(1L, 2L, 2, 100L) ++ edge(2L, 5L, 2, 200L) ++
      edge(1L, 5L, 5, 300L) ++ edge(5L, 6L, 2, 400L) ++
      chain.zipWithIndex.flatMap { case ((u, v), i) =>
        edge(u, v, 2, 1000L + i * 10)
      }).toDF("o", "p")
  }

  // ------------------------------------------------ driver-arm helpers

  test("collectAtMost returns at most bound rows from one job, None " +
      "past the bound; sortedDistinct is the sorted distinct id index") {
    import spark.implicits._
    val ten = spark.range(0, 10, 1, 1).select($"id", ($"id" * 2).as("x"))
    var got: Option[Array[(Long, Long)]] = None
    val jobs = graft.SparkJobs.during(spark) {
      got = DedupOps.collectAtMost[(Long, Long)](ten, 10)
    }
    assert(jobs == 1)
    assert(got.map(_.toSeq) == Some((0L until 10L).map(i => (i, 2 * i))))
    assert(DedupOps.collectAtMost[(Long, Long)](ten, 9).isEmpty)
    assert(DedupOps.collectAtMost[(Long, Long)](ten.limit(0), 0)
      .map(_.length) == Some(0))
    assert(DedupOps.sortedDistinct(Array(5L, -1L, 5L, 3L, -1L)).toSeq ==
      Seq(-1L, 3L, 5L))
    assert(DedupOps.sortedDistinct(Array.empty[Long]).isEmpty)
  }

  // ------------------------------------------------------------- q55

  test("q55: cheaper-but-longer path wins; hop budget excludes " +
      "finite-cost nodes past it (driver arm)") {
    val got = digest(RelationalOps.q55From(plantedPl))
    // dist: 1→0, {2,10}→2, {5,11}→4 (5 improved from the direct 5),
    // {6,12}→6, 13→8, 14→10, 15→12; 16/17 absent (7 and 8 hops)
    assert(got == Seq(
      Seq(0L, 1L, 1L, 0L),
      Seq(2L, 2L, 12L, 0L),
      Seq(4L, 2L, 16L, 0L),
      Seq(6L, 2L, 18L, 0L),
      Seq(8L, 1L, 13L, 0L),
      Seq(10L, 1L, 14L, 0L),
      Seq(12L, 1L, 15L, 0L)))
  }

  test("q55: superstep arm is output-identical to the driver arm on " +
      "the planted graph") {
    assert(digest(RelationalOps.q55From(plantedPl, driverBound = 0)) ==
      digest(RelationalOps.q55From(plantedPl)))
  }

  test("q55: both arms agree on the real co-purchase graph") {
    import spark.implicits._
    val pl = graft.Tables(spark, sf, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      .localCheckpoint()
    try
      assert(digest(RelationalOps.q55From(pl, driverBound = 0)) ==
        digest(RelationalOps.q55From(pl)))
    finally DedupOps.unpersistCheckpointed(pl)
  }

  // ------------------------------------------------------------- q54

  test("q54: driver arm equals the superstep arm; planted chain gives " +
       "the exact hop profile") {
    import spark.implicits._
    // chain 1-2-…-9 (each edge planted with support 2 via two 2-item
    // baskets) plus a disconnected pair (10, 11): from src = 1, nodes
    // 2..7 sit at hops 1..6, 8/9 are beyond the bound, 10/11 unreachable
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (8L, 9L), (10L, 11L))
    val pl = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((i * 2 + 1000L, a), (i * 2 + 1000L, b),
          (i * 2 + 1001L, a), (i * 2 + 1001L, b))
    }.toDF("o", "p")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val driver = rows(RelationalOps.q54From(pl))
    val superstep = rows(RelationalOps.q54From(pl, driverBound = 0))
    assert(driver == (0 to 6).map(h => (h, 1L, (h + 1).toLong, 0L)),
      s"hop profile wrong: $driver")
    assert(driver == superstep, "the two BFS arms diverged")
    // the weighted planted graph: q54 REPLACES the weights by 1, it does
    // not use them — node 5 sits at hop 1 over the direct edge (hop 1 =
    // {2, 5, 10}, ids summing to 17), where q55 puts it at cost 4 over
    // two hops (cost 4 = {5, 11}, ids summing to 16)
    val wDriver = rows(RelationalOps.q54From(plantedPl))
    assert(wDriver == Seq((0, 1L, 1L, 0L), (1, 3L, 17L, 0L),
      (2, 2L, 17L, 0L), (3, 1L, 12L, 0L), (4, 1L, 13L, 0L),
      (5, 1L, 14L, 0L), (6, 1L, 15L, 0L)),
      s"unit-weight hop profile wrong: $wDriver")
    assert(digest(RelationalOps.q55From(plantedPl))
      .contains(Seq(4L, 2L, 16L, 0L)))
    assert(rows(RelationalOps.q54From(plantedPl, driverBound = 0)) ==
      wDriver, "the two BFS arms diverged on the weighted graph")
  }

  test("q54: both arms agree on the real co-purchase graph") {
    import spark.implicits._
    val pl = graft.Tables(spark, sf, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(RelationalOps.q54From(pl)) ==
      rows(RelationalOps.q54From(pl, driverBound = 0)))
  }

  // ------------------------------------- standing bucketed adjacency

  test("q54/q55: a superstep round over the standing adjacency is " +
      "shuffle-hash with the bucketed edges side exchange-free") {
    import spark.implicits._
    val und = RelationalOps.q54Adjacency(spark, sf)
    val f = Seq((1L, 0L)).toDF("id", "cost")
    // q54's round is q55's round over the unit-weight projection
    for ((round, name) <- Seq(
        (RelationalOps.q55Round(
          und.select($"a", $"b", lit(1L).as("w")), f), "q54"),
        (RelationalOps.q55Round(und, f), "q55"))) {
      val shjs = physical(round).collect { case j: ShuffledHashJoinExec => j }
      assert(shjs.size == 1,
        s"$name: expected one shuffle-hash superstep join, got " +
          s"${shjs.size}:\n${physical(round)}")
      val clean = shjs.forall(j => Seq(j.left, j.right).exists(s =>
        s.toString.contains("graft_state_q54_adj") &&
          !s.toString.contains("Exchange")))
      assert(clean,
        s"$name: standing adjacency side is not exchange-free:\n${shjs.head}")
    }
  }

  test("q54/q55: standing-table arms are output-identical to the " +
      "from-scratch cores on the real table") {
    import spark.implicits._
    val pl = graft.Tables(spark, sf, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    assert(digest(RelationalOps.q54ShortestPaths(spark, sf)) ==
      digest(RelationalOps.q54From(pl)))
    assert(digest(RelationalOps.q55WeightedPaths(spark, sf)) ==
      digest(RelationalOps.q55From(pl)))
  }
}
