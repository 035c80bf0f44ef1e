package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 specs: q54/q55 routed through the standing bucketed
  * adjacency (r13 verdict #3) — each superstep round's frontier⋈edges
  * join must plan ZERO exchange on the |E|-sized standing side, and
  * the standing-table arms must stay output-identical to the
  * from-scratch cores the planted specs pin. */
class Round14OpsSpec extends AnyFunSuite {
  import graft.SharedSpark._

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def digest(df: DataFrame) = df.collect().map(_.toSeq).toSeq

  test("q54/q55: a superstep round over the standing adjacency is " +
      "shuffle-hash with the bucketed edges side exchange-free") {
    import spark.implicits._
    val und = RelationalOps.q54Adjacency(spark, sf)
    val f54 = Seq(1L).toDF("id")
    val f55 = Seq((1L, 0L)).toDF("id", "cost")
    for ((round, name) <- Seq(
        (RelationalOps.q54Round(und.select("a", "b"), f54), "q54"),
        (RelationalOps.q55Round(und, f55), "q55"))) {
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

  // ----------------------------------------------------- q63 skyline

  /** Planted dominance CHAIN (price ↑, size ↓ ⇒ each point dominates
    * the next): layers resolve one point each — L1={1}, L2={2},
    * L3={3}; 4 and 5 sit below every stored layer. */
  private def chain = {
    import spark.implicits._
    Seq((1L, 1.0, 10), (2L, 2.0, 9), (3L, 3.0, 8), (4L, 4.0, 7),
      (5L, 5.0, 1))
      .toDF("p_partkey", "p_retailprice", "p_size")
  }

  private def keys(ks: Long*) = {
    import spark.implicits._
    ks.toDF("p_partkey")
  }

  test("q63: skylineLayers peels the planted chain one point per layer") {
    val ls = RelationalOps.skylineLayers(chain, 3)
    try assert(ls.map(l => digest(l.select("p_partkey")).map(_.head)) ==
      Seq(Seq(1L), Seq(2L), Seq(3L)))
    finally ls.foreach(DedupOps.unpersistCheckpointed)
  }

  test("q63: deleting 2 points through 2 layers is WRONG, through " +
      "k+1 = 3 layers exact — the planted case single-layer " +
      "maintenance cannot answer") {
    import spark.implicits._
    val ls = RelationalOps.skylineLayers(chain, 3)
    try {
      val d = keys(1L, 2L)
      val truth = digest(RelationalOps.q56From(
        chain.join(d, Seq("p_partkey"), "left_anti")))
      assert(truth.map(_.head) == Seq(3L))
      // 2 layers: both stored points die, the fold serves an EMPTY
      // frontier while point 3 should surface — the theorem's bound
      // |D| ≤ #layers − 1 is tight
      assert(digest(RelationalOps.q63Fold(ls.take(2), d)).isEmpty)
      // 3 layers: exact
      assert(digest(RelationalOps.q63Fold(ls, d)) == truth)
    } finally ls.foreach(DedupOps.unpersistCheckpointed)
  }

  test("q63: a full repair cycle — fold, layer rebuild, fold again — " +
      "matches from-scratch at every step") {
    import spark.implicits._
    val d1 = keys(1L, 2L)
    val live1 = chain.join(d1, Seq("p_partkey"), "left_anti")
    val ls1 = RelationalOps.skylineLayers(chain, 3)
    try assert(digest(RelationalOps.q63Fold(ls1, d1)) ==
      digest(RelationalOps.q56From(live1)))
    finally ls1.foreach(DedupOps.unpersistCheckpointed)
    // REPAIR: rebuild the true layers of the surviving corpus —
    // the amortized corpus pass that resets the deletion budget
    val ls2 = RelationalOps.skylineLayers(live1, 3)
    try {
      assert(ls2.map(l => digest(l.select("p_partkey")).map(_.head)) ==
        Seq(Seq(3L), Seq(4L), Seq(5L)))
      val d2 = keys(3L, 4L)
      assert(digest(RelationalOps.q63Fold(ls2, d2)) ==
        digest(RelationalOps.q56From(
          live1.join(d2, Seq("p_partkey"), "left_anti"))))
    } finally ls2.foreach(DedupOps.unpersistCheckpointed)
  }

  test("q63: the standing-state batch arm equals the from-scratch " +
      "skyline minus the same deletion batch on the real table") {
    import spark.implicits._
    val part = graft.Tables(spark, sf, "part")
      .select($"p_partkey", $"p_retailprice", $"p_size")
    val sky = RelationalOps.q56From(part)
    val del = sky.orderBy($"p_retailprice", $"p_partkey")
      .limit(RelationalOps.Q63Layers - 1).select($"p_partkey")
    val truth = digest(RelationalOps.q56From(
      part.join(del, Seq("p_partkey"), "left_anti")))
    assert(digest(RelationalOps.q63SkylineBatchRetract(spark, sf)) == truth)
  }

  // ----------------------------------------------------- t28 winnowing

  /** Independent winnowing oracle: brute-force gram hashing (same md5
    * 60-bit projection) + brute-force window minima — so the
    * expression's deque is checked against arithmetic, not itself. */
  private def winnowBrute(text: String, n: Int, w: Int): Set[Long] = {
    val toks = text.split(" ", -1)
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = (0 to toks.length - n)
      .map(i => toks.slice(i, i + n).mkString(" "))
    val hs = grams.map { g =>
      val d = md.digest(g.getBytes("UTF-8"))
      var acc = 0L
      for (b <- 0 until 7) acc = (acc << 8) | (d(b) & 0xffL)
      (acc << 4) | ((d(7) & 0xffL) >>> 4)
    }
    (0 to hs.length - w).map(s => hs.slice(s, s + w).min).toSet
  }

  private def words(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  test("t28: the native sliding-minimum selection equals a brute-force " +
      "winnowing oracle, and short documents yield no fingerprints") {
    import spark.implicits._
    val texts = Seq(words("a", 30), words("b", 9),
      words("c", 8), words("d", 7), "")
    val got = texts.toDF("text")
      .select(expr("winnow_hashes(text, 4, 5)").as("fps"))
      .collect().map(_.getSeq[Long](0).toSet)
    texts.zip(got).foreach { case (t, g) =>
      assert(g == winnowBrute(t, 4, 5), s"mismatch for: $t")
    }
    // < w+n-1 = 8 tokens ⇒ fewer than w gram windows ⇒ empty
    assert(got(3).isEmpty && got(4).isEmpty)
    assert(got(2).size == 1) // exactly 8 tokens = exactly one window
  }

  test("t28: documents sharing a verbatim ≥ w+n−1 token run share " +
      "fingerprints and pair up; disjoint documents never do") {
    import spark.implicits._
    val shared = words("s", 24)
    val base = Seq(
      (1L, words("x", 40) + " " + shared),
      (2L, shared + " " + words("y", 40)),
      (3L, words("z", 60))
    ).toDF("doc_id", "text")
    val out = digest(TextOps.t28From(base))
    assert(out.map(r => (r(0), r(1))) == Seq((1L, 2L)),
      s"expected exactly the planted pair, got $out")
    // the guarantee is ≥ 1 shared fingerprint per shared window; the
    // 24-token distinct-word run spans 16 windows — comfortably ≥ 2
    assert(out.head(2).asInstanceOf[Long] >= 2L)
    assert(out.head(3) == 0L) // no hot fingerprints on 3 docs
  }

  test("t28: a 300-doc boilerplate cohort is capped (bounded pairs, " +
      "honest n_capped_fps) while a rare planted pair still surfaces") {
    import spark.implicits._
    val boiler = words("tpl", 30)
    val cohort = (100L until 400L).map(id =>
      (id, boiler + " " + words(s"u$id", 10)))
    val shared = words("rare", 20)
    val planted = Seq((1L, shared + " " + words("p", 15)),
      (2L, words("q", 15) + " " + shared))
    val base = (cohort ++ planted).toDF("doc_id", "text")
    val out = digest(TextOps.t28From(base))
    // every boilerplate fingerprint has df ≈ 300 > 50 ⇒ capped away;
    // the per-doc unique tails share nothing
    assert(out.map(r => (r(0), r(1))) == Seq((1L, 2L)),
      s"cohort pairs escaped the cap: ${out.take(5)}")
    assert(out.head(3).asInstanceOf[Long] >= 1L,
      "cap fired but reported nothing")
  }

  // ------------------------------------------------------------- e30

  test("e30: planted event ages decay by exact powers of two — floor " +
      "micro arithmetic, k≥62 short-circuit, per-user decimal sums") {
    import spark.implicits._
    def ts(daysBack: Int) =
      java.sql.Timestamp.valueOf(java.time.LocalDate.of(2024, 6, 30)
        .minusDays(daysBack).atTime(12, 0))
    val ev = Seq(
      (1L, ts(0), 10.00),   // k=0: 1000 c → 1_000_000_000 µ
      (1L, ts(7), 10.00),   // k=1: halved → 500_000_000 µ
      (1L, ts(21), 10.01),  // k=3: 1001e6/8 = 125_125_000 µ
      (2L, ts(70), 0.01),   // k=10: 1e6/1024 = 976 µ (floor)
      (3L, ts(500), 5.00)   // k=71 ≥ 62 → exactly 0
    ).toDF("user_id", "ts", "value")
    val got = EventOps.e30From(ev)
      .select($"user_id", $"n_events",
        $"total_cents".cast("long"), $"score_micro".cast("long"))
      .collect().map(_.toSeq).toSeq
    assert(got == Seq(
      Seq(1L, 3L, 3001L, 1625125000L),
      Seq(2L, 1L, 1L, 976L),
      Seq(3L, 1L, 500L, 0L)))
  }

  test("t28: candidate generation is an equi-join with the hot-fp cap " +
      "structurally in the plan — never a cartesian pass") {
    import spark.implicits._
    val docsDf = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
    // checkpoint = false: the shipped form eagerly checkpoints, which
    // would collapse the inspected plan to an RDD scan
    val p = physical(TextOps.t28From(docsDf,
      TextOps.T28FpCap, checkpoint = false)).toString
    assert(!p.contains("CartesianProduct"), s"pair join degenerated:\n$p")
    assert(p.contains("LeftAnti"),
      s"hot-fp cap anti-join missing — t28 is uncapped:\n$p")
  }
}
