package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 first batch: the PPJoin prefix-filtered exact-truth join
  * (r11 verdict item #2 — the one flagged scale-killer) — exactness
  * against the unrestricted shared-gram join, and the hot-gram
  * candidate bound on a planted boilerplate corpus. */
class Round12OpsSpec extends AnyFunSuite {
  import graft.SharedSpark._

  /** The UNRESTRICTED shared-gram truth join the prefix filter
    * replaced — kept here as the reference implementation the
    * equivalence tests compare against. */
  private def naiveTruth(hs: DataFrame): DataFrame = {
    import spark.implicits._
    val g = hs.select($"doc_id", size($"hs").as("c"), explode($"hs").as("gh"))
    g.as("a").join(g.as("b"),
        $"a.gh" === $"b.gh" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"),
        $"a.c".as("ca"), $"b.c".as("cb"))
      .agg(count(lit(1)).as("inter"))
      .filter($"inter" * 10 >= ($"ca" + $"cb" - $"inter") * 6)
      .select($"i", $"j")
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("prefix truth: boilerplate gram generates ZERO candidates, " +
      "unrestricted join generates all pairs") {
    import spark.implicits._
    // 60 docs, each 10 grams: ONE gram (id 0) shared by every doc —
    // crawl boilerplate — plus 9 unique grams. Pairwise J = 1/19 < 0.6.
    val hs = (1L to 60L).map { d =>
      (d, (0L +: (1L to 9L).map(g => d * 100 + g)).toArray)
    }.toDF("doc_id", "hs")
    // the unrestricted join pays the quadratic hot-gram fan-out …
    val naiveCand = {
      val g = hs.select($"doc_id", explode($"hs").as("gh"))
      g.as("a").join(g.as("b"),
          $"a.gh" === $"b.gh" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id", $"b.doc_id").distinct().count()
    }
    assert(naiveCand == 60L * 59 / 2) // every pair collides on gram 0
    // … while the hot gram (df=60) sorts LAST in every doc's
    // rarest-first order: prefix = 10 - ceil(6) + 1 = 5 grams, all
    // unique (df=1) — the boilerplate gram reaches NO prefix, so the
    // candidate set is empty, matching the (empty) truth set exactly
    assert(DedupOps.jaccardPrefixCandidates(hs).count() == 0L)
    // the fan-out probe (Σ df·(df−1)/2 = 1770 here) picks the naive
    // arm by default; force the PREFIX arm to prove the scale path,
    // and check the probe's default agrees
    assert(DedupOps.jaccardTruthPairs(hs, fanoutBound = -1L).count() == 0L)
    assert(DedupOps.jaccardTruthPairs(hs).count() == 0L)
    assert(naiveTruth(hs).count() == 0L)
  }

  test("prefix truth: equals the unrestricted join on planted near-dups") {
    import spark.implicits._
    // doc pairs at J = 6/10 (exactly at threshold), J = 5/12 (below),
    // J = 1 (identical), plus a boilerplate gram in every doc
    val hs = Seq(
      (1L, Array(0L, 11, 12, 13, 14, 15, 16, 17)),
      (2L, Array(0L, 11, 12, 13, 14, 15, 26, 27)), // |∩|=6,|∪|=10 → 0.6 ✓
      (3L, Array(0L, 31, 32, 33, 34, 35, 36, 37)),
      (4L, Array(0L, 31, 32, 41, 42, 43, 44, 45)), // |∩|=3 → below
      (5L, Array(0L, 51, 52, 53)),
      (6L, Array(0L, 51, 52, 53)),                 // identical → 1.0 ✓
      (7L, Array(0L, 71))
    ).toDF("doc_id", "hs")
    // BOTH arms forced on the same corpus (probe-default = naive here)
    val gotPrefix = pairsOf(DedupOps.jaccardTruthPairs(hs, fanoutBound = -1L))
    val gotNaive = pairsOf(DedupOps.jaccardTruthPairs(hs,
      fanoutBound = Long.MaxValue))
    assert(gotPrefix == pairsOf(naiveTruth(hs)))
    assert(gotNaive == gotPrefix)
    assert(gotPrefix == Set((1L, 2L), (5L, 6L)))
  }

  /** Symmetric (u, v, deg_v) edge frame from an undirected pair list —
    * the planted-graph entry into [[RelationalOps.q39RankFrom]]. */
  private def q39EdgesOf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val sym = pairs.toDF("u", "v")
      .unionByName(pairs.map(p => (p._2, p._1)).toDF("u", "v"))
    val deg = sym.groupBy($"u").agg(count(lit(1)).as("deg"))
    sym.join(deg.select($"u".as("v"), $"deg".as("deg_v")), Seq("v"))
      .select($"u", $"v", $"deg_v")
  }

  private def ranked(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Int])

  test("q39: driver arm equals the superstep arm on a planted graph " +
      "(both arms forced)") {
    val edges = q39EdgesOf(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (7L, 8L), (2L, 6L), (10L, 11L)))
    val driver = ranked(RelationalOps.q39RankFrom(edges))
    val superstep = ranked(RelationalOps.q39RankFrom(edges, driverBound = 0))
    assert(driver == superstep)
    assert(driver.nonEmpty && driver.head.size == 4)
  }

  test("q39: driver arm equals the superstep arm on the real graph") {
    val edges = RelationalOps.q39Edges(spark, sf)
    assert(ranked(RelationalOps.q39RankFrom(edges)) ==
      ranked(RelationalOps.q39RankFrom(edges, driverBound = 0)))
  }

  // ------------------------------------------------------------- q52
  /** Planted retraction corpus: a 4-node chain whose BRIDGE edge loses
    * support (→ genuine component split), an untouched component, and
    * an edge whose support drops WITHOUT crossing (must not move). */
  private def plAll = {
    import spark.implicits._
    Seq(
      (301L, 1L), (301L, 2L), (302L, 1L), (302L, 2L),   // (1,2)  n=2
      (303L, 3L), (303L, 4L), (304L, 3L), (304L, 4L),   // (3,4)  n=2
      (305L, 2L), (305L, 3L), (306L, 2L), (306L, 3L),   // (2,3)  n=2 BRIDGE
      (307L, 10L), (307L, 11L), (308L, 10L), (308L, 11L), // {10,11}
      (309L, 20L), (309L, 21L), (310L, 20L), (310L, 21L),
      (311L, 20L), (311L, 21L)                          // (20,21) n=3
    ).toDF("o", "p")
  }

  private def plDel = {
    import spark.implicits._
    Seq(
      (306L, 2L), (306L, 3L),   // bridge 2→1: crosses DOWN → split
      (311L, 20L), (311L, 21L)  // (20,21) 3→2: drops, stays qualified
    ).toDF("o", "p")
  }

  test("q52: planted bridge deletion splits a component") {
    def st(p: String) = graft.sources.LayoutOps.stateTable(p, "q52plant")
    val got = RelationalOps.q52From(st("graft_state_q52p_cnt"),
        st("graft_state_q52p_lbl"), st("graft_state_q52p_tr"),
        plAll, plDel)
      .collect().map(_.toSeq).toSeq
    // {1,2,3,4} splits into {1,2} and {3,4}; {10,11} untouched; the
    // re-supported-but-surviving (20,21) keeps its component; exactly
    // ONE edge crossed downward; nothing truncated
    assert(got == Seq(
      Seq(1L, 2L, 1L, 1L, 0L),
      Seq(3L, 2L, 1L, 1L, 0L),
      Seq(10L, 2L, 1L, 1L, 0L),
      Seq(20L, 2L, 1L, 1L, 0L)))
    // day-2 read idempotence: a second read folds the same deletions
    // against the same standing state
    val again = RelationalOps.q52From(st("graft_state_q52p_cnt"),
        st("graft_state_q52p_lbl"), st("graft_state_q52p_tr"),
        plAll, plDel).collect().map(_.toSeq).toSeq
    assert(again == got)
  }

  test("q52: randomized deletions agree with from-scratch q49 (seeded)") {
    import spark.implicits._
    var removedSeen = 0L
    (1 to 6).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val baskets = (1L to 40L).map { o =>
        o -> Seq.fill(2 + rnd.nextInt(4))(1L + rnd.nextInt(12)).distinct
      }
      def plOf(bs: Seq[(Long, Seq[Long])]) =
        bs.flatMap { case (o, ps) => ps.map(o -> _) }.toDF("o", "p")
      val del = baskets.filter(_._1 % 4 == 0)       // delete every 4th
      def st(p: String) = graft.sources.LayoutOps.stateTable(p, s"q52rnd$seed")
      val rows = RelationalOps.q52From(st("graft_state_q52r_cnt"),
          st("graft_state_q52r_lbl"), st("graft_state_q52r_tr"),
          plOf(baskets), plOf(del)).collect()
      val got = rows.map(_.toSeq.patch(3, Nil, 1)).toSeq
      val want = RelationalOps.q49ComponentsFrom(
          plOf(baskets.filterNot(b => del.exists(_._1 == b._1))))
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"seed $seed: maintained != rebuilt")
      removedSeen +=
        rows.headOption.map(_.getAs[Long]("n_removed_edges")).getOrElse(0L)
    }
    // the generator must actually exercise the decremental path
    assert(removedSeen > 0L, "no seed produced a downward crossing")
  }

  test("q52: subtraction fold reads the standing counts with zero " +
      "standing-side exchange") {
    def st(p: String) = graft.sources.LayoutOps.stateTable(p, "q52guard")
    RelationalOps.q52From(st("graft_state_q52g_cnt"),
      st("graft_state_q52g_lbl"), st("graft_state_q52g_tr"),
      plAll, plDel).collect() // build state
    val plan = physical(RelationalOps.q52Fold(st("graft_state_q52g_cnt"), plDel))
    def cntScan(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths
          .exists(_.toString.contains("graft_state_q52g_cnt")) => s
    }
    val scans = cntScan(plan)
    assert(scans.nonEmpty && scans.forall(_.bucketedScan))
    val folds = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if cntScan(j).nonEmpty => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if cntScan(j).nonEmpty => j
    }
    assert(folds.nonEmpty)
    val fold = folds.minBy(_.collect { case p => p }.size)
    fold.children.filter(c => cntScan(c).nonEmpty).foreach { side =>
      val ex = side.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(ex.isEmpty,
        s"standing side of the subtraction fold rides ${ex.size} exchange(s)")
    }
  }

  private def physical(df: DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  test("prefix truth: seeded randomized corpora agree with the " +
      "unrestricted join") {
    import spark.implicits._
    val rnd = new scala.util.Random(12012L)
    // near-dup clusters: base sets of 8-20 grams from a small shared
    // vocabulary (forces cross-doc collisions), each cloned 0-2 times
    // with 0-3 grams mutated — a mix of J above/at/below threshold
    val docs = scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]()
    var id = 1L
    (1 to 40).foreach { _ =>
      val n = 8 + rnd.nextInt(13)
      val base = scala.collection.mutable.LinkedHashSet
        .fill(n)(rnd.nextInt(300).toLong).toArray
      docs += ((id, base)); id += 1
      (0 until rnd.nextInt(3)).foreach { _ =>
        val mut = base.map(g =>
          if (rnd.nextInt(10) < 2) rnd.nextInt(300).toLong else g).distinct
        docs += ((id, mut)); id += 1
      }
    }
    val hs = docs.toSeq.toDF("doc_id", "hs")
      .select($"doc_id", array_distinct($"hs").as("hs"))
    // the PREFIX arm forced (the randomized corpus is the adversarial
    // input for the theorem); the probe-picked default must agree too
    val want = pairsOf(naiveTruth(hs))
    assert(pairsOf(DedupOps.jaccardTruthPairs(hs, fanoutBound = -1L))
      == want)
    assert(pairsOf(DedupOps.jaccardTruthPairs(hs)) == want)
  }

  // ----------------------------------------------------- q53/e26 plans

  private def shuffles(df: DataFrame) =
    physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }

  test("q53: rollup is ONE aggregation pass — one Expand, all dims " +
       "broadcast, one agg shuffle") {
    val df = RelationalOps.q53RollupReport(spark, sf)
    val plan = physical(df)
    val expands = plan.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e }
    assert(expands.size == 1,
      s"rollup expanded ${expands.size} times, expected exactly 1")
    val bhj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    // nation and region are BOUNDED dims (25/5 rows at any SF) and must
    // always broadcast; customer additionally broadcasts at testbed
    // size, so accept 2 or 3 — fewer means a bounded dim shuffled
    assert(bhj.size >= 2, s"expected >=2 broadcast dim joins, got ${bhj.size}")
    // the agg shuffle plus the final orderBy's range exchange — a third
    // shuffle would mean the levels are being computed as separate jobs
    assert(shuffles(df).size == 2,
      s"rollup plan shuffles ${shuffles(df).size}×, expected 2 (agg + sort)")
  }

  test("e26/e27: pivot is conditional aggregation (no per-type scans); " +
       "unpivot adds no exchange on top") {
    val piv = EventOps.queries("e26_pivot_matrix")(spark, sf)
    // one scan total: every pivot cell rides the same aggregate
    val scans = physical(piv).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, s"pivot scanned ${scans.size}×, expected 1")
    val pivShuffles = shuffles(piv).size
    val long = EventOps.queries("e27_unpivot_long")(spark, sf)
    // the melt is a generator: same exchange count as the matrix it
    // reshapes (its own orderBy replaces e26's — no additional stage)
    assert(shuffles(long).size == pivShuffles,
      s"unpivot added exchanges: ${shuffles(long).size} vs $pivShuffles")
    // densified long form: every day × type cell present
    assert(long.count() == piv.count() * 5)
  }
}
