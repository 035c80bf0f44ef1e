package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 continuation specs (second block): triangle counting (q44),
  * KMV pairwise Jaccard (q45), interval coverage (e22), top paths
  * (e23), source vocabulary similarity (t21), ANN index deletion
  * (s16). */
class Round9bOpsSpec extends AnyFunSuite {
  import graft.SharedSpark._

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("q44: planted triangle graph counts per-corner with exact cc") {
    import spark.implicits._
    // orders o1:{1,2} o2:{2,3} o3:{1,3} o4:{1,4} → edges (1,2)(2,3)(1,3)(1,4)
    // → one triangle {1,2,3}; node 4 (no triangle) must NOT appear
    val pl = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L), (3L, 1L), (3L, 3L),
      (4L, 1L), (4L, 4L)).toDF("o", "p")
    val rows = RelationalOps.q44TrianglesFrom(pl)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, 3L, 1L, 333L),   // deg 3 → cc = 2000*1 div (3·2) = 333
      (2L, 2L, 1L, 1000L),  // deg 2 → closed wedge, cc exactly 1
      (3L, 2L, 1L, 1000L)))
  }

  test("q44: plan is all equi-joins and adjacency arrays never meet a sorter") {
    val df = graft.SparkEntry.queries("q44_triangles")(spark, sf)
    val plan = physical(df)
    val bad = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      // exempt the 1-row truncation-count append (round 11): a BNLJ
      // over a single broadcast row is a constant projection, not a
      // join — any OTHER nested-loop join is still a plan bug
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
        if !b.output.exists(_.name == "truncated_baskets") => b
    }
    assert(bad.isEmpty, s"non-equi join in triangle plan: $bad")
    // the adjacency-intersection close must hash-join, not sort-merge:
    // SMJ drags the ~500-byte neighbor arrays through a sorter
    // (measured 10.5 s vs 7.6 s at sf0.1)
    val smjOverArrays = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.output.exists(_.name.startsWith("n")) &&
          j.output.exists(a => a.dataType.typeName.startsWith("array")) => j
    }
    assert(smjOverArrays.isEmpty,
      "adjacency arrays riding a sort-merge join (use shuffle_hash)")
  }

  test("q45: planted sets give the exact sketch arithmetic") {
    import spark.implicits._
    val gh = (1L to 5L).map(("A", _)) ++ (3L to 7L).map(("B", _))
    // uncapped (k=64): union kept = 7, common = {3,4,5} → 3 → 428‰
    val full = RelationalOps.q45KmvJaccardFrom(gh.toDF("g", "h"), k = 64)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(full.toSeq == Seq((7, 3, 428L)))
    // capped (k=4): hu = bottom-4 of union = {1,2,3,4}; of those, {3,4}
    // are in both sketches → 2/4 = 500‰ (true J = 3/7 ≈ 429 — the
    // estimator's error shrinks with k, the spec pins determinism)
    val capped = RelationalOps.q45KmvJaccardFrom(gh.toDF("g", "h"), k = 4)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getLong(4)))
    assert(capped.toSeq == Seq((4, 2, 500L)))
  }

  test("q45: sketches come from the bounded aggregator, never a window") {
    val df = graft.SparkEntry.queries("q45_kmv_jaccard")(spark, sf)
    val wins = physical(df).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.isEmpty, "per-group window in the KMV path (q42's anti-pattern)")
    val obj = physical(df).collect {
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
    }
    assert(obj.nonEmpty, "expected the typed KMV aggregator in the plan")
  }

  test("q46: planted baskets give exact rule metrics, nested-floor order pinned") {
    import spark.implicits._
    // baskets o1{1,2} o2{1,2} o3{1,3} o4{4}: only pair (1,2) reaches
    // min-support 2. N=4, n_1=3, n_2=2.
    val pl = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L),
      (4L, 4L)).toDF("o", "p")
    val rows = RelationalOps.q46AssocRulesFrom(pl)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    // 2→1 first (higher lift under the nested floor): conf = 10⁶,
    // lift = 10⁶·4 div 3 = 1333333; 1→2: conf = 2·10⁶ div 3 = 666666,
    // lift = 666666·4 div 2 = 1333332 — the one-ulp asymmetry is the
    // scale-safe floor order's fingerprint, identical in both engines
    assert(rows.toSeq == Seq(
      (2L, 1L, 500000L, 1000000L, 1333333L),
      (1L, 2L, 500000L, 666666L, 1333332L)))
  }

  test("e22: planted intervals merge, count stretches, and sum coverage") {
    import spark.implicits._
    val t0 = 1700000000000000L
    val ev = Seq(
      (7L, 0L, t0),                  // [0, 300)
      (7L, 1L, t0 + 100000000L),     // [100, 400) — overlaps
      (7L, 2L, t0 + 1000000000L),    // [1000, 1300) — gap
      (8L, 3L, t0), (8L, 4L, t0))    // duplicate ts: second adds nothing
      .toDF("user_id", "event_id", "us")
      .select($"user_id", $"event_id", timestamp_micros($"us").as("ts"))
    val rows = EventOps.e22IntervalCoverageFrom(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (7L, 3L, 2L, 700L),  // 400s merged + 300s isolated
      (8L, 2L, 1L, 300L)))
  }

  test("e22: window and final groupBy share ONE hash exchange") {
    val df = graft.SparkEntry.queries("e22_interval_coverage")(spark, sf)
    val hashEx = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(hashEx.size == 1,
      s"expected one hash exchange on user_id, got ${hashEx.size}")
  }

  test("e23: planted sequence yields its consecutive trigrams only") {
    import spark.implicits._
    val t0 = 1700000000000000L
    val ev = Seq((1L, 0L, "a"), (1L, 1L, "b"), (1L, 2L, "c"), (1L, 3L, "d"))
      .map { case (u, i, et) => (u, i, t0 + i * 1000000L, et) }
      .toDF("user_id", "event_id", "us", "event_type")
      .select($"user_id", $"event_id", timestamp_micros($"us").as("ts"),
        $"event_type")
    val rows = EventOps.e23TopPathsFrom(ev)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a>b>c", 1L), ("b>c>d", 1L)))
  }

  test("t21: identical vocabularies score 1000‰; disjoint pairs drop out") {
    import spark.implicits._
    val d = Seq(("s1", "x y z"), ("s2", "z x y"), ("s3", "p q"))
      .toDF("source", "text")
    val rows = TextOps.t21SourceSimilarityFrom(d)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // only the (s1, s2) pair shares tokens; s3 pairs have no common
    // token and are absent by construction
    assert(rows.toSeq == Seq(("s1", "s2", 3L, 3L, 3L, 1000L)))
  }

  test("p14: tiers are ordered by difficulty and positions are dense") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("p14_curriculum")(spark, sf).collect()
    val byTier = rows.groupBy(_.getInt(2))
    assert(byTier.keySet == Set(0, 1, 2), "all three tiers must be populated")
    // the tier cut is a proper threshold: every tier-0 score <= every
    // tier-1 score <= every tier-2 score
    def scores(t: Int) = byTier(t).map(_.getLong(1))
    assert(scores(0).max <= scores(1).min)
    assert(scores(1).max <= scores(2).min)
    // exact tertiles up to score ties: the cumulative cut means tier 0
    // holds at least a third and stops at the first score that crosses it
    val n = rows.length
    assert(byTier(0).size * 3 >= n)
    assert((byTier(0).size + byTier(1).size) * 3 >= 2 * n)
    // per-(tier, shard) positions are dense 1..k (a trainer can stream
    // each shard by pos with no gaps)
    rows.groupBy(r => (r.getInt(2), r.getLong(3))).foreach { case (k, rs) =>
      val ps = rs.map(_.getInt(4)).sorted
      assert(ps.toSeq == (1 to rs.length).toSeq, s"gap in positions of $k")
    }
  }

  test("e24: triangle reconciles with total purchase revenue per cohort") {
    import spark.implicits._
    val tri = graft.SparkEntry.queries("e24_cohort_ltv")(spark, sf).collect()
    assert(tri.nonEmpty)
    // cumulative column: last offset's cum equals the cohort's sum
    tri.groupBy(_.getTimestamp(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      val total = sorted.map(r => BigDecimal(r.getDouble(3))).sum
      assert(BigDecimal(sorted.last.getDouble(4)) == total)
    }
    // the whole triangle's revenue equals the log's purchase revenue
    val triTotal = tri.map(r => BigDecimal(r.getDouble(3))).sum
    val want = graft.Tables(spark, sf, "events")
      .filter($"event_type" === "purchase")
      .agg(sum($"value".cast("decimal(28,8)")).cast("double"))
      .head().getDouble(0)
    assert(triTotal == BigDecimal(want), s"$triTotal != $want")
  }

  test("q47: the k-core is internally consistent and the peel terminated") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("q47_kcore")(spark, sf).collect()
    assert(rows.nonEmpty, "core emptied — k formula degenerated")
    val k = rows.head.getLong(2)
    val rounds = rows.head.getInt(3)
    // fix-point invariant: every survivor's induced degree clears k
    assert(rows.forall(_.getLong(1) >= k))
    assert(rounds >= 1 && rounds < RelationalOps.Q47MaxRounds,
      s"peel did not converge below the cap: $rounds")
    // k is the corpus-derived floor(0.7 * average degree)
    val e = RelationalOps.q47Edges(spark, sf)
    val r = e.agg(count(lit(1)).as("e2"),
      count_distinct($"u").as("v")).head()
    assert(k == (7L * r.getLong(0)) / (10L * r.getLong(1)))
  }

  test("q47: peel round plans zero exchange on the bucketed edges side") {
    import spark.implicits._
    val edges = RelationalOps.q47Edges(spark, sf)
    val alive = edges.groupBy($"u").agg(count(lit(1)).as("d"))
      .select($"u".as("n"), $"d")
    val df = RelationalOps.q47Peel(edges, alive, 10L)
    val shjs = physical(df).collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shjs.nonEmpty, "expected the dead-side semi-join to hash-join")
    val semi = shjs.filter(_.joinType.toString.contains("LeftSemi"))
    assert(semi.nonEmpty)
    semi.foreach { j =>
      val clean = Seq(j.left, j.right).exists(s =>
        s.toString.contains("graft_state_q47_pedges_v2") &&
          !s.toString.contains("Exchange"))
      assert(clean, s"edges side of the peel semi-join exchanges:\n$j")
    }
  }

  test("q48: maintained triangle counts equal from-scratch q44, idempotently") {
    val triT = graft.sources.LayoutOps.stateTable("graft_state_q48_tri_v2", sf)
    val edT = graft.sources.LayoutOps.stateTable("graft_state_q48_edges_v2", sf)
    spark.sql(s"DROP TABLE IF EXISTS $triT")
    spark.sql(s"DROP TABLE IF EXISTS $edT")
    val first = graft.SparkEntry.queries("q48_triangles_day2")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val direct = graft.SparkEntry.queries("q44_triangles")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(first == direct, "day-2 fold diverged from the rebuilt counts")
    // second call in the same warehouse: day-1 state is reused, the
    // delta is recomputed from the coin — byte-identical output
    val second = graft.SparkEntry.queries("q48_triangles_day2")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(second == first, "day-2 read is not idempotent")
  }

  test("q48: driver probe arm and distributed close are output-identical") {
    import spark.implicits._
    // planted graph exercising the tricky cases: a triangle with TWO
    // delta edges (found twice, deduped by the sorted-triple distinct),
    // one with a single delta edge, a degree TIE on a delta edge's
    // endpoints (orientation must break at the first endpoint), and a
    // delta edge in no triangle at all
    val edOld = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (1L, 7L))
      .toDF("a", "b")
    val delta = Seq((1L, 3L), (4L, 6L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    val edNew = edOld.unionByName(delta)
    val und = edNew.unionByName(edNew.select($"b".as("a"), $"a".as("b")))
    val deg = und.groupBy($"a".as("n")).agg(count(lit(1)).as("d"))
    def run(bound: Int) =
      RelationalOps.q48DeltaTrianglesWithDeg(edOld, delta, deg, bound)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val driverArm = run(1000000) // 9 edges << bound: driver probe
    val loopArm = run(0)         // forced distributed close
    assert(driverArm == loopArm)
    assert(driverArm.nonEmpty)
  }

  test("q48: the driver probe arm rejects a duplicate or non-canonical edge") {
    import spark.implicits._
    // the distributed close's DISTINCT would hide a repeated edge; the
    // driver arm would count its triangles twice, so it must refuse it
    val edOld = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    def deltaRun(delta: Seq[(Long, Long)]) = {
      val d = delta.toDF("a", "b")
      val edNew = edOld.unionByName(d)
      val deg = edNew.unionByName(edNew.select($"b".as("a"), $"a".as("b")))
        .groupBy($"a".as("n")).agg(count(lit(1)).as("d"))
      RelationalOps.q48DeltaTrianglesWithDeg(edOld, d, deg, 1000000).collect()
    }
    assert(deltaRun(Seq((1L, 3L))).length == 3) // the contract holds: one triangle
    val dup = intercept[IllegalArgumentException](deltaRun(Seq((1L, 3L), (2L, 3L))))
    assert(dup.getMessage.contains("duplicate edge (2, 3)"))
    val flipped = intercept[IllegalArgumentException](deltaRun(Seq((3L, 1L))))
    assert(flipped.getMessage.contains("not canonical"))
  }

  test("t23: document text never rides a shuffle") {
    val df = graft.SparkEntry.queries("t23_overlap_risk")(spark, sf)
    val exchanges = physical(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, "expected shuffles in the overlap plan")
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text"), s"document text rides a shuffle: $cols")
    }
  }

  test("d20: ladder rungs reconcile with their per-method operators") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("d20_dedup_ladder")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5))).toMap
    val (nDocs, _) = (rows("exact")._3, ())
    // every rung keeps something and no rung keeps more than the corpus
    rows.values.foreach { case (kept, toks, n, pm) =>
      assert(kept > 0 && kept <= n && toks > 0)
      assert(pm == 1000 * kept / n, "permille must derive from the counts")
    }
    // normalized dedup is strictly at-least-as-aggressive as exact
    // (its signature groups are coarser)
    assert(rows("normset")._1 <= rows("exact")._1)
    // exact rung == d1's distinct-signature count
    val d1 = graft.SparkEntry.queries("d1_dedup_exact")(spark, sf).count()
    assert(rows("exact")._1 == d1)
    // pair rungs: kept = docs minus distinct dropped partners
    val d3Dropped = graft.SparkEntry.queries("d3_ngram_jaccard")(spark, sf)
      .select($"j").distinct().count()
    assert(rows("jaccard_06")._1 == nDocs - d3Dropped)
  }

  test("t22: confusion rows reconcile with t5's labels and hits") {
    import spark.implicits._
    val m = graft.SparkEntry.queries("t22_lang_confusion")(spark, sf).collect()
    val t5 = graft.SparkEntry.queries("t5_langid")(spark, sf)
    // per-declared-language mass equals the label counts
    val langTotals = m.groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(2)).sum).toMap
    val want = t5.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(langTotals == want)
    // diagonal mass equals t5's hit count
    val diag = m.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    val hits = t5.agg(sum($"hit")).head().getLong(0)
    assert(diag == hits)
    assert(m.forall(_.getLong(3) <= 1000L))
  }

  test("s17: the tuning curve is monotone and its nprobe=4 point is s13's") {
    import spark.implicits._
    val curve = graft.SparkEntry.queries("s17_tuning_curve")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(curve.keySet == Set(1, 2, 4, 8))
    // more probes can only add candidates → recall is non-decreasing
    assert(curve(1) <= curve(2) && curve(2) <= curve(4) && curve(4) <= curve(8))
    assert(curve(8) > curve(1), "a flat curve means the sweep is vacuous")
    // the nprobe=4 point must agree with s13's single-point measurement
    val s13 = graft.SparkEntry.queries("s13_recall_eval")(spark, sf)
      .agg(sum($"n_hit"), sum($"n_true")).head()
    val expected = 1000L * s13.getLong(0) / s13.getLong(1)
    val got = graft.SparkEntry.queries("s17_tuning_curve")(spark, sf)
      .filter($"nprobe" === 4).head()
    assert(1000L * got.getLong(1) / got.getLong(2) == expected,
      "s17@4 and s13 disagree on the same operating point")
  }

  test("m8: one canonical per cluster, paired assets share a cluster") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("m8_media_canonical")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    // total coverage: every asset redirects somewhere, exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    // exactly one canonical per cluster, and it is its own redirect
    rows.groupBy(_._2).foreach { case (c, rs) =>
      val canon = rs.filter(_._5)
      assert(canon.length == 1, s"cluster $c has ${canon.length} canonicals")
      assert(canon.head._1 == canon.head._4)
      assert(rs.forall(_._4 == canon.head._1))
      assert(rs.forall(_._3 == rs.length), s"cluster_size wrong in $c")
    }
    // every m5 near-dup pair ended up in ONE cluster
    val cl = rows.map(r => r._1 -> r._2).toMap
    graft.SparkEntry.queries("m5_media_dedup")(spark, sf)
      .select($"i", $"j").collect().foreach { p =>
        assert(cl(p.getLong(0)) == cl(p.getLong(1)),
          s"pair ${p.getLong(0)}-${p.getLong(1)} straddles clusters")
      }
  }

  test("s16: compaction rewrites ONLY the tombstoned cells and is surgical") {
    import spark.implicits._
    val codesT = graft.sources.LayoutOps.stateTable("graft_state_s16_codes", sf)
    spark.sql(s"DROP TABLE IF EXISTS $codesT")
    SimilarityOps.s10EnsureIndex(spark, sf) // day-1 build (no-op if present)
    SimilarityOps.s16EnsureCopy(spark, sf)

    def filesPerCell(): Map[Long, Set[String]] =
      spark.table(codesT).select($"cell", input_file_name().as("f"))
        .distinct().collect()
        .groupBy(_.getLong(0)).map { case (c, rs) =>
          c -> rs.map(_.getString(1)).toSet
        }

    val before = filesPerCell()
    val total = spark.table(codesT).count()
    // a SINGLE planted tombstone: the smallest indexed nid
    val victim = spark.table(codesT).agg(min($"nid")).head().getLong(0)
    val affected = SimilarityOps.s16CompactWith(spark, sf,
      Seq(victim).toDF("del_id"))
    assert(affected.size == 1, s"one tombstone must affect one cell: $affected")
    val after = filesPerCell()
    assert(spark.table(codesT).count() == total - 1)
    assert(spark.table(codesT).filter($"nid" === victim).count() == 0)
    // surgical: untouched cells keep their exact files; the affected
    // cell was rewritten
    before.foreach { case (cell, fs) =>
      if (cell == affected.head)
        assert(after(cell) != fs, s"affected cell $cell was not rewritten")
      else
        assert(after(cell) == fs, s"unaffected cell $cell was rewritten")
    }
    // idempotent: the same tombstone again finds nothing to do
    assert(SimilarityOps.s16CompactWith(spark, sf,
      Seq(victim).toDF("del_id")).isEmpty)
  }

  test("s16: serve output never contains a coin-tombstoned vector") {
    import spark.implicits._
    val codesT = graft.sources.LayoutOps.stateTable("graft_state_s16_codes", sf)
    spark.sql(s"DROP TABLE IF EXISTS $codesT") // reset after the planted test
    val res = graft.SparkEntry.queries("s16_index_delete")(spark, sf)
    val out = res.collect()
    assert(out.nonEmpty)
    def deleted(c: org.apache.spark.sql.Column) = SimilarityOps.s16IsDeleted(c)
    val offending = res
      .filter(deleted(col("nid")) || deleted(col("qid"))).count()
    assert(offending == 0, "tombstoned vector served after deletion")
    // the index physically dropped the tombstoned rows
    assert(spark.table(codesT).filter(deleted(col("nid"))).count() == 0)
  }
}
