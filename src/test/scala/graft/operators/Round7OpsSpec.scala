package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 operator specs: persisted standing state (day-2 incremental
  * forms) and their plan-shape guarantees. */
class Round7OpsSpec extends AnyFunSuite {
  import graft.SharedSpark._

  /** The physical plan with the AQE wrapper peeled (pre-execution, so
    * Exchange nodes are still visible as such, not query stages). */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Assert the join side that reads a `graft_state_` table plans no
    * Exchange: the bucketed standing state already provides the join's
    * required hash partitioning, so ONLY the daily batch shuffles. */
  private def assertStandingSideExchangeFree(df: DataFrame, what: String): Unit = {
    val smjs = physical(df).collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"$what: expected a sort-merge probe join")
    val standingSides = smjs.flatMap(j => Seq(j.left, j.right))
      .filter(_.toString.contains("graft_state_"))
    assert(standingSides.nonEmpty,
      s"$what: no join side reads the standing-state table")
    standingSides.foreach { side =>
      assert(!side.toString.contains("Exchange"),
        s"$what: standing corpus side must be exchange-free:\n$side")
    }
  }

  test("d16: day-2 probe join is exchange-free on the persisted corpus side") {
    val df = graft.SparkEntry.queries("d16_incremental_day2")(spark, sf)
    assertStandingSideExchangeFree(df, "d16")
    // and day-2 output is identical to the day-1 query
    assert(df.collect().toSeq ==
      graft.SparkEntry.queries("d13_incremental")(spark, sf).collect().toSeq)
  }

  test("d17: day-2 band join is exchange-free on the persisted corpus side") {
    val df = graft.SparkEntry.queries("d17_neardup_day2")(spark, sf)
    assertStandingSideExchangeFree(df, "d17")
    assert(df.collect().toSeq ==
      graft.SparkEntry.queries("d15_incremental_neardup")(spark, sf).collect().toSeq)
  }

  test("p10: day-2 novelty join is exchange-free on the persisted corpus side") {
    val df = graft.SparkEntry.queries("p10_refresh_day2")(spark, sf)
    assertStandingSideExchangeFree(df, "p10")
    assert(df.collect().toSeq ==
      graft.SparkEntry.queries("p8_incremental_refresh")(spark, sf).collect().toSeq)
  }

  test("d10: containment candidates stay linear under a planted universal shingle") {
    import spark.implicits._
    // the d11 spec shape with d10's threshold: 60 unrelated docs share
    // one boilerplate trigram; one true subset-dup pair is planted
    val boiler = (0 until 60).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i common shared tail"))
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = (boiler ++ Seq(
      (900L, base), (901L, base + " wrapped in extra boilerplate text here")))
      .toDF("doc_id", "text")
    def contained(cap: Int) = DedupOps.cappedCandidates(df, cap)
      .filter($"shared" * 10 >= least($"ca", $"cb") * 8)
    // uncapped: the universal gram alone pairs all 60 carriers
    assert(DedupOps.cappedCandidates(df, 1000).count() >= 60L * 59 / 2)
    // capped: candidates collapse to rare-gram collisions; the true
    // subset-dup survives the 80% containment threshold
    val capped = contained(10)
    assert(capped.count() <= 5, s"cap did not bound d10 candidates")
    assert(capped.select("i", "j").as[(Long, Long)].collect().toSet
      .contains((900L, 901L)), "true containment pair lost by the cap")
  }

  test("t10: hot shingles are marked via broadcast; output identical to the naive join") {
    import spark.implicits._
    // 40 docs share one universal 8-token shingle; docs 0 and 1 also
    // share a rare shingle pair (true duplication signal)
    val univ = "u1 u2 u3 u4 u5 u6 u7 u8"
    val rare = "r1 r2 r3 r4 r5 r6 r7 r8"
    val docsDf = (0 until 40).map { i =>
      val extra = if (i < 2) s" $rare" else s" only$i mine$i"
      (i.toLong, s"$univ$extra")
    }.toDF("doc_id", "text")
    val out = TextOps.t10From(docsDf, checkpoint = false)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hot-shingle marking should broadcast the hot set:\n$plan")
    // ground truth from a naive single semi-join over the same shingles
    val sh = docsDf.select($"doc_id", explode(expr("ngram_hashes(text, 8)")).as("h"))
    val dup = sh.groupBy($"h").agg(count(lit(1)).as("n")).filter($"n" >= 2).select($"h")
    val naive = sh.join(dup, Seq("h"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.collect().foreach { r =>
      assert(r.getLong(2) == naive.getOrElse(r.getLong(0), 0L),
        s"doc ${r.getLong(0)}: skew-split n_dup ${r.getLong(2)} != naive")
    }
  }

  test("m5: frame-sig candidates stay linear under a planted boilerplate frame") {
    import spark.implicits._
    // 60 streams all sample one station-ident frame; streams 900/901
    // share 3 rare frames (a true near-dup with high Jaccard)
    val boiler = (0 until 60).map(i => Seq((i.toLong, "IDENT"), (i.toLong, s"own$i")))
      .flatten
    val dup = Seq(900L, 901L).flatMap(d =>
      Seq((d, "IDENT"), (d, "fA"), (d, "fB"), (d, "fC")))
    val sigs = (boiler ++ dup).toDF("doc_id", "frame_sig")
    // uncapped candidate join: the ident frame alone pairs all 62
    // carriers — 62*61/2 = 1891 candidates from one hot key
    val uncapped = sigs.as("a").join(sigs.as("b"),
      $"a.frame_sig" === $"b.frame_sig" && $"a.doc_id" < $"b.doc_id").count()
    assert(uncapped >= 62L * 61 / 2, s"planted frame not hot: $uncapped")
    // capped: the ident drops before the self-join; only the rare-frame
    // collisions remain and the true pair clears the 500-permille gate
    val capped = MultimodalOps.m5PairsFrom(sigs, dfCap = 10).collect()
    assert(capped.length == 1, s"cap did not bound m5 pairs: ${capped.length}")
    assert(capped.head.getLong(0) == 900L && capped.head.getLong(1) == 901L,
      "true media near-dup lost by the cap")
  }

  test("d18: refined partition bounds the pair-join input on a planted hot blob") {
    import spark.implicits._
    // round-6's planted blob: 800 vectors in a dense cube (one cell
    // swallows them) + 200 scattered
    val blob = (0 until 800).map(i =>
      (i.toLong, Array.tabulate(8)(d => 5.0 + ((i * 31 + d * 7) % 100) / 100.0)))
    val scatter = (0 until 200).map(i =>
      (800L + i, Array.tabulate(8)(d => ((i * 17 + d * 13) % 1000) / 50.0)))
    val e = (blob ++ scatter).toDF("vec_id", "v")
    val cents = SimilarityOps.kmeansCentroids(e, k = 4, iters = 1,
      saltSeed = ":hotspec", saltCoin = ":hotspecc")
    def pairInput(cells: DataFrame): Long =
      cells.groupBy($"cell").count()
        .agg(sum($"count" * ($"count" - 1))).head().getLong(0) / 2
    val naive = e.withColumn("cell", SimilarityOps.argminOver($"v", cents))
      .select($"vec_id", $"cell")
    val refined = SimilarityOps.refineHotCells(e, cents, maxSize = 250)
    val before = pairInput(naive)
    val after = pairInput(refined)
    // the hot blob alone contributes >= 800*799/2 pairs unrefined; the
    // split must cut the within-cell pair-join input by well over half
    assert(before >= 800L * 799 / 2, s"blob did not concentrate: $before")
    assert(after * 2 < before, s"split did not bound pair input: $before -> $after")
  }

  test("e17: gini pair sum survives a planted cardinality that overflows BIGINT") {
    import spark.implicits._
    // two activity levels, 2e9 users each: the histogram-pair numerator
    // is 2 * (2e9)^2 * 1000 = 8e21 — 1000x past Long.MaxValue. The
    // DECIMAL(38,0) path must deliver the exact permille.
    val c = 2000000000L
    val hist = Seq(("t", 1L, c), ("t", 1001L, c)).toDF("event_type", "v", "c")
    val row = EventOps.giniFromHist(hist).collect().head
    assert(row.getLong(1) == 2 * c, "n_users")
    assert(row.getLong(2) == c * 1L + c * 1001L, "total_events")
    // replicate the engine's one double conversion on the exact sum
    val mad = BigInt(c) * BigInt(c) * 1000 * 2
    val expected = math.floor(
      1000.0 * mad.toDouble / (2.0 * (2 * c).toDouble * (c * 1002L).toDouble)).toLong
    assert(row.getLong(3) == expected,
      s"gini_permille ${row.getLong(3)} != $expected (decimal path broken)")
    assert(mad > BigInt(Long.MaxValue), "planted sum must actually overflow longs")
  }

  test("p7: vt product survives a planted 9.5M-doc language that overflows BIGINT") {
    import spark.implicits._
    // pos * 10^12 at pos = 9.5e6 is 9.5e18 > Long.MaxValue — the old
    // BIGINT product would wrap (or throw under ANSI); the DECIMAL(38,0)
    // multiply with integral divide lands the exact BIGINT vt.
    val n = 9500000L
    val d0 = spark.range(n).select($"id".as("doc_id"), lit("xx").as("lang"))
    val wm = math.floor(1000000.0 * math.sqrt(n.toDouble)).toLong
    val expectedMax = (BigInt(n) * BigInt(1000000000000L) / BigInt(wm)).toLong
    val agg = PipelineOps.p7ScheduleFrom(d0)
      .agg(max("vt").as("mx"), count(lit(1)).as("n")).collect().head
    assert(agg.getLong(1) == n, "schedule must cover every doc")
    assert(agg.getLong(0) == expectedMax,
      s"max vt ${agg.getLong(0)} != $expectedMax (overflow in the vt product)")
    assert(BigInt(n) * BigInt(1000000000000L) > BigInt(Long.MaxValue),
      "planted product must actually overflow longs")
  }

  test("d19: coverage is an interval UNION — overlapping dup spans never double-count") {
    import spark.implicits._
    // docs 1 and 2 share tokens w1..w6 → two duplicated 5-gram starts
    // (pos 0 and 1) in each; union coverage is 6 tokens, not 10.
    // doc 3 is unique → zero coverage. doc 4 shares w1..w5 with 1/2
    // (one start, 5 covered of its 6 tokens).
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 tail1 x1"),
      (2L, "w1 w2 w3 w4 w5 w6 other2"),
      (3L, "u1 u2 u3 u4 u5 u6 u7"),
      (4L, "w1 w2 w3 w4 w5 solo4")
    ).toDF("doc_id", "text")
    val out = DedupOps.d19From(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == ((2L, 6L, 750L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((2L, 6L, 857L)), s"doc 2: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0L)), s"unique doc must have zero coverage")
    assert(out(4L) == ((1L, 5L, 833L)), s"doc 4: ${out(4L)}")
  }

  test("d19: a universal boilerplate gram cannot blow up the span join (semi-join linearity)") {
    import spark.implicits._
    // 200 docs all carry one universal 5-gram: a pair-join would make
    // 200*199/2 candidates; the semi-join form must keep exactly one
    // output row per doc and one semi-join in the plan
    val univ = "b1 b2 b3 b4 b5"
    val df = (0 until 200).map(i => (i.toLong, s"$univ own$i mine$i"))
      .toDF("doc_id", "text")
    val out = DedupOps.d19From(df)
    val rows = out.collect()
    assert(rows.length == 200)
    // every doc: 1 dup start, 5 covered tokens of its 7
    rows.foreach(r => assert(r.getLong(2) == 1L && r.getLong(3) == 5L,
      s"doc ${r.getLong(0)}: ${r.mkString(",")}"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"),
      s"dup-gram membership must be a semi join:\n$plan")
  }

  test("t17: hashed-classifier score is the exact integer dot product of hashed counts") {
    import graft.functions.EngineFns.md5Long60
    val rows = graft.SparkEntry.queries("t17_hashed_classifier")(spark, sf)
      .limit(50).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ", -1)
      val expected = toks.map { t =>
        val b = md5Long60(t + ":t17f") % 64
        md5Long60(b.toString + ":t17w") % 2001 - 1000
      }.sum
      assert(r.getLong(1) == toks.length.toLong, s"n_toks for doc ${r.getLong(0)}")
      assert(r.getLong(2) == expected,
        s"doc ${r.getLong(0)}: score ${r.getLong(2)} != replayed $expected")
      assert(r.getBoolean(3) == (expected >= 290L * toks.length), "keep flag")
    }
    // both verdicts must occur on real data or the filter is vacuous
    val keeps = graft.SparkEntry.queries("t17_hashed_classifier")(spark, sf)
      .groupBy("keep").count().collect().map(_.getBoolean(0)).toSet
    assert(keeps == Set(true, false), s"classifier must split the corpus: $keeps")
  }

  test("e18: CMS estimates dominate exact counts and the sketch side broadcasts") {
    val df = graft.SparkEntry.queries("e18_cms_heavy")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the defining CMS guarantee: no underestimates, ever
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(1),
      s"user ${r.getLong(0)}: est ${r.getLong(2)} < exact ${r.getLong(1)}"))
    // ... and over_n is the (non-negative) slack
    rows.foreach(r => assert(r.getLong(3) == r.getLong(2) - r.getLong(1)))
    // one ledger row per distinct user
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(rows.length.toLong == users)
    // the 192-cell sketch must ride as a broadcast, never a shuffle join
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"sketch probe should broadcast the cells:\n$plan")
  }
}
