package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 specs: the standing-ps h-family variant, the basket-cap
  * truncation surfacing, and the t25 reshape's invariants. */
class Round11OpsSpec extends AnyFunSuite {
  import graft.SharedSpark._

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case s: FileSourceScanExec => s }

  test("h-family ps-backed plans start from the standing table") {
    TpchSql.psBacked.foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, sf)
      val ss = scans(physical(df))
      assert(ss.exists(_.relation.location.rootPaths.exists(
          _.toString.contains("graft_state_tpch_ps"))),
        s"$k does not scan the standing ps table")
    }
    // the queries whose ONLY lineitem use was the ps derivation must
    // not touch lineitem at all anymore — that absence is the win
    Seq("h02_min_cost_supplier", "h11_important_stock",
        "h16_supplier_counts").foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, sf)
      assert(!scans(physical(df)).exists(_.relation.location.rootPaths
          .exists(_.toString.contains("lineitem"))),
        s"$k still re-aggregates lineitem")
    }
  }

  test("ps-backed standing scan feeds its first join with zero exchange") {
    // the bucketed (ps_partkey, 32) scan must reach a join without a
    // shuffle on the ps side in at least one consumer — h16 joins part
    // on p_partkey = ps_partkey, exactly the bucket key
    val df = graft.SparkEntry.queries("h16_supplier_counts")(spark, sf)
    val plan = physical(df)
    val bucketed = scans(plan).filter(s =>
      s.relation.location.rootPaths.exists(
        _.toString.contains("graft_state_tpch_ps")))
    assert(bucketed.nonEmpty)
    assert(bucketed.exists(_.bucketedScan),
      "standing ps scan is not reading bucket layout")
  }

  test("truncation count is visible on q44/q47 from the standing state") {
    val q44 = graft.SparkEntry.queries("q44_triangles")(spark, sf).collect()
    assert(q44.nonEmpty)
    // declared testdata baskets are ≤ ~12 lines — cap 256 is a no-op
    assert(q44.forall(_.getAs[Long]("truncated_baskets") == 0L))
    val q47 = graft.SparkEntry.queries("q47_kcore")(spark, sf).collect()
    assert(q47.forall(_.getAs[Long]("truncated_baskets") == 0L))
  }

  test("t25: margins frame is bounded by 2·buckets at any corpus") {
    import spark.implicits._
    // a corpus with every bucket hit still produces ≤ 2·buckets rows
    // in each broadcast side — the boundedness claim the scale story
    // rests on, checked by construction: distinct hb ≤ buckets
    val d = (0L until 64L).map(i =>
      (i, ('a' + (i % 26)).toChar.toString * 40)).toSeq.toDF("doc_id", "text")
    val out = TextOps.t25LmSurpriseHashedFrom(d, 8)
    assert(out.count() == 64L)
  }

  test("t26: maintained BM25 index equals from-scratch t20, idempotently") {
    Seq("graft_state_t26_post", "graft_state_t26_dl", "graft_state_t26_df")
      .map(graft.sources.LayoutOps.stateTable(_, sf))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val first = graft.SparkEntry.queries("t26_bm25_day2")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val direct = graft.SparkEntry.queries("t20_bm25")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(first == direct, "day-2 fold diverged from the rebuilt index")
    val second = graft.SparkEntry.queries("t26_bm25_day2")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(second == first, "day-2 read is not idempotent")
    // day-2 read path starts from the bucketed standing postings
    val plan = physical(graft.SparkEntry.queries("t26_bm25_day2")(spark, sf))
    assert(scans(plan).exists(_.relation.location.rootPaths.exists(
      _.toString.contains("graft_state_t26_post"))),
      "t26 does not scan the standing posting table")
  }

  test("scan-parallelism restore: round-robin only, and only where gated") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    def exchanges(df: DataFrame) =
      physical(df).collect { case e: ShuffleExchangeLike => e }
    // lineitem at sf0.001 sits in the (100 KB, 64 MB) restore window:
    // the accessor inserts exactly one round-robin redistribution —
    // raw, never keyed on content
    val li = exchanges(graft.Tables(spark, sf, "lineitem"))
    assert(li.nonEmpty, "restore did not fire for an in-window table")
    assert(li.forall(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning]),
      "restore used a keyed partitioning, not round-robin")
    // embeddings is in-window by size but excluded at the accessor
    // (k-means driver loops re-pay the extra stage per action) — the
    // bare read must stay exchange-free, the opt-in must restore
    assert(exchanges(graft.Tables(spark, sf, "embeddings")).isEmpty,
      "accessor restored an excluded table")
    assert(exchanges(graft.Tables.parallel(spark, sf, "embeddings"))
        .exists(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning]),
      "opt-in did not restore an excluded in-window table")
    // tiny dimension tables stay untouched — they broadcast anyway
    assert(exchanges(graft.Tables(spark, sf, "region")).isEmpty,
      "restore fired for a tiny table")
  }

  test("streaming scd2: micro-batched CDC equals from-scratch dimension; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.{EpochStore, StreamOps}
    val store = new EpochStore("graft_state_sscd2", "spec", StreamOps.Scd2Tables)
    store.destroy(spark)
    val rebuilt = "stream_scd2_rebuild"
    spark.sql(s"DROP TABLE IF EXISTS $rebuilt")
    def rowsOf(vers: Seq[Int]) =
      RelationalOps.q40DimVersions(spark, sf, vers)
        .as[(Long, String, java.sql.Timestamp)].collect().toSeq
    val b1 = rowsOf(Seq(0, 1)) // initial load: full history, 2 versions/key
    val b2 = rowsOf(Seq(2))    // day-2 CDC sliver
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.streaming.StreamOps.streamingScd2(
      input.toDF().toDF("k", "seg_v", "valid_from"),
      "graft_state_sscd2", "spec").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      // replay the last batch (restart re-delivery): delta = ∅, the
      // dimension must not move — no new EPOCH, no new versions
      val epochBefore = store.committed(spark)._1
      val before = store.snap(spark, "dim").collect().map(_.toSeq).toSet
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(store.committed(spark)._1 == epochBefore,
        "replayed CDC batch opened a new epoch")
      assert(store.snap(spark, "dim").collect().map(_.toSeq).toSet == before,
        "replayed CDC batch moved the dimension")
    } finally q.stop()
    // ground truth: from-scratch SCD2 load over all three versions
    Scd2Ops.initDim(spark, rebuilt,
      RelationalOps.q40DimVersions(spark, sf, Seq(0, 1, 2)))
    assert(store.snap(spark, "dim").collect().map(_.toSeq).toSet
        == spark.table(rebuilt).collect().map(_.toSeq).toSet,
      "streamed CDC dimension diverged from the from-scratch rebuild")
    spark.sql(s"DROP TABLE IF EXISTS $rebuilt")
    store.destroy(spark)
  }

  test("s21: compaction bounds file counts, cold cells bit-identical, serving unchanged") {
    import spark.implicits._
    val codesT = graft.sources.LayoutOps.stateTable("graft_state_s21_codes", sf)
    spark.sql(s"DROP TABLE IF EXISTS $codesT")
    SimilarityOps.s10EnsureIndex(spark, sf)
    val t = SimilarityOps.s21EnsureFragmented(spark, sf)
    val before = SimilarityOps.s21FileCounts(spark, t)
    assert(before.values.max > SimilarityOps.S21MaxFiles,
      "fragmentation not planted")
    val cold = before.collect {
      case (c, n) if n <= SimilarityOps.S21MaxFiles => c
    }.toSet
    assert(cold.nonEmpty, "no untouched control cells")
    def fprint(cells: Set[Long]): Map[Long, Set[(String, Long, Long)]] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(t)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      cells.map { c =>
        val d = new org.apache.hadoop.fs.Path(loc, s"cell=$c")
        c -> fs.listStatus(d).toSet[org.apache.hadoop.fs.FileStatus]
          .filter(f => !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      }.toMap
    }
    val fpBefore = fprint(cold)
    val rowsBefore = spark.table(t).count()
    val over = SimilarityOps.s21CompactCells(spark, sf)
    assert(over.nonEmpty, "nothing compacted despite planted fragmentation")
    spark.catalog.refreshTable(t)
    val after = SimilarityOps.s21FileCounts(spark, t)
    assert(after.values.max <= SimilarityOps.S21MaxFiles,
      s"file counts still over the bound: $after")
    assert(fprint(cold) == fpBefore, "cold cell files moved")
    assert(spark.table(t).count() == rowsBefore, "compaction lost rows")
    // content contract: compacted serving ≡ the pristine index's serving
    val got = graft.SparkEntry.queries("s21_index_compact")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val want = graft.SparkEntry.queries("s10_knn_serve")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "compaction changed serving results")
    // idempotent: a second pass finds nothing over the bound
    assert(SimilarityOps.s21CompactCells(spark, sf).isEmpty)
  }

  test("bench: family partition covers every declared query exactly once") {
    val fams = graft.SparkEntry.queries.keySet.groupBy(_.takeWhile(!_.isDigit))
    assert(fams.values.map(_.size).sum == graft.SparkEntry.queries.size)
    // family keys are the known prefixes — a new family shows up here
    // deliberately, not by accident of a typo'd query name
    assert(fams.keySet == Set("q", "h", "e", "d", "s", "t", "p", "m"),
      s"unexpected families: ${fams.keySet}")
  }
}
