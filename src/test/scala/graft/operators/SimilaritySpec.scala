package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Specs of the learned IVF-PQ family in [[SimilarityOps]]: the k-means
  * trainer (one cell and grouped), the hot-cell split, and the saved
  * index's build, serve, day-2 update and rebalance. */
class SimilaritySpec extends AnyFunSuite {
  import graft.SharedSpark._

  /** The physical plan with the AQE wrapper peeled (pre-execution, so
    * Exchange nodes are still visible as such, not query stages). */
  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("s6: learned label-free codebook reaches useful recall vs exact top-k") {
    import spark.implicits._
    val exact = graft.SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val got = graft.SparkEntry.queries("s6_knn_kmeans")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = (got & exact).size.toDouble / exact.size
    // nprobe=4 of 10 learned cells; the label-codebook s3 sits at ~0.66
    // on the same corpus — the learned codebook must be in the same
    // league, not degenerate
    assert(recall >= 0.4, s"s6 recall collapsed: $recall")
  }

  test("s7: fully-learned IVF-PQ stays in the label-codebook index's recall league") {
    import spark.implicits._
    val exact = graft.SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val labelIdx = graft.SparkEntry.queries("s5_knn_ivfpq")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val learned = graft.SparkEntry.queries("s7_knn_ivfpq_kmeans")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val rLearned = (learned & exact).size.toDouble / exact.size
    val rLabel = (labelIdx & exact).size.toDouble / exact.size
    // PQ compression + nprobe 4/10 caps both; the learned index must not
    // collapse relative to the label stand-in (sf0.01: 0.23 vs 0.21)
    assert(rLearned >= 0.1, s"s7 recall collapsed: $rLearned")
    assert(rLearned >= rLabel - 0.15,
      s"learned codebooks far below label codebooks: $rLearned vs $rLabel")
  }

  test("refineHotCells: planted hot blob splits until cells fit; assignment stays a partition") {
    import spark.implicits._
    // 800 vectors in a dense cube (one k-means cell will swallow them)
    // + 200 scattered — the skew that makes a within-cell pair join
    // quadratic without the split
    val blob = (0 until 800).map(i =>
      (i.toLong, Array.tabulate(8)(d => 5.0 + ((i * 31 + d * 7) % 100) / 100.0)))
    val scatter = (0 until 200).map(i =>
      (800L + i, Array.tabulate(8)(d => ((i * 17 + d * 13) % 1000) / 50.0)))
    val e = (blob ++ scatter).toDF("vec_id", "v")
    val cents = SimilarityOps.kmeansCentroids(e, k = 4, iters = 1,
      saltSeed = ":hotspec", saltCoin = ":hotspecc")
    val before = e.withColumn("cell", SimilarityOps.argminOver($"v", cents))
      .groupBy($"cell").count().agg(max("count")).head().getLong(0)
    assert(before > 400, s"planted blob did not concentrate: max cell $before")

    val refined = SimilarityOps.refineHotCells(e, cents, maxSize = 250)
    // partition property: every vector exactly once
    assert(refined.count() == 1000L)
    assert(refined.select("vec_id").distinct().count() == 1000L)
    val after = refined.groupBy($"cell").count()
      .agg(max("count")).head().getLong(0)
    assert(after <= 250, s"hot cell not split below maxSize: $after")
    assert(after < before, s"split made no progress: $before -> $after")
  }

  test("trainCells: each cell's grouped codebook equals its one-cell training") {
    import spark.implicits._
    import graft.functions.EngineFns.md5Long
    // two planted cells over different regions, ids interleaved so a
    // step that mixed the cells would change both codebooks
    val pts = (0 until 400).map { i =>
      val cell = if (i % 3 == 0) 3L else 8L
      val base = if (cell == 3L) 0.0 else 4.0
      (cell, i.toLong, Array.tabulate(8)(d => base + ((i * 37 + d * 11) % 97) / 25.0))
    }
    val x = pts.toDF("cell", "vec_id", "v")
    def salted(salt: String) =
      md5Long(concat($"vec_id".cast("string"), lit(salt), $"cell".cast("string")))
    val grouped = SimilarityOps.trainCells(x, k = 3, iters = 2,
      salted(":sp"), salted(":spc"))
    assert(grouped.keySet == Set(3L, 8L))
    Seq(3L, 8L).foreach { c =>
      // the one-cell call on c's members, salted with c's hash text
      val alone = SimilarityOps.kmeansCentroids(
        x.filter($"cell" === c).select($"vec_id", $"v"), k = 3, iters = 2,
        saltSeed = s":sp$c", saltCoin = s":spc$c")
      assert(alone.size >= 2, s"cell $c trained a degenerate codebook")
      assert(grouped(c).map { case (id, a) => (id, a.toSeq) } ==
        alone.map { case (id, a) => (id, a.toSeq) },
        s"cell $c: grouped codebook differs from its one-cell training")
    }
  }

  test("s10: serve plan scans ONLY the saved index, prunes unprobed cells, joins nothing") {
    val df = graft.SparkEntry.queries("s10_knn_serve")(spark, sf)
    val plan = physical(df)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1,
      s"serve must scan exactly the saved codes table, got ${scans.size} scans:\n$plan")
    assert(scans.head.toString.contains("graft_state_s7_codes"),
      s"serve scan is not the saved index:\n${scans.head}")
    // the `cell isin probes` filter resolves as partition pruning: the
    // unprobed inverted lists are never listed, let alone read
    assert(scans.head.partitionFilters.nonEmpty,
      s"cell probe filter did not reach PartitionFilters:\n${scans.head}")
    // no join, no k-means lineage: the codebooks were compiled to literals
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"serve plan must not join:\n$plan")
    // and serving from the saved index reproduces s7 exactly
    assert(df.collect().toSeq ==
      graft.SparkEntry.queries("s7_knn_ivfpq_kmeans")(spark, sf).collect().toSeq)
  }

  test("s11: day-2 ingest encodes only the batch — no k-means lineage, standing scan pruned") {
    val df = graft.SparkEntry.queries("s11_index_update")(spark, sf)
    val plan = physical(df)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    // exactly two scans: the saved standing codes + the raw batch slice
    assert(scans.size == 2, s"want codes + batch scans, got ${scans.size}:\n$plan")
    val codesScan = scans.filter(_.toString.contains("graft_state_s11_codes"))
    assert(codesScan.size == 1, s"no saved-codes scan:\n$plan")
    assert(codesScan.head.partitionFilters.nonEmpty,
      s"probe filter did not prune the standing inverted lists:\n${codesScan.head}")
    // encoding the batch with SAVED codebooks is pure projection: no
    // join anywhere, and no aggregate below the union (a k-means or
    // training aggregate in the lineage would mean a rebuild crept in)
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty,
      s"day-2 serve must not join:\n$plan")
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    assert(plan.collect { case a: BaseAggregateExec => a }.isEmpty,
      s"day-2 serve must not aggregate below the top-K:\n$plan")
    // and a second call (same saved state) reproduces the first exactly
    assert(df.collect().toSeq ==
      graft.SparkEntry.queries("s11_index_update")(spark, sf).collect().toSeq)
  }

  test("s20: rebalance splits only over-full lists and is surgical") {
    import spark.implicits._
    SimilarityOps.s10EnsureIndex(spark, sf)
    // a private working copy of the index for this spec (s16's move)
    val t = graft.sources.LayoutOps.stateTable("graft_state_s20spec", sf)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    graft.sources.LayoutOps.clearStaleLocation(spark, t)
    val s7codes = graft.sources.LayoutOps.stateTable("graft_state_s7_codes", sf)
    spark.table(s7codes).write.mode("overwrite").format("parquet")
      .partitionBy("cell").saveAsTable(t)
    val cents = spark.table(
        graft.sources.LayoutOps.stateTable("graft_state_s7_cent", sf))
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))

    def filesPerCell(): Map[Long, Set[String]] =
      spark.table(t).select($"cell", input_file_name().as("f"))
        .distinct().collect()
        .groupBy(_.getLong(0)).map { case (c, rs) =>
          c -> rs.map(_.getString(1)).toSet
        }
    val before = filesPerCell()
    val sizes = before.keys.map(c =>
      c -> spark.table(t).filter($"cell" === c).count()).toMap
    val nTotal = sizes.values.sum
    val hot = sizes.filter { case (_, n) =>
      5L * n * sizes.size > 6L * nTotal }.keySet
    assert(hot.nonEmpty, "testdata has no over-full list — threshold dead")
    assert(hot.size < sizes.size, "every list hot — nothing untouched to pin")

    val newCents = SimilarityOps.s20RebalanceOn(spark, sf, t, cents)
    val after = filesPerCell()
    // split parents are gone (partition dropped, files and all);
    // untouched lists keep their EXACT files
    hot.foreach(c => assert(!after.contains(c), s"parent $c still present"))
    before.foreach { case (c, fs) =>
      if (!hot(c)) assert(after(c) == fs, s"untouched list $c was rewritten")
    }
    // children carry exactly the parent's members, nothing lost
    assert(spark.table(t).count() == nTotal)
    val base = cents.map(_._1).max + 1
    val children = after.keySet -- before.keySet
    assert(children.nonEmpty && children.forall(_ >= base))
    // codebook updated to match the layout: one centroid per live cell
    // of the split parents' children, parents gone
    assert(newCents.map(_._1).toSet.intersect(hot).isEmpty)
    assert(children.subsetOf(newCents.map(_._1).toSet))
    // post-rebalance: every child is strictly smaller than its parent
    val childSizes = spark.table(t).filter($"cell" >= base)
      .groupBy($"cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hotSorted = hot.toSeq.sorted
    childSizes.foreach { case (child, n) =>
      val parent = hotSorted(((child - base) / SimilarityOps.S20SubK).toInt)
      assert(n < sizes(parent),
        s"child $child ($n) not smaller than parent $parent (${sizes(parent)})")
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("s20: rebuild survives a stale cent directory with no catalog entry") {
    SimilarityOps.s10EnsureIndex(spark, sf)
    val centT = graft.sources.LayoutOps.stateTable("graft_state_s20_cent", sf)
    val codesT = graft.sources.LayoutOps.stateTable("graft_state_s20_codes", sf)
    Seq(centT, codesT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // simulate a run killed between the codes write and the cent write,
    // then a fresh JVM: the cent DIRECTORY survives in the warehouse but
    // the (per-process) catalog has no entry — saveAsTable would refuse
    // with LOCATION_ALREADY_EXISTS unless the stale location is cleared
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(centT)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(loc, "leftover"))
    val codes = SimilarityOps.s20EnsureRebalanced(spark, sf)
    assert(spark.catalog.tableExists(centT))
    assert(spark.catalog.tableExists(codes))
    assert(spark.table(codes).count() > 0)
  }
}
