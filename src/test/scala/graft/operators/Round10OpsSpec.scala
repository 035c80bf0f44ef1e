package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 specs: the round-9 ADVICE fixes (s16 emptied-cell drop,
  * snapshotDiff schema-drift guard, q47 non-convergence throw) and the
  * round's new operators. */
class Round10OpsSpec extends AnyFunSuite {
  import graft.SharedSpark._

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("s16: tombstoning an ENTIRE cell drops its partition, not just rows") {
    import spark.implicits._
    val codesT = graft.sources.LayoutOps.stateTable("graft_state_s16_codes", sf)
    spark.sql(s"DROP TABLE IF EXISTS $codesT")
    SimilarityOps.s10EnsureIndex(spark, sf)
    SimilarityOps.s16EnsureCopy(spark, sf)
    // victim: the smallest cell (cheapest full wipe); tombstone EVERY row
    val victim = spark.table(codesT).groupBy($"cell").count()
      .orderBy($"count".asc, $"cell".asc).head().getLong(0)
    val delIds = spark.table(codesT).filter($"cell" === victim)
      .select($"nid".as("del_id"))
    val nVictim = delIds.count()
    val total = spark.table(codesT).count()
    val affected = SimilarityOps.s16CompactWith(spark, sf, delIds)
    assert(affected == Seq(victim))
    // the emptied cell is gone from reads AND from the partition catalog
    assert(spark.table(codesT).filter($"cell" === victim).count() == 0)
    assert(spark.table(codesT).count() == total - nVictim)
    val parts = spark.sql(s"SHOW PARTITIONS $codesT")
      .collect().map(_.getString(0)).toSet
    assert(!parts.contains(s"cell=$victim"),
      s"emptied cell $victim still present in partition catalog")
    // and its files are physically deleted (GDPR-erasure contract)
    val loc = new java.net.URI(spark.sql(s"DESCRIBE EXTENDED $codesT")
      .filter(col("col_name") === "Location").head().getString(1)).getPath
    assert(!new java.io.File(s"$loc/cell=$victim").exists(),
      s"emptied cell $victim left files on disk")
    spark.sql(s"DROP TABLE IF EXISTS $codesT") // reset for other s16 specs
  }

  test("snapshotDiff: schema drift between versions fails loudly") {
    import spark.implicits._
    val out = java.nio.file.Files
      .createTempDirectory("graft_diff_drift").toString
    graft.sources.LayoutOps.writeVersioned(
      Seq((1L, "a")).toDF("id", "x"), out)
    graft.sources.LayoutOps.writeVersioned(
      Seq((1L, "a", "b")).toDF("id", "x", "y"), out)
    val eAdd = intercept[IllegalArgumentException] {
      graft.sources.LayoutOps.snapshotDiff(spark, out, 1, 2, "id")
    }
    assert(eAdd.getMessage.contains("schema drift"))
    assert(eAdd.getMessage.contains("y"))
    // dropped column: same guard, other direction
    val eDrop = intercept[IllegalArgumentException] {
      graft.sources.LayoutOps.snapshotDiff(spark, out, 2, 1, "id")
    }
    assert(eDrop.getMessage.contains("schema drift"))
  }

  test("q47: a peel that cannot converge within the cap throws") {
    import spark.implicits._
    // path graph 0-1-2-...-99 with k=2: endpoints die one layer per
    // round, needing 50 rounds > Q47MaxRounds=32 — the capped loop
    // must throw, never return the partial peel labeled as a k-core
    val ed = (0L until 99L).map(i => (i, i + 1))
    val sym = (ed ++ ed.map(_.swap)).toDF("u", "v")
    val e = intercept[IllegalStateException] {
      RelationalOps.q47KCoreFrom(sym, 2L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("basket cap: a planted mega-basket truncates to O(cap²) pairs, flagged") {
    import spark.implicits._
    // one bot basket with 40 items + two honest baskets of 3 and 2
    val mega = (0L until 40L).map(p => (100L, p))
    val small = Seq((200L, 1L), (200L, 2L), (200L, 3L), (300L, 4L), (300L, 5L))
    val pl = (mega ++ small).toDF("o", "p")
    val capped = RelationalOps.cappedBasketItems(pl, cap = 10)
    val byBasket = capped.groupBy($"o")
      .agg(count(lit(1)).as("n"), max($"overflow").as("of"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // the mega-basket kept exactly cap items and reports the truncation
    assert(byBasket(100L) == (10L, true))
    // honest baskets are untouched and unflagged
    assert(byBasket(200L) == (3L, false))
    assert(byBasket(300L) == (2L, false))
    // candidate pairs stay O(cap²·baskets): 45 + 3 + 1, never 40·39/2
    val pairs = RelationalOps.basketPairs(pl, cap = 10)
    assert(pairs.count() == 45L + 3L + 1L)
    // determinism: the kept items are the cap SMALLEST item ids
    val keptMega = capped.filter($"o" === 100L).select($"p")
      .as[Long].collect().sorted.toSeq
    assert(keptMega == (0L until 10L))
    // and the capped operators run end-to-end on the capped graph:
    // q44 over the mega-basket sees a 10-clique, not a 40-clique
    val tri = RelationalOps.q44TrianglesFrom(mega.toDF("o", "p"), cap = 10)
      .collect()
    assert(tri.length == 10)
    assert(tri.forall(_.getLong(2) == 9L * 8L / 2L)) // C(9,2) per corner
    // round 11: the truncation is VISIBLE at the query surface — every
    // output row reports how many baskets the cap cut (here: the one
    // mega-basket), and an uncapped corpus reports zero
    assert(tri.forall(_.getAs[Long]("truncated_baskets") == 1L))
    val honest = RelationalOps.q44TrianglesFrom(
      (0L until 4L).map(p => (1L, p)).toDF("o", "p"), cap = 10).collect()
    assert(honest.forall(_.getAs[Long]("truncated_baskets") == 0L))
    // q46 surfaces the same count
    val rules = RelationalOps.q46AssocRulesFrom(pl, cap = 10).collect()
    assert(rules.nonEmpty &&
      rules.forall(_.getAs[Long]("truncated_baskets") == 1L))
  }

  test("tpch frontend: 22 entries, every oracle IS the Spark text") {
    assert(TpchSql.texts.size == 22)
    assert(TpchSql.oracles == TpchSql.texts)
    TpchSql.texts.keys.foreach { k =>
      assert(graft.SparkEntry.queries.contains(k), s"$k missing from queries")
      assert(graft.SparkEntry.oracleSql.contains(k), s"$k missing from oracles")
    }
  }

  test("tpch frontend: subqueries decorrelate; no cartesian products") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
    // h21's EXISTS + NOT EXISTS must become semi/anti joins
    val p21 = physical(graft.SparkEntry.queries("h21_waiting_suppliers")(spark, sf))
    val joinTypes = p21.collect { case j: BaseJoinExec => j.joinType.toString }
    assert(joinTypes.exists(_.contains("Semi")), s"no semi join in h21: $joinTypes")
    assert(joinTypes.exists(_.contains("Anti")), s"no anti join in h21: $joinTypes")
    // no h-query may plan a cartesian product
    TpchSql.texts.keys.foreach { k =>
      val cart = physical(graft.SparkEntry.queries(k)(spark, sf))
        .collect { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$k plans a CartesianProduct")
    }
  }

  test("t25: hashed model agrees with exact t19 when buckets don't collide") {
    import spark.implicits._
    val d = Seq((0L, "the cat sat"), (1L, "zq zq zq zq"), (2L, "ab"))
      .toDF("doc_id", "text")
    val exact = TextOps.t19LmSurpriseFrom(d).collect().map(_.toSeq)
    val hashed = TextOps.t25LmSurpriseHashedFrom(d, 1 << 16)
      .collect().map(_.toSeq)
    // at 2^16 buckets this planted corpus's ~20 distinct trigrams are
    // collision-free (verified), so hashing is a pure re-key: identical
    assert(hashed.toSeq == exact.toSeq)
  }

  test("t25: planted total collision (buckets=1) merges every count") {
    import spark.implicits._
    val d = Seq((0L, "abcd"), (1L, "xyz")).toDF("doc_id", "text")
    // 3 trigram occurrences corpus-wide → with ONE bucket, every
    // occurrence sees c3 = c2 = 3: bits = bitlen(3+64) - bitlen(3) = 5
    val rows = TextOps.t25LmSurpriseHashedFrom(d, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((0L, 2L, 10L), (1L, 1L, 5L)))
    // the same corpus under the exact model scores MORE bits for the
    // novel doc — collisions only ever under-report surprise
    val exactBits = TextOps.t19LmSurpriseFrom(d)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(exactBits(1L) >= 5L)
  }

  test("s19: hybrid kNN graph recall@5 >= 0.7 and strictly above s14's") {
    import spark.implicits._
    import graft.functions.EngineFns.{dot, micro}
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val hybrid = graft.SparkEntry.queries("s19_knn_graph_hybrid")(spark, sf)
    assert(physical(hybrid).collect { case c: CartesianProductExec => c }.isEmpty,
      "both candidate generators must block, never all-pairs")
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot($"v", $"v")))
    val exW = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"cos_micro".desc, $"nid".asc)
    val exact = e.select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qnrm"))
      .join(e.select($"vec_id".as("nid"), $"v".as("nv"), $"nrm".as("nnrm")),
        $"qid" =!= $"nid")
      .select($"qid", $"nid",
        micro(dot($"qv", $"nv") / ($"qnrm" * $"nnrm")).as("cos_micro"))
      .withColumn("rnk", row_number().over(exW)).filter($"rnk" <= 5)
      .select($"qid", $"nid").persist()
    val nExact = exact.count()
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select($"qid", $"nid").join(exact, Seq("qid", "nid"), "left_semi")
        .count().toDouble / nExact
    val rHybrid = recall(hybrid)
    val rLsh = recall(graft.SparkEntry.queries("s14_knn_graph")(spark, sf))
    exact.unpersist()
    // the measured ladder (docstring): LSH rungs 0.25/0.44/0.58 at
    // 2/4/6 bands; the hybrid's 0.744 at 38% of all-pairs cost
    assert(rHybrid >= 0.7, s"hybrid recall@5 $rHybrid below the 0.7 rung")
    assert(rHybrid > rLsh, s"hybrid $rHybrid must beat the LSH rung $rLsh")
  }

  test("q47: planted graph with a clean 2-core converges and returns it") {
    import spark.implicits._
    // triangle {0,1,2} + pendant chain 2-3-4: k=2 core = the triangle
    val ed = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L))
    val sym = (ed ++ ed.map(_.swap)).toDF("u", "v")
    val rows = RelationalOps.q47KCoreFrom(sym, 2L)
      .select($"p_partkey", $"core_deg").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((0L, 2L), (1L, 2L), (2L, 2L)))
  }

  test("q47: driver peel arm and superstep arm are output-identical, rounds included") {
    import spark.implicits._
    // two 3-cliques bridged by a chain + pendants: peel needs several
    // rounds (pendant layers die one per step), exercising both the
    // multi-round path and the zero-kill convergence step in each arm
    val cliqueA = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    val cliqueB = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val chain = Seq((2L, 5L), (5L, 6L), (6L, 10L))
    val pendants = Seq((0L, 20L), (20L, 21L), (21L, 22L), (12L, 30L))
    val ed = cliqueA ++ cliqueB ++ chain ++ pendants
    val sym = (ed ++ ed.map(_.swap)).toDF("u", "v")
    def run(bound: Int) = RelationalOps.q47KCoreFrom(sym, 2L, bound)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val driverArm = run(1000000)  // 26 rows << bound: driver simulation
    val loopArm = run(0)          // forced superstep loop
    assert(driverArm == loopArm)
    assert(driverArm.nonEmpty)
    // and the non-convergence contract holds on the DRIVER arm too:
    // 100-node path graph at k=2 peels one layer per round > Q47MaxRounds
    val path = (0L until 99L).map(i => (i, i + 1))
    val psym = (path ++ path.map(_.swap)).toDF("u", "v")
    val e = intercept[IllegalStateException] {
      RelationalOps.q47KCoreFrom(psym, 2L, 1000000).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("q47: a peel needing 25 rounds converges, identically on both arms") {
    import spark.implicits._
    // a triangle with a 24-node tail: at k=2 the tail dies one node per
    // round from its tip, round 25 kills nobody — more rounds than the
    // old cap of 16, fewer than Q47MaxRounds
    val triangle = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    val tail = (0L +: (20L until 44L)).sliding(2).map(p => (p(0), p(1))).toSeq
    val ed = triangle ++ tail
    val sym = (ed ++ ed.map(_.swap)).toDF("u", "v")
    def run(bound: Int) = RelationalOps.q47KCoreFrom(sym, 2L, bound)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val driverArm = run(1000000)
    assert(driverArm == Seq((0L, 2L, 2L, 25), (1L, 2L, 2L, 25), (2L, 2L, 2L, 25)))
    assert(run(0) == driverArm) // forced superstep loop
  }

  test("q47: a driver-arm run takes k from its one edge probe") {
    // 7 jobs; 11 while k came from a separate aggregate over the edges
    // and the driver arm sorted its already-ordered rows
    val q47 = graft.SparkEntry.queries("q47_kcore")
    def run(): Unit =
      q47(spark, sf).write.format("noop").mode("overwrite").save()
    run() // builds the standing edge table
    assert(graft.SparkJobs.during(spark)(run()) <= 7)
  }
}
