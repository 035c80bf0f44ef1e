package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 operator specs. */
class Round6OpsSpec extends AnyFunSuite {
  import graft.SharedSpark._

  test("d11: df cap keeps candidate generation linear under a planted universal shingle") {
    import spark.implicits._
    // 60 otherwise-unrelated docs all carry one universal trigram
    // ("common shared tail" — site boilerplate), plus one true near-dup
    // pair (900, 901) sharing most of their text.
    val boiler = (0 until 60).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i common shared tail"))
    val dupBase = "the quick brown fox jumps over the lazy dog again and again"
    val planted = boiler ++ Seq(
      (900L, dupBase + " common shared tail"),
      (901L, dupBase + " common shared coda"))
    val df = planted.toDF("doc_id", "text")

    // uncapped (cap larger than the corpus): the universal gram alone
    // makes every pair of the 61 docs carrying it a candidate —
    // quadratic, 61·60/2 pairs.
    val uncapped = DedupOps.cappedCandidates(df, 1000).count()
    assert(uncapped >= 61L * 60 / 2,
      s"expected the planted shingle to blow up candidates, got $uncapped")

    // capped at df > 10: the universal gram (df = 62) is dropped before
    // the self-join; candidates collapse to the pairs sharing RARE
    // grams — linear in true collisions.
    val capped = DedupOps.cappedCandidates(df, 10)
    val cappedPairs = capped.select("i", "j").as[(Long, Long)].collect().toSet
    assert(cappedPairs.contains((900L, 901L)), "true near-dup pair lost by the cap")
    assert(capped.count() <= 5L,
      s"cap did not bound candidates: ${capped.count()} pairs")

    // and the surviving pair still clears the d3 Jaccard threshold on
    // its capped gram sets
    val row = capped.filter($"i" === 900L && $"j" === 901L)
      .withColumn("unions", $"ca" + $"cb" - $"shared")
      .select($"shared", $"unions").head()
    assert(row.getLong(0) * 10 >= row.getLong(1) * 6,
      s"planted dup below threshold: $row")
  }

  test("d12: learned-cell blocking is sound and keeps useful recall vs all-pairs") {
    import spark.implicits._
    import graft.functions.EngineFns._
    val got = graft.SparkEntry.queries("d12_cosine_dup_kmeans")(spark, sf)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    // brute-force ground truth: every pair with cos >= 0.35 (500 vectors
    // at this SF — all-pairs is fine in a spec, and exactly what d12
    // must never do at scale)
    val e = graft.Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot($"v", $"v")))
    val all = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .withColumn("cos", dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm"))
      .filter($"cos" >= 0.35)
      .select($"a.vec_id", $"b.vec_id").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(all),
      s"blocking produced ${got.diff(all).size} pairs below the threshold")
    val recall = (got & all).size.toDouble / all.size
    // top-2-of-10 learned cells: boundary pairs in disjoint cells are the
    // accepted miss mode; degenerate clustering (everything one cell →
    // recall 1.0 but quadratic) or dead blocking (recall ~0) both fail
    assert(recall >= 0.4 && got.size < all.size,
      s"d12 recall $recall over ${all.size} true pairs (found ${got.size})")
  }

  test("t13: shared boilerplate scores high, garble zero, short docs guarded") {
    import spark.implicits._
    val boiler = "terms of service apply all rights reserved"
    val planted = (0 until 30).map(i =>
      (i.toLong, s"unique$i filler$i " + boiler)) ++ Seq(
      (100L, "xq zv qp wk jj zz xx yy"), // all-rare grams
      (101L, "one two"))                 // <3 tokens: no grams at all
    // topN = 5: exactly the 5 fully-shared boilerplate grams (df=30);
    // a larger N would pad the hot set with df=1 grams by hash order
    val r = TextOps.familiarityOf(planted.toDF("doc_id", "text"), 5)
      .select($"doc_id", $"n_grams", $"familiar_milli")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    // each boilerplate doc: 7 grams, 5 in the hot set → 714 permille
    (0 until 30).foreach { i =>
      assert(r(i.toLong) == ((7L, 714L)), s"doc $i scored ${r(i.toLong)}")
    }
    assert(r(100L)._2 == 0L, s"garble scored ${r(100L)}")
    assert(r(101L) == ((0L, 0L)), s"short doc scored ${r(101L)}")
  }

  test("q15: sketch outputs match the pinned golden file bitwise") {
    // The HLL/KLL sketches have no cross-engine oracle (rows-only in the
    // driver gate); this golden pin catches a SPARK-side sketch
    // regression instead: exact expected output for the fixed sf0.001
    // corpus, doubles compared bitwise via shortest-repr round-trip.
    // The error-bound spec (Round2OpsSpec) still covers other SFs.
    val golden = scala.io.Source
      .fromInputStream(getClass.getResourceAsStream("/golden/q15_sf0001.csv"))
      .getLines().map { l =>
        val Array(p, n, p50, p99) = l.split(",")
        (p, n.toLong, p50.toDouble, p99.toDouble)
      }.toSeq
    val got = graft.SparkEntry.queries("q15_approx_sketch")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == golden, s"q15 drifted from golden:\n got    $got\n golden $golden")
  }

  test("t14: planted PII is counted and redacted; clean text is untouched") {
    import spark.implicits._
    val planted = Seq(
      (0L, "contact me at alice.smith+work@example.co.uk for details"),
      (1L, "server at 10.0.255.3 and backup at 192.168.1.10 answered"),
      (2L, "order 12345678 shipped with tracking 000991122334"),
      (3L, "mixed: bob@corp.io from 172.16.0.9 ref 7654321"),
      (4L, "perfectly clean prose with no identifiers at all"),
      (5L, "not pii: 1.2.3 semver, 12345 short id, a@b local part only"))
      .toDF("doc_id", "text")
    val r = TextOps.piiProjected(planted)
      .select($"doc_id", $"n_email", $"n_ipv4", $"n_digits",
        $"orig_len" - $"redacted_len")
      .collect().map(x => x.getLong(0) ->
        ((x.getInt(1), x.getInt(2), x.getInt(3), x.getInt(4)))).toMap
    assert(r(0L)._1 == 1 && r(0L)._2 == 0 && r(0L)._3 == 0)
    assert(r(1L)._2 == 2, s"ipv4 count ${r(1L)}")
    assert(r(2L)._3 == 2, s"digit-run count ${r(2L)}")
    assert(r(3L) == ((1, 1, 1, r(3L)._4)) && r(3L)._4 > 0, s"mixed ${r(3L)}")
    // clean docs: zero matches, zero redaction delta
    assert(r(4L) == ((0, 0, 0, 0)), s"clean doc touched: ${r(4L)}")
    assert(r(5L) == ((0, 0, 0, 0)), s"near-miss doc matched: ${r(5L)}")
  }

  test("s8: exact re-rank of the ADC shortlist never loses recall vs s5") {
    import spark.implicits._
    val exact = graft.SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val adc = graft.SparkEntry.queries("s5_knn_ivfpq")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val rer = graft.SparkEntry.queries("s8_knn_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val rerSet = rer.map(t => (t._1, t._2)).toSet
    val rAdc = (adc & exact).size.toDouble / exact.size
    val rRer = (rerSet & exact).size.toDouble / exact.size
    // provable: s5's ADC top-K ⊆ the shortlist, and the exact re-rank
    // puts every true neighbor the shortlist contains into the top-K —
    // so re-ranking can never lose recall, only gain it
    assert(rRer >= rAdc, s"re-rank lost recall: $rRer vs ADC $rAdc")
    // within each query the exact scores must be non-increasing in rank
    rer.groupBy(_._1).foreach { case (qid, rows) =>
      val byRank = rows.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"s8 q$qid cos not monotone in rank: ${byRank.toSeq}")
    }
  }

  test("s9: SQ8 integer distances keep useful recall vs exact top-k") {
    import spark.implicits._
    val exact = graft.SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val sq8 = graft.SparkEntry.queries("s9_knn_sq8")(spark, sf)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = (sq8 & exact).size.toDouble / exact.size
    // byte-grid distances on 64 dims lose little: the quantization error
    // per dim is ≤ range/255. s1 ranks by cosine while SQ8 ranks by
    // (unnormalized) L2, so the bound is loose — but a broken quantizer
    // (all-zero codes, swapped bounds) collapses to ~0.1 and must fail
    assert(recall >= 0.3, s"s9 recall collapsed: $recall")
  }

  test("d14: keep step drops exactly the vectors with a smaller near-dup neighbor") {
    import spark.implicits._
    val pairs = graft.SparkEntry.queries("d12_cosine_dup_kmeans")(spark, sf)
      .select($"i", $"j").as[(Long, Long)].collect()
    val kept = graft.SparkEntry.queries("d14_semdedup_keep")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    val droppedIds = pairs.map(_._2).toSet
    // a vector is dropped iff it appears as the larger side of some pair
    kept.foreach { case (id, (k, rep, n)) =>
      assert((k == 0) == droppedIds.contains(id), s"vec $id kept=$k")
      if (k == 0) {
        val smallest = pairs.filter(_._2 == id).map(_._1).min
        assert(rep == smallest && rep < id && n > 0,
          s"vec $id rep=$rep n=$n expected rep=$smallest")
      } else assert(rep == id && n == 0L, s"kept vec $id has rep=$rep n=$n")
    }
    // the whole corpus is partitioned: every vector appears exactly once
    assert(kept.size == graft.Tables(spark, sf, "embeddings").count())
  }

  test("d12: candidate join is a shuffled join on the cell id, never a cross product") {
    val p = graft.SparkEntry.queries("d12_cosine_dup_kmeans")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin on cell:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs shape leaked into d12:\n$p")
  }

  test("t13: the hot-gram set broadcasts; the gram stream is never broadcast") {
    val p = graft.SparkEntry.queries("t13_familiarity")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"hot set should reach the gram stream as a broadcast:\n$p")
    // the broadcast build side is the LIMIT-ed top-N (TakeOrdered), i.e.
    // a bounded artifact — not the unbounded gram explode
    assert(p.contains("TakeOrderedAndProject"),
      s"broadcast side should be the top-N hot set:\n$p")
  }

  test("p7: vt order plays each language at its temperature-weighted rate") {
    import spark.implicits._
    val r = graft.SparkEntry.queries("p7_mixture_schedule")(spark, sf)
      .select($"lang", $"pos", $"vt")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    // positions are a dense 1..n permutation per language
    r.groupBy(_._1).foreach { case (lang, rows) =>
      val ps = rows.map(_._2).sorted
      assert(ps.sameElements(1L to ps.length),
        s"$lang positions not dense: ${ps.take(5).mkString(",")}…")
    }
    // rate property: up to the first language's exhaustion point T, each
    // language has emitted ~T·wm/1e12 docs (±2 for floor edges) — the
    // realized mixture matches the α=0.5 weights
    val wm = r.groupBy(_._1).map { case (l, rows) =>
      l -> math.floor(1e6 * math.sqrt(rows.length.toDouble)).toLong
    }
    val T = r.groupBy(_._1).map { case (_, rows) => rows.map(_._3).max }.min
    r.groupBy(_._1).foreach { case (lang, rows) =>
      val emitted = rows.count(_._3 <= T)
      val expected = T * wm(lang) / 1000000000000L
      assert(math.abs(emitted - expected) <= 2,
        s"$lang emitted $emitted by vt=$T, expected ~$expected")
    }
  }

  test("e16: simpson concentration sits in [1/n_types, 1] exactly") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("e16_simpson")(spark, sf)
      .select($"n_types", $"simpson_micro").as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nTypes, micro) =>
      // Σnᵢ²/n² is minimized at the uniform split (= 1/n_types) and
      // maximized when one type carries everything (= 1)
      assert(micro >= 1000000L / nTypes - 1 && micro <= 1000000L,
        s"simpson $micro out of bounds for $nTypes types")
    }
  }

  test("d13/p8: the corpus side collapses to distinct signatures before its join") {
    // the signature-side HashAggregate must sit BELOW the join — the
    // join input is one fixed-width row per distinct corpus signature,
    // never the corpus itself
    Seq("d13_incremental", "p8_incremental_refresh").foreach { q =>
      val plan = graft.SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      val joinAt = plan.indexOf("Join [sig")
      assert(joinAt >= 0, s"$q: no join keyed on sig in:\n$plan")
      assert(plan.indexOf("HashAggregate", joinAt) >= 0,
        s"$q: corpus side not aggregated under the sig join:\n$plan")
    }
  }

  test("d11: hot set broadcasts; gram stream is never broadcast") {
    val p = graft.SparkEntry.queries("d11_jaccard_dfcap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"hot-gram anti-probe should broadcast:\n$p")
  }
}
