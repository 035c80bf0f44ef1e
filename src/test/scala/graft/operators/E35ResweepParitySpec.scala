package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** [[EventOps.e35Resweep]] folds one ±1 ledger under a single user_id
  * exchange. It must equal the two-aggregate formulation it replaced —
  * (standing copies + adds) counted, dels counted, left-joined,
  * subtracted and clipped at zero — kept here as the reference. */
class E35ResweepParitySpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def reference(touched: DataFrame, adds: DataFrame,
      dels: DataFrame): DataFrame = {
    val wAll = touched
      .select($"user_id", explode($"ts_list").as("us"))
      .unionByName(adds.select($"user_id", $"us"))
      .groupBy($"user_id", $"us").agg(count(lit(1)).as("w_all"))
    val wDel = dels.groupBy($"user_id", $"us").agg(count(lit(1)).as("w_del"))
    val remaining = wAll
      .join(wDel, Seq("user_id", "us"), "left")
      .select($"user_id", $"us",
        ($"w_all" - coalesce($"w_del", lit(0L))).as("w"))
      .filter($"w" > 0)
    val byUser = Window.partitionBy($"user_id").orderBy($"us")
    remaining
      .withColumn("prev", lag($"us", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev".isNull || $"us" - $"prev" > EventOps.E32GapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("start_us"), max($"us").as("end_us"),
        sum($"w").as("n_events"),
        sort_array(flatten(collect_list(
          array_repeat($"us", $"w".cast("int"))))).as("ts_list"))
      .select($"user_id", $"start_us", $"end_us", $"n_events", $"ts_list")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long, Seq[Long])] =
    df.collect().map { case Row(u: Long, s: Long, e: Long, n: Long,
        ts: scala.collection.Seq[_]) =>
      (u, s, e, n, ts.map(_.asInstanceOf[Long]).toSeq)
    }.toSeq.sortBy(r => (r._1, r._2))

  /** Touched state rows: one row per user holding the user's multiset
    * (the fold only explodes `ts_list`, so the session split of the
    * standing rows does not matter here). */
  private def state(byUser: Map[Long, Seq[Long]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      byUser.toSeq.collect { case (u, ts) if ts.nonEmpty =>
        Row(u, ts.min, ts.max, ts.size.toLong, ts.sorted)
      }), EventOps.E35StateSchema)

  private def pairs(ps: Seq[(Long, Long)]) = ps.toDF("user_id", "us")

  private def check(touched: DataFrame, adds: Seq[(Long, Long)],
      dels: Seq[(Long, Long)]): Unit = {
    val got = rows(EventOps.e35Resweep(touched, pairs(adds), pairs(dels)))
    val want = rows(reference(touched, pairs(adds), pairs(dels)))
    assert(got == want, s"adds=$adds dels=$dels")
  }

  private val minute = 60L * 1000000

  test("seeded random multisets: duplicates, same-batch cancels, " +
      "unmatched dels and fully deleted users match the reference") {
    (1 to 12).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // times on a 10-minute grid over 4 h: duplicates are common and
      // the 30-minute gap both splits and merges sessions
      def t() = rnd.nextInt(24) * 10 * minute
      val standing = (1L to 5L).map(u =>
        u -> Seq.fill(1 + rnd.nextInt(5))(t())).toMap
      // no adds for user 5, whose every standing copy is deleted below
      val adds = Seq.fill(12)((Seq(1L, 2L, 3L, 4L, 6L)(rnd.nextInt(5)), t()))
      val sameBatch = rnd.shuffle(adds).take(3)
      val unmatched = Seq((7L, t()), (1L, 25 * 10 * minute))
      val erased = standing(5L).map(5L -> _)
      val standingDels = standing.toSeq.flatMap { case (u, ts) =>
        ts.filter(_ => rnd.nextInt(3) == 0).map(u -> _) }
      check(state(standing), adds,
        sameBatch ++ unmatched ++ erased ++ standingDels)
    }
  }

  test("a del beyond the copies it matches clips at zero; a user whose " +
      "every event is deleted vanishes") {
    val touched = state(Map(1L -> Seq(0L, 0L, 40 * minute), 2L -> Seq(5 * minute)))
    val adds = Seq((1L, 0L), (3L, 90 * minute))
    val dels = Seq((1L, 0L), (1L, 0L), (1L, 0L), (1L, 0L), (2L, 5 * minute),
      (3L, 90 * minute), (4L, 0L))
    check(touched, adds, dels)
    val got = rows(EventOps.e35Resweep(touched, pairs(adds), pairs(dels)))
    assert(got == Seq((1L, 40 * minute, 40 * minute, 1L, Seq(40 * minute))))
  }

  test("the empty touched frame of the bootstrap: adds minus dels only") {
    val empty = state(Map.empty)
    val adds = Seq((1L, 0L), (1L, 0L), (1L, 20 * minute), (1L, 80 * minute),
      (2L, 0L))
    val dels = Seq((1L, 0L), (2L, 0L), (2L, 0L), (3L, 0L))
    check(empty, adds, dels)
    assert(rows(EventOps.e35Resweep(empty, pairs(adds), pairs(dels))) == Seq(
      (1L, 0L, 20 * minute, 2L, Seq(0L, 20 * minute)),
      (1L, 80 * minute, 80 * minute, 1L, Seq(80 * minute))))
    check(empty, Nil, Nil)
  }
}
