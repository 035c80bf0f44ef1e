package graft

import java.lang.ref.WeakReference
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]] resolves an input file's parquet relation, schema included,
  * once per session and file version, and [[Tables.registerViews]] leaves
  * a view alone while its file and its plan are unchanged. Inference is a
  * Spark job per table and resolving was most of a query's driver time,
  * and the SQL frontend reads all ten tables on every query. */
class TablesSchemaCacheSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sf = SharedSpark.sf

  private def scans(df: DataFrame): Seq[LogicalRelation] =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r }

  private def storedPlan(s: SparkSession, view: String): LogicalPlan =
    s.sessionState.catalog.getRawTempView(view).flatMap(_.plan).get

  /** A copy of the sf0.001 tables in a fresh directory, so a spec can
    * overwrite one of them in place. */
  private def copyOfInputs(): Path = {
    val dir = Files.createTempDirectory("graft_tables_views")
    Tables.all.foreach(n => Files.copy(
      java.nio.file.Paths.get(s"$sf/$n.parquet"), dir.resolve(s"$n.parquet")))
    dir
  }

  /** Copy the single parquet file `df` writes to `dir/name.parquet`,
    * replacing what is there: an overwrite in place at the same path. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val staging = Files.createTempDirectory("graft_tables_stage")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("t").toString)
    val part = staging.resolve("t").toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeated read and a whole h09 build launch no schema job") {
    val h09 = SparkEntry.queries("h09_profit_by_nation")
    Tables(spark, sf, "lineitem")
    h09(spark, sf) // infers the other tables, builds h09's standing state
    assert(SparkJobs.during(spark)(Tables(spark, sf, "lineitem")) == 0)
    assert(SparkJobs.during(spark)(h09(spark, sf)) == 0)
  }

  test("overwriting a file at the same path with an extra column is seen") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_cache")
    writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), dir, "widget")
    assert(Tables(spark, dir.toString, "widget").columns.toSeq == Seq("id", "x"))
    writeTable(Seq((3L, "c", 7)).toDF("id", "x", "y"), dir, "widget")
    val next = Tables(spark, dir.toString, "widget")
    assert(next.columns.toSeq == Seq("id", "x", "y"))
    assert(next.as[(Long, String, Int)].collect().toSeq == Seq((3L, "c", 7)))
    assert(SparkJobs.during(spark)(Tables(spark, dir.toString, "widget")) == 0)
  }

  test("a new session infers on its own first read") {
    Tables(spark, sf, "lineitem")
    val child = spark.newSession()
    assert(SparkJobs.during(child)(Tables(child, sf, "lineitem")) == 1)
    assert(SparkJobs.during(child)(Tables(child, sf, "lineitem")) == 0)
  }

  test("changing a parquet conf of the session infers again") {
    // events.ts is TIMESTAMP(MICROS) without a UTC adjustment and the
    // file carries no Spark schema, so this conf decides its Spark type
    val events = s"$sf/events.parquet"
    val child = spark.newSession()
    assert(Tables.schemaOf(child, events)("ts").dataType == TimestampNTZType)
    child.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(SparkJobs.during(child)(assert(
      Tables.schemaOf(child, events)("ts").dataType == TimestampType)) == 1)
  }

  test("a repeated read shares one HadoopFsRelation under fresh attribute ids") {
    val Seq(a) = scans(Tables(spark, sf, "lineitem"))
    val Seq(b) = scans(Tables(spark, sf, "lineitem"))
    assert(a.relation.isInstanceOf[HadoopFsRelation])
    assert(a.relation eq b.relation)
    assert(a.output.map(_.exprId).intersect(b.output.map(_.exprId)).isEmpty)
  }

  test("a self-join of two reads of one table returns the rows of two plain reads") {
    val a = Tables(spark, sf, "nation")
    val b = Tables(spark, sf, "nation")
    def join(x: DataFrame, y: DataFrame) =
      x.join(y, x("n_regionkey") === y("n_nationkey"))
        .select(x("n_name"), y("n_name")).collect().toSeq.sortBy(_.getString(0))
    val plain = spark.read.parquet(s"$sf/nation.parquet")
    val expected = join(plain, spark.read.parquet(s"$sf/nation.parquet"))
    assert(expected.nonEmpty)
    assert(join(a, b) == expected)
  }

  test("changing a parquet conf of the session resolves a new relation") {
    val child = spark.newSession()
    val Seq(before) = scans(Tables(child, sf, "events"))
    child.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val Seq(after) = scans(Tables(child, sf, "events"))
    assert(!(before.relation eq after.relation))
    val Seq(again) = scans(Tables(child, sf, "events"))
    assert(after.relation eq again.relation)
  }

  test("a dropped session that read through Tables is collectable") {
    // Reads only, no query: a session that ran an adaptive query stays
    // reachable from the threads AQE spawned during it (they inherit the
    // active session) until those pooled threads idle out.
    def readInChild(): WeakReference[SparkSession] = {
      val child = spark.newSession()
      val Seq(r) = scans(Tables(child, sf, "nation"))
      assert(r.relation.asInstanceOf[HadoopFsRelation].sparkSession eq child)
      Tables.registerViews(child, sf)
      new WeakReference(child)
    }
    val ref = readInChild()
    val rounds = Iterator.range(0, 20).takeWhile { _ =>
      System.gc(); Thread.sleep(100); ref.get() != null
    }.size
    assert(ref.get() == null, s"session still reachable after $rounds GCs")
  }

  test("registerViews on unchanged inputs keeps every view's plan and starts no job") {
    val child = spark.newSession()
    Tables.registerViews(child, sf)
    val plans = Tables.all.map(storedPlan(child, _))
    assert(SparkJobs.during(child)(Tables.registerViews(child, sf)) == 0)
    Tables.all.zip(plans).foreach { case (n, p) =>
      assert(storedPlan(child, n) eq p, s"view $n was registered again")
    }
  }

  test("registerViews shows a file overwritten at the same path") {
    import spark.implicits._
    val dir = copyOfInputs()
    val child = spark.newSession()
    Tables.registerViews(child, dir.toString)
    assert(child.table("region").count() == 5)
    writeTable(Seq((7, "ATLANTIS")).toDF("r_regionkey", "r_name"), dir, "region")
    Tables.registerViews(child, dir.toString)
    assert(child.table("region").collect().toSeq == Seq(Row(7, "ATLANTIS")))
  }

  test("registerViews restores a view a caller replaced") {
    val child = spark.newSession()
    Tables.registerViews(child, sf)
    val all = child.table("nation").count()
    Tables(child, sf, "nation").filter("n_nationkey < 3").createOrReplaceTempView("nation")
    assert(child.table("nation").count() == 3)
    Tables.registerViews(child, sf)
    assert(child.table("nation").count() == all)
  }
}
