package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables]] infers an input file's parquet schema once per session and
  * file version. Inference is a Spark job per table, and the SQL frontend
  * reads all ten tables on every query, so before the cache each TPC-H
  * query launched ten schema jobs before it ran. */
class TablesSchemaCacheSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sf = SharedSpark.sf
  private val MarkerProp = "graft.spec.jobMarker"

  /** Spark jobs started while `body` runs. A marker job before and after
    * brackets them: the listener bus delivers events in order, so once the
    * closing marker arrives every job of `body` has been seen. */
  private def jobsDuring(session: SparkSession)(body: => Unit): Int = {
    val sc = session.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty(MarkerProp))).getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(MarkerProp, tag)
      try session.range(1).collect() finally sc.setLocalProperty(MarkerProp, null)
    }
    def next(): String = {
      val s = seen.poll(60, TimeUnit.SECONDS)
      assert(s != null, "listener bus delivered no job start within 60 s")
      s
    }
    sc.addSparkListener(listener)
    try {
      marker("begin")
      body
      marker("end")
      while (next() != "begin") {}
      Iterator.continually(next()).takeWhile(_ != "end").size
    } finally sc.removeSparkListener(listener)
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
    assert(jobsDuring(spark)(Tables(spark, sf, "lineitem")) == 0)
    assert(jobsDuring(spark)(h09(spark, sf)) == 0)
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
    assert(jobsDuring(spark)(Tables(spark, dir.toString, "widget")) == 0)
  }

  test("a new session infers on its own first read") {
    Tables(spark, sf, "lineitem")
    val child = spark.newSession()
    assert(jobsDuring(child)(Tables(child, sf, "lineitem")) == 1)
    assert(jobsDuring(child)(Tables(child, sf, "lineitem")) == 0)
  }

  test("changing a parquet conf of the session infers again") {
    // events.ts is TIMESTAMP(MICROS) without a UTC adjustment and the
    // file carries no Spark schema, so this conf decides its Spark type
    val events = s"$sf/events.parquet"
    val child = spark.newSession()
    assert(Tables.schemaOf(child, events)("ts").dataType == TimestampNTZType)
    child.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(jobsDuring(child)(assert(
      Tables.schemaOf(child, events)("ts").dataType == TimestampType)) == 1)
  }
}
