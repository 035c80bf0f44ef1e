package graft.streaming

import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite
import graft.{SharedSpark, SparkJobs}
import graft.sources.{DerbyDialect, SyncConf}

/** A poll's increment is exactly (lastMark, mark]: rows committed after
  * the mark was taken belong to the next poll, however often the
  * increment is read. A CDC round's only Spark job is the upsert's. */
class JdbcIncrementalSpec extends AnyFunSuite {
  import SharedSpark.spark

  test("poll: a recount after new commits and an eviction still equals " +
      "rows, and the next poll reads exactly the new rows") {
    val url = "jdbc:derby:memory:incrbound;create=true"
    def exec(sql: String*): Unit = {
      val c = DriverManager.getConnection(url)
      try { val st = c.createStatement(); sql.foreach(st.execute); st.close() }
      finally c.close()
    }
    try exec("""DROP TABLE "BND"""") catch { case _: java.sql.SQLException => () }
    exec("""CREATE TABLE "BND" ("id" BIGINT NOT NULL, "seq" BIGINT NOT NULL)""",
      """INSERT INTO "BND" VALUES (1, 10), (2, 11), (3, 12)""")
    val conf = SyncConf(sourceUrl = url, targetUrl = url, database = "APP")
    val inc = JdbcIncremental.poll(spark, conf, "BND", "seq", 0L, DerbyDialect)
    assert(inc.newMark.contains(12L) && inc.rows == 3)
    exec("""INSERT INTO "BND" VALUES (4, 13), (5, 14)""")
    inc.df.unpersist(blocking = true)
    assert(inc.df.count() == inc.rows,
      "the re-read increment reached past the mark it reported")
    val next = JdbcIncremental.poll(spark, conf, "BND", "seq", 12L, DerbyDialect)
    try {
      assert(next.newMark.contains(14L) && next.rows == 2)
      assert(next.df.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(4L, 5L))
    } finally next.df.unpersist()
  }

  test("a CDC round runs only the upsert's Spark jobs: a poll starts none, " +
      "syncIncrement at most 2, and the next poll takes a later row once") {
    val srcUrl = "jdbc:derby:memory:incrjobsrc;create=true"
    val tgtUrl = "jdbc:derby:memory:incrjobtgt;create=true"
    def exec(url: String)(sql: String*): Unit = {
      val c = DriverManager.getConnection(url)
      try { val st = c.createStatement(); sql.foreach(st.execute); st.close() }
      finally c.close()
    }
    def rows(url: String): Seq[(Long, String, Long)] = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          """SELECT "k", "v", "seq" FROM "VER" ORDER BY "k"""")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toList
      } finally c.close()
    }
    for (url <- Seq(srcUrl, tgtUrl)) {
      try exec(url)("""DROP TABLE "VER"""") catch { case _: java.sql.SQLException => () }
      exec(url)("""CREATE TABLE "VER" ("k" BIGINT NOT NULL, "v" VARCHAR(8), "seq" BIGINT NOT NULL)""")
    }
    // keys 1 and 2 arrive in several versions within one increment
    exec(srcUrl)("""INSERT INTO "VER" VALUES (1, 'a', 1), (2, 'b', 2), """ +
      """(1, 'a2', 3), (3, 'c', 4), (2, 'b2', 5), (1, 'a3', 6)""")
    val conf = SyncConf(sourceUrl = srcUrl, targetUrl = tgtUrl, database = "APP")

    var inc: JdbcIncremental.Increment = null
    assert(SparkJobs.during(spark) {
      inc = JdbcIncremental.poll(spark, conf, "VER", "seq", 0L, DerbyDialect)
    } == 0, "a poll with new rows started a Spark job")
    assert(inc.newMark.contains(6L) && inc.rows == 6)

    var mark = 0L
    val roundJobs = SparkJobs.during(spark) {
      mark = JdbcIncremental.syncIncrement(spark, conf, "VER", "seq", Seq("k"),
        0L, DerbyDialect)
    }
    assert(roundJobs <= 2, s"a CDC round started $roundJobs Spark jobs")
    assert(mark == 6L)
    assert(rows(tgtUrl) == Seq((1L, "a3", 6L), (2L, "b2", 5L), (3L, "c", 4L)))

    exec(srcUrl)("""INSERT INTO "VER" VALUES (4, 'd', 7)""")
    val next = JdbcIncremental.poll(spark, conf, "VER", "seq", mark, DerbyDialect)
    assert(next.newMark.contains(7L) && next.rows == 1)
    assert(next.df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((4L, "d", 7L)))
    mark = JdbcIncremental.syncIncrement(spark, conf, "VER", "seq", Seq("k"),
      mark, DerbyDialect)
    assert(mark == 7L)
    val after = JdbcIncremental.poll(spark, conf, "VER", "seq", mark, DerbyDialect)
    assert(after.newMark.isEmpty && after.rows == 0 && after.df.count() == 0)
    assert(rows(tgtUrl) ==
      Seq((1L, "a3", 6L), (2L, "b2", 5L), (3L, "c", 4L), (4L, "d", 7L)))
  }

  test("a CDC round is one Spark job with one task, and it lands the " +
      "latest version of each key") {
    val srcUrl = "jdbc:derby:memory:incronesrc;create=true"
    val tgtUrl = "jdbc:derby:memory:incronetgt;create=true"
    def exec(url: String)(sql: String*): Unit = {
      val c = DriverManager.getConnection(url)
      try { val st = c.createStatement(); sql.foreach(st.execute); st.close() }
      finally c.close()
    }
    for (url <- Seq(srcUrl, tgtUrl)) {
      try exec(url)("""DROP TABLE "ONE"""") catch { case _: java.sql.SQLException => () }
      exec(url)("""CREATE TABLE "ONE" ("k" BIGINT NOT NULL, "v" VARCHAR(8), "seq" BIGINT NOT NULL)""")
    }
    // the target already holds an old version of key 2
    exec(tgtUrl)("""INSERT INTO "ONE" VALUES (2, 'old', 0)""")
    exec(srcUrl)("""INSERT INTO "ONE" VALUES (1, 'a', 1), (2, 'b', 2), """ +
      """(1, 'a2', 3), (3, 'c', 4), (2, 'b2', 5), (1, 'a3', 6), (3, 'c2', 7)""")
    val conf = SyncConf(sourceUrl = srcUrl, targetUrl = tgtUrl, database = "APP")
    var mark = 0L
    val (jobs, tasks) = SparkJobs.withTasks(spark) {
      mark = JdbcIncremental.syncIncrement(spark, conf, "ONE", "seq", Seq("k"),
        0L, DerbyDialect)
    }
    assert(mark == 7L)
    assert((jobs, tasks) == ((1, 1)),
      s"a CDC round started $jobs Spark jobs with $tasks tasks")
    val c = DriverManager.getConnection(tgtUrl)
    val got = try {
      val rs = c.createStatement().executeQuery(
        """SELECT "k", "v", "seq" FROM "ONE" ORDER BY "k"""")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).toList
    } finally c.close()
    assert(got == Seq((1L, "a3", 6L), (2L, "b2", 5L), (3L, "c2", 7L)))
  }
}
