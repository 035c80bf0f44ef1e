package graft.streaming

import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.sources.{DerbyDialect, SyncConf}

/** A poll's increment is exactly (lastMark, mark]: rows committed after
  * the mark was taken belong to the next poll, whether or not the
  * increment's cached rows survive. */
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
}
