package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{GraftDerbyDialect, Introspection, SqlDialect, SyncConf}

/** High-watermark incremental JDBC reads — the micro-batch "CDC-ish"
  * source pattern: each poll reads only rows with watermark column value
  * strictly above the last seen mark and at most the new mark, which it
  * reports.
  *
  * The reference can only re-snapshot whole tables; this plus
  * [[StreamSync.upsertBatch]] is the incremental pipeline:
  * `poll → transform → upsert`, drivable from any scheduler or a
  * Structured Streaming foreachBatch loop. The watermark column must be
  * monotonically increasing for committed rows (an id sequence or an
  * event timestamp).
  */
object JdbcIncremental {

  /** One poll's increment.
    * @param df      a single uncached JDBC read of (last mark, `newMark`],
    *                declared as the one partition it is read as: the read
    *                is one JDBC cursor, so `coalesce(1)` over it moves no
    *                data, and it lets a keyed operator over it (the
    *                upsert's dedup window) plan no exchange. Every action
    *                on it reads the source again, so a caller that reads
    *                it twice pays for two source reads
    * @param newMark the greatest watermark past the last mark, or `None`
    *                if there were no new rows
    * @param rows    the rows in (last mark, `newMark`], counted by the mark
    *                probe in the same statement as its `MAX` */
  final case class Increment(df: DataFrame, newMark: Option[Long], rows: Long)

  /** One poll: rows with `lastMark` < `watermarkCol` <= the reported
    * mark (numeric marks). The mark and the row count come first, from
    * one driver-side `SELECT MAX, COUNT(*)` on the source, and the mark
    * bounds the read above: a row committed after the probe belongs to
    * the next poll, so it is applied once, and a read of `df` returns
    * the `rows` rows the probe counted, unless one of them is updated or
    * deleted in between (an update re-stamps the row past the mark, so
    * the next poll applies it). Both bounds are pushed into the
    * source-side query, so the database does the filtering — each
    * poll's cost is proportional to the new rows, not the table. A poll
    * starts no Spark job.
    *
    * The probe is one prepared statement with the mark as its parameter,
    * and the read is the bounds as the one JDBC predicate over the fixed
    * relation `(SELECT * FROM t) AS incr`: the statement texts the source
    * compiles (the probe and Spark's schema query) are the same on every
    * poll of a table, so a database with a statement cache compiles them
    * once. */
  def poll(spark: SparkSession, conf: SyncConf, table: String,
           watermarkCol: String, lastMark: Long,
           dialect: SqlDialect): Increment = {
    GraftDerbyDialect.ensureRegistered()
    val q = dialect.quote(table)
    val wc = dialect.quote(watermarkCol)
    // one tiny indexed query, never a Spark job
    val (mark, rows) = Introspection.withConnection(conf.sourceUrl, conf.sourceProps) { conn =>
      val ps = conn.prepareStatement(s"SELECT MAX($wc), COUNT(*) FROM $q WHERE $wc > ?")
      try {
        ps.setLong(1, lastMark)
        val rs = ps.executeQuery()
        rs.next()
        val m = rs.getLong(1)
        if (rs.wasNull()) (None, 0L) else (Some(m), rs.getLong(2))
      } finally ps.close()
    }
    val upper = mark.getOrElse(lastMark)
    val props = new java.util.Properties()
    conf.sourceProps.foreach { case (k, v) => props.setProperty(k, v) }
    val df = spark.read
      .option("fetchsize", conf.fetchSize.toString)
      .jdbc(conf.sourceUrl, s"(SELECT * FROM $q) AS incr",
        Array(s"$wc > $lastMark AND $wc <= $upper"), props)
      .coalesce(1)
    Increment(df, mark, rows)
  }

  /** Poll-and-apply: ship one increment into the target via the keyed
    * upsert sink, which reads it once. Returns the advanced mark
    * (unchanged if no new rows). */
  def syncIncrement(spark: SparkSession, conf: SyncConf, table: String,
                    watermarkCol: String, keyCols: Seq[String], lastMark: Long,
                    dialect: SqlDialect): Long = {
    val inc = poll(spark, conf, table, watermarkCol, lastMark, dialect)
    inc.newMark match {
      case Some(m) =>
        // watermark doubles as the version column: within one increment
        // the greatest mark per key wins
        StreamSync.upsertBatch(conf, dialect, table, keyCols,
          orderCol = Some(watermarkCol))(inc.df, m)
        m
      case None => lastMark
    }
  }
}
