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

  final case class Increment(df: DataFrame, newMark: Option[Long], rows: Long)

  /** One poll: rows with `lastMark` < `watermarkCol` <= the reported
    * mark (numeric marks). The mark comes first, from a driver-side MAX
    * on the source, and bounds the read above: a row committed after
    * the probe belongs to the next poll, so it is applied once, and a
    * re-read of `df` (say, after its cache is evicted) returns the same
    * `rows`. Both bounds are pushed into the source-side query, so the
    * database does the filtering — each poll's cost is proportional to
    * the new rows, not the table. */
  def poll(spark: SparkSession, conf: SyncConf, table: String,
           watermarkCol: String, lastMark: Long,
           dialect: SqlDialect): Increment = {
    GraftDerbyDialect.ensureRegistered()
    val q = dialect.quote(table)
    val wc = dialect.quote(watermarkCol)
    // one tiny indexed query, never a Spark job
    val mark = Introspection.withConnection(conf.sourceUrl, conf.sourceProps) { conn =>
      val rs = conn.createStatement().executeQuery(
        s"SELECT MAX($wc) FROM $q WHERE $wc > $lastMark")
      try {
        rs.next()
        val m = rs.getLong(1)
        if (rs.wasNull()) None else Some(m)
      } finally rs.close()
    }
    val upper = mark.getOrElse(lastMark)
    val sub = s"(SELECT * FROM $q WHERE $wc > $lastMark AND $wc <= $upper) AS incr"
    val df = spark.read
      .option("fetchsize", conf.fetchSize.toString)
      .jdbc(conf.sourceUrl, sub, {
        val p = new java.util.Properties()
        conf.sourceProps.foreach { case (k, v) => p.setProperty(k, v) }
        p
      })
    // cache before counting: the count and the downstream apply share
    // one source read
    val cached = if (mark.isDefined) df.persist() else df
    Increment(cached, mark, if (mark.isEmpty) 0L else cached.count())
  }

  /** Poll-and-apply: ship one increment into the target via the keyed
    * upsert sink. Returns the advanced mark (unchanged if no new rows). */
  def syncIncrement(spark: SparkSession, conf: SyncConf, table: String,
                    watermarkCol: String, keyCols: Seq[String], lastMark: Long,
                    dialect: SqlDialect): Long = {
    val inc = poll(spark, conf, table, watermarkCol, lastMark, dialect)
    try inc.newMark match {
      case Some(m) =>
        // watermark doubles as the version column: within one increment
        // the greatest mark per key wins
        StreamSync.upsertBatch(conf, dialect, table, keyCols,
          orderCol = Some(watermarkCol))(inc.df, m)
        m
      case None => lastMark
    } finally inc.df.unpersist()
  }
}
