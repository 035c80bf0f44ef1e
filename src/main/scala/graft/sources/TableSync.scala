package graft.sources

import java.sql.Types
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

final case class SyncResult(table: String, sourceRows: Long, targetRows: Long) {
  /** The reference's only verification: fetched == inserted
    * (FetchRunner.java:53 vs H2Runner.java:48). */
  def countInvariantHolds: Boolean = sourceRows == targetRows
}

/** Whole-database JDBC replication — functional parity with the entire
  * reference application (SURVEY.md §2.1 ops #1-#15), re-expressed as
  * Spark jobs:
  *
  *   catalog scan → per table: introspect (silent-drop policy) →
  *   partitioned JDBC read (fetchsize, streaming cursor) → mapped-column
  *   projection + CHAR rtrim → overwrite target (drop/create DDL from the
  *   dialect type table) with batched inserts.
  *
  * The reference's two-thread queue pipeline (M2H2DataMigrator.java:22-36)
  * collapses into Spark's per-task read→write pipeline; its serial table
  * loop (Handler.java:30-32) becomes a parallel driver loop; its single
  * reader thread becomes `numPartitions` range-partitioned scans when an
  * integral primary key exists. That is the entire scale story: the same
  * job description runs 1000 tasks wide on a cluster.
  */
object TableSync {

  /** Catalog scan (reference Handler.fetch, Handler.java:27-33): enumerate
    * tables of the configured database. Driver-side metadata query — a
    * few rows, no need for a distributed scan. */
  def listTables(conf: SyncConf, dialect: SqlDialect): Seq[String] =
    Introspection.withConnection(conf.sourceUrl, conf.sourceProps) { conn =>
      val rs = conn.createStatement().executeQuery(
        dialect.catalogTablesQuery(conf.database))
      val out = ArrayBuffer.empty[String]
      try { while (rs.next()) out += rs.getString(1) } finally rs.close()
      out.toSeq
    }

  /** Pick a partition column for range-partitioned reads: the first
    * integral single-column primary key, if any. The reference reads with
    * one cursor per table; this is the scale-out upgrade. */
  def partitionColumn(conf: SyncConf, table: String, cols: Seq[MappedColumn],
                      dialect: SqlDialect): Option[String] =
    Introspection.withConnection(conf.sourceUrl, conf.sourceProps) { conn =>
      val rs = conn.getMetaData.getPrimaryKeys(null,
        dialect.metadataSchema(conf.database), table)
      val pks = ArrayBuffer.empty[String]
      try { while (rs.next()) pks += rs.getString("COLUMN_NAME") } finally rs.close()
      pks.toSeq match {
        case Seq(pk) => cols.find(c =>
          c.name.equalsIgnoreCase(pk) &&
          (c.meta.jdbcType == Types.INTEGER || c.meta.jdbcType == Types.BIGINT ||
           c.meta.jdbcType == Types.SMALLINT)).map(_.name)
        case _ => None
      }
    }

  private def jdbcProps(extra: Map[String, String], kv: (String, String)*): java.util.Properties = {
    val p = new java.util.Properties()
    extra.foreach { case (k, v) => p.setProperty(k, v) }
    kv.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  /** Read one source table as a DataFrame with the reference's read
    * semantics: mapped columns only, CHAR rtrim, fetchsize streaming —
    * plus range partitioning when a usable key exists. */
  def readTable(spark: SparkSession, conf: SyncConf, table: String,
                dialect: SqlDialect): (DataFrame, Seq[MappedColumn]) = {
    GraftDerbyDialect.ensureRegistered()
    val cols = Introspection.withConnection(conf.sourceUrl, conf.sourceProps) {
      conn => Introspection.mappedColumns(conn, conf.database, table, dialect,
        conf.strictTypes)
    }
    // The source-side SELECT lists exactly the mapped columns (reference
    // QueryBuilder.java:48-57) — unmappable columns never reach the wire,
    // and Spark's schema probe never touches them either.
    val selectList = cols.map(c => dialect.quote(c.name)).mkString(", ")
    val quoted = s"(SELECT $selectList FROM ${dialect.quote(table)}) AS sync_src"
    val reader = spark.read
      .option("fetchsize", conf.fetchSize.toString)
    val base = partitionColumn(conf, table, cols, dialect) match {
      case Some(pc) =>
        // bounds probe is one tiny driver-side query
        val (lo, hi) = Introspection.withConnection(conf.sourceUrl, conf.sourceProps) { conn =>
          val rs = conn.createStatement().executeQuery(
            s"SELECT MIN(${dialect.quote(pc)}), MAX(${dialect.quote(pc)}) FROM $quoted")
          try { rs.next(); (rs.getLong(1), rs.getLong(2)) } finally rs.close()
        }
        reader
          .option("partitionColumn", pc)
          .option("lowerBound", lo.toString)
          .option("upperBound", math.max(hi, lo + 1).toString)
          .option("numPartitions", conf.numPartitions.toString)
          .jdbc(conf.sourceUrl, quoted,
            jdbcProps(conf.sourceProps))
      case None =>
        reader.jdbc(conf.sourceUrl, quoted, jdbcProps(conf.sourceProps))
    }
    // projection = exactly the mapped columns (reference QueryBuilder's
    // SELECT list, QueryBuilder.java:48-57) + CHAR trailing-space trim
    // (StandardReadMappings.java:98-101).
    val projected = base.select(cols.map { c =>
      if (c.needsRtrim) rtrim(col(c.name)).as(c.name) else col(c.name)
    }: _*)
    (projected, cols)
  }

  /** Sync one table end to end (reference Handler.sync,
    * Handler.java:42-55): drop + recreate the target with the dialect's
    * DDL text via direct JDBC (the reference's truncateTable/
    * createTableInTarget, M2H2SchemaConverter.java:48-118), then batched
    * appends. The DDL cannot go through Spark's `createTableColumnTypes`
    * option — Spark parses that with its own SQL type parser, which
    * rejects target-native type names like `tinytext` or `datetime`. */
  def sync(spark: SparkSession, conf: SyncConf, table: String,
           dialect: SqlDialect): SyncResult = {
    val (df, cols) = readTable(spark, conf, table, dialect)
    recreateTarget(conf, table, cols, dialect)
    df.write
      .mode(SaveMode.Append)
      .option("batchsize", conf.batchSize.toString)
      .jdbc(conf.targetUrl, dialect.quote(table), jdbcProps(conf.targetProps))
    SyncResult(table,
      sourceRows = countRows(conf.sourceUrl, conf.sourceProps, table, dialect),
      targetRows = countRows(conf.targetUrl, conf.targetProps, table, dialect))
  }

  /** DROP (if present) + CREATE the target table from the mapped schema,
    * using the dialect's native column-type text. */
  private def recreateTarget(conf: SyncConf, table: String,
                             cols: Seq[MappedColumn], dialect: SqlDialect): Unit =
    Introspection.withConnection(conf.targetUrl, conf.targetProps) { conn =>
      val st = conn.createStatement()
      try {
        try st.execute(s"DROP TABLE ${dialect.quote(table)}")
        catch { case _: java.sql.SQLException => () } // no such table
        st.execute(s"CREATE TABLE ${dialect.quote(table)} " +
          s"(${Introspection.createTableColumnTypes(cols, dialect)})")
      } finally st.close()
    }

  /** Sync every table of the database (reference Boot→Handler.fetch), the
    * per-table loop running `tableParallelism` wide. */
  def syncAll(spark: SparkSession, conf: SyncConf,
              dialect: SqlDialect): Seq[SyncResult] = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val tables = listTables(conf, dialect)
    val pool = Executors.newFixedThreadPool(math.max(1, conf.tableParallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(
      Future.traverse(tables)(tbl => Future(sync(spark, conf, tbl, dialect))),
      Duration.Inf)
    finally pool.shutdown()
  }

  private def countRows(url: String, props: Map[String, String],
                        table: String, dialect: SqlDialect): Long =
    Introspection.withConnection(url, props) { conn =>
      val rs = conn.createStatement()
        .executeQuery(s"SELECT COUNT(*) FROM ${dialect.quote(table)}")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }
}
