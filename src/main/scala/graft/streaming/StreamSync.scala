package graft.streaming

import java.sql.Connection
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType
import graft.sources.{Introspection, SqlDialect, SyncConf}

/** Incremental (CDC-ish) sync: a stream of keyed change rows is applied
  * to a JDBC target as idempotent upserts, micro-batch by micro-batch via
  * `foreachBatch`.
  *
  * This is the streaming completion of [[graft.sources.TableSync]] (the
  * reference only ever snapshots whole tables; its "incremental" story is
  * re-running the full copy). Spark has no JDBC streaming sink, so the
  * standard pattern is foreachBatch + per-batch MERGE emulation: DELETE
  * the batch's keys, INSERT the batch's rows, one transaction per
  * partition. Re-delivered micro-batches (at-least-once) re-apply the
  * same terminal state, so the sink is effectively exactly-once for
  * keyed upserts.
  */
object StreamSync {

  /** Apply one micro-batch of upserts to `table`: per partition, one
    * transaction of batched DELETE-by-key + INSERT. Usable directly as
    * `stream.writeStream.foreachBatch(upsertBatch(conf, dialect, table, keys))`.
    *
    * If a batch can contain several versions of one key, pass `orderCol`
    * (a monotone version/sequence/timestamp column): the row with the
    * greatest value wins. Rows that tie on it are ranked by the other
    * non-key columns, in schema order, descending, so the winner does
    * not depend on arrival order. Without `orderCol`, rows are applied
    * as-is — correct only when the upstream guarantees at most one row
    * per key per batch (shuffle merge order is otherwise
    * nondeterministic, so no silent "last wins" is attempted).
    *
    * The batch is applied in one SQL execution, by one Spark job whose
    * tasks run [[ApplyPartition]] over the deduplicated rows. A batch
    * whose plan is one partition (a [[JdbcIncremental]] increment) is
    * deduped in place, so that job is the only one and has one task;
    * any other batch with `orderCol` is first exchanged on the keys, in
    * a job of its own. A row the target rejects fails its task, whose
    * transaction rolls back, and the error surfaces here. */
  def upsertBatch(conf: SyncConf, dialect: SqlDialect, table: String,
                  keyCols: Seq[String], orderCol: Option[String] = None)
                 (batch: DataFrame, batchId: Long): Unit = {
    val cols = batch.schema.fieldNames.toSeq
    val keyIdx = keyCols.map(cols.indexOf)
    require(keyIdx.forall(_ >= 0), s"key columns $keyCols must be in $cols")
    val quotedTable = dialect.quote(table)
    val deleteSql = s"DELETE FROM $quotedTable WHERE " +
      keyCols.map(k => s"${dialect.quote(k)} = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO $quotedTable (" +
      cols.map(dialect.quote).mkString(", ") + ") VALUES (" +
      cols.map(_ => "?").mkString(", ") + ")"
    val deduped = orderCol match {
      case Some(oc) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val ties = cols.filterNot(c => c == oc || keyCols.contains(c))
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy((oc +: ties).map(c => col(c).desc): _*)
        batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      case None => batch
    }
    val apply = new ApplyPartition(conf, deleteSql, insertSql, keyIdx, deduped.schema)
    val qe = deduped.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("upsertBatch")) {
      deduped.sparkSession.sparkContext.runJob(qe.toRdd, apply)
    }
  }

  /** One partition's upsert transaction: the task function of
    * [[upsertBatch]]'s job. It is a named class, not a lambda, so Spark's
    * closure cleaner ships it as it is, without parsing any class file. */
  private final class ApplyPartition(conf: SyncConf, deleteSql: String,
                                     insertSql: String, keyIdx: Seq[Int],
                                     schema: StructType)
      extends ((TaskContext, Iterator[InternalRow]) => Unit) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Unit =
      if (rows.nonEmpty) Introspection.withConnection(conf.targetUrl, conf.targetProps) { conn =>
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        conn.setAutoCommit(false)
        try {
          applyRows(conn, deleteSql, insertSql, keyIdx,
            rows.map(r => toRow(r).asInstanceOf[Row]), conf.batchSize)
          conn.commit()
        } catch { case e: Throwable => conn.rollback(); throw e }
      }
  }

  private def applyRows(conn: Connection, deleteSql: String, insertSql: String,
                        keyIdx: Seq[Int], rows: Iterator[Row], batchSize: Int): Unit = {
    val del = conn.prepareStatement(deleteSql)
    val ins = conn.prepareStatement(insertSql)
    try {
      var n = 0
      rows.foreach { row =>
        keyIdx.zipWithIndex.foreach { case (ki, pi) =>
          del.setObject(pi + 1, row.get(ki))
        }
        del.addBatch()
        (0 until row.length).foreach { i =>
          ins.setObject(i + 1, row.get(i))
        }
        ins.addBatch()
        n += 1
        // the reference's commit cadence: every `batchSize` rows
        // (JdbcPageSink.java:99-104)
        if (n % batchSize == 0) { del.executeBatch(); ins.executeBatch() }
      }
      del.executeBatch(); ins.executeBatch()
    } finally { del.close(); ins.close() }
  }
}
