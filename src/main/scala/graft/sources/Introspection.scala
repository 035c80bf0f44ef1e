package graft.sources

import java.sql.{Connection, DriverManager, Types}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Raw JDBC column descriptor — the reference's JdbcTypeHandle triple
  * (jdbcType, columnSize, decimalDigits; JdbcTypeHandle.java:7-16) plus
  * the name. */
final case class ColumnMeta(name: String, jdbcType: Int, size: Int, digits: Int)

/** A mapped column: raw JDBC meta + resolved Spark type. The reference's
  * JdbcColumnHandle (JdbcColumnHandle.java:11-22). */
final case class MappedColumn(meta: ColumnMeta, sparkType: DataType) {
  def name: String = meta.name
  /** Reference trims trailing spaces when reading CHAR (the
    * CharType→rtrim read mapping, StandardReadMappings.java:98-101). */
  def needsRtrim: Boolean =
    meta.jdbcType == Types.CHAR || meta.jdbcType == Types.NCHAR
}

/** Table-not-found / no-mappable-columns failure, mirroring
  * M2H2SchemaConverter.java:140-142. */
final class NoMappableColumnsException(table: String)
  extends RuntimeException(s"no mappable columns for table $table")

final class UnmappableColumnException(table: String, col: ColumnMeta)
  extends RuntimeException(
    s"column ${col.name} of $table has unmappable JDBC type ${col.jdbcType}")

/** Schema introspection over DatabaseMetaData — the reference's
  * M2H2SchemaConverter.getColumns (M2H2SchemaConverter.java:120-167):
  * per-column JDBC type triple → logical type, with unmappable columns
  * silently dropped (or failed in strict mode) and an error when nothing
  * maps.
  */
object Introspection {

  def withConnection[A](url: String, props: Map[String, String])(f: Connection => A): A = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val conn = DriverManager.getConnection(url, p)
    try f(conn) finally conn.close()
  }

  /** Raw column triples for a table (reference
    * M2H2SchemaConverter.java:129-133,160-167, with LIKE escaping). */
  def rawColumns(conn: Connection, schema: String, table: String,
                 dialect: SqlDialect): Seq[ColumnMeta] = {
    val md = conn.getMetaData
    val esc = md.getSearchStringEscape
    val rs = md.getColumns(null,
      dialect.escapeNamePattern(dialect.metadataSchema(schema), esc),
      dialect.escapeNamePattern(table, esc), null)
    val out = ArrayBuffer.empty[ColumnMeta]
    try {
      while (rs.next()) out += ColumnMeta(
        rs.getString("COLUMN_NAME"),
        rs.getInt("DATA_TYPE"),
        rs.getInt("COLUMN_SIZE"),
        rs.getInt("DECIMAL_DIGITS"))
    } finally rs.close()
    out.toSeq
  }

  /** JDBC type triple → Spark type: the §1.4 matrix
    * (StandardReadMappings.jdbcTypeToPrestoType,
    * StandardReadMappings.java:154-222). Returns None = unmappable. */
  def toSparkType(m: ColumnMeta): Option[DataType] = m.jdbcType match {
    case Types.BIT | Types.BOOLEAN => Some(BooleanType)
    case Types.TINYINT             => Some(ByteType)
    case Types.SMALLINT            => Some(ShortType)
    case Types.INTEGER             => Some(IntegerType)
    case Types.BIGINT              => Some(LongType)
    case Types.REAL                => Some(FloatType)
    case Types.FLOAT | Types.DOUBLE => Some(DoubleType)
    case Types.NUMERIC | Types.DECIMAL =>
      // precision = columnSize + max(-scale, 0); negative scale folds into
      // precision with scale 0; precision > 38 forces DECIMAL(38,12)
      // (StandardReadMappings.java:180-190 — the Postgres `number` rule).
      val scale = m.digits
      val precision = m.size + math.max(-scale, 0)
      if (precision <= 0) None
      else if (precision > DecimalType.MAX_PRECISION) Some(DecimalType(38, 12))
      else Some(DecimalType(precision, math.max(scale, 0)))
    case Types.CHAR | Types.NCHAR | Types.VARCHAR | Types.NVARCHAR |
         Types.LONGVARCHAR | Types.LONGNVARCHAR => Some(StringType)
    case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY => Some(BinaryType)
    case Types.DATE                => Some(DateType)
    case Types.TIMESTAMP           => Some(TimestampType)
    // TIME is readable-but-not-writable in the reference (no sink branch,
    // JdbcPageSink.java:147-148) and Spark has no TIME type: unmapped.
    case _ => None
  }

  /** Mapped schema with the reference's silent-drop policy
    * (M2H2SchemaConverter.java:135-142): unmappable columns are dropped
    * (or failed when strict), zero mappable columns is an error. */
  def mappedColumns(conn: Connection, schema: String, table: String,
                    dialect: SqlDialect, strict: Boolean): Seq[MappedColumn] = {
    val raw = rawColumns(conn, schema, table, dialect)
    val mapped = raw.flatMap { m =>
      toSparkType(m) match {
        case Some(t) => Some(MappedColumn(m, t))
        case None if strict => throw new UnmappableColumnException(table, m)
        case None => None
      }
    }
    if (mapped.isEmpty) throw new NoMappableColumnsException(table)
    mapped
  }

  /** Target CREATE TABLE column list from the mapped schema — each
    * name quoted by the dialect, then its native type text: the
    * reference's createTableInTarget DDL (M2H2SchemaConverter.java:75-118)
    * with the intended type-text mapping. [[TableSync]] executes it
    * itself (DROP + CREATE over JDBC), not through Spark's writer. */
  def createTableColumnTypes(cols: Seq[MappedColumn], dialect: SqlDialect): String =
    cols.map(c => s"${dialect.quote(c.name)} ${dialect.ddlType(c.sparkType, c.meta)}")
      .mkString(", ")
}
