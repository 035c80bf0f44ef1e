package graft.sources

import java.sql.Types
import java.util.Locale
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._

/** Spark JdbcDialect for Derby targets used by the sync tests.
  *
  * Spark's stock Derby mapping writes StringType as CLOB; Derby then
  * refuses `setNull(..., Types.CLOB)` against the VARCHAR columns our
  * own CREATE TABLE declares ([[TableSync]] runs the DDL that
  * [[Introspection.createTableColumnTypes]] renders). This dialect pins
  * the write-side JDBC types to the same families the DDL uses — the
  * same job the reference's per-type sink setters do
  * (JdbcPageSink.java:112-150).
  */
object GraftDerbyDialect extends JdbcDialect {
  override def canHandle(url: String): Boolean =
    url.toLowerCase(Locale.ROOT).startsWith("jdbc:derby")

  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType  => Some(JdbcType("VARCHAR(32672)", Types.VARCHAR))
    case BooleanType => Some(JdbcType("BOOLEAN", Types.BOOLEAN))
    case ByteType    => Some(JdbcType("SMALLINT", Types.SMALLINT))
    case ShortType   => Some(JdbcType("SMALLINT", Types.SMALLINT))
    case IntegerType => Some(JdbcType("INTEGER", Types.INTEGER))
    case LongType    => Some(JdbcType("BIGINT", Types.BIGINT))
    case FloatType   => Some(JdbcType("REAL", Types.REAL))
    case DoubleType  => Some(JdbcType("DOUBLE", Types.DOUBLE))
    case BinaryType  => Some(JdbcType("BLOB", Types.BLOB))
    case _           => None // decimals/date/timestamp: Spark's common mapping is fine
  }

  @volatile private var registered = false
  /** Idempotent registration with Spark's dialect registry. */
  def ensureRegistered(): Unit = synchronized {
    if (!registered) { JdbcDialects.registerDialect(this); registered = true }
  }
}
