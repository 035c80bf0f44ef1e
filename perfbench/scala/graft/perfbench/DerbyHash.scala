package graft.perfbench

import java.sql.{Connection, DriverManager, SQLException, Types}
import scala.collection.mutable.ArrayBuffer

/** Order-independent content checksums computed IN SQL on Derby.
  *
  * Derby has no hash function, so the benchmark registers these static
  * methods as Derby Java functions (`GB_HL`, `GB_HD`, `GB_HS`, `GB_HT`,
  * `GB_MIX`) and a table's checksum is `SUM` of a per-row hash folded
  * over its columns in ordinal order. Each value is < 2^40, so the sum of
  * up to 2^23 rows cannot overflow BIGINT. The same functions compute the
  * expected checksum of rows the benchmark holds in memory.
  */
object DerbyHash {
  private val Mask = (1L << 40) - 1

  private def splitmix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hl(x: Long): Long = splitmix(x) & Mask
  def hd(x: Double): Long =
    splitmix(java.lang.Double.doubleToLongBits(if (x == 0.0) 0.0 else x)) & Mask
  def hs(s: String): Long = {
    var h = 0x51ED27L
    var i = 0
    while (i < s.length) { h = splitmix(h * 31 + s.charAt(i)); i += 1 }
    h & Mask
  }
  def ht(t: java.sql.Timestamp): Long =
    splitmix(t.getTime * 1000000L + t.getNanos % 1000000) & Mask
  def mix(a: Long, b: Long): Long = splitmix(a * 0x100000001B3L + b) & Mask

  private val Fns = Seq(
    "GB_HL(X BIGINT)" -> "hl", "GB_HD(X DOUBLE)" -> "hd",
    "GB_HS(X VARCHAR(32672))" -> "hs", "GB_HT(X TIMESTAMP)" -> "ht",
    "GB_MIX(A BIGINT, B BIGINT)" -> "mix")

  def install(conn: Connection): Unit = {
    val st = conn.createStatement()
    try Fns.foreach { case (sig, m) =>
      try st.execute(s"CREATE FUNCTION $sig RETURNS BIGINT PARAMETER STYLE " +
        "JAVA NO SQL LANGUAGE JAVA DETERMINISTIC RETURNS NULL ON NULL INPUT " +
        s"EXTERNAL NAME 'graft.perfbench.DerbyHash.$m'")
      catch { case e: SQLException if e.getSQLState == "X0Y68" => () } // exists
    } finally st.close()
  }

  /** SQL expression hashing one row of `table`, from its JDBC metadata. */
  def rowExpr(conn: Connection, table: String): String = {
    val rs = conn.getMetaData.getColumns(null, "APP", table, null)
    val cols = ArrayBuffer.empty[(Int, String, Int)]
    try while (rs.next())
      cols += ((rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME"),
        rs.getInt("DATA_TYPE")))
    finally rs.close()
    require(cols.nonEmpty, s"no columns for $table")
    cols.sortBy(_._1).map { case (_, name, tpe) =>
      val c = "\"" + name + "\""
      tpe match {
        case Types.BIGINT | Types.INTEGER | Types.SMALLINT =>
          s"GB_HL(CAST($c AS BIGINT))"
        case Types.DOUBLE | Types.FLOAT | Types.REAL => s"GB_HD($c)"
        case Types.VARCHAR | Types.CHAR => s"GB_HS($c)"
        case Types.TIMESTAMP => s"GB_HT($c)"
        case other => throw new IllegalArgumentException(
          s"no checksum for JDBC type $other ($table.$name)")
      }
    }.reduceLeft((a, b) => s"GB_MIX($a, $b)")
  }

  /** (row count, content checksum) of `table`, computed by Derby. */
  def tableSum(url: String, table: String): (Long, Long) = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT COUNT(*), SUM(${rowExpr(conn, table)}) FROM \"$table\"")
      try { rs.next(); (rs.getLong(1), rs.getLong(2)) } finally rs.close()
    } finally conn.close()
  }
}
