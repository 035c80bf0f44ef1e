package graft.sources

import java.sql.Types
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Unit specs for the §1.4 type-mapping matrix (SURVEY.md), one per rule. */
class IntrospectionSpec extends AnyFunSuite {

  private def m(jdbc: Int, size: Int = 0, digits: Int = 0) =
    ColumnMeta("c", jdbc, size, digits)

  test("integral and float types map per the matrix") {
    assert(Introspection.toSparkType(m(Types.BIT)).contains(BooleanType))
    assert(Introspection.toSparkType(m(Types.BOOLEAN)).contains(BooleanType))
    assert(Introspection.toSparkType(m(Types.TINYINT)).contains(ByteType))
    assert(Introspection.toSparkType(m(Types.SMALLINT)).contains(ShortType))
    assert(Introspection.toSparkType(m(Types.INTEGER)).contains(IntegerType))
    assert(Introspection.toSparkType(m(Types.BIGINT)).contains(LongType))
    assert(Introspection.toSparkType(m(Types.REAL)).contains(FloatType))
    assert(Introspection.toSparkType(m(Types.FLOAT)).contains(DoubleType))
    assert(Introspection.toSparkType(m(Types.DOUBLE)).contains(DoubleType))
  }

  test("decimal: precision = size + max(-scale, 0)") {
    assert(Introspection.toSparkType(m(Types.DECIMAL, size = 10, digits = 2))
      .contains(DecimalType(10, 2)))
  }

  test("decimal: negative scale folds into precision with scale 0") {
    // reference: StandardReadMappings.java:181-183
    assert(Introspection.toSparkType(m(Types.NUMERIC, size = 10, digits = -3))
      .contains(DecimalType(13, 0)))
  }

  test("decimal: precision > 38 forces DECIMAL(38,12)") {
    // reference: StandardReadMappings.java:184-189 (Postgres `number` rule)
    assert(Introspection.toSparkType(m(Types.NUMERIC, size = 131089, digits = 0))
      .contains(DecimalType(38, 12)))
  }

  test("decimal: nonpositive precision is unmappable") {
    assert(Introspection.toSparkType(m(Types.DECIMAL, size = 0, digits = 0)).isEmpty)
  }

  test("char/varchar map to string; binary maps to binary") {
    for (t <- Seq(Types.CHAR, Types.NCHAR, Types.VARCHAR, Types.NVARCHAR,
                  Types.LONGVARCHAR, Types.LONGNVARCHAR))
      assert(Introspection.toSparkType(m(t, size = 10)).contains(StringType))
    for (t <- Seq(Types.BINARY, Types.VARBINARY, Types.LONGVARBINARY))
      assert(Introspection.toSparkType(m(t)).contains(BinaryType))
  }

  test("date/timestamp map; TIME and exotic types are unmappable") {
    assert(Introspection.toSparkType(m(Types.DATE)).contains(DateType))
    assert(Introspection.toSparkType(m(Types.TIMESTAMP)).contains(TimestampType))
    // TIME readable-but-unwritable in the reference → unmapped here
    assert(Introspection.toSparkType(m(Types.TIME)).isEmpty)
    assert(Introspection.toSparkType(m(Types.ARRAY)).isEmpty)
    assert(Introspection.toSparkType(m(Types.STRUCT)).isEmpty)
    assert(Introspection.toSparkType(m(Types.SQLXML)).isEmpty)
  }

  test("CHAR columns are flagged for rtrim, VARCHAR not") {
    assert(MappedColumn(m(Types.CHAR, 10), StringType).needsRtrim)
    assert(MappedColumn(m(Types.NCHAR, 10), StringType).needsRtrim)
    assert(!MappedColumn(m(Types.VARCHAR, 10), StringType).needsRtrim)
  }

  test("MySQL dialect: tiered text DDL types by declared length") {
    // reference: M2H2SchemaConverter.java:182-197
    def ddl(n: Int) = MySqlDialect.ddlType(StringType, m(Types.VARCHAR, size = n))
    assert(ddl(200) == "tinytext")
    assert(ddl(60000) == "text")
    assert(ddl(1000000) == "mediumtext")
    assert(ddl(20000000) == "longtext")
    assert(MySqlDialect.ddlType(StringType, m(Types.CHAR, size = 10)) == "char(10)")
    assert(MySqlDialect.ddlType(BinaryType, m(Types.VARBINARY)) == "mediumblob")
    assert(MySqlDialect.ddlType(TimestampType, m(Types.TIMESTAMP)) == "datetime")
    assert(MySqlDialect.ddlType(FloatType, m(Types.REAL)) == "float")
    assert(MySqlDialect.ddlType(DecimalType(10, 2), m(Types.DECIMAL, 10, 2)) == "decimal(10,2)")
  }

  test("identifier quoting doubles the quote char") {
    // reference: Utils.java:82-95
    assert(MySqlDialect.quote("ta`ble") == "`ta``ble`")
    assert(DerbyDialect.quote("ta\"ble") == "\"ta\"\"ble\"")
  }

  test("LIKE pattern escaping escapes _ % and the escape char itself") {
    // reference: Utils.java:108-118
    assert(MySqlDialect.escapeNamePattern("a_b%c\\d", "\\") == "a\\_b\\%c\\\\d")
  }

  test("createTableColumnTypes renders name + dialect type per column") {
    val cols = Seq(
      MappedColumn(ColumnMeta("id", Types.BIGINT, 19, 0), LongType),
      MappedColumn(ColumnMeta("name", Types.VARCHAR, 100, 0), StringType))
    assert(Introspection.createTableColumnTypes(cols, DerbyDialect) ==
      "\"id\" bigint, \"name\" varchar(100)")
  }
}
