package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-agnostic deterministic primitives shared by operators and their
  * DuckDB oracles.
  *
  * The correctness gate (scripts/oracle_check.py, and the driver's
  * CORRECTNESS_r{N}.json) compares Spark results to DuckDB results value by
  * value, so every numeric path here is chosen to be bit-identical across
  * engines:
  *
  *  - hashing: md5 (both engines implement RFC 1321 over UTF-8 bytes), with
  *    a 60-bit numeric projection taken from the first 15 hex chars;
  *  - ratios: `floor(1000.0 * a / b)` — a single IEEE-754 double divide and
  *    floor, deterministic on both engines;
  *  - dot products: sequential left-fold over array<double> (Spark
  *    `aggregate` and DuckDB `list_reduce` both fold left; a fold seeded
  *    with 0.0 equals a fold seeded with the first element because
  *    0.0 + x == x exactly).
  */
object EngineFns {

  /** 60-bit deterministic hash of a string column via md5.
    * DuckDB equivalent: [[sqlMd5Long]]. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL text equivalent of [[md5Long]]. */
  def sqlMd5Long(expr: String): String =
    s"CAST(CONCAT('0x', SUBSTR(md5($expr), 1, 15)) AS BIGINT)"

  /** Order-preserving fixed-width encoding of a BIGINT: flip the sign
    * bit, hex, left-pad to 16 chars. Lexicographic order of the result
    * equals signed numeric order for EVERY 64-bit value (negative
    * included) — the safe building block for composite min_by/max_by
    * keys, unlike '%020d' printf whose width (and sign position) breaks
    * past 10^20 or below 0. DuckDB equivalent: [[sqlOrderKey64]]. */
  def orderKey64(c: Column): Column =
    lpad(hex(c.cast("long").bitwiseXOR(lit(Long.MinValue))), 16, "0")

  /** DuckDB SQL text equivalent of [[orderKey64]]. (The min-long literal
    * is written `-9223372036854775807 - 1` because DuckDB parses the
    * bare literal as INT128 before negation.) */
  def sqlOrderKey64(expr: String): String =
    s"lpad(hex(xor(CAST($expr AS BIGINT), (-9223372036854775807 - 1))), 16, '0')"

  /** Driver-side twin of [[md5Long]]: same 60-bit value, computed in
    * plain Scala (for constants baked into plans). */
  def md5Long60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Sequential left-fold dot product of two array<double> columns via
    * the native [[VecDot]] expression (`vec_dot`, resolved by every
    * session [[graft.GraftSession]] builds).
    * DuckDB equivalent: [[sqlDot]]. Bit-identical across engines — and to
    * the declarative aggregate/zip_with fold — because all fold left in
    * element order with double adds/multiplies. */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** DuckDB SQL text equivalent of [[dot]]. */
  def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (x, y) -> x + y)"

  /** Cosine similarity computed as dot/(sqrt(dot)*sqrt(dot)) — sqrt is
    * correctly rounded in IEEE-754 so this is engine-exact given exact dots. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  def sqlCosine(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  /** floor(1000 * a / b) as long — engine-exact permille ratio. */
  def permille(a: Column, b: Column): Column =
    floor(lit(1000.0) * a / b).cast("long")

  def sqlPermille(a: String, b: String): String =
    s"CAST(FLOOR(1000.0 * $a / $b) AS BIGINT)"

  /** floor(x * 1e6) as long — stable fixed-point projection of a double
    * that is bit-identical across engines (see cosine). */
  def micro(c: Column): Column = floor(c * lit(1000000.0)).cast("long")

  def sqlMicro(expr: String): String =
    s"CAST(FLOOR(($expr) * 1000000.0) AS BIGINT)"

  /** Token list of a whitespace-separated document. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word-level n-grams (n=3) of a token array column, joined by
    * single spaces. DuckDB equivalent: [[sqlTrigrams]]. Guarded for
    * size<3: Spark's sequence(1,0) counts DOWN ([1,0], unlike DuckDB's
    * empty generate_series), which would hit element_at(l, 0) and throw.
    * Prefer the native [[TrigramHash60]] on hot paths. */
  def trigrams(l: Column): Column =
    when(size(l) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(l) - 2),
        i => concat_ws(" ", element_at(l, i), element_at(l, i + 1), element_at(l, i + 2)))))

  /** DuckDB SQL: distinct trigram LIST from a token LIST expression. */
  def sqlTrigrams(l: String): String =
    s"list_distinct(list_transform(generate_series(1, greatest(len($l) - 2, 0)), i -> $l[i] || ' ' || $l[i+1] || ' ' || $l[i+2]))"
}
