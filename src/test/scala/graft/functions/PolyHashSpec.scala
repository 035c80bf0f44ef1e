package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

class PolyHashSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def ref(s: String): Long = {
    var acc = 0L
    s.getBytes("UTF-8").foreach(b => acc = (acc * 31 + (b & 0xff)) % 2147483647L)
    acc
  }

  test("codegen path matches the reference fold") {
    val inputs = Seq("", "a", "abc", "the quick brown fox", "ü-umlaut", "x" * 5000)
    val got = inputs.toDF("s")
      .selectExpr("polyhash(s) AS ph").collect().map(_.getLong(0)).toSeq
    assert(got == inputs.map(ref))
  }

  test("null input yields null") {
    val row = Seq(Option.empty[String]).toDF("s").selectExpr("polyhash(s)").collect()(0)
    assert(row.isNullAt(0))
  }

  test("property: engine value equals scala fold for random ascii strings") {
    val rnd = new scala.util.Random(42)
    val ss = List.fill(200)(
      List.fill(rnd.nextInt(300))((32 + rnd.nextInt(95)).toChar).mkString)
    val got = ss.toDF("s").selectExpr("polyhash(s)").collect().map(_.getLong(0)).toList
    assert(got == ss.map(ref))
  }

  test("rejects non-string input at analysis") {
    val e = intercept[Exception] {
      Seq(1).toDF("n").selectExpr("polyhash(n)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("polyhash"))
  }
}
