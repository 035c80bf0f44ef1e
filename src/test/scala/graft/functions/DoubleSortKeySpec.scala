package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DoubleSortKeySpec extends AnyFunSuite {
  import graft.SharedSpark._

  test("double_sort_key: signed long order equals double sort order") {
    import spark.implicits._
    // tricky ladder: infinities, huge/tiny magnitudes, both zeros, NaN
    val ladder = Seq(
      Double.NegativeInfinity, -1e300, -2.0, -1.0, -1e-300,
      -0.0, 0.0, 1e-300, 1.0, 2.0, 1e300,
      Double.PositiveInfinity, Double.NaN)
    val keys = ladder.toDF("v")
      .select(call_function("double_sort_key", $"v").as("k"))
      .as[Long].collect()
    // keys must be non-decreasing along the value ladder (NaN last,
    // like Spark's sort), and -0.0/+0.0 must map to the SAME key so
    // equal values can never split across buckets
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b },
      s"order not preserved: ${keys.mkString(",")}")
    assert(keys(5) == keys(6), "-0.0 and 0.0 must share a key")
    // strict increase everywhere except the zero pair
    val strict = keys.zip(keys.tail).zipWithIndex
      .filterNot { case (_, i) => i == 5 }
    assert(strict.forall { case ((a, b), _) => a < b },
      s"distinct values must get distinct keys: ${keys.mkString(",")}")
  }
}
