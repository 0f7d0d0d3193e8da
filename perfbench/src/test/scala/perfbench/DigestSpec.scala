package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {

  private val ab = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
  private val ba = StructType(Seq(StructField("b", StringType), StructField("a", LongType)))

  test("column order does not change the digest") {
    assert(Digest.of(ab, Seq(Row(1L, "x"), Row(2L, "y"))) ==
      Digest.of(ba, Seq(Row("x", 1L), Row("y", 2L))))
  }

  test("row order does not change the digest") {
    assert(Digest.of(ab, Seq(Row(1L, "x"), Row(2L, "y"))) ==
      Digest.of(ab, Seq(Row(2L, "y"), Row(1L, "x"))))
  }

  test("duplicate rows count") {
    assert(Digest.of(ab, Seq(Row(1L, "x"))) != Digest.of(ab, Seq(Row(1L, "x"), Row(1L, "x"))))
  }

  test("doubles compare exactly, not within a tolerance") {
    val d = StructType(Seq(StructField("v", DoubleType)))
    assert(Digest.of(d, Seq(Row(0.1 + 0.2))) != Digest.of(d, Seq(Row(0.3))))
    assert(Digest.of(d, Seq(Row(0.0))) != Digest.of(d, Seq(Row(-0.0))))
    assert(Digest.of(d, Seq(Row(1.5))) == Digest.of(d, Seq(Row(1.5))))
  }

  test("column names and types are part of the answer") {
    val renamed = StructType(Seq(StructField("a2", LongType), StructField("b", StringType)))
    val retyped = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val base = Digest.of(ab, Seq(Row(1L, "x")))
    assert(Digest.of(renamed, Seq(Row(1L, "x"))) != base)
    assert(Digest.of(retyped, Seq(Row(1, "x"))) != base)
  }

  test("separators inside strings cannot forge another answer") {
    val one = StructType(Seq(StructField("a", StringType), StructField("b", StringType)))
    assert(Digest.of(one, Seq(Row("x\ty", "z"))) != Digest.of(one, Seq(Row("x", "y\tz"))))
    assert(Digest.of(one, Seq(Row("x\ny", "z"))) != Digest.of(one, Seq(Row("x", "y"), Row("z", ""))))
    assert(Digest.of(one, Seq(Row(null, "z"))) != Digest.of(one, Seq(Row("null", "z"))))
  }

  test("decimals compare by value, nested values by content") {
    val dec = StructType(Seq(StructField("d", DecimalType(10, 4))))
    assert(Digest.of(dec, Seq(Row(new java.math.BigDecimal("1.5000")))) ==
      Digest.of(dec, Seq(Row(new java.math.BigDecimal("1.5")))))
    val arr = StructType(Seq(StructField("xs", ArrayType(LongType))))
    assert(Digest.of(arr, Seq(Row(Seq(1L, 2L)))) != Digest.of(arr, Seq(Row(Seq(2L, 1L)))))
    assert(Digest.of(arr, Seq(Row(Seq(1L, 2L)))) == Digest.of(arr, Seq(Row(Vector(1L, 2L)))))
  }
}
