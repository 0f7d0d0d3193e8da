package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, desc, row_number}

import graft.SparkSpec

/** `GroupTop.per` is the naive full `row_number` cut, and Spark prunes it
  * with a partial `WindowGroupLimit` exactly when k is within the
  * inference threshold (default 1000) — above it the same rows come back
  * without the limit, never an error. */
class GroupTopSpec extends SparkSpec {

  /** Group 1 has ties on `key`, a null and a NaN; group 2 has 30 rows. */
  private def frame: DataFrame = {
    import spark.implicits._
    val g1 = Seq[(Int, Option[Double], Long)](
      (1, Some(2.0), 1L), (1, Some(2.0), 2L), (1, None, 3L), (1, Some(Double.NaN), 4L),
      (1, Some(-1.0), 5L), (1, Some(2.0), 6L), (1, Some(0.5), 7L))
    val g2 = (0 until 30).map(i => (2, Some((i % 4).toDouble), 100L + i))
    (g1 ++ g2).toDF("g", "key", "id").repartition(3)
  }

  private val order = Seq(desc("key"), col("id"))

  /** The full ranking over the same window, cut on the driver. */
  private def naive(df: DataFrame, k: Int): Seq[String] =
    df.withColumn("rn", row_number().over(Window.partitionBy(col("g")).orderBy(order: _*)))
      .collect().filter(_.getInt(3) <= k).map(show).sorted.toSeq

  private def show(r: Row): String = r.toSeq.mkString(",")

  private def finalPlan(df: DataFrame): (Seq[String], String) = {
    val rows = df.collect().map(show).sorted.toSeq
    (rows, df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
  }

  test("per == the naive row_number cut, with a partial WindowGroupLimit") {
    for (k <- Seq(1, 3, 20)) {
      val (rows, plan) = finalPlan(GroupTop.per(frame, Seq(col("g")), order, k, "rn"))
      assert(rows == naive(frame, k), s"k = $k")
      assert(rows.size == math.min(k, 7) + math.min(k, 30), s"k = $k: $rows")
      assert(plan.linesIterator.exists(l => l.contains("WindowGroupLimit") && l.contains("Partial")),
        s"k = $k must plan a partial WindowGroupLimit:\n$plan")
    }
  }

  test("k above the inference threshold: same rows, no WindowGroupLimit") {
    import spark.implicits._
    val big = spark.range(0, 2400)
      .select(($"id" % 2).cast("int").as("g"), ($"id" % 7).cast("double").as("key"), $"id")
      .repartition(3)
    val (rows, plan) = finalPlan(GroupTop.per(big, Seq(col("g")), order, 1001, "rn"))
    assert(rows == naive(big, 1001))
    assert(rows.size == 2002)
    assert(!plan.contains("WindowGroupLimit"), s"k = 1001 is past the threshold:\n$plan")
  }

  test("k < 1 is rejected, naming k") {
    val e = intercept[IllegalArgumentException](
      GroupTop.per(frame, Seq(col("g")), order, 0, "rn"))
    assert(e.getMessage.contains("k = 0"), e.getMessage)
  }
}
