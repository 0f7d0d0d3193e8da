package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[PrefixSum.cumulative]] against its definition: one unpartitioned
  * (or `parts`-partitioned) running-sum window over the same total order.
  * The frame mixes negative and positive values, so truncating `div`
  * puts both signs into bucket 0 at every width > 1, and a tie column
  * repeats each even value so only (parts, value, ties) is unique. */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  // (p, v, t, w): values −60..60 step 3; even values carry two tie rows
  private lazy val rows: DataFrame = (for {
    p <- Seq("a", "b")
    v <- -60L to 60L by 3L
    t <- 0L until (if (v % 2 == 0) 2L else 1L)
  } yield (p, v, t, (v * 7 + t * 13 + p.length) % 11 - 3)).toDF("p", "v", "t", "w")

  private def check(df: DataFrame, parts: Seq[String], ties: Seq[String],
      asc: Boolean, width: Long): Unit = {
    val (cum, tot) = PrefixSum.cumulative(df, parts, "v", "w", asc, "cum", "tot",
      width, ties)
    val order = (if (asc) $"v".asc else $"v".desc) +: ties.map(col(_).asc)
    val naiveWindow =
      (if (parts.isEmpty) Window.orderBy(order: _*)
       else Window.partitionBy(parts.map(col): _*).orderBy(order: _*))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df.withColumn("cum", sum($"w").over(naiveWindow))
    val key = parts ++ ("v" +: ties)
    def byKey(d: DataFrame, value: String, key: Seq[String]): Map[Seq[Any], Long] =
      d.select((key :+ value).map(col): _*).collect()
        .map(r => r.toSeq.init -> r.getLong(key.size)).toMap
    val what = s"width $width, asc $asc, parts $parts, ties $ties"
    val got = byKey(cum, "cum", key)
    assert(got.size == df.count(), s"one output row per input row ($what)")
    assert(got == byKey(naive, "cum", key), s"running sums ($what)")
    val sums = df.groupBy(parts.map(col): _*).agg(sum($"w").as("tot"))
    assert(byKey(tot, "tot", parts) == byKey(sums, "tot", parts), s"totals ($what)")
  }

  for (width <- Seq(1L, 7L, 4096L)) {
    test(s"cumulative == one naive window at width $width (asc/desc, parts, ties)") {
      val distinctV = rows.filter($"t" === 0)
      for (asc <- Seq(true, false)) {
        check(distinctV.filter($"p" === "a"), Seq.empty, Seq.empty, asc, width)
        check(distinctV, Seq("p"), Seq.empty, asc, width)
        check(rows, Seq("p"), Seq("t"), asc, width)
        check(rows, Seq.empty, Seq("p", "t"), asc, width)
      }
    }
  }
}
