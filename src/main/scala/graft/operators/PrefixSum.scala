package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one two-level bucketed running total — every "position in
  * a global order" answer goes through [[cumulative]]:
  *
  *  - p05's packing offsets (`PipelineQueries.prefixRowsOf`: the day-0
  *    build, the interior-append and the delete re-prefix) —
  *    `start_off = shift + cum − n_tokens`;
  *  - p08's epoch rank and p12's two mixture ranks — a weight-1 running
  *    sum over a total order, `pos = cum − 1`;
  *  - the g11/g14 CCDFs, a13's Gini (`exclusive = cum − weight`) and the
  *    tx15/a14/a17 nearest-rank profiles ([[profile]]).
  *
  * The one exception is p11's token-budget selection: its three nested
  * levels (quality bucket, exact quality, doc_id sub-bucket) split a
  * single heavy value across buckets, a skew construction that a
  * one-value-per-bucket layout cannot express.
  *
  * The naive shape is one unpartitioned cumulative window over the whole
  * input — a single task holding every row. Here every input-sized pass
  * stays parallel:
  *
  *  1. rows bucket by `value div width` (truncating div is monotone in the
  *     value, so bucket order IS value order across buckets — negatives
  *     included);
  *  2. per-bucket sums aggregate map-side onto the bucket layout;
  *  3. ONLY the bucket rows pay an ordered prefix pass (bounded by
  *     construction: even a 10^9-wide value domain is ~250k 24-byte rows
  *     at the default width 4096 — one small task);
  *  4. each row adds its bucket's exclusive offset (an equi-join the
  *     planner broadcasts) to a within-bucket running sum windowed BY
  *     (parts, bucket).
  *
  * Two keyed shuffles + one bounded pass — no input-sized single-partition
  * stage at any scale, and the small passes carry a declared partition
  * key, so nothing here prints `WindowExec: No Partition Defined`. */
private[operators] object PrefixSum {

  /** Default values per bucket row of the ordered pass (it scales the
    * bounded pass and the join's broadcast side together). */
  private val Bucket = 4096L

  /** Declared constant partition key for a PROVABLY-BOUNDED
    * single-partition window (a bucket pass, a post-`limit(K)` rank).
    * A literal won't do: Spark 4's `EliminateWindowPartitions` strips any
    * foldable key and WindowExec then warns as if the input were unbounded.
    * `pmod(intCol, 1)` is 0 for every row (nulls can't occur on the
    * aggregate/id columns used here) but not statically foldable, so the
    * partition spec survives — the same one small task, with the
    * boundedness contract stated in the plan instead of tripping the
    * warning the scale monitors grep for. */
  def onePart(intCol: Column): Column = pmod(intCol, lit(1))

  /** Running Σ `weight` over `hist` ordered by `value` (ascending or
    * descending), then by `ties` (ascending), inclusive of the current
    * row, independently within each `parts` group, as new column
    * `cumName`; also returns the per-group totals as `(parts...,
    * totName)`. The exclusive sum is `cumName − weight`. Preconditions:
    * (parts, value, ties) is unique, so the order is total — with a
    * weight-1 column the running sum is `row_number` over it; `weight`
    * is non-null (rows with a null key, value, tie or payload are
    * dropped, but a null-weight row is kept, counts 0 in every sum, and
    * its exclusive sum is null); `value` is integral, and `width` values
    * share a bucket. Every other column of `hist` is carried to the
    * output, so pass only the columns the caller reads afterwards (one it
    * drops would be pruned from one consumer of the shared exchange only,
    * and stop its reuse).
    *
    * The totals derive from the bucket sums (never a second input pass),
    * and all three consumers of the input (offsets, rows, totals) see ONE
    * exchange: the bucket repartition is taken before the fan-out and
    * every subtree references the same live columns (an inferred-only
    * filter or pruned-only column on one branch would stop AQE stage
    * reuse and shuffle or recompute the input again). */
  def cumulative(
      hist: DataFrame,
      parts: Seq[String],
      value: String,
      weight: String,
      asc: Boolean,
      cumName: String,
      totName: String,
      width: Long = Bucket,
      ties: Seq[String] = Seq.empty): (DataFrame, DataFrame) = {
    val s = hist.sparkSession
    val n = s.conf.get("spark.sql.shuffle.partitions").toInt
    val pcols = parts.map(col)
    val keyCols = pcols :+ col("_bucket")
    // value, ties and any payload column
    val carried = hist.columns.toSeq.filterNot(c => parts.contains(c) || c == weight)
    // the explicit isNotNull set mirrors what the offsets join below would
    // infer on its own branch; carrying it on the shared subtree keeps both
    // consumers of this exchange canonically identical. The weight stays
    // out: a filter on a computed weight (p05's token count) is pushed
    // below its projection and would evaluate it twice per row
    val notNull = (keyCols ++ carried.map(col)).map(_.isNotNull).reduce(_ && _)
    val keyed = hist
      .withColumn("_bucket", expr(s"$value div $width"))
      .filter(notNull)
      .repartition(n, keyCols: _*)
    // the max columns are not decorative: without a live reference to
    // every carried column this branch's projection prunes it, the
    // subtrees diverge, and the upstream runs twice
    val live = carried.indices.map(i => s"_max$i")
    val bsums = keyed.groupBy(keyCols: _*).agg(sum(col(weight)).as("_bsum"),
      carried.zip(live).map { case (c, m) => max(col(c)).as(m) }: _*)
    val bucketOrder = if (asc) col("_bucket").asc else col("_bucket").desc
    // the ONE ordered pass over the bucket rows, bounded by construction.
    // onePart is ALWAYS appended, not just for empty parts: a caller's
    // partition column can be constant-foldable (a17's lit() metric tag
    // is), and Spark 4's EliminateWindowPartitions strips foldable keys,
    // leaving WindowExec unpartitioned. The extra key is 0 for every row,
    // so the grouping is unchanged; it only pins the partition spec.
    val bwParts: Seq[Column] = pcols :+ onePart(col("_bucket"))
    val bw = Window
      .partitionBy(bwParts: _*)
      .orderBy(bucketOrder)
      .rowsBetween(Window.unboundedPreceding, -1)
    // a no-op filter (no carried column is null) that keeps the max
    // columns live on both bucket-sum consumers, the offsets and the totals
    val liveNotNull = live.map(col(_).isNotNull).reduce(_ && _)
    val boffs = bsums
      .withColumn("_boff", coalesce(sum(col("_bsum")).over(bw), lit(0L)))
      .filter(liveNotNull)
      .select(keyCols :+ col("_boff"): _*)
    val valueOrder = if (asc) col(value).asc else col(value).desc
    val ww = Window.partitionBy(keyCols: _*)
      .orderBy(valueOrder +: ties.map(col(_).asc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = keyed
      .join(boffs, parts :+ "_bucket")
      .withColumn(cumName, col("_boff") + sum(col(weight)).over(ww))
      .drop("_bucket", "_boff")
    val liveSums = bsums.filter(liveNotNull)
    val totals =
      if (parts.isEmpty) liveSums.agg(sum(col("_bsum")).as(totName))
      else liveSums.groupBy(pcols: _*).agg(sum(col("_bsum")).as(totName))
    (cum, totals)
  }

  /** [[profile]]'s quantile positions (nearest-rank / percentile_disc).
    * 0.25/0.5/0.75 are exact binary fractions; 0.95/0.99 are not, but the
    * engine and the oracles compute rank = ceil(n · q) with the same IEEE
    * double product, so the cut rows agree bit-for-bit. */
  val ProfileQs = Seq(25, 50, 75, 95, 99)

  /** EXACT nearest-rank profile (count as `countName`, v_min, v_max, mean,
    * p25..p99) per `metric` of a value-keyed histogram `(metric, v, cnt)`:
    * the [[cumulative]] ranks, the selection a MIN over the
    * cum ≥ ⌈q·tot⌉ threshold, and the mean one exact division of integer
    * sums — no `percentile` call and no input-sized sort. The mass sum
    * runs in decimal(38,0) (HUGEINT in the oracles): a Long sum would wrap
    * past 2^63 while DuckDB promotes. */
  def profile(hist: DataFrame, countName: String): DataFrame = {
    val (cumDf, totDf) = cumulative(hist, Seq("metric"), "v", "cnt",
      asc = true, "cum", "tot")
    val qCols = ProfileQs.map { q =>
      min(when(col("cum") >= ceil(col("tot") * lit(q / 100.0)), col("v"))).as(s"p$q")
    }
    val aggs = Seq(
      min(col("v")).as("v_min"),
      max(col("v")).as("v_max"),
      (sum(col("v").cast("decimal(38,0)") * col("cnt")).cast("double") /
        max(col("tot")).cast("double")).as("mean")) ++ qCols
    cumDf.join(broadcast(totDf), "metric")
      .groupBy(col("metric"))
      .agg(max(col("tot")).as(countName), aggs: _*)
      .orderBy(col("metric"))
  }
}
