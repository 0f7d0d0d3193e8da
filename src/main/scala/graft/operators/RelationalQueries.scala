package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact.{davg, dec10, dsum, sqlAvg, sqlDec10, sqlSum}
import graft.sources.Tables

/** Relational query surface (SURVEY.md §2.G): scans, filters/projections,
  * hash/broadcast/semi/anti joins, partial+final aggregation, HAVING, ORDER BY,
  * windows, set ops, string/date/math/JSON functions — over the driver's
  * TPC-H-ish tables.
  *
  * Every query is deterministic (total ORDER BY) and every double aggregate
  * uses the decimal-exact trick (graft.functions.Exact) so the DuckDB oracle
  * hash-matches bit-for-bit.
  *
  * Scale notes (100 TB design): all aggregations are partial+final hash aggs;
  * dimension joins (region/nation/supplier/customer-at-0.01×lineitem) are
  * explicitly broadcast; fact-fact joins shuffle on their keys and rely on AQE
  * for skew. No query collects to the driver.
  */
object RelationalQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01,
    "q02_top_customers" -> q02,
    "q03_revenue_by_nation" -> q03,
    "q04_priority_semi_join" -> q04,
    "q05_customers_no_orders" -> q05,
    "q06_window_top_orders" -> q06,
    "q07_nation_set_ops" -> q07,
    "q08_conditional_agg" -> q08,
    "q09_string_date_funcs" -> q09,
    "q10_json_events" -> q10,
    "q11_rollup" -> q11,
    "q12_corr_exists" -> q12,
    "q13_percentiles" -> q13,
    "q14_cube" -> q14,
    "q15_salted_join" -> q15,
    "q16_bucketed_join" -> q16,
    "q17_window_funcs" -> q17,
    "q18_pivot" -> q18,
    "q19_range_window" -> q19,
    "q20_bloom_semi_join" -> q20)

  /** Bucket layout shared by q16's two sides (equal counts = co-located). */
  private val Buckets = 8

  /** Pre-build the bucketed at-rest tables (ingest-time cost, untimed). */
  def warm(s: SparkSession, d: String): Unit = {
    bucketedTables(s, d)
    ()
  }

  /** Bucketed+sorted lineitem/orders on the order key — written once per
    * corpus ([[graft.sources.Bucketed]]); the repartition to exactly
    * [[Buckets]] partitions on the bucket column yields ONE file per bucket
    * (bucket hash == HashPartitioning), so scans also report the sort. */
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    val li = graft.sources.Bucketed.table(s, d, "lineitem", "l_orderkey", Buckets, 1) {
      Tables.lineitem(s, d).repartition(Buckets, $"l_orderkey")
    }
    val ord = graft.sources.Bucketed.table(s, d, "orders", "o_orderkey", Buckets, 1) {
      Tables.orders(s, d).repartition(Buckets, $"o_orderkey")
    }
    (li, ord)
  }

  /** TPC-H Q1-style pricing summary: wide partial+final hash agg over the fact
    * table, no joins, filter pushed to parquet. */
  private def q01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= lit("1999-12-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Customers by revenue: dim join (size-based broadcast) + agg + HAVING +
    * total-order sort. */
  private def q02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d)
    Tables.orders(s, d)
      .join(c, $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(dsum($"o_totalprice").as("revenue"), count(lit(1)).as("n_orders"))
      .filter($"n_orders" >= 5)
      .orderBy(desc("revenue"), $"c_custkey")
      .limit(50)
  }

  /** Multi-way star join lineitem⋈orders⋈customer⋈nation⋈region: the dims
    * broadcast SIZE-BASED (no forced hint — nation/region are constant-size,
    * but TPC-H customer/part grow with SF and must flip to a shuffled join
    * at 100 TB instead of failing a forced broadcast); only the fact-fact
    * lineitem⋈orders edge always shuffles. */
  private def q03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).filter(year($"o_orderdate") === 1996)
    val cu = Tables.customer(s, d)
    val na = Tables.nation(s, d)
    val re = Tables.region(s, d)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(cu, $"o_custkey" === $"c_custkey")
      .join(na, $"c_nationkey" === $"n_nationkey")
      .join(re, $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"n_name")
  }

  /** Left-semi join (Cypher `WHERE x IN collected` analog — SURVEY §2.G):
    * orders having at least one late lineitem, counted by priority. */
  private def q04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val late = Tables.lineitem(s, d).filter($"l_shipdate" > lit("2000-06-01").cast("timestamp"))
    Tables.orders(s, d)
      .join(late, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  /** Left-anti join: customers with no big finished orders. */
  private def q05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bigF = Tables.orders(s, d)
      .filter($"o_orderstatus" === "F" && $"o_totalprice" > 400000.0)
    Tables.customer(s, d)
      .join(bigF, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Window functions: rank orders per customer by price, keep top 3. The
    * window shuffles once on o_custkey; rank + running sum share the shuffle. */
  private def q06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy(desc("o_totalprice"), $"o_orderkey")
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("run_sum",
        sum(dec10($"o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
      .filter($"rk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk", $"run_sum")
      .orderBy($"o_custkey", $"rk")
  }

  /** Exact percentiles (sort-based, linearly interpolated) of order value
    * per market segment — the analytics op approximate sketches replace at
    * scale; declared exact here because the oracle must hash-match
    * (Spark `percentile` and DuckDB `quantile_cont` share the
    * (n-1)·q interpolation). At 100 TB you'd reach for approx_percentile
    * (t-digest) instead; the exact version is the correctness anchor. */
  private def q13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(
        percentile($"o_totalprice", lit(0.5)).as("p50"),
        percentile($"o_totalprice", lit(0.95)).as("p95"),
        count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
  }

  /** Set ops: nations having customers INTERSECT / EXCEPT nations having
    * suppliers, tagged and unioned. */
  private def q07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cn = Tables.customer(s, d).select($"c_nationkey".cast("long").as("nationkey")).distinct()
    val sn = Tables.supplier(s, d).select($"s_nationkey".cast("long").as("nationkey")).distinct()
    val both = cn.intersect(sn).withColumn("tag", lit("both"))
    val custOnly = cn.except(sn).withColumn("tag", lit("customer_only"))
    both.unionByName(custOnly).orderBy($"tag", $"nationkey")
  }

  /** Conditional aggregation + distinct agg: per market segment, revenue split
    * by order status via sum(CASE WHEN …), plus countDistinct. */
  private def q08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(
        dsum(when($"o_orderstatus" === "F", $"o_totalprice").otherwise(lit(0.0))).as("rev_f"),
        dsum(when($"o_orderstatus" === "O", $"o_totalprice").otherwise(lit(0.0))).as("rev_o"),
        dsum(when($"o_orderstatus" === "P", $"o_totalprice").otherwise(lit(0.0))).as("rev_p"),
        countDistinct($"o_custkey").as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
  }

  /** String + date functions: brand prefix, type token, ship year/month
    * buckets. Exercises substring/upper/like/year/month (SURVEY §2.G). */
  private def q09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), $"l_partkey" === $"p_partkey")
      .filter($"p_type".like("%LARGE%") || $"p_type".like("%PROMO%"))
      .groupBy(
        upper(substring($"p_brand", 1, 7)).as("brand"),
        year($"l_shipdate").cast("long").as("ship_year"))
      .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"brand", $"ship_year")
  }

  /** JSON extraction over events.props + per-type aggregation. */
  private def q10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"), $"value")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"k").as("sum_k"),
        max($"k").as("max_k"),
        dsum($"value").as("sum_value"))
      .orderBy($"event_type")
  }

  /** ROLLUP over (status, priority): grouping-set aggregation; null grouping
    * keys are sentinel-filled so the oracle's sort order matches exactly. */
  private def q11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n_orders", $"revenue")
      .orderBy($"status", $"priority")
  }

  /** Grouping-sets surface beyond q11's rollup: full CUBE over
    * (status, order year) — all four grouping combinations in one
    * partial+final aggregate pass (Spark expands the grouping sets before
    * the shuffle, so the fact table is still read once). */
  private def q14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .withColumn("o_year", year($"o_orderdate").cast("long"))
      .cube($"o_orderstatus", $"o_year")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_year", lit(-1L)).as("o_year"),
        $"n_orders", $"revenue")
      .orderBy($"status", $"o_year")
  }

  /** Correlated-EXISTS shape: parts that ship in quantity > 45 at least once,
    * with their max single-shipment quantity — semi-join + agg join. */
  private def q12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = Tables.lineitem(s, d).filter($"l_quantity" > 45.0)
      .groupBy($"l_partkey").agg(max($"l_quantity").as("max_qty"), count(lit(1)).as("n_big"))
    Tables.part(s, d)
      .join(big, $"p_partkey" === $"l_partkey")
      .select($"p_partkey", $"p_brand", $"max_qty", $"n_big")
      .orderBy($"p_partkey")
  }

  /** Skew-salted fact join ([[Skew.saltedJoin]], salt=8, discriminator =
    * the (orderkey, linenumber) row id): lineitem⋈orders then revenue per
    * order priority. The oracle is the PLAIN join — salting must be
    * result-invisible; `SkewSpec` additionally proves row-identity against
    * the unsalted join for several salt values. */
  private def q15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey".as("o_orderkey"), $"l_linenumber",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    val ord = Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority")
    Skew.saltedJoin(li, ord, Seq("o_orderkey"), 8,
        saltBy = hash($"o_orderkey", $"l_linenumber"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), dsum($"rev").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** Co-located fact join over the at-rest BUCKETED layout: both sides
    * hash-bucketed and sorted on the order key at ingest
    * ([[bucketedTables]]), so the join (merge-hinted to keep the
    * demonstration honest — AQE would otherwise broadcast the small side at
    * test SFs) and the key-grouped aggregation run with ZERO data exchanges;
    * the only shuffle in the plan is the final presentation sort. The plan
    * audit freezes that property. At 100 TB this is THE recurring-join
    * design: pay the shuffle once at write time, never per query. */
  private def q16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (li, ord) = bucketedTables(s, d)
    s.table(li).hint("merge").join(s.table(ord), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderkey", $"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), dsum($"l_extendedprice").as("gross"))
      .orderBy($"o_orderkey")
  }

  /** Window-function variety over per-customer order histories: ranking
    * (rank with a unique tie-break), distribution (cume_dist — chosen over
    * percent_rank, whose single-row-partition value is engine-dependent),
    * bucketing (ntile), and neighbors (lag/lead). One shuffle on the
    * partition key serves all five functions — Spark evaluates them in a
    * single Window operator pass. */
  private def q17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
      .withColumn("rnk", row_number().over(w))
      .withColumn("cd", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
      .withColumn("next_price", lead($"o_totalprice", 1).over(w))
      .select($"o_orderkey", $"o_custkey", $"rnk", $"cd", $"quartile",
        $"prev_price", $"next_price")
      .orderBy($"o_custkey", $"rnk")
  }


  /** q19: RANGE-frame window — per customer, the trailing-30-day revenue
    * and order count at each order (`RANGE BETWEEN 29 PRECEDING AND
    * CURRENT ROW` over the integer day number). The one window-frame type
    * the surface didn't yet exercise: ROWS frames (q06) count physical
    * rows; RANGE frames bound the frame by the ORDER value, so same-day
    * orders share a frame regardless of row order — which also makes the
    * result partition-order independent. Same single-shuffle window shape
    * as q06/q17; the windowed sum accumulates decimal-exact. */
  private def q19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dn = datediff($"o_orderdate", to_date(lit("1992-01-01")))
    val w = Window.partitionBy($"o_custkey").orderBy(dn).rangeBetween(-29, 0)
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_totalprice")
      .withColumn("rev30", sum(graft.functions.Exact.dec10($"o_totalprice")).over(w).cast("double"))
      .withColumn("n30", count(lit(1)).over(w))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"rev30", $"n30")
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  /** Bloom blob sizing for q20 — plan-time constants, so the collected blob
    * is `bits/8` bytes REGARDLESS of input rows. A production caller sizes
    * these from table stats (items ≈ expected dim keys, bits ≈ 10× items
    * for ~1% fpp). */
  private val BloomItems = 100000L
  private val BloomBits = 1L << 20

  /** q20: bloom-pruned semi-join — the EXPLICIT runtime-filter layout for
    * the fact×selective-dim shape at 100 TB. Spark's own
    * `runtime.bloomFilter` injection does this when its size heuristics
    * allow; q20 drives the same native expressions by hand
    * ([[graft.functions.Bloom]]) so the pattern is available to a library
    * caller unconditionally: (1) one aggregate over the filtered dim keys
    * builds a fixed-size bloom blob, (2) the blob is collected — a BOUNDED
    * driver action, bits/8 bytes whatever the row count — and folded into
    * the fact scan as a constant bit-test per row (codegen'd, no UDF, no
    * join), (3) the surviving ~sel+fpp fraction pays the exact semi-join
    * that removes bloom false positives. The shuffle the semi-join needs
    * now carries only the pruned fraction — at 100 TB that is the
    * difference between shuffling the fact table and shuffling a fifth of
    * it, bought for one dim-side agg + a 128 KB broadcast.
    * BloomPruneSpec pins result identity against the unpruned semi-join
    * and measures the prune actually dropping rows. */
  private def q20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    val bloom = dim
      .agg(graft.functions.Bloom.bloomAgg($"o_orderkey", BloomItems, BloomBits).as("bf"))
      .head.getAs[Array[Byte]](0)
    Tables.lineitem(s, d)
      .filter(graft.functions.Bloom.mightContain(bloom, $"l_orderkey"))
      .join(dim, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"l_returnflag")
  }

  /** Pivot (long→wide reshaping): per order-year, revenue and order count
    * pivoted by order status. The value list is EXPLICIT — `pivot(col)`
    * without one runs a hidden collect-distinct job to discover the
    * columns, a driver round-trip a 100 TB plan shouldn't pay (and the
    * output schema should never depend on the data). Spark plans this as
    * the same single-pass conditional aggregation the oracle spells out —
    * one fact scan, partial+final agg, no extra shuffle vs q08. Groups
    * with no rows for a status yield NULL sums (normalized to 0 on both
    * sides) and 0 counts via the `coalesce`d count pivot. */
  private def q18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .withColumn("o_year", year($"o_orderdate").cast("long"))
      .groupBy($"o_year")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum($"o_totalprice").as("rev"), count(lit(1)).as("n"))
      .select($"o_year",
        coalesce($"F_rev", lit(0.0)).as("rev_f"), coalesce($"F_n", lit(0L)).as("n_f"),
        coalesce($"O_rev", lit(0.0)).as("rev_o"), coalesce($"O_n", lit(0L)).as("n_o"),
        coalesce($"P_rev", lit(0.0)).as("rev_p"), coalesce($"P_n", lit(0L)).as("n_p"))
      .orderBy($"o_year")
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  ${sqlSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  ${sqlAvg("l_quantity")} AS avg_qty,
         |  ${sqlAvg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_top_customers" ->
      s"""SELECT c_custkey, c_name, ${sqlSum("o_totalprice")} AS revenue, COUNT(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_custkey, c_name
         |HAVING COUNT(*) >= 5
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 50""".stripMargin,
    "q03_revenue_by_nation" ->
      s"""SELECT r_name, n_name,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE year(o_orderdate) = 1996
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,
    "q04_priority_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > TIMESTAMP '2000-06-01 00:00:00')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q05_customers_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderstatus = 'F' AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q06_window_top_orders" ->
      s"""SELECT o_custkey, o_orderkey, o_totalprice, rk, run_sum FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER w AS BIGINT) AS rk,
        |    CAST(CAST(SUM(${sqlDec10("o_totalprice")}) OVER
        |      (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS run_sum
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |) t WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,
    "q07_nation_set_ops" ->
      """WITH cn AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
        |     sn AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS tag FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS tag FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
        |ORDER BY tag, nationkey""".stripMargin,
    "q08_conditional_agg" ->
      s"""SELECT c_mktsegment,
         |  ${sqlSum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END")} AS rev_f,
         |  ${sqlSum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END")} AS rev_o,
         |  ${sqlSum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0.0 END")} AS rev_p,
         |  COUNT(DISTINCT o_custkey) AS n_customers,
         |  COUNT(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,
    "q09_string_date_funcs" ->
      s"""SELECT upper(substring(p_brand, 1, 7)) AS brand,
         |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  COUNT(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_type LIKE '%LARGE%' OR p_type LIKE '%PROMO%'
         |GROUP BY 1, 2
         |ORDER BY brand, ship_year""".stripMargin,
    "q10_json_events" ->
      s"""SELECT event_type,
         |  COUNT(*) AS n,
         |  CAST(SUM(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         |  MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k,
         |  ${sqlSum("value")} AS sum_value
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    "q11_rollup" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
         |  coalesce(o_orderpriority, 'ALL') AS priority,
         |  COUNT(*) AS n_orders,
         |  ${sqlSum("o_totalprice")} AS revenue
         |FROM orders
         |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin,
    "q14_cube" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
         |  coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS o_year,
         |  COUNT(*) AS n_orders,
         |  ${sqlSum("o_totalprice")} AS revenue
         |FROM orders
         |GROUP BY CUBE (o_orderstatus, CAST(year(o_orderdate) AS BIGINT))
         |ORDER BY status, o_year""".stripMargin,
    // decimal-exact windowed sum: the VARCHAR cast-chain is Exact.sqlSum's
    // construction applied to a WINDOW aggregate
    "q19_range_window" ->
      s"""SELECT o_orderkey, o_custkey, o_orderdate,
        |       CAST(CAST(SUM(${sqlDec10("o_totalprice")}) OVER w AS VARCHAR) AS DOUBLE) AS rev30,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n30
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY datediff('day', DATE '1992-01-01', o_orderdate)
        |             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    // the oracle states the SEMANTICS — the plain semi-join the bloom
    // prune must be invisible against (false positives removed exactly)
    "q20_bloom_semi_join" ->
      s"""SELECT l_returnflag,
         |  COUNT(*) AS n_items,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |WHERE l_orderkey IN (
         |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "q17_window_funcs" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS rnk,
        |  CUME_DIST() OVER w AS cd,
        |  CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rnk""".stripMargin,
    "q16_bucketed_join" ->
      s"""SELECT o_orderkey, o_orderpriority,
         |  COUNT(*) AS n_lines,
         |  ${sqlSum("l_extendedprice")} AS gross
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderkey, o_orderpriority
         |ORDER BY o_orderkey""".stripMargin,
    "q15_salted_join" ->
      s"""SELECT o_orderpriority,
         |  COUNT(*) AS n_lines,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q12_corr_exists" ->
      """SELECT p_partkey, p_brand, max_qty, n_big FROM part
        |JOIN (SELECT l_partkey, MAX(l_quantity) AS max_qty, COUNT(*) AS n_big
        |      FROM lineitem WHERE l_quantity > 45.0 GROUP BY l_partkey) b
        |  ON p_partkey = l_partkey
        |ORDER BY p_partkey""".stripMargin,
    "q18_pivot" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  coalesce(${sqlSum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")}, 0.0) AS rev_f,
         |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
         |  coalesce(${sqlSum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")}, 0.0) AS rev_o,
         |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
         |  coalesce(${sqlSum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")}, 0.0) AS rev_p,
         |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
         |FROM orders
         |GROUP BY 1
         |ORDER BY o_year""".stripMargin,
    "q13_percentiles" ->
      """SELECT c_mktsegment,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.95) AS p95,
        |       COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
}
