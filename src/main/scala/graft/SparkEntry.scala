package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's named queries; `oracleSql`
  * holds the DuckDB-runnable equivalent for each SQL-expressible one. Column
  * names are aliased identically on both sides (the driver sorts columns by
  * name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ ParityQueries.queries ++ TimelineQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++ SimilarityQueries.queries ++
      MultimodalQueries.queries ++ AsOfQueries.queries ++ SessionQueries.queries ++
      ReachabilityQueries.queries ++ GraphMetricsQueries.queries ++ PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ ParityQueries.oracleSql ++ TimelineQueries.oracleSql ++
      TextQueries.oracleSql ++ DedupQueries.oracleSql ++ SimilarityQueries.oracleSql ++
      MultimodalQueries.oracleSql ++ AsOfQueries.oracleSql ++ SessionQueries.oracleSql ++
      ReachabilityQueries.oracleSql ++ GraphMetricsQueries.oracleSql ++ PipelineQueries.oracleSql

  /** Whether `only`, a comma-separated list of query-name prefixes (None:
    * every query), selects query `name` — the subset selector of the
    * Bench, Verify and Scaling mains. By prefix, so `ss` is the ss family
    * and not a02_sessionize. */
  def selects(only: Option[String])(name: String): Boolean =
    only.forall(_.split(',').exists(name.startsWith))

  /** The local session of the Bench, Verify, Scaling, IngestBench,
    * RecallAudit and Explain mains: `local[$SPARK_GRAFT_CPUS]` (default 4)
    * with as many shuffle partitions, AQE on, UTC. The mains unpersist
    * superseded localCheckpoint snapshots, and Spark WARNs once per such
    * RDD ("lineage has been truncated"), so that one logger is quieted
    * and real warnings stay visible in the captured output tails. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE parallelismFirst stays at Spark's default: false was 2.1x slower (round 14 A/B)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** SAMPLED oracle variants (spark-side filter SQL, sampled oracle SQL)
    * for cells whose full brute-force oracle outgrows a single node at the
    * sf1 rung — see [[graft.operators.SimilarityQueries.oracleSqlSampled]].
    * Keys are a subset of `queries`; consumed by the sf1 check harness
    * only, never by the driver's sf0.01 gate. */
  def oracleSqlSampled: Map[String, (String, String)] =
    SimilarityQueries.oracleSqlSampled

  /** Materialize every at-rest structure (graph tables + probes, shingle /
    * minhash-band / LSH / IVF indexes) for `dir` — ingest-time work a query
    * should never pay. Bench calls this before its timed loop, the analog of
    * the reference resolving seed ids before timing
    * (`cypher_query_timing.py:33-48`). */
  def warm(spark: SparkSession, dir: String): Unit = {
    graft.build.GraphCache(spark, dir)
    DedupQueries.warm(spark, dir)
    SimilarityQueries.warm(spark, dir)
    SessionQueries.warm(spark, dir)
    ReachabilityQueries.warm(spark, dir)
    TextQueries.warm(spark, dir)
    MultimodalQueries.warm(spark, dir)
    RelationalQueries.warm(spark, dir)
    GraphMetricsQueries.warm(spark, dir)
    PipelineQueries.warm(spark, dir)
  }
}
