package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.build.{DerivedCache, DocTables, EventGraphSql, GraphCache}

/** Temporal (time-respecting) reachability — the dynamic-graph analytic the
  * frame model exists to enable: actor B is reachable from A when a path of
  * interactions exists whose frame ids never decrease (information can only
  * flow forward in time). Output = every reachable actor with its EARLIEST
  * arrival frame.
  *
  * Execution model: earliest-arrival frontier relaxation
  * ([[Fixpoint.propagateMin]]) over the **at-rest temporal adjacency**
  * ([[adjacency]]): the frame-exploded edge stream is folded ONCE at ingest
  * into one row per directed neighbor pair carrying its sorted active-frame
  * array (the CSR layout every temporal-graph engine builds). A relaxation
  * round then joins the frontier to |pairs| rows instead of
  * |frame_interactions| rows, and the earliest usable hop is a codegen'd
  * binary search per pair, not a per-frame group-by. Rounds are bounded by
  * the temporal diameter (tiny for social contact graphs).
  *
  * The fixpoint (min arrival per actor) is unique regardless of join or
  * iteration order, so the result is deterministic and the DuckDB oracle
  * can compute it a completely different way — a recursive CTE enumerating
  * (actor, arrival-frame) pairs over the raw frame edges — and still
  * hash-match.
  */
object ReachabilityQueries {

  /** Safety cap on relaxation rounds (temporal diameter bound). */
  private val MaxRounds = 50

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_temporal_reach" -> g01)

  /** Directed adjacency rows (src, dst, fs = sorted distinct active frame
    * ids) for a frame-interactions slice — shared by the full build and the
    * incremental merge ([[appendInteractions]]). */
  private[graft] def adjacencyRowsOf(fi: DataFrame): DataFrame = {
    val s = fi.sparkSession
    import s.implicits._
    val e = fi.select($"frame_id", $"actor1", $"actor2")
    e.select($"actor1".as("src"), $"actor2".as("dst"), $"frame_id")
      .unionAll(e.select($"actor2".as("src"), $"actor1".as("dst"), $"frame_id"))
      .groupBy($"src", $"dst")
      .agg(sort_array(collect_set($"frame_id")).as("fs"))
  }

  /** CSR discipline: range-partitioned and sorted by src, so parquet
    * row-group stats (and the in-memory cache's per-batch min/max) are
    * TIGHT on src — the literal-frontier rounds' isin predicate then skips
    * nearly the whole index instead of scanning it (v1 wrote groupBy output
    * order: every batch spanned the full src range and stat pruning skipped
    * nothing). */
  private def csrLayout(adj: DataFrame): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    adj.repartitionByRange($"src").sortWithinPartitions($"src", $"dst")
  }

  /** At-rest directed temporal adjacency (src, dst, fs = sorted distinct
    * active frame ids) — an ingest-time index table like the LSH/shingle
    * indexes: built once per corpus, read by every reachability run.
    * `private[operators]` since round 14: g09's edge-persistence count
    * reads consecutive-frame runs straight off the pinned frame arrays. */
  private[operators] def adjacency(s: SparkSession, d: String): DataFrame =
    DerivedCache.table(s, d, DocTables.TemporalAdj) {
      csrLayout(adjacencyRowsOf(GraphCache(s, d).frameInteractions))
    }

  /** Incremental maintenance for the adjacency index — the engine-side
    * analog of the reference's incremental timeline insert
    * (`BaseTimeline.java:172-279` accepts per-node appends; here a new
    * day's frame interactions fold into the at-rest CSR index without
    * re-reading historical events). The delta aggregates to batch-keyed
    * (src, dst, fs) rows, a full-outer merge unions frame sets for the
    * touched keys, and the result is rewritten in CSR layout
    * ([[graft.build.DerivedCache.replace]]). The rewrite is a linear pass
    * over the NARROW index (two longs + a frame list per active pair —
    * the compressed artifact, not the 100-TB event log); both inputs are
    * already distinct-sorted, so `array_union` + `sort_array` reproduces
    * the full rebuild exactly (IncrementalAdjacencySpec). `newFi` must be
    * frames not yet folded in — frame_id is the set element, so a replayed
    * frame is idempotent per pair but the caller should not rely on it. */
  def appendInteractions(s: SparkSession, d: String, newFi: DataFrame): Unit = {
    import s.implicits._
    val existing = DerivedCache.existing(s, d, DocTables.TemporalAdj)
    val delta = adjacencyRowsOf(newFi)
    val merged = existing.as("e")
      .join(delta.as("n"), Seq("src", "dst"), "full")
      .select($"src", $"dst",
        sort_array(array_union(
          coalesce($"e.fs", array().cast("array<long>")),
          coalesce($"n.fs", array().cast("array<long>")))).as("fs"))
    DerivedCache.replace(s, d, DocTables.TemporalAdj)(csrLayout(merged))
    // the pre-replace files are gone: release the executor-pinned copy so
    // the next warm() pins the merged index instead
    existing.unpersist()
    ()
  }

  /** Force at-rest adjacency materialization (untimed in Bench), and pin the
    * index in executor memory: every relaxation round scans it once, so the
    * columnar in-memory copy (tens of MB per million pairs) replaces a
    * parquet decode per round — the executor-cache analog of the reference
    * keeping its timeline index hot in the page cache. Safe to skip (queries
    * fall back to the parquet scan); never unpersisted (index lifetime =
    * session lifetime). */
  def warm(s: SparkSession, d: String): Unit = {
    val adj = adjacency(s, d)
    if (adj.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      adj.persist().count()
    }
    ()
  }

  private def g01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = GraphCache(s, d)
    val pa1 = g.probes.pa1
    val adj = adjacency(s, d)

    // arrival(start) = -1: the first hop may use any frame; the earliest
    // usable hop per neighbor pair is the first active frame >= the
    // arrival, an alloc-free binary search over the sorted frame array.
    val init = Seq((pa1, -1L, true)).toDF("actor_id", "f", "imp")
    val state = Fixpoint.propagateMin(init, adjacency(s, d), Seq("actor_id"), "f",
      graft.functions.ArraySearch.sortedFirstGeq($"fs", $"f"), MaxRounds,
      "temporal reachability (corpus temporal diameter exceeds the cap)")
    state.filter($"actor_id" =!= pa1)
      .select($"actor_id", $"f".as("first_frame"))
      .orderBy($"actor_id")
  }

  def oracleSql: Map[String, String] = Map(
    // same fixpoint via recursive enumeration of (actor, arrival) pairs —
    // UNION dedup bounds the recursion by |actors| × |frames|
    "g01_temporal_reach" -> EventGraphSql.query(
      """, reach AS (
        |  WITH RECURSIVE r(actor_id, f) AS (
        |    SELECT pa1, CAST(-1 AS BIGINT) FROM probe_a1
        |    UNION
        |    SELECT CASE WHEN fi.actor1 = r.actor_id THEN fi.actor2 ELSE fi.actor1 END,
        |           fi.frame_id
        |    FROM r JOIN fi ON (fi.actor1 = r.actor_id OR fi.actor2 = r.actor_id)
        |                  AND fi.frame_id >= r.f
        |  )
        |  SELECT actor_id, MIN(f) AS first_frame FROM r GROUP BY actor_id
        |)
        |SELECT actor_id, first_frame FROM reach, probe_a1
        |WHERE actor_id <> pa1
        |ORDER BY actor_id""".stripMargin))
}
