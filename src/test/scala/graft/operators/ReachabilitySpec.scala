package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.build.GraphCache

/** Differential + planted tests for g01 temporal reachability. Loop
  * internals (hops per round, frontier derivation, the `imp` flag) may
  * change without changing the declared fixpoint, so these pin the fixpoint
  * itself against recomputes that know nothing about rounds or frontiers.
  * (They were added with a two-hops-per-round variant of the loop, since
  * deleted; the names keep that history.) */
class ReachabilitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Driver-side earliest-arrival fixpoint by exhaustive relaxation over the
    * raw frame-interaction list — no rounds, no frontiers, no hop batching:
    * sweep every undirected frame edge until nothing improves. */
  private def naiveReach(fi: Seq[(Long, Long, Long)], src: Long): Map[Long, Long] = {
    val arr = scala.collection.mutable.Map(src -> -1L)
    var changed = true
    while (changed) {
      changed = false
      fi.foreach { case (f, a, b) =>
        Seq((a, b), (b, a)).foreach { case (u, v) =>
          if (arr.get(u).exists(_ <= f) && arr.get(v).forall(_ > f)) {
            arr(v) = f
            changed = true
          }
        }
      }
    }
    (arr - src).toMap
  }

  test("g01 matches a driver-side exhaustive-relaxation recompute") {
    import spark.implicits._
    val g = GraphCache(spark, dir)
    val fi = g.frameInteractions.select($"frame_id", $"actor1", $"actor2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = ReachabilityQueries.queries("g01_temporal_reach")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = naiveReach(fi, g.probes.pa1)
    assert(got.size > 1, "the probe actor should reach a non-trivial set")
    assert(got == expected)
  }

  test("g01 planted deep cascade: later-improved arrivals propagate (two-hop frontier)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("g01-planted").toString
    // Frames are Δ = 3600 s slots; an edge (a, b) @ frame k = two events of
    // the same type in slot k. The fixture forces the loop through its
    // hardest paths:
    //  - route A (few hops, LATE frames): 1-2@10, 2-3@11, 3-4@12 reaches
    //    actor 4 at frame 12 by hop 2;
    //  - route B (more hops, EARLY frames): 1-8@1, 8-9@2, 9-4@3 IMPROVES
    //    actor 4's arrival to 3 at hop 3 — an improvement AFTER first
    //    reach, which must put actor 4 back on the frontier;
    //  - the tail 4-5@5, 5-6@6, 6-7@7 is unusable from arrival 12 (5 < 12)
    //    and only opens once the improvement lands: actors 5/6/7 are
    //    reachable EXCLUSIVELY through the improved arrival, 6 hops deep
    //    (several rounds), so a frontier bug = missing rows.
    // Actor 1 gets solo filler events (unique type, no co-occurrence) to
    // pin pa1 = 1 (most active actor).
    val edges = Seq(
      (1L, 2L, 10L), (2L, 3L, 11L), (3L, 4L, 12L),
      (1L, 8L, 1L), (8L, 9L, 2L), (9L, 4L, 3L),
      (4L, 5L, 5L), (5L, 6L, 6L), (6L, 7L, 7L))
    val t0 = 1700000000L
    val edgeEvents = edges.zipWithIndex.flatMap { case ((a, b, f), i) =>
      Seq((2L * i, t0 + f * 3600L, a, "x"), (2L * i + 1, t0 + f * 3600L, b, "x"))
    }
    val filler = (0 until 6).map(i =>
      (100L + i, t0 + (30L + i) * 3600L, 1L, "solo"))
    (edgeEvents ++ filler)
      .toDF("event_id", "secs", "user_id", "event_type")
      .select($"event_id", timestamp_seconds($"secs").as("ts"), $"user_id",
        $"event_type", lit(0.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    assert(GraphCache(spark, tmp).probes.pa1 == 1L, "fixture must probe from actor 1")
    val got = ReachabilityQueries.queries("g01_temporal_reach")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // frame ids are slot offsets from the corpus min ts (slot 1 is the
    // fixture's earliest event → frame id = planted slot − min slot)
    val base = edges.map(_._3).min
    def fid(slot: Long): Long = slot - base
    val expected = Map(
      2L -> fid(10), 3L -> fid(11), 8L -> fid(1), 9L -> fid(2),
      4L -> fid(3), // improved from fid(12) by the longer-hop earlier route
      5L -> fid(5), 6L -> fid(6), 7L -> fid(7))
    assert(got == expected, s"got $got")
    // and the generic recompute agrees on the same planted corpus
    val fi = GraphCache(spark, tmp).frameInteractions
      .select($"frame_id", $"actor1", $"actor2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == naiveReach(fi, 1L))
  }
}
