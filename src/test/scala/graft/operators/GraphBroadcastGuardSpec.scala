package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint

import graft.SparkSpec

/** The per-vertex state tables the graph metrics join against the day-edge
  * list (k-core members, component labels, ranks, degrees) are sized by the
  * probe-day vertex count — data-dependent, so each broadcast sits behind
  * the one row ceiling ([[Guard.BroadcastMaxKey]]): broadcast under the
  * ceiling, keyed shuffle join above it. The text term-stat and dedup
  * hash-set joins share the same guard. This suite pins the
  * OVER-threshold path for every query in those families: identical rows
  * to the broadcast mode, no broadcast hint anywhere in the plan, and no
  * nested-loop/cartesian degradation in either mode. */
class GraphBroadcastGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val guardedQueries =
    Seq("g02_kcore", "g03_components", "g04_pagerank",
      "g05_link_prediction", "g07_assortativity", "g12_label_propagation",
      "g13_bfs_hops")

  /** The other [[Fixpoint.propagateMin]] loops, whose frontier joins
    * share the ceiling: at 0 every frontier plan is the shuffle join. */
  private val loopQueries =
    Seq("g01_temporal_reach", "g10_component_evolution", "dd6_dup_clusters")

  /** Text and dedup queries whose vocabulary- or hash-set-sized joins sit
    * under the same ceiling. */
  private val corpusQueries =
    Seq("tx9_tfidf_terms", "tx10_rarity_profile", "tx18_rake_phrases",
      "tx19_lm_familiarity", "dd5_contamination", "dd11_dup_spans",
      "dd12_dup_doc_filter", "dd18_boilerplate")

  private def run(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  private def assertEquiJoinsOnly(df: DataFrame, name: String): Unit = {
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"$name must stay an equi-join in every mode:\n${p.take(1500)}")
  }

  /** Queries whose guarded joins live only INSIDE a fixpoint loop: every
    * round is localCheckpoint-snapshotted (Fixpoint.iterate), so the
    * returned frame's analyzed plan is a LogicalRDD and cannot carry the
    * in-loop hints — their hint discipline is pinned at the [[guarded]]
    * helper level below instead. */
  private val loopInteriorOnly =
    Set("g03_components", "g13_bfs_hops") ++ loopQueries

  private def shuffleHashHints(df: DataFrame) =
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.exists(
        _.toString.toLowerCase.contains("shuffle_hash")) => h
    }

  test("the guarded state operand carries the mode's hint (loop interiors included)") {
    val s = spark
    import s.implicits._
    val state = s.range(5).select($"id".as("actor_id"), $"id".as("label"))
    spark.conf.set(Guard.BroadcastMaxKey, "0")
    try
      assert(shuffleHashHints(GraphMetricsQueries.guarded(s, dir, state)).nonEmpty,
        "over-ceiling guarded() must hint shuffle_hash — unhinted loop state " +
          "has unknown stats and would sort-merge-join every round")
    finally spark.conf.unset(Guard.BroadcastMaxKey)
    val under = GraphMetricsQueries.guarded(s, dir, state)
    val bc = under.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.exists(
        _.toString.toLowerCase.contains("broadcast")) => h
    }
    assert(bc.nonEmpty, "under-ceiling guarded() must broadcast")
  }

  test("a non-numeric or negative ceiling is rejected by name; 0 is legal") {
    for (bad <- Seq("lots", "-1")) {
      spark.conf.set(Guard.BroadcastMaxKey, bad)
      try {
        val e = intercept[IllegalArgumentException](Guard.fits(spark, 1L))
        assert(e.getMessage.contains(Guard.BroadcastMaxKey) && e.getMessage.contains(bad),
          e.getMessage)
      } finally spark.conf.unset(Guard.BroadcastMaxKey)
    }
    spark.conf.set(Guard.BroadcastMaxKey, "0")
    try assert(Guard.fits(spark, 0L) && !Guard.fits(spark, 1L))
    finally spark.conf.unset(Guard.BroadcastMaxKey)
  }

  for (name <- guardedQueries ++ loopQueries ++ corpusQueries) {
    val ceiling = if (corpusQueries.contains(name)) "broadcast" else "vertex"
    test(s"$name over the $ceiling ceiling degrades to a keyed shuffle join, result-identical") {
      val base = run(name).collect().toSeq
      spark.conf.set(Guard.BroadcastMaxKey, "0")
      try {
        val df = run(name)
        // the guard must swap the broadcast hint for a shuffle-keyed one —
        // a forced broadcast above the ceiling is the job-failure mode this
        // guard exists to remove
        val broadcastHints = df.queryExecution.analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.exists(
            _.toString.toLowerCase.contains("broadcast")) => h
        }
        assert(broadcastHints.isEmpty,
          s"over-threshold $name must not force a broadcast: $broadcastHints")
        // ...and the swap must be FOR something: the shuffle_hash hint has
        // to survive into the plan, or the planner sort-merge-joins every
        // iteration on unknown stats — the silent-regression mode this
        // spec previously let through (round-7 advice). Loop-interior-only
        // queries are exempt (checkpoint-hidden; pinned via guarded()
        // above).
        if (!loopInteriorOnly(name))
          assert(shuffleHashHints(df).nonEmpty,
            s"over-threshold $name must carry the shuffle_hash hint in its plan")
        assertEquiJoinsOnly(df, name)
        assert(df.collect().toSeq == base,
          s"$name must return identical rows in both join modes")
      } finally spark.conf.unset(Guard.BroadcastMaxKey)
    }
  }

  for (name <- guardedQueries)
    test(s"$name under the vertex ceiling keeps equi-joins (broadcast mode)") {
      assertEquiJoinsOnly(run(name), name)
    }
}
