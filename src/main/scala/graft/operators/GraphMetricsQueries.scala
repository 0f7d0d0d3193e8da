package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.build.{DerivedCache, EventGraphSql, GraphCache}
import graft.functions.Exact

/** Whole-run graph metrics over the canonicalized interaction edge set —
  * the structural analytics layer on top of the reference's neighbor /
  * degree / triangle queries (C7–C11, `cypher_query_timing.py:117-203`):
  *
  *  - c12: per-actor local clustering coefficient — the closed-form
  *    combination of C10 (degree) and C11 (triangles):
  *    `lcc = 2·tri(v) / (deg(v)·(deg(v)−1))`, over the PROBE DAY's edge
  *    set (partition-pruned scan on the data-derived busiest date, the
  *    same temporal filtering the reference applies to its own triangle
  *    queries — `cypher_query_timing.py:158-203`). The window is not a
  *    shortcut, it is the semantics: a whole-run contact graph densifies
  *    toward a clique (everyone eventually co-occurs with everyone —
  *    ~70% edge density at sf0.1), making unwindowed clustering both
  *    meaningless and Θ(n³); any 100 TB deployment computes closure per
  *    time slice. Triangles are enumerated from the canonical
  *    `actor1 < actor2` day-edge list as the ordered 3-join
  *    (a<b)⋈(b<c)⋈(a<c) — each triangle counted exactly once, no
  *    orientation blowup — then exploded to per-vertex counts. Both joins
  *    are equi-joins on actor keys: shuffle-partitioned, skew handled by
  *    AQE, never a cartesian. Differentially tested against the GraphX
  *    mirror's `triangleCounts`/`degrees` on the same window
  *    (GraphMetricsSpec).
  *  - g02: k-core membership (K = [[CoreK]]) over the same probe-day
  *    window — iterative peeling to the maximal subgraph where every
  *    member has ≥ K in-core neighbors, the standard corpus/graph-
  *    cleaning primitive. The loop is the g01 fixpoint shape
  *    (localCheckpoint snapshots, one action per round); membership only
  *    shrinks, so round count is bounded by the peel depth. The DuckDB
  *    oracle unrolls [[MaxPeel]] peel rounds as CTEs — peeling is
  *    idempotent at the fixpoint, so extra unrolled rounds are harmless,
  *    and the Spark side throws past [[MaxPeel]] rounds to stay inside
  *    what the oracle expresses.
  */
object GraphMetricsQueries {

  /** k-core threshold for the DECLARED query. K=2 (prune pendant trees,
    * keep the cyclic core) is the largest K whose core is non-empty at
    * EVERY test scale — the busiest-day graph at sf0.001 has max degree 5
    * and an empty 3-core, and an empty result would make the oracle check
    * vacuously green. Library callers pick K per use case; the peel loop
    * is K-independent. */
  private val CoreK = 2
  /** k-truss threshold for the DECLARED query: K=3 keeps exactly the
    * edges supported by at least one triangle within the surviving
    * subgraph — the largest K non-vacuous at every test scale (the
    * CoreK=2 argument at the edge level: the sparse sf0.001 probe-day
    * graph has triangles but thin ones). Library callers pick K; the
    * peel loop is K-independent. */
  private val TrussK = 3

  /** g17's floor — the first K where truss peeling CASCADES (see g17). */
  private val TrussK4 = 4
  /** Peel-round cap — must match the oracle's unroll depth. */
  private val MaxPeel = 16
  /** Label-propagation round cap (component diameter bound). */
  private val MaxRounds = 50

  /** g10's round cap — must match its oracle's unroll depth (the g02
    * MaxPeel contract): the oracle unrolls exactly this many min-label
    * rounds as CTEs (propagation is idempotent at the fixpoint, so extra
    * unrolled rounds are harmless) and the Spark loop THROWS past it.
    * Within-day contact graphs have single-digit diameters; 24 is a wide
    * margin that keeps the generated SQL bounded. */
  private val G10Rounds = 24

  /** Fixed power-iteration count for the DECLARED g04 query (the oracle
    * unrolls exactly this many rounds; convergence-threshold stopping would
    * make the oracle's unroll depth data-dependent). */
  private val PrIters = 3

  /** Fixed synchronous label-propagation round count for g12 (the g04
    * discipline: the oracle unrolls exactly this many rounds, so the
    * declared query iterates a FIXED count — synchronous LPA has no
    * monotone convergence signature to stop on, and a data-dependent stop
    * would make the oracle's unroll depth data-dependent). Four rounds
    * settle the probe-day contact graphs at every test scale; library
    * callers wanting deeper propagation raise it in code AND oracle
    * together. */
  private val LpaRounds = 4

  /** Result cap for the declared link-prediction query (total order makes
    * the cut deterministic). */
  private val LpTopK = 100

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c12_clustering_coeff" -> c12,
    "g02_kcore" -> g02,
    "g03_components" -> g03,
    "g04_pagerank" -> g04,
    "g05_link_prediction" -> g05,
    "g06_temporal_brokerage" -> g06,
    "g07_assortativity" -> g07,
    "g08_triadic_closure" -> g08,
    "g09_frame_turnover" -> g09,
    "g10_component_evolution" -> g10,
    "g11_degree_histogram" -> g11,
    "g12_label_propagation" -> g12,
    "g13_bfs_hops" -> g13,
    "g14_strength_histogram" -> g14,
    "g15_ktruss" -> g15,
    "g16_assortativity_evolution" -> g16,
    "g17_ktruss4" -> g17)

  /** Distinct canonical edges active on the probe date, as an AT-REST
    * derived table: five declared queries (c12, g02–g05) start from this
    * edge set, so it is built once at ingest ([[graft.build.DerivedCache]]
    * discipline — the probe-day window is data-derived and deterministic
    * per corpus) instead of each query re-paying the pruned scan + distinct
    * shuffle. At 100 TB this is the materialized time-slice subgraph every
    * temporal-graph pipeline snapshots before running structural metrics. */
  private def dayEdges(s: SparkSession, d: String): DataFrame =
    DerivedCache.table(s, d, "edges_probe_day", 2) {
      import s.implicits._
      val g = GraphCache(s, d)
      val p = g.probes
      // v2 carries each edge's FIRST activation frame for the temporal
      // wedge query (g06); the structural metrics ignore the column
      g.frameInteractions
        .filter($"year" === p.py && $"month" === p.pm && $"day" === p.pdd)
        .groupBy($"actor1", $"actor2")
        .agg(min($"frame_id").as("f_min"))
    }

  /** Undirected probe-day adjacency with per-source degree and RA weight
    * (z, o, f_min, deg, wz = 1/deg) — the at-rest form the neighborhood
    * analytics (g05, g06) scan directly: both directions materialized, the
    * degree join paid once at ingest. The CSR-discipline sibling of g01's
    * `temporal_adj`, scoped to the probe-day window. */
  private def dayAdj(s: SparkSession, d: String): DataFrame =
    DerivedCache.table(s, d, "adj_probe_day", 1) {
      import s.implicits._
      val e = dayEdges(s, d)
      val und = e.select($"actor1".as("z"), $"actor2".as("o"), $"f_min")
        .unionAll(e.select($"actor2".as("z"), $"actor1".as("o"), $"f_min"))
      val deg = und.groupBy($"z").agg(count(lit(1)).as("deg"))
      und.join(deg, "z")
        .select($"z", $"o", $"f_min", $"deg",
          (lit(1.0) / $"deg".cast("double")).as("wz"))
    }

  /** Day-keyed canonical edge table over the WHOLE run (dkey =
    * year·10⁴ + month·10² + day) — g10's input, built once at ingest like
    * [[dayEdges]]. One distinct shuffle over the frame-edge list at build;
    * every per-day structural sweep starts from this |days × distinct
    * pairs| table instead of re-scanning frame granularity. */
  private def edgesByDay(s: SparkSession, d: String): DataFrame =
    DerivedCache.table(s, d, "edges_by_day", 1) {
      import s.implicits._
      GraphCache(s, d).frameInteractions
        .select(($"year" * 10000 + $"month" * 100 + $"day").cast("long").as("dkey"),
          $"actor1", $"actor2")
        .distinct()
    }

  /** Force at-rest probe-day edge materialization (untimed in Bench). */
  def warm(s: SparkSession, d: String): Unit = {
    dayEdges(s, d)
    dayAdj(s, d)
    edgesByDay(s, d)
    ()
  }

  /** One memoized vertex-count probe per (corpus, mutation epoch) decides
    * every state-side join mode in this module — a scalar distinct-count
    * over the at-rest day-edge table, cost ≪ any of the joins it plans. */
  private def dayVertices(s: SparkSession, d: String): Long =
    EpochMemo.scalar(s, "graph.dayVertices", d) {
      val e = dayEdges(s, d)
      e.select(col("actor1")).unionAll(e.select(col("actor2"))).distinct().count()
    }

  /** State-side join operand (k-core members, ranks, degrees, labels) sized
    * by the probe-day vertex count ([[Guard.sized]]): data-dependent, so
    * the broadcast that keeps the edge set un-shuffled on a normal day must
    * degrade to a keyed shuffle join on a 100×-hotter day instead of
    * failing the job. */
  private[operators] def guarded(s: SparkSession, d: String, state: DataFrame): DataFrame =
    Guard.sized(state, dayVertices(s, d))

  private def c12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = dayEdges(s, d)
    val deg = e.select($"actor1".as("actor_id"))
      .unionAll(e.select($"actor2".as("actor_id")))
      .groupBy($"actor_id").agg(count(lit(1)).as("degree"))
    // each triangle a<b<c found exactly once via the ordered pattern
    val tris = e.select($"actor1".as("a"), $"actor2".as("b"))
      .join(e.select($"actor1".as("b"), $"actor2".as("c")), "b")
      .join(e.select($"actor1".as("a"), $"actor2".as("c")), Seq("a", "c"))
    val triPerV = tris.select(explode(array($"a", $"b", $"c")).as("actor_id"))
      .groupBy($"actor_id").agg(count(lit(1)).as("triangles"))
    deg.join(triPerV, Seq("actor_id"), "left")
      .select($"actor_id", $"degree", coalesce($"triangles", lit(0L)).as("triangles"))
      .withColumn("lcc",
        when($"degree" >= 2,
          lit(2.0) * $"triangles" / ($"degree" * ($"degree" - 1)))
          .otherwise(lit(0.0)))
      .orderBy($"actor_id")
  }

  private def g02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // snapshot once: every peel round scans the edge list twice
    val e = dayEdges(s, d).localCheckpoint(eager = false)

    // membership is vertex-bounded: broadcast under the guarded ceiling so
    // the edge set never shuffles, keyed shuffle join above it
    def coreDegrees(members: DataFrame): DataFrame = {
      val em = e
        .join(guarded(s, d, members.select($"actor_id".as("actor1"))), "actor1")
        .join(guarded(s, d, members.select($"actor_id".as("actor2"))), "actor2")
      em.select($"actor1".as("actor_id")).unionAll(em.select($"actor2".as("actor_id")))
        .groupBy($"actor_id").agg(count(lit(1)).as("core_degree"))
    }

    val init = e.select($"actor1".as("actor_id"))
      .unionAll(e.select($"actor2".as("actor_id")))
      .distinct()
    // membership only shrinks, so |members| is the convergence signature
    val members = Fixpoint.iterate(init, MaxPeel,
      "k-core peeling (deeper than the oracle unroll — raise MaxPeel in code AND oracle)") {
      df => Seq(df.count())
    } ({ (members, _) =>
      coreDegrees(members)
        .filter($"core_degree" >= CoreK)
        .select($"actor_id")
    })
    coreDegrees(members)
      .select($"actor_id", $"core_degree")
      .orderBy($"actor_id")
  }

  /** g15: k-truss membership (K = [[TrussK]]) — g02's peel at the EDGE
    * level: every surviving edge must close ≥ K−2 triangles WITHIN the
    * surviving subgraph (Cohen '08), the standard community-core filter
    * that is strictly stronger than k-core (a pendant edge between two
    * high-degree hubs survives the core but not the truss). Per round,
    * triangles enumerate once each (a<b<c by the canonical edge order —
    * two keyed equi-joins, the c10/c11 wedge discipline), credit their
    * three edges, and edges under the support floor drop; edge sets only
    * shrink, so the edge count is the convergence signature
    * ([[Fixpoint]] — subset + equal count ⟹ equal set). The oracle
    * unrolls [[MaxPeel]] peel rounds as CTEs (peeling is idempotent at
    * the fixpoint) and the Spark side throws past the cap.
    *
    * Round 11: support is MAINTAINED INCREMENTALLY (decremental truss,
    * Cohen '08 §4 discipline). Triangles enumerate in full exactly once
    * (the init support frame); each peel round then touches only the
    * triangles incident to that round's deletions — common-neighbor
    * wedges seeded from the DYING edge set, not the whole graph — and
    * decrements the surviving edges they credited. A triangle with two
    * or three dying edges dies ONCE (dedup on the sorted vertex triple),
    * so the maintained counts stay exactly equal to a fresh
    * re-enumeration on the surviving subgraph; the final frame needs no
    * closing re-count. At 100 TB the per-round cost is |deletions| ×
    * avg-degree wedge probes against the shrinking adjacency instead of
    * a full triangle pass per round. Output: surviving edges with their
    * final truss support. */
  private def g15(s: SparkSession, d: String): DataFrame =
    ktruss(s, dayEdges(s, d).select(col("actor1"), col("actor2")), TrussK)

  /** g17: the same incremental peel at K = [[TrussK4]] — the first rung
    * where the decremental machinery actually cycles (K=3 deletes only
    * triangle-free edges, which break no triangles, so it converges in
    * one round; K=4 cascades: an edge dropping under 2 triangles kills
    * triangles that push OTHER edges under the floor next round). Same
    * unrolled-CTE oracle as g15 with the higher floor. */
  private def g17(s: SparkSession, d: String): DataFrame =
    ktruss(s, dayEdges(s, d).select(col("actor1"), col("actor2")), TrussK4)

  /** Shared incremental k-truss peel over a canonical (actor1 < actor2)
    * edge frame; see [[g15]] for the exactness argument. Spec-visible so
    * KtrussSpec can drive planted cascade graphs through it. */
  private[operators] def ktruss(s: SparkSession, edges0: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val e0 = edges0.localCheckpoint(eager = false)

    // full per-edge triangle support: each triangle a<b<c enumerated once
    // via the canonical order, credited to (a,b), (b,c), (a,c). Paid ONCE
    // at init; zero-support edges vanish from the agg — they sit in no
    // triangle, so peeling them implicitly decrements nothing.
    def supports(edges: DataFrame): DataFrame = {
      val ab = edges.select($"actor1".as("a"), $"actor2".as("b"))
      val bc = edges.select($"actor1".as("b"), $"actor2".as("c"))
      val ac = edges.select($"actor1".as("a2"), $"actor2".as("c2"))
      val tri = ab.join(bc, "b")
        .join(ac, $"a" === $"a2" && $"c" === $"c2")
        .select($"a", $"b", $"c")
      tri.select($"a".as("actor1"), $"b".as("actor2"))
        .unionAll(tri.select($"b".as("actor1"), $"c".as("actor2")))
        .unionAll(tri.select($"a".as("actor1"), $"c".as("actor2")))
        .groupBy($"actor1", $"actor2").agg(count(lit(1)).as("truss_support"))
    }

    // state = (actor1, actor2, truss_support) — the maintained support
    // frame. Rows only leave and supports only fall, so the row count is
    // the convergence signature: |next| = |state| − |dying|, and with no
    // dying edges no triangle dies, so equal count ⟹ identical frame.
    val fin = Fixpoint.iterate(supports(e0), MaxPeel,
      "k-truss peeling (deeper than the oracle unroll — raise MaxPeel in code AND oracle)") {
      df => Seq(df.count())
    } { (sup, _) =>
      val dying = sup.filter($"truss_support" < k - 2).select($"actor1", $"actor2")
      val keep = sup.filter($"truss_support" >= k - 2)
      // adjacency of the CURRENT graph (keep ∪ dying): a dying edge's
      // triangles are its endpoints' common neighbors in the live set
      val cur = sup.select($"actor1", $"actor2")
      val adj = cur.select($"actor1".as("u"), $"actor2".as("w"))
        .unionAll(cur.select($"actor2".as("u"), $"actor1".as("w")))
      val deadTri = dying
        .join(adj.select($"u".as("actor1"), $"w".as("c")), "actor1")
        .join(adj.select($"u".as("actor2"), $"w".as("c")), Seq("actor2", "c"))
        .select(sort_array(array($"actor1", $"actor2", $"c")).as("t"))
        .distinct()
        .select($"t"(0).as("x"), $"t"(1).as("y"), $"t"(2).as("z"))
      val dec = deadTri.select(explode(array(
          struct($"x".as("actor1"), $"y".as("actor2")),
          struct($"y".as("actor1"), $"z".as("actor2")),
          struct($"x".as("actor1"), $"z".as("actor2")))).as("e"))
        .select($"e.actor1", $"e.actor2")
        .join(dying, Seq("actor1", "actor2"), "left_anti")
        .groupBy($"actor1", $"actor2").agg(count(lit(1)).as("d"))
      keep.join(dec, Seq("actor1", "actor2"), "left")
        .select($"actor1", $"actor2",
          ($"truss_support" - coalesce($"d", lit(0L))).as("truss_support"))
    }
    fin.orderBy($"actor1", $"actor2")
  }

  /** g03: connected components on the probe-day window — min-label
    * propagation to fixpoint ([[Fixpoint.propagateMin]]; label = smallest
    * reachable actor id, GraphX's `connectedComponents` convention,
    * differentially tested against it). Rounds are bounded by the component
    * diameter; at 100 TB the edge list stays partitioned by `src` — the
    * Pregel CC superstep expressed relationally. */
  private def g03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = dayEdges(s, d)
    // snapshot once — every propagation round references the edge list, so
    // the un-checkpointed plan would re-scan the pruned parquet per round
    val und = e.select($"actor1".as("src"), $"actor2".as("dst"))
      .unionAll(e.select($"actor2".as("src"), $"actor1".as("dst")))
      .localCheckpoint(eager = false)
    // round 1 folded into init: from self-labels it is min(self, min over
    // neighbors), a direct aggregation over the edge list
    val init = und.select($"dst".as("actor_id"), $"src")
      .groupBy($"actor_id").agg(min($"src").as("nmin"))
      .select($"actor_id",
        least($"actor_id", $"nmin").as("label"),
        ($"nmin" < $"actor_id").as("imp"))
    val state = Fixpoint.propagateMin(init, und, Seq("actor_id"), "label", $"label",
      MaxRounds, "component labeling")
    state.select($"actor_id", $"label".as("component"))
      .orderBy($"actor_id")
  }

  /** g04: PageRank on the probe-day window — [[PrIters]] power iterations of
    * `pr' = 0.15/N + 0.85·Σ_{u∈N(v)} pr(u)/deg(u)` over the undirected
    * day-edge set (no dangling mass: every vertex of an edge list has
    * degree ≥ 1, so Σ pr stays exactly 1 — asserted in GraphMetricsSpec).
    * Each iteration is one equi-join + one hash agg, the relational Pregel
    * superstep: at 100 TB the edge list stays partitioned by `src` and the
    * rank table broadcasts while the day's vertex count is under the
    * guarded ceiling, degrading to a keyed shuffle of the rank table above
    * it. The per-neighbor sum uses the library's
    * decimal-exact double aggregation ([[graft.functions.Exact]]) so the
    * result is association-order independent — identical bits on any
    * cluster size AND on the DuckDB oracle's completely different join
    * order. No `ln`/`exp` anywhere: every step is IEEE +,·,/ mirrored
    * exactly by the unrolled-CTE oracle. */
  private def g04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = dayEdges(s, d)
    // snapshot the edge list and degree table once: each power iteration
    // references both, so the un-checkpointed plan would re-scan the edge
    // parquet and re-run the degree shuffle PrIters+1 times per execution
    val und = e.select($"actor1".as("src"), $"actor2".as("dst"))
      .unionAll(e.select($"actor2".as("src"), $"actor1".as("dst")))
      .localCheckpoint(eager = false)
    val deg = und.groupBy($"src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    // scalar vertex count (A3 probe-lookup analog) — round 14: every
    // endpoint of the day-edge list has degree ≥ 1, so this IS the
    // memoized dayVertices probe; reading it retires the per-execution
    // deg-materialization count job
    val n = dayVertices(s, d)
    var rank = deg.select($"src".as("actor_id"), (lit(1.0) / n).as("pr"))
    for (_ <- 1 to PrIters) {
      val contrib = und
        .join(guarded(s, d, deg), "src")
        .join(guarded(s, d, rank.withColumnRenamed("actor_id", "src")), "src")
        .select($"dst".as("actor_id"), ($"pr" / $"deg").as("c"))
      rank = contrib.groupBy($"actor_id")
        .agg((lit(0.15) / n + lit(0.85) * Exact.dsum($"c")).as("pr"))
    }
    rank.orderBy($"actor_id")
  }

  /** g05: link prediction on the probe-day window — for every NON-adjacent
    * actor pair with at least one common neighbor, the three classic
    * neighborhood scores: common-neighbor count, Jaccard
    * `cn / (deg(a)+deg(b)−cn)`, and the Resource-Allocation index
    * `Σ_{z∈CN} 1/deg(z)` (RA over Adamic-Adar deliberately: AA's `1/ln deg`
    * needs libm `ln`, whose last-ulp rounding is engine-dependent and would
    * break the bit-exact oracle; RA is pure IEEE division and ranks the
    * same candidates). Top-[[LpTopK]] by (ra desc, pair) — a total order,
    * so the cut is deterministic.
    *
    * Plan shape at 100 TB: 2-paths are one self-equi-join of the
    * directed edge list keyed on the middle vertex z (Σ deg(z)² work — the
    * irreducible cost of CN-based link prediction; the day window is what
    * bounds it, same argument as c12), per-pair scores are one partial+final
    * hash agg, adjacency is removed with a LEFT ANTI join against the
    * canonical edge list, and the degree table joins in the guarded
    * broadcast-or-shuffle mode. The RA sum uses
    * decimal-exact accumulation so the ranking is identical on any
    * partitioning and on the oracle. */
  private def g05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the RA weight 1/deg(z) rides on the at-rest adjacency rows — joining
    // deg onto the Σ deg² pair rows instead would cost a broadcast probe
    // per PAIR, the dominant term at any scale
    val adj = dayAdj(s, d)
    val deg = adj.select($"z".as("src"), $"deg").distinct()
    // explicit-width repartition: the |E|-row shuffle feeding the 2-path
    // join is tiny, so AQE would coalesce it to ~1 partition and run the
    // Σ deg² expansion single-task (the documented a03/round-3 trap).
    // (Round-14 audit: the two sides' repartitions already canonicalize
    // to ONE exchange — AQE plans a ReusedExchange for the second side,
    // plans/r14/g05_link_prediction_before.txt — so no rewrite needed.)
    val shuffleN = s.conf.get("spark.sql.shuffle.partitions").toInt
    val paths = adj.select($"z", $"o".as("a"), $"wz")
      .repartition(shuffleN, $"z")
      .join(adj.select($"z", $"o".as("b")).repartition(shuffleN, $"z"), "z")
      .filter($"a" < $"b")
    val scored = paths
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("common_neighbors"),
        Exact.dsum($"wz").as("ra_score"))
    scored
      .join(dayEdges(s, d).select($"actor1".as("a"), $"actor2".as("b")),
        Seq("a", "b"), "left_anti")
      .join(guarded(s, d, deg.select($"src".as("a"), $"deg".as("da"))), "a")
      .join(guarded(s, d, deg.select($"src".as("b"), $"deg".as("db"))), "b")
      .select($"a".as("actor_a"), $"b".as("actor_b"), $"common_neighbors",
        ($"common_neighbors".cast("double") /
          ($"da" + $"db" - $"common_neighbors")).as("jaccard"),
        $"ra_score")
      .orderBy(desc("ra_score"), $"actor_a", $"actor_b")
      .limit(LpTopK)
  }

  /** g06: temporal brokerage — per actor z, the count of TIME-ORDERED
    * wedges (a → z → b): z's first contact with a (frame f1) precedes z's
    * first contact with b (f2 > f1), so z can relay from a to b — the
    * temporal-motif analog of the reference's structural wedge queries
    * (C9/C11 count un-ordered co-neighbors; dynamic-contact analyses order
    * them in time). Uses each edge's FIRST activation on the probe day
    * (`f_min`, carried by the at-rest day-edge table), which both defines
    * the semantics (earliest possible relay) and bounds the join to one
    * row per edge — joining raw frame-activations would square the
    * per-actor activation count instead of the degree. Strict `>` means
    * simultaneous first contacts create no wedge (no tie-break needed).
    *
    * Round 14 (guide §2.4 — remove the shuffle outright): the Σ deg²
    * wedge self-join is unnecessary when only per-z COUNTS are declared.
    * For a fixed z, the ordered-wedge count is Σ_b |{a : f_min(a) <
    * f_min(b)}| and the target count is |{b : ∃a, f_min(a) < f_min(b)}|;
    * both read off ONE rank window per z over its neighbor rows:
    * `rank() − 1` is exactly the strictly-smaller-f_min neighbor count
    * (ties share the first tied position, so equal first-contacts create
    * no wedge — the declared strict `>`), so n_wedges = Σ (rank − 1) and
    * n_targets = #(rank > 1). Integer sums — bit-identical to the join
    * formulation (GraphMetricsSpec's naive first-contact differential
    * pins it) — and the per-task bound drops from deg(z)² join rows to a
    * deg(z)-row sorted window. */
  private def g06(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val adj = dayAdj(s, d)
    val w = Window.partitionBy($"z").orderBy($"f_min")
    adj.select($"z", $"f_min")
      .withColumn("rk", rank().over(w).cast("long"))
      .groupBy($"z")
      .agg(sum($"rk" - 1L).as("n_wedges"),
        sum(when($"rk" > 1L, 1L).otherwise(0L)).as("n_targets"))
      .filter($"n_wedges" > 0)
      .select($"z".as("actor_id"), $"n_wedges", $"n_targets")
      .orderBy($"actor_id")
  }

  /** g08: TIME-RESPECTING triadic closure — g06's ordered wedges
    * (a → z → b, z's first contact with a strictly before with b), now
    * asking the motif question g06 stops short of: did the third edge
    * (a, b) activate AFTER the wedge completed (f3 > f2)? That is the
    * time-ordered triangle of the temporal-motif literature (Paranjape/
    * Benson/Leskovec, WSDM 2017, motif class M: three edges in strict
    * temporal order) restricted to first activations, and per-broker
    * closure rate is the classic triadic-closure signal on contact
    * networks: did the introduction get consummated?
    *
    * One pass: the Σ deg² wedge self-join (g06's explicit-width
    * repartition discipline), then ONE left equi-join against the
    * canonical day-edge table on (least, greatest) — each wedge matches at
    * most one closing edge (canonical edges are distinct), so
    * `count(f3)` counts closed wedges without a second wedge pass. The
    * closure rate is ONE division of the two counts — exact on any
    * engine. */
  private def g08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val adj = dayAdj(s, d)
    val shuffleN = s.conf.get("spark.sql.shuffle.partitions").toInt
    val in = adj.select($"z", $"o".as("a"), $"f_min".as("f1"))
      .repartition(shuffleN, $"z")
    val out = adj.select($"z", $"o".as("b"), $"f_min".as("f2"))
      .repartition(shuffleN, $"z")
    val wedges = in.join(out, "z").filter($"a" =!= $"b" && $"f2" > $"f1")
    val closing = dayEdges(s, d)
      .select($"actor1".as("ca"), $"actor2".as("cb"), $"f_min".as("f3"))
    wedges
      .join(closing,
        least($"a", $"b") === $"ca" && greatest($"a", $"b") === $"cb" &&
          $"f3" > $"f2", "left")
      .groupBy($"z")
      .agg(count(lit(1)).as("n_wedges"), count($"f3").as("n_closed"))
      .select($"z".as("actor_id"), $"n_wedges", $"n_closed",
        ($"n_closed".cast("double") / $"n_wedges".cast("double")).as("closure_rate"))
      .orderBy($"actor_id")
  }

  /** g07: degree assortativity of the probe-day graph — the Pearson
    * correlation of endpoint degrees over the DIRECTED edge list (both
    * orientations, the standard Newman formulation; by symmetry the x and
    * y moments coincide, so only n, Σx, Σxy, Σx² are needed). Social
    * contact graphs are classically assortative (hubs meet hubs); this is
    * the one-number summary of that structure. Every sum is INTEGER
    * (degrees are counts — no decimal machinery needed for exactness);
    * the final correlation is one fixed-order double expression, so the
    * value is bit-identical on any partitioning and on the oracle. */
  private def g07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val adj = dayAdj(s, d)
    val degO = adj.select($"z".as("o"), $"deg".as("y")).distinct()
    adj.select($"z", $"o", $"deg".as("x"))
      .join(guarded(s, d, degO), "o")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"n".as("n_dir_edges"),
        (($"n".cast("double") * $"sxy" - $"sx".cast("double") * $"sx") /
          ($"n".cast("double") * $"sxx" - $"sx".cast("double") * $"sx"))
          .as("assortativity"))
  }

  /** g16: per-day degree-assortativity EVOLUTION — g07's exact integer
    * moments grouped by day, the structural-drift curve next to g09's
    * edge-turnover and g10's component curve: dynamic-network studies
    * read all three together to tell churn (g09) from fragmentation
    * (g10) from mixing-pattern change (g16, hubs pairing with hubs vs
    * leaves). Same bit-exact arithmetic as g07 — integer moments, ONE
    * fixed-order double expression per day — with the one new case the
    * whole-run axis forces: a REGULAR day graph (all degrees equal, e.g.
    * a single-edge day) has zero variance, where r is undefined; both
    * engines report 0.0 under the same CASE guard. One day-keyed degree
    * agg + ONE (day, actor)-keyed edge join + one VERTEX-sized join
    * (round 14, guide §2.3/§3): the second endpoint join used to re-key
    * all |directed edges| rows on (dkey, o) just to attach y = deg(o);
    * since Σ_{(z,o)} x·y = Σ_o y·(Σ_{z∈N(o)} x), grouping the x-annotated
    * edges by (dkey, o) FIRST collapses the join's probe side to
    * |day-vertices| rows — the moments are unchanged (integer sums are
    * association-free) and the plan sheds one edge-sized exchange.
    * Output bounded by |days|. */
  private def g16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = edgesByDay(s, d)
    val und = e.select($"dkey", $"actor1".as("z"), $"actor2".as("o"))
      .unionAll(e.select($"dkey", $"actor2".as("z"), $"actor1".as("o")))
      .localCheckpoint(eager = false)
    // snapshotted: BOTH endpoint joins read the one degree aggregation
    // (un-checkpointed, each broadcast branch re-aggregates und)
    val deg = und.groupBy($"dkey", $"z").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val num = $"n_dir_edges".cast("double") * $"sxy" - $"sx".cast("double") * $"sx"
    val den = $"n_dir_edges".cast("double") * $"sxx" - $"sx".cast("double") * $"sx"
    // Round-15 A/B (VERDICT item 6, exclusive same-box, 7 reps/rung): this
    // vertex-probe shape vs the round-13 both-endpoint edge join measured
    // sf0.1 0.578 s vs 0.479 s (v13 wins ~0.1 s) and sf1 3.95/8.98 s vs
    // 3.47/10.9 s across two rounds (a tie inside a ±3× dirty-box band;
    // the v13 arm was additionally bimodal at sf1 — its second edge-sized
    // join sits on a borderline broadcast estimate). Verdict rule: keep on
    // an sf1 win-or-tie — KEPT, the second exchange stays vertex-sized.
    //
    // per-target partial moments: c = in-degree contribution count,
    // sxo = Σ x over o's neighbors, sxxo = Σ x² — all exact longs
    val byO = und.join(deg.select($"dkey", $"z", $"deg".as("x")), Seq("dkey", "z"))
      .groupBy($"dkey", $"o")
      .agg(count(lit(1)).as("c"), sum($"x").as("sxo"), sum($"x" * $"x").as("sxxo"))
    byO.join(deg.select($"dkey", $"z".as("o"), $"deg".as("y")), Seq("dkey", "o"))
      .groupBy($"dkey")
      .agg(sum($"c").as("n_dir_edges"), sum($"sxo").as("sx"),
        sum($"y" * $"sxo").as("sxy"), sum($"sxxo").as("sxx"))
      .select($"dkey", $"n_dir_edges",
        when(den =!= 0.0, num / den).otherwise(lit(0.0)).as("assortativity"))
      .orderBy($"dkey")
  }

  /** g10: component evolution — connected components of EVERY day's contact
    * graph in one pass, rolled up to the per-day structure curve
    * (actors, edges, component count, giant-component size) that
    * dynamic-network studies plot to find fragmentation/consolidation
    * breakpoints (the whole-run generalization of g03's single-window
    * components). The fixpoint runs ONCE over all days simultaneously:
    * labels are keyed (dkey, actor), propagation joins on (dkey, src), so
    * round count is the MAX component diameter across days — not the sum —
    * and each round is one equi-join + one hash agg exactly like g03
    * ([[Fixpoint.propagateMin]] with `dkey` as a partition key). The DuckDB
    * oracle runs the same semantics as a day-scoped recursive CTE;
    * GraphMetricsSpec differentially checks a driver-side union-find
    * recompute. */
  private def g10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = edgesByDay(s, d)
    val und = e.select($"dkey", $"actor1".as("src"), $"actor2".as("dst"))
      .unionAll(e.select($"dkey", $"actor2".as("src"), $"actor1".as("dst")))
      .localCheckpoint(eager = false)
    // round 1 folded into init: from self-labels, round 1 computes per
    // (dkey, vertex) min(self, min over neighbors) — a DIRECT aggregation
    // over the day-edge table instead of a full-frontier probe join that
    // merged |directed day-edges| (2.67 M at sf0.1) candidate rows. Every
    // vertex of und appears as `dst` (the union is symmetric).
    val init = und.select($"dkey", $"dst".as("actor_id"), $"src")
      .groupBy($"dkey", $"actor_id").agg(min($"src").as("nmin"))
      .select($"dkey", $"actor_id",
        least($"actor_id", $"nmin").as("label"),
        ($"nmin" < $"actor_id").as("imp"))
    val state = Fixpoint.propagateMin(init, und, Seq("dkey", "actor_id"), "label",
      $"label", G10Rounds,
      "per-day component labeling (deeper than the oracle unroll — raise G10Rounds in code AND oracle)")
    val sizes = state.groupBy($"dkey", $"label").agg(count(lit(1)).as("sz"))
    val comps = sizes.groupBy($"dkey").agg(
      sum($"sz").as("n_actors"),
      count(lit(1)).as("n_components"),
      max($"sz").as("largest"))
    val edges = e.groupBy($"dkey").agg(count(lit(1)).as("n_edges"))
    comps.join(edges, "dkey")
      .select($"dkey", $"n_actors", $"n_edges", $"n_components", $"largest")
      .orderBy($"dkey")
  }

  /** g11: degree-distribution histogram + CCDF — the scale-free check
    * (Barabási–Albert power-law eyeball) every network study runs first,
    * and the skew forecast for every per-vertex operator here (a fat tail
    * in this table is why g05's wedge joins and c11's triangle pyramids
    * need their guards). Value-keyed histogram like tx15: the degree agg
    * shuffles |actors| rows once, the histogram is |distinct degrees|
    * rows, and the CCDF window runs over that value-domain-bounded set —
    * never corpus-sized. `cum_ge` counts actors with degree ≥ the row's
    * (the CCDF numerator); `frac_ge` is its one exact division. */
  private def g11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = GraphCache(s, d)
    val endpoints = g.interactions.select($"actor1".as("actor_id"))
      .unionAll(g.interactions.select($"actor2".as("actor_id")))
    val hist = endpoints.groupBy($"actor_id").agg(count(lit(1)).as("degree"))
      .groupBy($"degree").agg(count(lit(1)).as("n_actors"))
    // two-level bucketed CCDF (PrefixSum): no histogram-sized
    // single-partition window even when the degree domain grows with the
    // corpus; totals come off the bucket sums, not a second pass
    val (cum, tot) = PrefixSum.cumulative(hist, Seq.empty, "degree",
      "n_actors", asc = false, "cum_ge", "n_total")
    cum.crossJoin(broadcast(tot))
      .select($"degree", $"n_actors", $"cum_ge",
        ($"cum_ge".cast("double") / $"n_total").as("frac_ge"))
      .orderBy($"degree")
  }

  /** g14: strength (weighted-degree) distribution + CCDF — g11's histogram
    * with contact VOLUME instead of contact COUNT: an actor's strength is
    * its total co-active frame mass Σ_e n_frames(e) over incident
    * canonical pairs (frames are fixed Δ-slots, so strength IS contact
    * duration in Δ units — the quantity the SocioPatterns GRADES'13
    * analyses plot beside the degree distribution, and the c14 contact
    * matrix rolled one level further). Σ over incident pairs of the pair's
    * frame count is just the COUNT of incident frame-edge rows, so the
    * plan is EXACTLY g11's shape on the frame-edge list: endpoint explode
    * (2·|frame-edges| narrow rows), one actor count-agg, value-keyed
    * histogram, CCDF window bounded by the strength value domain.
    * All-integer + two one-division doubles. */
  private def g14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = GraphCache(s, d)
    val strength = g.frameInteractions.select($"actor1".as("actor_id"))
      .unionAll(g.frameInteractions.select($"actor2".as("actor_id")))
      .groupBy($"actor_id").agg(count(lit(1)).as("strength"))
    val hist = strength.groupBy($"strength").agg(count(lit(1)).as("n_actors"))
    // two-level bucketed CCDF (PrefixSum) — strength's value domain grows
    // with activity mass, the exact case the bucketed construction is for
    val (cum, tot) = PrefixSum.cumulative(hist, Seq.empty, "strength",
      "n_actors", asc = false, "cum_ge", "n_total")
    cum.crossJoin(broadcast(tot))
      .select($"strength", $"n_actors", $"cum_ge",
        ($"cum_ge".cast("double") / $"n_total").as("frac_ge"))
      .orderBy($"strength")
  }

  /** g13's round cap — shared contract with its oracle. The Spark
    * fixpoint spends one round per BFS layer plus ONE final no-change
    * confirmation round, so it converges iff pa1's eccentricity is
    * ≤ BfsCap − 1 and throws loudly otherwise; the oracle's recursion
    * bound explores exactly that depth (`dd < BfsCap − 1` generates hops
    * up to BfsCap − 1), so the two sides answer the identical regime.
    * Probe-day contact graphs have single-digit diameters; 23 reachable
    * hops is a wide margin. */
  private val BfsCap = 24

  /** g13: single-source BFS hop distances from the reference's probe actor
    * (A3's pa1) on the probe-day window — the STRUCTURAL companion of
    * g01's temporal reachability: g01 answers "whom can pa1's information
    * reach respecting time order", g13 answers "how many introductions
    * away is everyone on that day" (the ego-distance profile behind
    * small-world analyses and k-hop neighborhood sampling; C9b's 4-hop
    * common-neighbor query is its fixed-depth special case). Min-distance
    * propagation to fixpoint ([[Fixpoint.propagateMin]]) — the g03 loop
    * with labels = hop counts: each round reaches exactly the next BFS
    * layer. Unreached actors are absent, as in g01. */
  private def g13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = GraphCache(s, d)
    val pa1 = g.probes.pa1
    val e = dayEdges(s, d)
    val und = e.select($"actor1".as("src"), $"actor2".as("dst"))
      .unionAll(e.select($"actor2".as("src"), $"actor1".as("dst")))
      .localCheckpoint(eager = false)
    val init = Seq((pa1, 0L, true)).toDF("actor_id", "dist", "imp")
    val state = Fixpoint.propagateMin(init, und, Seq("actor_id"), "dist", $"dist" + 1L,
      BfsCap, "BFS hop propagation (deeper than the oracle bound — raise BfsCap in code AND oracle)")
    state.select($"actor_id", $"dist".as("hops")).orderBy($"actor_id")
  }

  /** g12: label-propagation communities on the probe-day window — the
    * classic near-linear community detector (Raghavan/Albert/Kumara 2007),
    * made fully deterministic: SYNCHRONOUS rounds (every vertex updates
    * from the previous round's labels — no update-order dependence) and
    * the ties the original breaks randomly broken by (max count, then MIN
    * label). [[LpaRounds]] fixed rounds, init label = own id. This is the
    * community signal g03's components cannot give: a barbell graph is ONE
    * component but TWO LPA communities (pinned by the planted spec).
    *
    * Each round is one equi-join of the undirected edge list against the
    * vertex-bounded label table (guarded broadcast-or-shuffle, the
    * g02/g04 mode) + one hash agg per (dst, label) + one argmax — the
    * argmax as `max(struct(count, -label))`, a second hash agg rather than
    * a per-vertex window, so map-side partial aggregation applies and no
    * window partition exists at any scale. The DuckDB oracle unrolls the
    * same [[LpaRounds]] rounds with the window formulation — the two
    * argmax encodings must agree exactly (count and label are integers).
    * At 100 TB: the edge list stays partitioned on `src` across rounds;
    * per-round shuffle volume is Σ per-vertex distinct neighbor labels,
    * bounded by |E|. */
  private def g12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = dayEdges(s, d)
    // snapshot once: all LpaRounds rounds re-reference the edge list
    val und = e.select($"actor1".as("src"), $"actor2".as("dst"))
      .unionAll(e.select($"actor2".as("src"), $"actor1".as("dst")))
      .localCheckpoint(eager = false)
    // round 15 (the g10 fold, guide §2.3): from self-labels, round 1's
    // per-(dst, label) counts are ALL 1 — und rows are unique per
    // (src, dst) since dayEdges is distinct — so the (max count, min label)
    // argmax degenerates to min neighbor label: one direct aggregation
    // replaces both the init distinct and the first join round
    var labels = und.groupBy($"dst").agg(min($"src").as("label"))
      .select($"dst".as("actor_id"), $"label")
    for (_ <- 2 to LpaRounds) {
      val counts = und
        .join(guarded(s, d, labels.withColumnRenamed("actor_id", "src")), "src")
        .groupBy($"dst", $"label").agg(count(lit(1)).as("c"))
      labels = counts
        .groupBy($"dst")
        .agg(max(struct($"c".as("c"), (-$"label").as("nl"))).as("m"))
        .select($"dst".as("actor_id"), (-$"m.nl").as("label"))
    }
    labels.select($"actor_id", $"label".as("community")).orderBy($"actor_id")
  }

  // ---------------------------------------------------------------- oracle --

  /** Distinct canonical edges on the probe date (matches [[dayEdges]]). */
  private val dayEdgesSql =
    """inter_d AS MATERIALIZED (
      |  SELECT DISTINCT fi.actor1, fi.actor2
      |  FROM fi JOIN frames USING (frame_id), probe_date
      |  WHERE frames.year = py AND frames.month = pm AND frames.day = pdd
      |)""".stripMargin

  /** g09: frame-to-frame edge turnover — per consecutive frame pair
    * (f, f+1) over the WHOLE run, the Jaccard similarity of the two edge
    * sets (|E_f ∩ E_{f+1}| / |E_f ∪ E_{f+1}|), the standard dynamic-network
    * stability curve (Clauset/Eagle '07 network-evolution similarity; the
    * quantity SocioPatterns deployments plot to find activity breakpoints).
    * Frames with no interactions (the loader creates every Δ-slot,
    * `load_gexf_to_neo4j.py:170`) appear with zero counts.
    *
    * Scale shape (round 14, guide §2.4 — remove the shuffle outright):
    * consecutive-frame persistence is a PER-ROW array expression over the
    * at-rest temporal adjacency index (each pair row carries its sorted
    * active-frame array, so "active at f AND f+1" is
    * `filter(fs, f -> array_contains(fs, f+1))` — codegen'd, no shuffle,
    * and the index is the one g01 already pins in executor memory),
    * replacing v1's full shuffle + `lead` window over the |frame-edge|
    * incidence list (measured 1.36 M rows re-keyed on the pair every run).
    * Then two frame-keyed aggregations whose keyspace is the frame count.
    * The dense frame axis comes from the at-rest frames table via a self
    * semi-join (frame_id+1 exists), never a driver-side max. */
  private def g09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val g = GraphCache(s, d)
    val ef = g.frameInteractions.select($"frame_id", $"actor1", $"actor2")
    // canonical half of the directed index = one row per pair, its frame
    // set identical to the pair's frameInteractions rows by construction
    val common = ReachabilityQueries.adjacency(s, d)
      .filter($"src" < $"dst")
      .select(explode(expr("filter(fs, f -> array_contains(fs, f + 1))")).as("frame_id"))
      .groupBy($"frame_id").agg(count(lit(1)).as("n_common"))
    val sizes = ef.groupBy($"frame_id").agg(count(lit(1)).as("n_edges"))
    val base = g.frames.select($"frame_id")
      .join(g.frames.select(($"frame_id" - 1).as("frame_id")),
        Seq("frame_id"), "left_semi")
    val nUnion = coalesce($"n_edges", lit(0L)) + coalesce($"n_next", lit(0L)) -
      coalesce($"n_common", lit(0L))
    base
      .join(sizes, Seq("frame_id"), "left")
      .join(sizes.select(($"frame_id" - 1).as("frame_id"),
        $"n_edges".as("n_next")), Seq("frame_id"), "left")
      .join(common, Seq("frame_id"), "left")
      .select($"frame_id",
        coalesce($"n_edges", lit(0L)).as("n_edges"),
        coalesce($"n_next", lit(0L)).as("n_next"),
        coalesce($"n_common", lit(0L)).as("n_common"),
        when(nUnion > 0,
          coalesce($"n_common", lit(0L)).cast("double") / nUnion.cast("double"))
          .otherwise(lit(0.0)).as("jaccard"))
      .orderBy($"frame_id")
  }

  def oracleSql: Map[String, String] = Map(
    "c12_clustering_coeff" -> EventGraphSql.query(
      s""", $dayEdgesSql,
        |deg AS (
        |  SELECT actor_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |    SELECT actor1 AS actor_id FROM inter_d
        |    UNION ALL SELECT actor2 FROM inter_d) z
        |  GROUP BY actor_id
        |),
        |tri AS (
        |  SELECT e1.actor1 AS a, e1.actor2 AS b, e2.actor2 AS c
        |  FROM inter_d e1
        |  JOIN inter_d e2 ON e1.actor2 = e2.actor1
        |  JOIN inter_d e3 ON e3.actor1 = e1.actor1 AND e3.actor2 = e2.actor2
        |),
        |tpv AS (
        |  SELECT actor_id, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        |    SELECT a AS actor_id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) z
        |  GROUP BY actor_id
        |)
        |SELECT d.actor_id, d.degree,
        |       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
        |       CASE WHEN d.degree >= 2
        |            THEN 2.0 * coalesce(t.triangles, 0) / (d.degree * (d.degree - 1))
        |            ELSE 0.0 END AS lcc
        |FROM deg d LEFT JOIN tpv t USING (actor_id)
        |ORDER BY d.actor_id""".stripMargin),
    // g10: UNROLLED min-label propagation (the g02/g04 unroll discipline)
    // with the day key carried through every round — each round is one
    // linear join+agg over the day-keyed undirected edge list, so the
    // oracle stays tractable at every sf (the g03-style recursive
    // (label, actor) enumeration is Σ_c |c|² per day and melts down on
    // sf0.1's near-connected day graphs). Propagation is idempotent at
    // the fixpoint; the Spark loop throws past G10Rounds, matching.
    "g10_component_evolution" -> EventGraphSql.query(
      s""", de AS MATERIALIZED (
         |  SELECT DISTINCT f.year * 10000 + f.month * 100 + f.day AS dkey,
         |         fi.actor1, fi.actor2
         |  FROM fi JOIN frames f USING (frame_id)
         |),
         |und AS MATERIALIZED (
         |  SELECT dkey, actor1 AS src, actor2 AS dst FROM de
         |  UNION ALL SELECT dkey, actor2, actor1 FROM de
         |),
         |r0 AS MATERIALIZED (
         |  SELECT DISTINCT dkey, src AS actor_id, src AS label FROM und
         |)""".stripMargin +
        (1 to G10Rounds).map { i =>
          s""",
             |r$i AS MATERIALIZED (
             |  SELECT dkey, actor_id, MIN(label) AS label FROM (
             |    SELECT dkey, actor_id, label FROM r${i - 1}
             |    UNION ALL
             |    SELECT e.dkey, e.dst AS actor_id, r.label
             |    FROM und e JOIN r${i - 1} r
             |      ON r.dkey = e.dkey AND r.actor_id = e.src
             |  ) z GROUP BY dkey, actor_id
             |)""".stripMargin
        }.mkString +
      s""",
         |comp AS (SELECT dkey, actor_id, label FROM r$G10Rounds),
         |sizes AS (
         |  SELECT dkey, label, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM comp GROUP BY dkey, label
         |),
         |rollup2 AS (
         |  SELECT dkey, CAST(SUM(sz) AS BIGINT) AS n_actors,
         |         CAST(COUNT(*) AS BIGINT) AS n_components,
         |         CAST(MAX(sz) AS BIGINT) AS largest
         |  FROM sizes GROUP BY dkey
         |),
         |ec AS (
         |  SELECT dkey, CAST(COUNT(*) AS BIGINT) AS n_edges FROM de GROUP BY dkey
         |)
         |SELECT r2.dkey, r2.n_actors, ec.n_edges, r2.n_components, r2.largest
         |FROM rollup2 r2 JOIN ec USING (dkey)
         |ORDER BY r2.dkey""".stripMargin),
    // g14: endpoint-exploded frame-edge counts (strength == incident
    // frame-edge rows), then g11's value-keyed histogram/CCDF shape
    "g14_strength_histogram" -> EventGraphSql.query(
      """, st AS (
        |  SELECT actor_id, CAST(COUNT(*) AS BIGINT) AS strength FROM (
        |    SELECT actor1 AS actor_id FROM fi
        |    UNION ALL SELECT actor2 FROM fi) z
        |  GROUP BY actor_id),
        |hist AS (
        |  SELECT strength, CAST(COUNT(*) AS BIGINT) AS n_actors
        |  FROM st GROUP BY strength)
        |SELECT strength, n_actors,
        |       CAST(SUM(n_actors) OVER (ORDER BY strength DESC) AS BIGINT) AS cum_ge,
        |       CAST(SUM(n_actors) OVER (ORDER BY strength DESC) AS DOUBLE)
        |         / CAST(SUM(n_actors) OVER () AS DOUBLE) AS frac_ge
        |FROM hist ORDER BY strength""".stripMargin),
    // g13: recursive (actor, hop) enumeration from the probe actor, the
    // g01 oracle shape with hop counts instead of frames; the recursion
    // bound matches the Spark loop's convergent regime — hops up to
    // BfsCap − 1 (the loop's last round is the no-change confirmation) —
    // and UNION dedup + the bound keep the recursion at <= cap * |actors|
    // pairs
    "g13_bfs_hops" -> EventGraphSql.query(
      s""", $dayEdgesSql,
         |bfs AS (
         |  WITH RECURSIVE b(actor_id, dd) AS (
         |    SELECT pa1, CAST(0 AS BIGINT) FROM probe_a1
         |    UNION
         |    SELECT CASE WHEN e.actor1 = b.actor_id THEN e.actor2 ELSE e.actor1 END,
         |           b.dd + 1
         |    FROM b JOIN inter_d e
         |      ON (e.actor1 = b.actor_id OR e.actor2 = b.actor_id)
         |    WHERE b.dd < ${BfsCap - 1}
         |  )
         |  SELECT actor_id, MIN(dd) AS hops FROM b GROUP BY actor_id
         |)
         |SELECT actor_id, hops FROM bfs
         |ORDER BY actor_id""".stripMargin),
    // same recursive-enumeration shape as the g01 oracle: (actor, label)
    // pairs spread along day edges, UNION-deduped, min label per actor
    "g03_components" -> EventGraphSql.query(
      s""", $dayEdgesSql,
         |comp AS (
         |  WITH RECURSIVE r(actor_id, label) AS (
         |    SELECT actor_id, actor_id FROM (
         |      SELECT actor1 AS actor_id FROM inter_d
         |      UNION SELECT actor2 FROM inter_d) seeds
         |    UNION
         |    SELECT CASE WHEN e.actor1 = r.actor_id THEN e.actor2 ELSE e.actor1 END,
         |           r.label
         |    FROM r JOIN inter_d e
         |      ON e.actor1 = r.actor_id OR e.actor2 = r.actor_id
         |  )
         |  SELECT actor_id, MIN(label) AS component FROM r GROUP BY actor_id
         |)
         |SELECT actor_id, component FROM comp
         |ORDER BY actor_id""".stripMargin),
    // unrolled power iterations; double literals as 0.15e0 etc. so DuckDB
    // parses them via strtod (bit-identical to Spark's double literal) and
    // never through its own decimal arithmetic
    "g04_pagerank" -> EventGraphSql.query(
      s""", $dayEdgesSql,
         |und AS MATERIALIZED (
         |  SELECT actor1 AS src, actor2 AS dst FROM inter_d
         |  UNION ALL SELECT actor2, actor1 FROM inter_d),
         |pdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
         |pn AS (SELECT COUNT(*) AS n FROM pdeg),
         |r0 AS MATERIALIZED (
         |  SELECT src AS actor_id, 1.0e0 / pn.n AS pr FROM pdeg, pn)""".stripMargin +
        (1 to PrIters).map { i =>
          s""",
             |r$i AS MATERIALIZED (
             |  SELECT u.dst AS actor_id,
             |         0.15e0 / pn.n + 0.85e0 * ${Exact.sqlSum("r.pr / pdeg.deg")} AS pr
             |  FROM und u
             |  JOIN r${i - 1} r ON u.src = r.actor_id
             |  JOIN pdeg ON u.src = pdeg.src, pn
             |  GROUP BY u.dst, pn.n)""".stripMargin
        }.mkString +
        s"""
           |SELECT actor_id, pr FROM r$PrIters ORDER BY actor_id""".stripMargin),
    // integer moments over the directed edge list; one fixed-order double
    // expression at the end
    "g07_assortativity" -> EventGraphSql.query(
      s""", $dayEdgesSql,
         |und AS MATERIALIZED (
         |  SELECT actor1 AS z, actor2 AS o FROM inter_d
         |  UNION ALL SELECT actor2, actor1 FROM inter_d),
         |pdeg AS MATERIALIZED (SELECT z, COUNT(*) AS deg FROM und GROUP BY z),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(dz.deg) AS BIGINT) AS sx,
         |         CAST(SUM(dz.deg * dob.deg) AS BIGINT) AS sxy,
         |         CAST(SUM(dz.deg * dz.deg) AS BIGINT) AS sxx
         |  FROM und u
         |  JOIN pdeg dz ON u.z = dz.z
         |  JOIN pdeg dob ON u.o = dob.z
         |)
         |SELECT n AS n_dir_edges,
         |       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx) /
         |       (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS assortativity
         |FROM agg""".stripMargin),
    // g11: same endpoint-explode degree as c10, value-keyed histogram,
    // CCDF window over distinct degrees (RANGE == ROWS: keys are unique)
    "g11_degree_histogram" -> EventGraphSql.query(
      """, hist AS (
        |  SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_actors FROM (
        |    SELECT actor_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |      SELECT actor1 AS actor_id FROM inter
        |      UNION ALL SELECT actor2 FROM inter) e
        |    GROUP BY actor_id) d
        |  GROUP BY degree
        |)
        |SELECT degree, n_actors,
        |       CAST(SUM(n_actors) OVER (ORDER BY degree DESC) AS BIGINT) AS cum_ge,
        |       CAST(SUM(n_actors) OVER (ORDER BY degree DESC) AS DOUBLE)
        |         / CAST(SUM(n_actors) OVER () AS DOUBLE) AS frac_ge
        |FROM hist ORDER BY degree""".stripMargin),
    // mirror of g09: per-frame edge-set sizes + a consecutive-frame
    // self-join for the intersection, over the dense frame axis
    "g09_frame_turnover" -> EventGraphSql.query(
      s""", s1 AS (SELECT frame_id, CAST(COUNT(*) AS BIGINT) AS n FROM fi GROUP BY frame_id),
         |s2 AS (SELECT frame_id - 1 AS frame_id, n FROM s1),
         |com AS (
         |  SELECT a.frame_id, CAST(COUNT(*) AS BIGINT) AS nc
         |  FROM fi a JOIN fi b ON b.frame_id = a.frame_id + 1
         |   AND a.actor1 = b.actor1 AND a.actor2 = b.actor2
         |  GROUP BY a.frame_id),
         |basef AS (
         |  SELECT f.frame_id FROM frames f JOIN frames f2 ON f2.frame_id = f.frame_id + 1)
         |SELECT b.frame_id,
         |  CAST(COALESCE(s1.n, 0) AS BIGINT) AS n_edges,
         |  CAST(COALESCE(s2.n, 0) AS BIGINT) AS n_next,
         |  CAST(COALESCE(com.nc, 0) AS BIGINT) AS n_common,
         |  CASE WHEN COALESCE(s1.n, 0) + COALESCE(s2.n, 0) - COALESCE(com.nc, 0) > 0
         |       THEN CAST(COALESCE(com.nc, 0) AS DOUBLE) /
         |            CAST(COALESCE(s1.n, 0) + COALESCE(s2.n, 0) - COALESCE(com.nc, 0) AS DOUBLE)
         |       ELSE 0.0 END AS jaccard
         |FROM basef b
         |LEFT JOIN s1 USING (frame_id)
         |LEFT JOIN s2 USING (frame_id)
         |LEFT JOIN com USING (frame_id)
         |ORDER BY b.frame_id""".stripMargin),
    // mirror of g08: g06's ordered wedges + one left join against the
    // canonical first-activation edges for the closing edge
    "g08_triadic_closure" -> EventGraphSql.query(
      s""", inter_f AS MATERIALIZED (
         |  SELECT fi.actor1, fi.actor2, MIN(frame_id) AS f_min
         |  FROM fi JOIN frames USING (frame_id), probe_date
         |  WHERE frames.year = py AND frames.month = pm AND frames.day = pdd
         |  GROUP BY fi.actor1, fi.actor2
         |),
         |undf AS (
         |  SELECT actor1 AS z, actor2 AS o, f_min FROM inter_f
         |  UNION ALL SELECT actor2, actor1, f_min FROM inter_f),
         |w AS (
         |  SELECT a.z, a.o AS wa, b.o AS wb, b.f_min AS f2
         |  FROM undf a JOIN undf b ON a.z = b.z
         |  WHERE a.o <> b.o AND b.f_min > a.f_min)
         |SELECT w.z AS actor_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_wedges,
         |       CAST(COUNT(e.f_min) AS BIGINT) AS n_closed,
         |       CAST(COUNT(e.f_min) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS closure_rate
         |FROM w LEFT JOIN inter_f e
         |  ON LEAST(w.wa, w.wb) = e.actor1 AND GREATEST(w.wa, w.wb) = e.actor2
         | AND e.f_min > w.f2
         |GROUP BY w.z
         |ORDER BY actor_id""".stripMargin),
    // mirror of g06: first-activation edges, time-ordered wedge self-join
    "g06_temporal_brokerage" -> EventGraphSql.query(
      s""", inter_f AS MATERIALIZED (
         |  SELECT fi.actor1, fi.actor2, MIN(frame_id) AS f_min
         |  FROM fi JOIN frames USING (frame_id), probe_date
         |  WHERE frames.year = py AND frames.month = pm AND frames.day = pdd
         |  GROUP BY fi.actor1, fi.actor2
         |),
         |undf AS (
         |  SELECT actor1 AS z, actor2 AS o, f_min FROM inter_f
         |  UNION ALL SELECT actor2, actor1, f_min FROM inter_f)
         |SELECT a.z AS actor_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_wedges,
         |       CAST(COUNT(DISTINCT b.o) AS BIGINT) AS n_targets
         |FROM undf a JOIN undf b
         |  ON a.z = b.z AND a.o <> b.o AND b.f_min > a.f_min
         |GROUP BY a.z
         |ORDER BY actor_id""".stripMargin),
    // mirror of g05: 2-path self-join, RA via the decimal-exact sum, NOT
    // EXISTS for the anti-join, identical total order at the cut
    "g05_link_prediction" -> EventGraphSql.query(
      s""", $dayEdgesSql,
         |und AS MATERIALIZED (
         |  SELECT actor1 AS src, actor2 AS dst FROM inter_d
         |  UNION ALL SELECT actor2, actor1 FROM inter_d),
         |pdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
         |paths AS (
         |  SELECT p1.dst AS a, p2.dst AS b, p1.src AS z
         |  FROM und p1 JOIN und p2 ON p1.src = p2.src AND p1.dst < p2.dst
         |),
         |scored AS (
         |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         |         ${Exact.sqlSum("1.0e0 / CAST(pdeg.deg AS DOUBLE)")} AS ra_score
         |  FROM paths JOIN pdeg ON paths.z = pdeg.src
         |  GROUP BY a, b
         |),
         |nonadj AS (
         |  SELECT s.* FROM scored s
         |  WHERE NOT EXISTS (SELECT 1 FROM inter_d e
         |                    WHERE e.actor1 = s.a AND e.actor2 = s.b)
         |)
         |SELECT n.a AS actor_a, n.b AS actor_b, n.common_neighbors,
         |       CAST(n.common_neighbors AS DOUBLE)
         |         / (da.deg + db.deg - n.common_neighbors) AS jaccard,
         |       n.ra_score
         |FROM nonadj n
         |JOIN pdeg da ON n.a = da.src
         |JOIN pdeg db ON n.b = db.src
         |ORDER BY n.ra_score DESC, actor_a, actor_b LIMIT $LpTopK""".stripMargin),
    // g12: UNROLLED synchronous LPA rounds (the g04/g10 discipline) — the
    // oracle states the per-round argmax as the naive window; the Spark
    // side's max(struct(c, -label)) agg must pick the identical
    // (max count, min label) winner
    "g12_label_propagation" -> EventGraphSql.query(
      s""", $dayEdgesSql,
         |und AS MATERIALIZED (
         |  SELECT actor1 AS src, actor2 AS dst FROM inter_d
         |  UNION ALL SELECT actor2, actor1 FROM inter_d),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS actor_id, src AS label FROM und)""".stripMargin +
        (1 to LpaRounds).map { i =>
          s""",
             |c$i AS (
             |  SELECT u.dst AS actor_id, l.label, COUNT(*) AS c
             |  FROM und u JOIN l${i - 1} l ON u.src = l.actor_id
             |  GROUP BY u.dst, l.label),
             |l$i AS MATERIALIZED (
             |  SELECT actor_id, label FROM (
             |    SELECT actor_id, label,
             |           row_number() OVER (PARTITION BY actor_id
             |                              ORDER BY c DESC, label) AS rn
             |    FROM c$i) z
             |  WHERE rn = 1
             |)""".stripMargin
        }.mkString +
        s"""
           |SELECT actor_id, label AS community FROM l$LpaRounds
           |ORDER BY actor_id""".stripMargin),
    // every peel CTE is MATERIALIZED: each round references its predecessor
    // twice, so default CTE inlining would expand m16 into 2^16 copies of
    // the edge derivation (observed as a too-many-open-files explosion)
    "g02_kcore" -> EventGraphSql.query(
      s""", $dayEdgesSql,
         |inter2 AS MATERIALIZED (SELECT actor1, actor2 FROM inter_d),
         |m0 AS MATERIALIZED (
         |  SELECT DISTINCT actor_id FROM (
         |    SELECT actor1 AS actor_id FROM inter2
         |    UNION ALL SELECT actor2 FROM inter2) z
         |)""".stripMargin +
        (1 to MaxPeel).map { i =>
          s""",
             |m$i AS MATERIALIZED (
             |  SELECT actor_id FROM (
             |    SELECT actor_id, COUNT(*) AS cd FROM (
             |      SELECT i.actor1 AS actor_id FROM inter2 i
             |        JOIN m${i - 1} x ON i.actor1 = x.actor_id
             |        JOIN m${i - 1} y ON i.actor2 = y.actor_id
             |      UNION ALL
             |      SELECT i.actor2 FROM inter2 i
             |        JOIN m${i - 1} x ON i.actor1 = x.actor_id
             |        JOIN m${i - 1} y ON i.actor2 = y.actor_id) z
             |    GROUP BY actor_id) g
             |  WHERE cd >= $CoreK
             |)""".stripMargin
        }.mkString +
        s"""
           |SELECT actor_id, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
           |  SELECT i.actor1 AS actor_id FROM inter2 i
           |    JOIN m$MaxPeel x ON i.actor1 = x.actor_id
           |    JOIN m$MaxPeel y ON i.actor2 = y.actor_id
           |  UNION ALL
           |  SELECT i.actor2 FROM inter2 i
           |    JOIN m$MaxPeel x ON i.actor1 = x.actor_id
           |    JOIN m$MaxPeel y ON i.actor2 = y.actor_id) z
           |GROUP BY actor_id
           |ORDER BY actor_id""".stripMargin),
    // g16: g07's moment CTEs grouped by the g10 dkey construction; the
    // CASE guard mirrors the engine's regular-day (zero-variance) rule
    "g16_assortativity_evolution" -> EventGraphSql.query(
      s""", de AS MATERIALIZED (
         |  SELECT DISTINCT f.year * 10000 + f.month * 100 + f.day AS dkey,
         |         fi.actor1, fi.actor2
         |  FROM fi JOIN frames f USING (frame_id)
         |),
         |und AS MATERIALIZED (
         |  SELECT dkey, actor1 AS z, actor2 AS o FROM de
         |  UNION ALL SELECT dkey, actor2, actor1 FROM de),
         |pdeg AS MATERIALIZED (SELECT dkey, z, COUNT(*) AS deg FROM und GROUP BY dkey, z),
         |agg AS (
         |  SELECT u.dkey,
         |         CAST(COUNT(*) AS BIGINT) AS n_dir_edges,
         |         CAST(SUM(dz.deg) AS BIGINT) AS sx,
         |         CAST(SUM(dz.deg * dob.deg) AS BIGINT) AS sxy,
         |         CAST(SUM(dz.deg * dz.deg) AS BIGINT) AS sxx
         |  FROM und u
         |  JOIN pdeg dz ON u.dkey = dz.dkey AND u.z = dz.z
         |  JOIN pdeg dob ON u.dkey = dob.dkey AND u.o = dob.z
         |  GROUP BY u.dkey
         |)
         |SELECT dkey, n_dir_edges,
         |       CASE WHEN CAST(n_dir_edges AS DOUBLE) * sxx
         |                 - CAST(sx AS DOUBLE) * sx <> 0
         |            THEN (CAST(n_dir_edges AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx) /
         |                 (CAST(n_dir_edges AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         |            ELSE 0.0 END AS assortativity
         |FROM agg ORDER BY dkey""".stripMargin),
    // g15/g17: the same unrolled-peel discipline at the edge level — each
    // round enumerates triangles on the previous round's edge set (a<b<c
    // once, by the canonical order), credits the three edges, and keeps
    // those at or above the support floor; idempotent at the fixpoint.
    // (The oracle re-enumerates per round on purpose — it pins the
    // SEMANTICS the Spark side's incremental decrement must reproduce.)
    "g15_ktruss" -> ktrussSql(TrussK),
    "g17_ktruss4" -> ktrussSql(TrussK4))

  private def ktrussSql(k: Int): String = EventGraphSql.query(
    s""", $dayEdgesSql,
       |e0 AS MATERIALIZED (SELECT actor1, actor2 FROM inter_d)""".stripMargin +
      (1 to MaxPeel).map { i =>
        s""",
           |t$i AS (
           |  SELECT x.actor1 AS a, x.actor2 AS b, y.actor2 AS c
           |  FROM e${i - 1} x
           |  JOIN e${i - 1} y ON y.actor1 = x.actor2
           |  JOIN e${i - 1} z ON z.actor1 = x.actor1 AND z.actor2 = y.actor2),
           |e$i AS MATERIALIZED (
           |  SELECT actor1, actor2 FROM (
           |    SELECT actor1, actor2, COUNT(*) AS sup FROM (
           |      SELECT a AS actor1, b AS actor2 FROM t$i
           |      UNION ALL SELECT b, c FROM t$i
           |      UNION ALL SELECT a, c FROM t$i) u
           |    GROUP BY actor1, actor2) g
           |  WHERE sup >= ${k - 2}
           |)""".stripMargin
      }.mkString +
      s""",
         |tf AS (
         |  SELECT x.actor1 AS a, x.actor2 AS b, y.actor2 AS c
         |  FROM e$MaxPeel x
         |  JOIN e$MaxPeel y ON y.actor1 = x.actor2
         |  JOIN e$MaxPeel z ON z.actor1 = x.actor1 AND z.actor2 = y.actor2)
         |SELECT actor1, actor2, CAST(COUNT(*) AS BIGINT) AS truss_support FROM (
         |  SELECT a AS actor1, b AS actor2 FROM tf
         |  UNION ALL SELECT b, c FROM tf
         |  UNION ALL SELECT a, c FROM tf) u
         |GROUP BY actor1, actor2
         |ORDER BY actor1, actor2""".stripMargin)
}
