package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** [[Fixpoint.propagateMin]] alone, on synthetic graphs, against driver-side
  * references: BFS hop counts (transfer `dist + 1`) and union-find
  * components (transfer `label`). Each graph is run under the default
  * broadcast ceiling and under ceiling 0, and the frontier plan each round
  * took is read off the executed round plans: literal (no join), broadcast
  * hash join, or shuffled hash join. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def undirected(edges: Seq[(Long, Long)]): DataFrame =
    (edges ++ edges.map(_.swap)).toDF("src", "dst")

  private def bfs(init: Long, edges: Seq[(Long, Long)], cap: Int = 50): DataFrame =
    Fixpoint.propagateMin(Seq((init, 0L, true)).toDF("v", "dist", "imp"),
      undirected(edges), Seq("v"), "dist", $"dist" + 1L, cap, "spec BFS")

  private def components(vs: Seq[Long], edges: Seq[(Long, Long)]): DataFrame =
    Fixpoint.propagateMin(vs.map(v => (v, v, true)).toDF("v", "label", "imp"),
      undirected(edges), Seq("v"), "label", $"label", 50, "spec components")

  private def refBfs(init: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var dist = Map(init -> 0L)
    var layer = Seq(init)
    var hop = 0L
    while (layer.nonEmpty) {
      hop += 1
      layer = layer.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(dist.contains)
      dist ++= layer.map(_ -> hop)
    }
    dist
  }

  private def refComponents(vs: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map(vs.map(v => v -> v): _*)
    def find(v: Long): Long = if (parent(v) == v) v else find(parent(v))
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vs.map(v => v -> find(v)).toMap
  }

  private def asMap(df: DataFrame, value: String): Map[Long, Long] =
    df.select($"v", col(value)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Runs `body` and returns the executed plan of every round checkpoint
    * it ran. */
  private def roundPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    // the init snapshot is a checkpoint too; rounds are the ones with an
    // aggregate merge
    plans.asScala.toSeq.filter(_.contains("HashAggregate"))
  }

  /** The frontier plan of every round `body` ran. */
  private def tiers(body: => Unit): Seq[String] =
    roundPlans(body).map { p =>
      if (p.contains("BroadcastHashJoin")) "broadcast"
      else if (p.contains("ShuffledHashJoin")) "shuffle"
      else if (!p.contains("Join")) "literal"
      else "other"
    }

  private def withCeiling[T](n: Long)(body: => T): T = {
    spark.conf.set(Guard.BroadcastMaxKey, n.toString)
    try body finally spark.conf.unset(Guard.BroadcastMaxKey)
  }

  private val chain = (0L until 12L).map(i => (i, i + 1))
  private val starLeaves = 600L
  private val star = (1L to starLeaves).map(i => (0L, i))
  private val starVs = 0L to starLeaves

  test("chain BFS: literal frontier every round, equals a driver-side BFS") {
    var got = Map.empty[Long, Long]
    val ts = tiers { got = asMap(bfs(0L, chain), "dist") }
    assert(got == refBfs(0L, chain))
    assert(ts.size == chain.size + 1, s"one round per layer plus the empty one: $ts")
    assert(ts.forall(_ == "literal"), ts)
  }

  test("star components past the literal limit: broadcast frontier, equals union-find") {
    var got = Map.empty[Long, Long]
    val ts = tiers { got = asMap(components(starVs, star), "label") }
    assert(got == refComponents(starVs, star))
    assert(ts.nonEmpty && ts.forall(_ == "broadcast"), ts)
  }

  test("ceiling 0 forces the shuffle frontier on both graphs, identical rows") {
    val chainRef = bfs(0L, chain).collect().toSet
    val starRef = components(starVs, star).collect().toSet
    withCeiling(0) {
      var (c, s) = (Set.empty[org.apache.spark.sql.Row], Set.empty[org.apache.spark.sql.Row])
      val ts = tiers {
        c = bfs(0L, chain).collect().toSet
        s = components(starVs, star).collect().toSet
      }
      assert(c == chainRef)
      assert(s == starRef)
      assert(ts.nonEmpty && ts.forall(_ == "shuffle"), ts)
    }
  }

  test("rounds plan under the session's AQE and leave its conf unchanged") {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(spark.conf.get)
    assert(before.head == "true", "this case needs the session's default AQE")
    var got = Map.empty[Long, Long]
    val ps = roundPlans { got = asMap(components(starVs, star), "label") }
    assert(got == refComponents(starVs, star))
    assert(ps.nonEmpty && ps.forall(_.startsWith("AdaptiveSparkPlan")), ps)
    assert(keys.map(spark.conf.get) == before)
  }

  test("partition keys: per-day components equal per-day union-find") {
    val days = Seq(1L -> chain, 2L -> star.take(5), 3L -> Seq((7L, 8L), (9L, 10L)))
    val rows = for ((dk, es) <- days; (a, b) <- es ++ es.map(_.swap)) yield (dk, a, b)
    val e = rows.toDF("dkey", "src", "dst")
    val init = rows.map { case (dk, _, b) => (dk, b) }.distinct.map { case (dk, v) => (dk, v, v, true) }
      .toDF("dkey", "v", "label", "imp")
    for (ceiling <- Seq(5000000L, 0L)) withCeiling(ceiling) {
      val got = Fixpoint.propagateMin(init, e, Seq("dkey", "v"), "label", $"label", 50,
        "spec per-day components")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = days.flatMap { case (dk, es) =>
        val vs = es.flatMap(p => Seq(p._1, p._2)).distinct
        refComponents(vs, es).map { case (v, l) => (dk, v) -> l }
      }.toMap
      assert(got == want, s"ceiling $ceiling")
    }
  }

  test("an empty init returns empty without throwing") {
    val init = Seq.empty[(Long, Long, Boolean)].toDF("v", "label", "imp")
    val out = Fixpoint.propagateMin(init, undirected(Nil), Seq("v"), "label", $"label",
      50, "spec empty")
    assert(out.collect().isEmpty)
  }

  test("a graph deeper than the cap throws, naming the loop") {
    val e = intercept[IllegalStateException](bfs(0L, chain, cap = 3).collect())
    assert(e.getMessage.contains("spec BFS") && e.getMessage.contains("3 rounds"))
  }
}
