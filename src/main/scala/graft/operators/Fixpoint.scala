package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared driver for DataFrame fixpoint loops. Two entry points:
  * [[iterate]] (any monotone loop: g02/g15/g17 peels) and [[propagateMin]]
  * (frontier min-propagation: g01 reachability, g03/g10 components, g13 BFS
  * hops, dd6 dup clusters), which is built on it.
  *
  * Loop discipline, owned here once:
  *
  *  - each round's state is snapshotted with a lazy `localCheckpoint`
  *    (never persist/unpersist cycling — non-cascading uncache recompiles
  *    dependents and silently replays the whole round chain; see
  *    SCALING.md §8c);
  *  - ONE action per round: the signature aggregate materializes the
  *    checkpoint and decides convergence (signatures are strictly monotone
  *    until the fixpoint; `fixedAt` lets a frontier loop prove the fixpoint
  *    from the signature and skip the confirmation round);
  *  - a round cap that FAILS LOUDLY, naming the loop — a silently truncated
  *    fixpoint is a plausible-looking wrong answer.
  *
  * `oneAction`: under AQE, every lazy `localCheckpoint`'s `toRdd` runs the
  * round plan's shuffle stages as separate driver-synchronous jobs BEFORE
  * the signature aggregate runs the final stage. A loop whose step joins
  * all carry explicit modes (`broadcast`/`shuffle_hash` hints, as
  * [[propagateMin]]'s do) can set `oneAction = true`: AQE is off for the
  * loop region only, `toRdd` becomes lazy, and the signature collect is
  * the round's single job. Loop shuffles then lose AQE's coalescing, so
  * their width follows the state row count (the signature's FIRST entry):
  * one partition per [[RowsPerPartition]] rows, clamped to the session
  * width. Results are unaffected (AQE is a physical-planning feature); the
  * session conf is restored in a finally. Measured per loop (round-15 A/B):
  * it wins for g01/g03/g10 and loses for g02/g13/dd6, whose merge wants
  * AQE's coalescing more than it wants fewer jobs. Safe because queries
  * are driven single-threaded; a concurrent caller would at worst plan one
  * query without AQE. */
private[operators] object Fixpoint {

  /** Loop-shuffle partition size under `oneAction`, in state rows (sized
    * for the narrow ≤32-byte state rows of these loops). */
  private val RowsPerPartition = 100000L

  /** Frontiers at or below this size (and the [[Guard]] ceiling) skip the
    * join: the (key → value) pairs fold into LITERALS — an `isin` pushed
    * into the edge scan (batch-stat pruning skips most of a CSR-sorted
    * index) plus a literal map lookup for the value. The driver-side
    * collect is bounded by this constant, not by the data. */
  private val FrontierLiteralMax = 512

  def iterate(init: DataFrame, cap: Int, what: String)(
      signature: DataFrame => Seq[Long])(
      step: (DataFrame, Seq[Long]) => DataFrame,
      fixedAt: Seq[Long] => Boolean = _ => false,
      oneAction: Boolean = false): DataFrame = {
    val t0 = System.nanoTime()
    val s = init.sparkSession
    val stats = sys.env.contains("SPARK_GRAFT_LOOP_STATS")
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val prevAqe = s.conf.get(aqeKey, "true")
    val prevParts = s.conf.get(partsKey)
    val flipAqe = oneAction && prevAqe == "true"
    def loopWidth(n: Long): Int = math.max(1L,
      math.min(prevParts.toLong, (n + RowsPerPartition - 1) / RowsPerPartition)).toInt
    if (flipAqe) s.conf.set(aqeKey, "false")
    try {
      var state = init.localCheckpoint(eager = false)
      var sig = signature(state)
      var round = 0
      var changed = !fixedAt(sig)
      while (changed && round < cap) {
        val tr = System.nanoTime()
        if (flipAqe) s.conf.set(partsKey, loopWidth(sig.head).toString)
        val next = step(state, sig).localCheckpoint(eager = false)
        val tc = System.nanoTime()
        val nextSig = signature(next)
        changed = nextSig != sig && !fixedAt(nextSig)
        sig = nextSig
        state = next
        round += 1
        if (stats) System.err.println(
          f"[fixpoint]   $what%s round $round: ckpt ${(tc - tr) / 1e9}%.3f s + " +
            f"sig ${(System.nanoTime() - tc) / 1e9}%.3f s, sig=$sig")
      }
      if (changed) throw new IllegalStateException(
        s"$what did not converge within $cap rounds; raise the cap")
      // one stderr line per loop execution, never on stdout (the Bench
      // JSON contract owns stdout)
      if (stats) System.err.println(
        f"[fixpoint] $what%s: $round rounds, ${(System.nanoTime() - t0) / 1e9}%.3f s" +
          (if (flipAqe) " (oneAction)" else ""))
      state
    } finally {
      if (flipAqe) {
        s.conf.set(aqeKey, prevAqe)
        s.conf.set(partsKey, prevParts)
      }
    }
  }

  /** Frontier min-propagation to the fixpoint: every vertex ends with the
    * minimum over `transfer` along all edge paths from the init values.
    *
    *  - `init`: columns `keys :+ value :+ "imp"`, where `keys.last` is the
    *    vertex and the other keys partition the graph (g10's `dkey`); `imp`
    *    marks the frontier, the rows whose value should propagate. Callers
    *    fold their full-frontier first round into `init` when it is a
    *    direct aggregation.
    *  - `edges`: columns `keys.init :+ "src" :+ "dst"` plus any payload
    *    `transfer` reads (g01's frame array `fs`).
    *  - `transfer`: the value a frontier row offers `dst`, over the edge
    *    columns and the frontier's `value` column; NULL offers nothing.
    *    It must be monotone in `value` (a smaller value never offers a
    *    larger one), so the min fixpoint is unique and independent of round
    *    and join order.
    *
    * Each round relaxes only the frontier (re-relaxing an unimproved value
    * reproduces candidates an earlier round already merged) and merges with
    * ONE hash aggregate; `imp = old.isNull || new < old` is null-safe, so a
    * vertex first reached by a candidate joins the frontier. The signature
    * (|state|, Σ value, |frontier|) is monotone until the fixpoint, and an
    * empty frontier IS the fixpoint. The frontier join's plan is chosen per
    * round from the signature's counts (Pregelix's sparse-vs-dense message
    * join): literals up to min([[FrontierLiteralMax]], ceiling) frontier
    * rows when the key is a single column, else [[Guard.sized]].
    *
    * `hops` > 1 relaxes that many hops per round, halving (for 2) the fixed
    * per-round cost on long-diameter graphs while the candidate mass stays
    * the same: hop k+1 relaxes only hop-k per-key minima that improve the
    * state (their join operands sized by the state count), and those
    * minima are marked propagated so they do not re-enter the frontier. */
  def propagateMin(init: DataFrame, edges: DataFrame, keys: Seq[String],
      value: String, transfer: Column, cap: Int, what: String,
      oneAction: Boolean, hops: Int): DataFrame = {
    val parts = keys.init
    val fk = keys.map("_f_" + _)
    val kv = (keys :+ value).map(col)
    // the frontier side's keys are renamed: state may descend from `edges`
    // (folded inits), and by-name resolution must stay unambiguous
    def renamed(df: DataFrame, v: String): DataFrame =
      df.select(keys.zip(fk).map { case (k, f) => col(k).as(f) } :+ col(value).as(v): _*)
    def on(pairs: Seq[(String, String)]): Column =
      pairs.map { case (a, b) => col(a) === col(b) }.reduce(_ && _)

    // one hop from `fr` (keys :+ value) to candidate rows (keys :+ value);
    // `rows` sizes the frontier operand
    def relax(fr: DataFrame, rows: Long, literal: Boolean): DataFrame = {
      val joined =
        if (literal) {
          val lits = fr.collect().toSeq
          edges.filter(col("src").isin(lits.map(_.get(0)): _*))
            .withColumn(value, element_at(
              map(lits.flatMap(r => Seq(lit(r.get(0)), lit(r.get(1)))): _*), col("src")))
        } else {
          edges.join(Guard.sized(renamed(fr, value), rows),
            on(parts.zip(fk) :+ ("src" -> fk.last)))
        }
      joined.select(parts.map(col) :+ col("dst").as(keys.last) :+ transfer.as(value): _*)
        .filter(col(value).isNotNull)
    }

    def signature(df: DataFrame): Seq[Long] = {
      val r = df.agg(count(lit(1)), coalesce(sum(col(value)), lit(0L)),
        coalesce(sum(col("imp").cast("long")), lit(0L))).collect()(0)
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }

    iterate(init, cap, what)(signature)({ (state, sig) =>
      var fr = state.filter(col("imp")).select(kv: _*)
      var rows = sig(2)
      var literal = parts.isEmpty &&
        rows <= FrontierLiteralMax && Guard.fits(state.sparkSession, rows)
      // per-key minima of the first hops - 1 hops, snapshotted: each feeds
      // both the next hop and the merge, computed once
      val propagated = (1 until hops).map { _ =>
        val m = relax(fr, rows, literal).groupBy(keys.map(col): _*).agg(min(col(value)).as(value))
          .localCheckpoint(eager = false)
        fr = m.join(Guard.sized(renamed(state, "_old"), sig(0)), on(keys.zip(fk)), "left")
          .filter(col("_old").isNull || col(value) < col("_old"))
          .select(kv: _*)
        rows = sig(0)
        literal = false
        m
      }
      // merge tags: 1 = old state, 2 = last-hop candidate, 3 = already
      // propagated minimum (non-improving ones are harmless: their merged
      // value comes from the old state anyway)
      val tagged = (state.select(kv :+ lit(1).as("_k"): _*) +:
        propagated.map(_.select(kv :+ lit(3).as("_k"): _*)) :+
        relax(fr, rows, literal).select(kv :+ lit(2).as("_k"): _*)).reduce(_ unionAll _)
      val v = col(value)
      tagged.groupBy(keys.map(col): _*)
        .agg(min(v).as(value), min(when(col("_k") === 1, v)).as("_old"),
          min(when(col("_k") === 3, v)).as("_prop"))
        .select(kv :+ ((col("_old").isNull || v < col("_old")) &&
          (col("_prop").isNull || v < col("_prop"))).as("imp"): _*)
    }, fixedAt = _(2) == 0L, oneAction = oneAction)
  }
}
