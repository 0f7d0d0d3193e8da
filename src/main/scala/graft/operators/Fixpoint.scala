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
  * Every round runs one hop under the caller's own session settings; no
  * loop writes session conf. Under AQE each lazy `localCheckpoint`'s
  * `toRdd` runs the round plan's shuffle stages as their own jobs before
  * the signature aggregate runs the final stage, so a round costs its
  * stage jobs plus the signature job — the price of AQE's coalescing and
  * runtime join choices, which the merge aggregates want. */
private[operators] object Fixpoint {

  /** Frontiers at or below this size (and the [[Guard]] ceiling) skip the
    * join: the (key → value) pairs fold into LITERALS — an `isin` pushed
    * into the edge scan (batch-stat pruning skips most of a CSR-sorted
    * index) plus a literal map lookup for the value. The driver-side
    * collect is bounded by this constant, not by the data. */
  private val FrontierLiteralMax = 512

  def iterate(init: DataFrame, cap: Int, what: String)(
      signature: DataFrame => Seq[Long])(
      step: (DataFrame, Seq[Long]) => DataFrame,
      fixedAt: Seq[Long] => Boolean = _ => false): DataFrame = {
    var state = init.localCheckpoint(eager = false)
    var sig = signature(state)
    var round = 0
    var changed = !fixedAt(sig)
    while (changed && round < cap) {
      val next = step(state, sig).localCheckpoint(eager = false)
      val nextSig = signature(next)
      changed = nextSig != sig && !fixedAt(nextSig)
      sig = nextSig
      state = next
      round += 1
    }
    if (changed) throw new IllegalStateException(
      s"$what did not converge within $cap rounds; raise the cap")
    state
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
    * rows when the key is a single column, else [[Guard.sized]]. */
  def propagateMin(init: DataFrame, edges: DataFrame, keys: Seq[String],
      value: String, transfer: Column, cap: Int, what: String): DataFrame = {
    val parts = keys.init
    val fk = keys.map("_f_" + _)
    val kv = (keys :+ value).map(col)

    def signature(df: DataFrame): Seq[Long] = {
      val r = df.agg(count(lit(1)), coalesce(sum(col(value)), lit(0L)),
        coalesce(sum(col("imp").cast("long")), lit(0L))).collect()(0)
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }

    iterate(init, cap, what)(signature)({ (state, sig) =>
      val fr = state.filter(col("imp")).select(kv: _*)
      val rows = sig(2)
      val joined =
        if (parts.isEmpty && rows <= FrontierLiteralMax && Guard.fits(state.sparkSession, rows)) {
          val lits = fr.collect().toSeq
          edges.filter(col("src").isin(lits.map(_.get(0)): _*))
            .withColumn(value, element_at(
              map(lits.flatMap(r => Seq(lit(r.get(0)), lit(r.get(1)))): _*), col("src")))
        } else {
          // the frontier side's keys are renamed: state may descend from
          // `edges` (folded inits), and by-name resolution must stay
          // unambiguous
          val on = (parts.zip(fk) :+ ("src" -> fk.last))
            .map { case (a, b) => col(a) === col(b) }.reduce(_ && _)
          edges.join(Guard.sized(
            fr.select(keys.zip(fk).map { case (k, f) => col(k).as(f) } :+ col(value): _*), rows), on)
        }
      val cand = joined
        .select(parts.map(col) :+ col("dst").as(keys.last) :+ transfer.as(value): _*)
        .filter(col(value).isNotNull)
      val v = col(value)
      state.select(kv :+ lit(true).as("_old_row"): _*)
        .unionAll(cand.select(kv :+ lit(false).as("_old_row"): _*))
        .groupBy(keys.map(col): _*)
        .agg(min(v).as(value), min(when(col("_old_row"), v)).as("_old"))
        .select(kv :+ (col("_old").isNull || v < col("_old")).as("imp"): _*)
    }, fixedAt = _(2) == 0L)
  }
}
