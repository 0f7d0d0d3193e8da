package graft.build

import java.util.concurrent.{CompletableFuture, CompletionException, Executors}

import scala.collection.mutable

/** Driver-side overlap of INDEPENDENT Spark actions (guide §2.6): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them sequentially.
  * The ingest paths maintain a dozen independent at-rest tables per batch;
  * submitting those writes from a small fixed pool lets the next table's
  * scan/derivation back-fill executor slots freed by the previous one's
  * tail, cutting the per-batch wall without changing any table's content
  * (each task is a self-contained write whose inputs are immutable or
  * pre-materialized).
  *
  * Failure mode: every task runs to completion or failure (no
  * cancellation), then the FIRST failure is rethrown — same observable
  * contract as the sequential loop, minus the ordering of which failure
  * surfaces when several fail. */
private[graft] object Par {

  // 2-4 jobs in flight is plenty (guide §2.6): enough to fill scheduler
  // gaps, not so many that tiny local-mode stages fight for cores
  private val Width = 4

  def run(tasks: Seq[() => Unit]): Unit =
    dag[Int, Unit](tasks.indices)(_ => Nil) { (i, _) => tasks(i)(); Some(()) }

  /** Runs a dependency graph of `nodes` (listed upstream-first) on one
    * pool: a node starts once every node it comes `after` has finished,
    * and gets their results; a node that returns None skips its
    * dependents. Ready nodes start in list order. A failed node skips its
    * dependents too, and the first failure in list order is rethrown once
    * every other node has finished. */
  def dag[K, V](nodes: Seq[K])(after: K => Seq[K])(run: (K, Seq[V]) => Option[V]): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(Width, nodes.size)))
    try {
      val done = mutable.LinkedHashMap.empty[K, CompletableFuture[Option[V]]]
      nodes.foreach { n =>
        val ups = after(n).map(done)
        done(n) = CompletableFuture.allOf(ups: _*).thenApplyAsync((_: Void) => {
          val in = ups.map(_.join())
          if (in.contains(None)) None else run(n, in.flatten)
        }, pool)
      }
      done.values.foreach(f => try f.join() catch { case _: CompletionException => })
      done.values.find(_.isCompletedExceptionally).foreach { f =>
        try f.join() catch { case e: CompletionException => throw e.getCause }
      }
    } finally {
      pool.shutdown()
      ()
    }
  }
}
