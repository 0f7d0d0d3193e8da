package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** The engine's one per-group top-k: every literal-k rank cut (ss9's pool
  * and rank, the ss19b/ss22 per-probe cuts, the four nearest-centroid
  * assignments, tx9's top terms, the recall audit's exact ss9 arm) is
  * [[per]]. The early prune is Spark 4.1's `InferWindowGroupLimit`: a
  * `WindowGroupLimit … Partial` below the window's exchange ships ≤ k
  * rows per group from each map task. It fires when every function of
  * the window is rank-like, a filter sits directly on the rank column
  * with a literal bound, and that bound is ≤
  * `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000). [[per]]
  * keeps the first two true by construction; past the threshold the same
  * rows come back through a full shuffle, never an error.
  *
  * Left as they are: `DedupQueries.prefixRowsOf` (a per-row bound and a
  * shared `count` window), q06 and q17 (other functions share the
  * window), p02 (it reads the k-th row), the a-family island key and
  * MultimodalQueries' `shot_id` (numberings, not cuts), the
  * `PrefixSum.onePart` rankings of already-limited frames (ss10, ss14,
  * tx17) and every oracle SQL string. */
private[graft] object GroupTop {

  /** The first `k` (≥ 1) rows of each `parts` group in `order`, ranked
    * 1..k in the new int column `as`; a total `order` makes it
    * deterministic. */
  def per(df: DataFrame, parts: Seq[Column], order: Seq[Column], k: Int, as: String): DataFrame = {
    require(k >= 1, s"GroupTop.per needs k >= 1, got k = $k")
    df.withColumn(as, row_number().over(Window.partitionBy(parts: _*).orderBy(order: _*)))
      .filter(col(as) <= k)
  }
}
