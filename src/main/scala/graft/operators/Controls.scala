package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.build.DerivedCache

/** Hard size gate for the DECLARED non-scale control queries — dd2's
  * exhaustive shared-shingle self-join and ss1's brute-force cosine scan.
  * Both exist as correctness/recall baselines for the indexed variants
  * (dd3, ss2–ss8) and must never be pointed at a production corpus: dd2 is
  * quadratic in shingle document frequency, ss1 reads every vector. The
  * gate is one count over the at-rest input, an entry of the one memo
  * ([[DerivedCache.scalar]]) per (session, corpus root, query) — the count
  * is a data property that must not inflate every timed rep of the very
  * control queries the scaling harness measures, but the at-rest inputs are
  * NOT immutable (the incremental append paths grow them), so the entry is
  * versioned by the corpus root's writes and any append/replace forces a
  * recount. Running a bigger
  * control is a deliberate act (`spark.graft.control.maxRows`), never an
  * accident. */
private[operators] object Controls {

  val MaxRowsKey = "spark.graft.control.maxRows"
  val MaxRowsDefault = 10000000L

  /** Returns `df` unchanged when its row count is within the configured
    * guard; throws otherwise. `corpus`'s root keys the memoized count. */
  def gate(df: DataFrame, what: String, corpus: String): DataFrame = {
    val max = Conf.long(df.sparkSession, MaxRowsKey, MaxRowsDefault)
    val n = DerivedCache.scalar(df.sparkSession, corpus, what)(df.count())
    check(n, what, max)
    df
  }

  private[operators] def gate(df: DataFrame, what: String, max: Long): DataFrame = {
    check(df.count(), what, max)
    df
  }

  private def check(n: Long, what: String, max: Long): Unit =
    require(n <= max,
      s"$what is a declared correctness/recall CONTROL, not a scale path: " +
        s"input has $n rows > $MaxRowsKey=$max. Use the indexed variant " +
        "(dd3 / ss2+) or raise the guard deliberately.")

  val CandMassKey = "spark.graft.containment.maxCandMass"
  val CandMassDefault = 1000000000L

  /** Average candidate fan-out per prefix row above which the containment
    * family escalates from single-shingle to PAIR witnesses
    * ([[DedupQueries.containmentPairs]]). A Heaps-law corpus measures
    * ≈0.1 (prefix shingles have df ≈ 1), the saturated sf1 rung ≈71; the
    * default sits an order of magnitude above healthy and well below
    * saturated. 0 forces the pair route (equivalence specs); a huge value
    * pins the single route. */
  val EscalateFanoutKey = "spark.graft.containment.escalateFanout"
  val EscalateFanoutDefault = 16.0

  /** dd4's analog of [[EscalateFanoutKey]]: average pigeonhole fan-out per
    * (band, chunk) row above which the SimHash family escalates from the
    * 4×16-bit single-chunk bands to 2-of-5 block-pair witnesses
    * ([[DedupQueries.simhashPairBands]]). Healthy sf0.1 measures ≈10, the
    * saturated sf1 rung ≈87. Same forcing semantics: 0 forces the pair
    * route, a huge value pins the single route. */
  val SimhashEscalateKey = "spark.graft.simhash.escalateFanout"

  /** [[SimhashEscalateKey]]'s default — sized for dd4's OWN measured band
    * (round-13 advice: reusing containment's 16 left only 1.6× headroom
    * over dd4's healthy ≈10, so a slightly-concentrated but healthy corpus
    * could spuriously flip to the pair route — answer-preserving, but 2.5×
    * band rows and a second mass probe for nothing). 30 is the geometric
    * mean of healthy ≈10 and saturated ≈87: 3× headroom each way. */
  val SimhashEscalateDefault = 30.0

  /** Candidate-MASS pre-flight gate for the index-driven candidate families
    * (prefix containment dd7/dd10, banded LSH dd3/dd8/dd9, SimHash
    * pigeonhole dd4) — the seatbelt on top of the dd21/dd15 instruments.
    * The prefix/pigeonhole candidate sets are REQUIRED for exactness, but
    * in the vocabulary-saturation regime (fixed vocabulary ⇒ every df grows
    * linearly with the corpus) they grow ~N² — measured at the sf1 rung:
    * dd7 exp +1.81, dd4 +1.12; one more decade at exp 1.8 is hours of
    * quadratic join. `mass` must be the EXACT pre-distinct candidate-join
    * row count, computable from the at-rest index tables with one narrow
    * agg (zero text reads for the prefix/band families); it is memoized per
    * (session, corpus root, query) like the row-count gates, so
    * timed reps never re-pay it but any append forces a re-check. The
    * default admits the sf1 ladder rung (max measured mass 2.1e7) with
    * ~50× headroom; crossing it is a deliberate act, never an accident. */
  def massGate(s: SparkSession, what: String, corpus: String,
      instrument: String)(mass: => Long): Unit = {
    val m = DerivedCache.scalar(s, corpus, s"mass:$what")(mass)
    massCheck(s, what, instrument, m)
  }

  /** The gate's check on an ALREADY-computed (and separately memoized)
    * mass — the containment family's routes memoize their own per-route
    * pre-flights, so the shared `mass:` memo key would serve a stale
    * route's value after an escalation flip. */
  private[operators] def massCheck(s: SparkSession, what: String,
      instrument: String, m: Long): Unit = {
    val max = Conf.long(s, CandMassKey, CandMassDefault)
    require(m <= max,
      s"$what pre-flight: candidate mass $m exceeds $CandMassKey=$max — " +
        "this corpus is in the VOCABULARY-SATURATION regime for the index " +
        "(df grows with the corpus, candidates ~N²). Re-shingle at a higher " +
        "n, raise the threshold, or route to the semantic family (dd13); " +
        s"$instrument shows where the mass concentrates. Raising the guard " +
        "is a deliberate act.")
  }
}

/** The one row ceiling behind every data-sized broadcast — graph state and
  * loop frontiers, text term stats, dedup hash sets, a03's exploded grid,
  * the ss9/ss15 query batch. Under the ceiling the operand broadcasts and
  * the corpus-sized side never moves; above it the join degrades by one
  * exchange and never fails at Spark's broadcast limit or in a driver OOM.
  * The caller supplies the operand's row count, normally a memoized
  * [[DerivedCache.scalar]] probe. One key, [[BroadcastMaxKey]], overrides every
  * family's default `max` (sized per family by row width: 5 M narrow rows
  * is low-hundreds of MB per build); 0 forces every fallback. */
private[operators] object Guard {

  val BroadcastMaxKey = "spark.graft.broadcastMaxRows"

  def fits(s: SparkSession, rows: Long, max: Long = 5000000L): Boolean = {
    rows <= Conf.long(s, BroadcastMaxKey, max)
  }

  /** Broadcast `df` when `rows` fits, else hint a shuffle hash join. A hint
    * is needed in both modes: loop state is a checkpointed LogicalRDD with
    * unknown stats, so unhinted it would sort-merge-join every round. */
  def sized(df: DataFrame, rows: Long, max: Long = 5000000L): DataFrame =
    if (fits(df.sparkSession, rows, max)) broadcast(df) else df.hint("shuffle_hash")
}

/** The one parse of every numeric `spark.graft.*` option: unset, the
  * caller's default; a value that is not a non-negative number throws an
  * error naming the key and the value, never a bare NumberFormatException
  * from deep inside a query or an ingest batch. */
private[operators] object Conf {

  def long(s: SparkSession, key: String, default: Long): Long =
    read(s, key, default)(_.toLongOption)
  def int(s: SparkSession, key: String, default: Int): Int =
    read(s, key, default)(_.toIntOption)
  def double(s: SparkSession, key: String, default: Double): Double =
    read(s, key, default)(_.toDoubleOption)

  private def read[N](s: SparkSession, key: String, default: N)
      (parse: String => Option[N])(implicit n: Numeric[N]): N =
    s.conf.getOption(key).fold(default) { v =>
      parse(v).filter(n.gteq(_, n.zero)).getOrElse(throw new IllegalArgumentException(
        s"$key must be a non-negative number, got '$v'"))
    }
}

/** The one frozen-until-drift rule of every trained at-rest artifact — the
  * prefix family's df ranks, the PQ codebook, the k-means centroids. A
  * stale artifact costs fan-out or recall, never correctness, so it stays
  * frozen while the corpus is within half its size at the snapshot; the
  * mutation that moves it past either bound retrains. Checked after every
  * append and delete, so an append can only leave the band upward and a
  * delete downward. */
private[operators] object Drift {

  private val Fraction = 0.5

  def past(snapshot: Long, now: Long): Boolean =
    now > snapshot * (1.0 + Fraction) || now < snapshot * (1.0 - Fraction)
}
