package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Benchmark main: the reference's percentile STATISTICS
  * (`cypher_query_timing.py:217-233` — N repetitions per query, default 5
  * via `SPARK_GRAFT_BENCH_REPS`; nearest-rank median / 5th / 95th
  * percentiles + per-query IQR) over an INTERLEAVED round-robin schedule
  * (see the protocol comment below) — a deliberate departure from the
  * reference's back-to-back reps, adopted in round 7 because minute-scale
  * box-load drift corrupts back-to-back per-query medians; per-query
  * comparisons against pre-round-7 artifacts straddle that protocol
  * change. Full result materialization goes via the noop sink (a bare
  * count() would let Catalyst delete sorts and unread projections).
  * Failures are recorded per query — never silently mapped to a fake wall
  * time.
  *
  * Output protocol: per-query medians/p05/p95/errors go to
  * `target/bench_detail.json`; stdout's LAST line is a COMPACT total-only
  * JSON object (a few hundred bytes — the full 48-query detail line
  * overflowed the driver's stdout tail capture in rounds 1–2).
  *
  * Like the reference, one-time index resolution is untimed
  * (`cypher_query_timing.py:33-48` resolves seed node ids before the timing
  * loop): [[SparkEntry.warm]] materializes the at-rest graph + derived
  * indexes before the first rep, so measured times are steady-state query
  * cost, not ingest.
  */
object Bench {

  private def pct(sorted: Seq[Double], q: Double): Double =
    sorted(math.round((sorted.size - 1) * q).toInt)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    val spark = SparkEntry.localSession()

    val errors = mutable.LinkedHashMap.empty[String, String]
    // warm failures must not break the output contract: queries then pay
    // (and individually record) any remaining build cost themselves
    try SparkEntry.warm(spark, sfDir)
    catch {
      case e: Throwable =>
        errors("_warm") = e.toString.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
    }
    // profiling aid: SPARK_GRAFT_BENCH_ONLY=<prefix[,prefix...]> runs a
    // subset under otherwise-identical conditions (warm caches, shared
    // session). The driver never sets it, so the contract is unchanged.
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => SparkEntry.selects(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))(kv._1))
    // INTERLEAVED protocol (round 7): round-robin the whole surface once
    // per pass instead of running each query's reps back-to-back. Ambient
    // box load drifts on the minutes scale, so back-to-back reps hand one
    // query the whole noisy minute and per-query medians diverge up to
    // ±20% between runs of identical binaries (the r5→r6 driver-total
    // ambiguity); interleaving spreads any load burst across every query,
    // tightening cross-run totals. Per-query medians are unchanged in a
    // quiet environment (same samples, different order).
    val samples = mutable.LinkedHashMap(
      named.map { case (name, _) => name -> mutable.Buffer.empty[Double] }: _*)
    // storage pinned by warm() (the adjacency index, the graph-cache
    // tables) is SESSION-lifetime by design — the hygiene sweep below must
    // never evict it, only the per-query one-shot snapshots
    val pinned = spark.sparkContext.getPersistentRDDs.keySet
    for (_ <- 1 to reps; (name, fn) <- named) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        samples(name) += (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          // strip quote/backslash and ALL control chars — the JSON
          // contract must survive any exception text
          errors(name) = e.toString.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
      }
      // measurement hygiene (round 11, narrowed round 12): drop the query's
      // one-shot storage (localCheckpoint snapshots) OUTSIDE its timed
      // window. Without this every later query pays the accumulated
      // block-manager mass of every earlier one in GC/eviction — at the sf1
      // rung that inflated late-alphabet medians up to 10× over their
      // standalone cost. ONLY storage this query added goes: round 11's
      // blanket sweep also evicted the warm()-pinned adjacency index, so
      // every later reachability query re-materialized it INSIDE its timed
      // window (g01 bench +52% — the round-11 verdict's finding 3). Each
      // rep still rebuilds (and is billed for) its own snapshots; only the
      // CROSS-query pollution goes. At-rest caches are parquet, unaffected.
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pinned.contains(id)) rdd.unpersist(blocking = false)
      }
    }
    val stats = named.map { case (name, _) => name -> samples(name).sorted.toSeq }

    def jmap(f: (String, Seq[Double]) => Double): String = stats
      .collect { case (k, ts) if ts.nonEmpty => s"\"$k\":${f(k, ts)}" }
      .mkString("{", ",", "}")
    val medians = jmap((_, ts) => pct(ts, 0.5))
    val p05 = jmap((_, ts) => pct(ts, 0.05))
    val p95 = jmap((_, ts) => pct(ts, 0.95))
    // interquartile range per query — the spread statistic the interleaved
    // protocol makes meaningful (nearest-rank, so it degrades gracefully
    // at small rep counts)
    val iqr = jmap((_, ts) => pct(ts, 0.75) - pct(ts, 0.25))
    val errJson = errors.map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    val total = stats.collect { case (_, ts) if ts.nonEmpty => pct(ts, 0.5) }.sum
    // embed the latest scaling-exponent run ([[Scaling]], target/scaling.json)
    // so the per-round bench artifact carries the growth story without the
    // driver's bench run itself paying the 3-scale ladder. The file is
    // validated before splicing: a truncated write (or any non-JSON bytes)
    // must degrade to null, never corrupt the driver-parsed artifact — and
    // so must a STALE ladder: exponents measured for a different query set
    // than the current surface would masquerade as describing this code,
    // so the file's query keys must equal SparkEntry.queries exactly.
    val scalingPath = Paths.get("target/scaling.json")
    val scaling = (if (Files.exists(scalingPath))
      scala.util.Try {
        val raw = new String(Files.readAllBytes(scalingPath), StandardCharsets.UTF_8)
        val parsed = org.json4s.jackson.JsonMethods.parse(raw)
        val ladderKeys = parsed \ "queries" match {
          case o: org.json4s.JObject => o.obj.map(_._1).toSet
          case _ => Set.empty[String]
        }
        require(ladderKeys == SparkEntry.queries.keySet,
          "stale scaling.json: ladder query set differs from the current surface")
        raw
      }.toOption else None).getOrElse("null")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$medians,""" +
      s""""p05":$p05,"p95":$p95,"iqr":$iqr,"reps":$reps,"errors":$errJson,"sf":"$sfDir",""" +
      s""""scaling":$scaling}"""
    val detailPath = Paths.get("target/bench_detail.json")
    Files.createDirectories(detailPath.getParent)
    Files.write(detailPath, detail.getBytes(StandardCharsets.UTF_8))

    spark.stop()
    // per-query medians as their OWN stdout line (round 15, additions-only):
    // the driver's tail capture is 2000 chars, so the contract line below
    // must stay compact and LAST — but a full-stdout reader can pick this
    // line up and compute per-query speedups without filesystem access.
    // Keyed "bench_queries" (not "metric") so a tail-truncated fragment of
    // it can never be mistaken for, or shadow, the contract line.
    println(s"""{"bench_queries":$medians,"unit":"sec","sf":"$sfDir","reps":$reps}""")
    // compact, driver-parseable summary — MUST be the last stdout line and
    // small enough to survive a bounded tail capture
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""reps":$reps,"n_queries":${stats.size},"n_errors":${errors.size},""" +
      s""""detail":"$detailPath"}""")
  }
}
