package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Scaling-exponent harness: times every declared query at a LADDER of
  * scale factors (default sf0.001 / sf0.01 / sf0.1) in one run and emits a
  * per-query growth exponent — the cheapest honest local proxy for "does
  * this plan survive 100×?". A query that is linear in the input shows
  * exponent ≈ 1 (top-k/probe-scoped queries less — their output is
  * constant); anything meaningfully above ~1.3 on the TOP segment is
  * growing super-linearly and needs a fix or a documented reason
  * (dd2/ss1 are DECLARED quadratic/exhaustive controls and are expected
  * to flag — that is the harness validating itself).
  *
  * Exponent definition: slope of log(median time) over log(sf) on the
  * LARGEST segment of the ladder (sf0.01 → sf0.1 by default). The small
  * segment is overhead-dominated (job scheduling ~100 ms swamps sub-second
  * queries and UNDER-states growth), so the tail segment is the honest
  * one; the full per-sf median table is emitted too so any other fit can
  * be recomputed from the artifact. A least-squares fit over the whole
  * ladder is included as `exp_fit` for reference.
  *
  * Output: `target/scaling.json` —
  * `{"sfs":[...],"reps":N,"queries":{q:{"t":{sf:med,...},"exp":e,"exp_fit":e2}},...}`.
  * [[Bench]] embeds the file verbatim under `"scaling"` in
  * `target/bench_detail.json`, so the per-round bench artifact carries the
  * scaling story without tripling the driver's bench wall time.
  */
object Scaling {

  private def pct(sorted: Seq[Double], q: Double): Double =
    sorted(math.round((sorted.size - 1) * q).toInt)

  /** Numeric scale factor parsed from the dir name (`.../sf0.01` → 0.01). */
  private def sfOf(dir: String): Double =
    "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble)
      .getOrElse(sys.error(s"cannot parse scale factor from $dir"))

  def main(args: Array[String]): Unit = {
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SCALING_DIRS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(',').toSeq.sortBy(sfOf)
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALING_REPS", "3").toInt
    val spark = SparkEntry.localSession()

    val errors = mutable.LinkedHashMap.empty[String, String]
    // medians(q)(sf) — insertion-ordered for a stable artifact
    val medians = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[Double, Double]]
    dirs.foreach { dir =>
      val sf = sfOf(dir)
      // index/material-cache build is untimed, same contract as Bench
      try SparkEntry.warm(spark, dir)
      catch { case e: Throwable =>
        errors(s"_warm@$sf") = e.toString.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200) }
      // session-lifetime pins from THIS sf's warm() — the per-rep hygiene
      // sweep below must not evict them (Bench's round-12 narrowing); the
      // snapshot is re-taken per rung because each warm() pins that rung's
      // own index copies
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(kv => SparkEntry.selects(sys.env.get("SPARK_GRAFT_SCALING_ONLY"))(kv._1))
        .foreach { case (name, fn) =>
          val times = (1 to reps).flatMap { _ =>
            val t0 = System.nanoTime()
            val r = try {
              fn(spark, dir).write.format("noop").mode("overwrite").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              errors(s"$name@$sf") =
                e.toString.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)
              None
            }
            // Bench's hygiene, INSIDE the rep loop (round-12 advice): each
            // timed rep starts from a clean block manager, so rep r doesn't
            // accumulate the checkpoint blocks of reps 1..r-1; only storage
            // the query itself added goes — warm()-pinned indexes stay
            spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
              if (!pinned.contains(id)) rdd.unpersist(blocking = false)
            }
            r
          }.sorted
          if (times.nonEmpty)
            medians.getOrElseUpdate(name, mutable.LinkedHashMap.empty)(sf) =
              pct(times, 0.5)
        }
    }

    // sub-millisecond medians are pure noise — floor them so a 0.4 ms →
    // 0.6 ms wobble can't masquerade as growth (or division by ~0)
    def t(q: String, sf: Double): Option[Double] =
      medians.get(q).flatMap(_.get(sf)).map(math.max(_, 1e-3))
    val sfs = dirs.map(sfOf)
    def expTail(q: String): Option[Double] =
      if (sfs.size < 2) None
      else for {
        a <- t(q, sfs(sfs.size - 2)); b <- t(q, sfs.last)
      } yield math.log(b / a) / math.log(sfs.last / sfs(sfs.size - 2))
    def expFit(q: String): Option[Double] = {
      val pts = sfs.flatMap(sf => t(q, sf).map(v => (math.log(sf), math.log(v))))
      if (pts.size < 2) None else {
        val n = pts.size
        val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
        val sxx = pts.map(p => p._1 * p._1).sum
        val sxy = pts.map(p => p._1 * p._2).sum
        Some((n * sxy - sx * sy) / (n * sxx - sx * sx))
      }
    }

    def fmt(d: Double): String = f"$d%.4f"
    val qJson = medians.map { case (q, bySf) =>
      val ts = bySf.map { case (sf, v) => s""""$sf":${fmt(v)}""" }.mkString("{", ",", "}")
      val e = expTail(q).map(fmt).getOrElse("null")
      val ef = expFit(q).map(fmt).getOrElse("null")
      s""""$q":{"t":$ts,"exp":$e,"exp_fit":$ef}"""
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val json = s"""{"sfs":[${sfs.mkString(",")}],"reps":$reps,""" +
      s""""queries":$qJson,"errors":$errJson}"""
    val out = Paths.get("target/scaling.json")
    Files.createDirectories(out.getParent)
    Files.write(out, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()

    // human summary, worst growth first (stdout is not driver-parsed here)
    println(f"${"query"}%-28s ${"t(0.001)"}%9s ${"t(0.01)"}%9s ${"t(0.1)"}%9s ${"exp"}%6s")
    medians.keys.toSeq.sortBy(q => -expTail(q).getOrElse(Double.MinValue)).foreach { q =>
      val ts = sfs.map(sf => medians(q).get(sf).map(v => f"$v%9.3f").getOrElse("        -"))
      println(f"$q%-28s ${ts.mkString(" ")} ${expTail(q).map(e => f"$e%6.2f").getOrElse("     -")}")
    }
    if (errors.nonEmpty) println(s"ERRORS: $errJson")
    println(s"wrote $out")
  }
}
