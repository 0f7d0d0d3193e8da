package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.build.GraphCache
import graft.operators._
import graft.sources.Tables

/** One benchmark workload: the input tables it reads, the at-rest build it
  * needs (each step named after the per-layer metric that times it), the
  * read set it times, and whether each pass starts with a delete/append
  * churn cycle. */
final case class Workload(
    name: String,
    inputs: Seq[String],
    setup: Seq[(String, (SparkSession, String) => Unit)],
    reads: Seq[String],
    churn: Boolean)

object Workload {
  private def declared(pattern: String): Seq[String] =
    SparkEntry.queries.keys.filter(_.matches(pattern)).toSeq.sorted

  val all: Map[String, Workload] = Seq(
    Workload("graph_fixpoint", Seq("events"),
      Seq(
        "build.graph_cache" -> ((s, d) => { GraphCache(s, d); () }),
        "build.adjacency" -> ((s, d) => {
          ReachabilityQueries.warm(s, d)
          GraphMetricsQueries.warm(s, d)
        })),
      declared("g[0-9]+_.*"),
      churn = false),
    Workload("corpus_churn", Seq("documents"),
      Seq(
        "build.dedup" -> DedupQueries.warm,
        "build.text" -> TextQueries.warm,
        "build.doc_aux" -> ((s, d) => {
          MultimodalQueries.warm(s, d)
          PipelineQueries.warm(s, d)
        })),
      // one or two reads per maintained document index: fingerprints,
      // bands, simhash, cluster labels, containment prefixes, minhash,
      // windows, postings and the count-min sketch
      Seq("dd1_exact_dedup", "dd3_minhash_lsh", "dd4_simhash", "dd6_dup_clusters",
        "dd7_prefix_containment", "dd8_minhash_estimate", "dd11_dup_spans",
        "dd12_dup_doc_filter", "tx6_fulltext_search", "tx9_tfidf_terms",
        "tx14_cms_topk"),
      churn = true)
  ).map(w => w.name -> w).toMap
}

/** One timed operation. `seconds` is the client-side latency; `construct`
  * the part spent inside the query function before it returned its
  * DataFrame. */
final case class Op(kind: String, name: String, pass: Int, seconds: Double,
    construct: Double, digest: String, error: String)

/** The benchmark's engine driver. One JVM per run:
  *
  * {{{
  * perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *   <cacheDir> <outJson> [record]
  * }}}
  *
  * Builds the workload's at-rest state into the empty `cacheDir`, then
  * repeats passes over the read set (in a seed-shuffled order, after a
  * seed-picked churn cycle where the workload has one) until `seconds` have
  * elapsed. Every answer is collected and digested outside its timed span.
  * `record` runs one unmutated pass in declared order instead, for
  * recording reference digests (and, given `dumpDir`, writes each answer
  * there as parquet for the oracle cross-check). Results go to `outJson`;
  * the traced run also writes its spans next to it.
  */
object Harness {

  private val ChurnDocs = 50

  def main(args: Array[String]): Unit = {
    val Array(wName, seedS, secondsS, traceS, dataDir, cacheDir, outJson) = args.take(7)
    val record = args.length > 7 && args(7) == "record"
    val dumpDir = args.lift(8)
    val w = Workload.all.getOrElse(wName, sys.error(s"unknown workload $wName"))
    val seed = seedS.toLong
    val trace = traceS == "1"
    val tmp = Paths.get(cacheDir).resolveSibling("tmp").toString

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.graft.cache.dir", cacheDir)
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val counters = new Counters
    val plans = new Plans
    if (trace) {
      sc.addSparkListener(counters)
      spark.listenerManager.register(plans)
    }
    val tracer = new Tracer(trace, sc, t0)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "trace" -> trace, "session_s" -> sessionS)

    try {
      val steps = mutable.LinkedHashMap.empty[String, Double]
      tracer("setup", "harness") {
        w.setup.foreach { case (name, build) =>
          steps(name) = timed(tracer(name, "build")(build(spark, dataDir)))
        }
      }
      out("setup_s") = (System.nanoTime() - t0) / 1e9
      out("setup_steps") = steps
      out("at_rest_bytes") = treeBytes(Paths.get(cacheDir))
      out("input_bytes") = w.inputs.map(t => treeBytes(Paths.get(s"$dataDir/$t.parquet"))).sum
      out("pinned_mb") = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
      val pinned = sc.getPersistentRDDs.keySet

      val ops = mutable.ArrayBuffer.empty[Op]
      def query(name: String, pass: Int): Unit = {
        val fn = SparkEntry.queries(name)
        val start = System.nanoTime()
        ops += (try {
          val (df, rows, built) = tracer(s"query:$name", "harness") {
            val df = tracer(name, "operators")(fn(spark, dataDir))
            val built = System.nanoTime()
            (df, tracer(name, "spark")(df.collect()), built)
          }
          val end = System.nanoTime()
          dumpDir.foreach(dir => df.write.parquet(s"$dir/$name"))
          Op("query", name, pass, (end - start) / 1e9, (built - start) / 1e9,
            Digest.of(df.schema, rows.toSeq), null)
        } catch {
          case NonFatal(e) => Op("query", name, pass, (System.nanoTime() - start) / 1e9, 0, null, brief(e))
        })
        // drop the query's one-shot storage outside its timed span; the
        // storage the build pinned stays for the whole run
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!pinned.contains(id)) rdd.unpersist(blocking = false)
        }
      }
      def mutate(kind: String, pass: Int)(body: => Unit): Unit = {
        val start = System.nanoTime()
        val err = try { tracer(s"ingest.$kind", "ingest")(body); null }
        catch { case NonFatal(e) => brief(e) }
        ops += Op(kind, kind, pass, (System.nanoTime() - start) / 1e9, 0, null, err)
      }

      if (record) {
        w.reads.foreach(query(_, 0))
      } else {
        val rng = new Random(seed)
        val docs = Tables.documents(spark, dataDir)
        val docRows = if (w.churn) docs.orderBy("doc_id").collect().toSeq else Seq.empty[Row]
        val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
        val windowStart = System.nanoTime()
        var pass = 0
        while (pass == 0 || System.nanoTime() - windowStart < secondsS.toDouble * 1e9) {
          pass += 1
          val before = snapshot(sc, counters, plans, trace)
          val firstSpan = tracer.all.size
          val wall = timed(tracer(s"pass$pass", "harness") {
            if (w.churn) {
              val batch = spark.createDataFrame(
                rng.shuffle(docRows).take(ChurnDocs).asJava, docs.schema)
              mutate("delete_docs", pass)(Ingest.deleteDocumentBatch(spark, dataDir, batch))
              mutate("append_docs", pass)(Ingest.appendDocumentBatch(spark, dataDir, batch))
            }
            rng.shuffle(w.reads).foreach(query(_, pass))
          })
          val after = snapshot(sc, counters, plans, trace)
          val spans = tracer.all.drop(firstSpan)
          def spanWork(layer: String, key: String): Long =
            spans.filter(_.layer == layer).map(s => counters.work(s.id.toString).snapshot(key)).sum
          passes += (after.map { case (k, v) => k -> (v - before(k)) } ++ Map(
            "wall_s" -> wall,
            "side_jobs" -> spanWork("operators", "jobs"),
            "ingest_jobs" -> spanWork("ingest", "jobs"),
            "ingest_output_bytes" -> spanWork("ingest", "output_bytes")))
        }
        out("passes") = passes
      }
      out("ops") = ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "pass" -> o.pass,
        "seconds" -> o.seconds, "construct_s" -> o.construct, "digest" -> o.digest,
        "error" -> o.error))
      out("cache_files") = treeFiles(Paths.get(cacheDir)).count(_.toString.endsWith(".parquet"))
      out("jit_s") = Host.jitNs / 1e9
      out("gc_s") = Host.gcNs / 1e9
      out("cpus") = Host.cpus
      tracer.close()
      if (trace) {
        PerfbenchBus.drain(sc)
        val self = tracer.selfSeconds
        val lines = tracer.all.map { s =>
          val work = counters.work(s.id.toString).snapshot
          Json.of(Map("run" -> s"${w.name}-$seed", "id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "layer" -> s.layer, "start_s" -> s.start / 1e9,
            "end_s" -> s.end / 1e9, "self_s" -> self(s.id), "jobs" -> work("jobs"),
            "task_cpu_s" -> work("task_cpu_ns") / 1e9))
        }
        val spansPath = Paths.get(outJson).resolveSibling("spans.jsonl")
        Files.write(spansPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        out("layer_self_s") = tracer.all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
      }
    } finally spark.stop()
    Files.write(Paths.get(outJson), Json.of(out).getBytes(StandardCharsets.UTF_8))
  }

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Cumulative process counters; the listener ones only when tracing
    * (the bus is drained first, so every finished job has been counted). */
  private def snapshot(sc: org.apache.spark.SparkContext, c: Counters, p: Plans,
      trace: Boolean): Map[String, Double] = {
    val base = Map("process_cpu_s" -> Host.processCpuNs / 1e9, "gc_s" -> Host.gcNs / 1e9)
    if (!trace) base
    else {
      PerfbenchBus.drain(sc)
      val t = c.total.snapshot
      base ++ Map("jobs" -> t("jobs").toDouble, "tasks" -> t("tasks").toDouble,
        "task_run_s" -> t("task_run_ns") / 1e9, "task_cpu_s" -> t("task_cpu_ns") / 1e9,
        "shuffle_write_bytes" -> t("shuffle_write_bytes").toDouble,
        "executions" -> p.executions.get.toDouble, "plan_s" -> p.planNs.get / 1e9)
    }
  }

  /** One-line failure summary for the result; the full trace goes to the
    * JVM log. */
  private def brief(e: Throwable): String = {
    e.printStackTrace()
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
  }

  private def treeFiles(root: Path): Seq[Path] =
    if (!Files.exists(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  private def treeBytes(root: Path): Long = treeFiles(root).map(Files.size).sum
}

/** Minimal JSON writer for the harness's result records. */
object Json {
  def of(v: Any): String = v match {
    case null => "null"
    case s: String => Digest.render(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${Digest.render(k.toString)}:${of(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case other => Digest.render(other.toString)
  }
}
