package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.VectorOps.{cosineExact, dotExact, normSqExact}
import graft.operators.{GroupTop, SimilarityQueries}
import graft.sources.Tables

/** Measured recall of every ANN query against its exact control — the
  * vector-side analog of dd8's MinHash estimate-vs-exact audit. The ss1
  * brute-force control exists precisely so the approximate family's recall
  * is a NUMBER, not a construction argument: this tool computes recall@k
  * (k = [[K]]) for ss2/ss4/ss5/ss6/ss7 against ss1's exact cosine top-k,
  * ss8 against a brute-force exact-dot ranking, and ss9 (pair-level,
  * micro-averaged) against the brute-force kNN join at ss9's own k — per corpus, emitted as one JSON
  * line plus `target/recall.json` (committed per round as
  * `RECALL_r{N}.json`). RecallAuditSpec pins per-query floors so a recall
  * regression fails the build, not just the artifact diff.
  *
  * Interpretation note: the synthetic corpus plants no near-duplicates
  * (max pairwise cosine ≈ 0.5), so these are recalls on the hardest,
  * flattest similarity landscape — the cell-pruned methods (ss4/ss5 IVF)
  * measure their pruning aggressiveness here, while the pool-then-rerank
  * methods (ss2/ss9 Hamming pools, ss6/ss7/ss8 quantized pools) measure
  * pool sufficiency. */
object RecallAudit {

  /** Cut depth for the single-probe recall comparisons (the declared
    * queries return top-20; recall@10 is the conventional report point). */
  val K = 10

  /** Top-k ids by the query's OWN output order, selected by column NAME —
    * every single-probe ANN query declares `vec_id` first today, but a
    * reordered projection must fail loudly here, not silently score the
    * wrong column. */
  private def topIds(df: DataFrame, k: Int): Seq[Long] =
    df.select(col("vec_id")).limit(k).collect().map(_.getLong(0)).toSeq

  private def overlap(approx: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0
    else approx.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** recall@[[K]] per ANN query for one corpus. */
  def recalls(s: SparkSession, d: String): Map[String, Double] = {
    import s.implicits._
    val qs = SimilarityQueries.queries

    // exact single-probe controls: ss1's cosine ranking IS the declared
    // exact control; MIPS needs its own exact-dot ranking (same probe —
    // the corpus's lowest vec_id)
    val exactCos = topIds(qs("ss1_cosine_topk")(s, d), K)
    val emb = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val probe = emb.orderBy($"vec_id").limit(1).collect()(0)
    val pid = probe.getLong(0)
    val pemb = probe.getSeq[Float](1)
    val exactMips = topIds(
      emb.filter($"vec_id" =!= pid)
        .select($"vec_id", dotExact($"embedding", typedlit(pemb)).as("dot"))
        .orderBy(desc("dot"), $"vec_id"), K)

    // ss13's control is the exact cosine top-k RESTRICTED to the probe's
    // label class — filtered recall is measured against the filtered
    // truth, not the unfiltered ranking (where a pre-filtered result
    // would be under-credited for correctly excluding other labels)
    val plabel = Tables.embeddings(s, d).filter($"vec_id" === pid)
      .select($"label").head.getInt(0)
    val exactFiltered = topIds(
      Tables.embeddings(s, d)
        .filter($"label" === plabel && $"vec_id" =!= pid)
        .select($"vec_id", dotExact($"embedding", typedlit(pemb))
          .divide(sqrt(normSqExact($"embedding")) *
            math.sqrt(pemb.map(x => x.toDouble * x.toDouble).sum)).as("c"))
        .orderBy(desc("c"), $"vec_id"), K)

    val single = Seq(
      "ss2_lsh_topk" -> exactCos,
      "ss4_ivf_topk" -> exactCos,
      "ss5_ivf_kmeans" -> exactCos,
      "ss6_sq_rerank" -> exactCos,
      "ss7_pq_topk" -> exactCos,
      "ss8_mips" -> exactMips,
      // the fused ranking's job is exactly "recover what either family
      // lost" — audit it against the same exact-cosine control
      "ss10_rank_fusion" -> exactCos,
      // the IVF-PQ composition loses what EITHER stage loses: probed-cell
      // misses (ss4's axis) plus ADC-ordering misses the rerank pool
      // doesn't absorb (ss7's axis)
      "ss12_ivfpq_topk" -> exactCos,
      // pre-filter semantics: the pool is drawn from the label class, so
      // recall vs the FILTERED exact top-k should match ss2's unfiltered
      // recall — a post-filter implementation would crater here
      "ss13_filtered_topk" -> exactFiltered).map { case (name, exact) =>
      name -> overlap(topIds(qs(name)(s, d), K), exact)
    }

    // ss9 kNN join: PAIR-LEVEL (micro-averaged) recall vs the brute-force
    // kNN join at ss9's own cut (its rank column carries it) — hit pairs
    // over the actual exact-pair count, so a query whose exact pool is
    // smaller than the cut is not under-credited; this differs from a
    // mean of per-query recalls exactly when pools are ragged. The exact
    // side is the batch × corpus cosine — the quadratic shape ss9 exists
    // to avoid, affordable here exactly because the audit runs at gated
    // sizes.
    val approx9 = qs("ss9_knn_join")(s, d).select($"qid", $"nid", $"rank").persist()
    val k9Row = approx9.agg(max($"rank")).head
    val r9 = if (k9Row.isNullAt(0)) {
      // ss9 returned nothing: vacuously perfect when no (query, neighbor)
      // pair can exist — an empty batch OR an empty corpus side (the
      // denom == 0 convention below); total recall failure otherwise
      val vacuous = emb.filter($"vec_id" % 10 === 0).limit(1).count() == 0 ||
        emb.filter($"vec_id" % 10 =!= 0).limit(1).count() == 0
      if (vacuous) 1.0 else 0.0
    } else {
      val k9 = k9Row.getLong(0).toInt
      val q = emb.filter($"vec_id" % 10 === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qe"), normSqExact($"embedding").as("qn"))
      val c = emb.filter($"vec_id" % 10 =!= 0)
        .select($"vec_id".as("nid"), $"embedding".as("ne"), normSqExact($"embedding").as("nn"))
      // same score expression as ss9, so rank order differences are purely
      // the candidate pruning under audit
      val pairs = q.crossJoin(c)
        .select($"qid", $"nid",
          (dotExact($"qe", $"ne") / (sqrt($"qn") * sqrt($"nn"))).as("cosine"))
      val exact9 = GroupTop.per(pairs, Seq($"qid"), Seq(desc("cosine"), $"nid"), k9, "rank")
        .select($"qid", $"nid")
        .persist()
      // denominator = the ACTUAL exact-pair count, not nq·k9 — a query
      // whose exact neighbor pool is smaller than k9 (tiny corpus) must
      // not be under-credited for pairs that cannot exist
      val denom = exact9.count()
      val hits = approx9.join(exact9, Seq("qid", "nid")).count()
      exact9.unpersist()
      if (denom == 0) 1.0 else hits.toDouble / denom
    }
    approx9.unpersist()

    // ss11 range search: SET recall vs the exact radius — the approximate
    // result is a subset of the exact one by construction (every admitted
    // candidate is exact-verified), so recall is the only loss axis. The
    // exact control recomputes the radius with plain double probe math
    // (a measurement, not an oracle — bit-exactness lives in the gate).
    val pnorm = math.sqrt(pemb.map(x => x.toDouble * x.toDouble).sum)
    val exact11 = emb.filter($"vec_id" =!= pid)
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) /
          (sqrt(normSqExact($"embedding")) * pnorm)).as("c"))
      .filter($"c" >= SimilarityQueries.RangeTau)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val approx11 = qs("ss11_range_search")(s, d)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val r11 = if (exact11.isEmpty) 1.0
      else approx11.intersect(exact11).size.toDouble / exact11.size

    // ss15 range join: PAIR-LEVEL set recall vs the exact batch × corpus
    // radius — ss11's loss axis (Hamming admission can miss an in-radius
    // pair, bounded ≈ 2e-4 per pair by the 3.5-sd derivation) measured on
    // the batch shape; precision is 1 by construction (exact verify).
    val q15 = emb.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), normSqExact($"embedding").as("qn"))
    val c15 = emb.filter($"vec_id" % 10 =!= 0)
      .select($"vec_id".as("nid"), $"embedding".as("ne"), normSqExact($"embedding").as("nn"))
    val exact15 = q15.crossJoin(c15)
      .select($"qid", $"nid",
        (dotExact($"qe", $"ne") / (sqrt($"qn") * sqrt($"nn"))).as("c"))
      .filter($"c" >= SimilarityQueries.RangeTau)
      .select($"qid", $"nid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx15 = qs("ss15_range_join")(s, d)
      .select($"qid", $"nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r15 = if (exact15.isEmpty) 1.0
      else approx15.intersect(exact15).size.toDouble / exact15.size

    (single :+ ("ss9_knn_join" -> r9) :+ ("ss11_range_search" -> r11) :+
      ("ss15_range_join" -> r15)).toMap
  }

  /** Recall@[[K]] of the two IVF families as a function of nProbe at the
    * default cell count — the dial a 100-TB operator actually turns (the
    * `np` argument of the IVF entry points). Recall
    * trades against latency: each probed cell costs one more n/cells
    * exact-cosine scan. Probing more cells only ever ADDS exactly-scored
    * candidates, so recall@k is monotone non-decreasing in nProbe (a
    * displaced true-top-k member would need k better-than-it candidates —
    * which would evict it from the EXACT top-k too), and at nProbe ==
    * cells the scan is exhaustive, recall exactly 1. The ladder turns that argument into measured
    * numbers per corpus: (nProbe, ss4 recall, ss5 recall) rows. */
  def ivfNprobeLadder(s: SparkSession, d: String,
      probes: Seq[Int] = Seq(1, 2, 4, 8, 16)): Seq[(Int, Double, Double)] = {
    val exactCos = topIds(SimilarityQueries.queries("ss1_cosine_topk")(s, d), K)
    probes.map { np =>
      (np,
        overlap(topIds(SimilarityQueries.ivfTopK(s, d, np), K), exactCos),
        overlap(topIds(SimilarityQueries.kmeansTopK(s, d, np), K), exactCos))
    }
  }

  /** Candidate-generation recall at the DESIGNED near-dup operating point.
    * The flat-landscape recalls above are honest but landscape-bound: the
    * synthetic corpus's best non-self cosine is ≈ 0.5, where 4×8-bit
    * hyperplane banding collides with probability ≈ 0.15 BY CONSTRUCTION
    * (1−(1−p⁸)⁴ at plane-agreement p = 1−θ/π ≈ 0.67). The near-dup class
    * the banding is tuned for lives at cosine ≥ 0.9, so this audit PLANTS
    * one deterministic near-duplicate per corpus vector (unit vector mixed
    * with an md5-derived unit noise vector, 0.8/0.2 → cosine ≈ 0.97,
    * plane-agreement ≈ 0.92, predicted band recall ≈ 0.95) and measures
    * the fraction whose signature collides with its original on ≥ 1 band.
    * Exact-cosine verification downstream of candidate generation is
    * lossless, so this IS end-to-end near-dup recall for ss2/ss3/ss9.
    * Returns (band recall, mean planted cosine). */
  def plantedBandRecall(s: SparkSession, d: String): (Double, Double) = {
    import s.implicits._
    val mix = 0.2
    def noise(id: Column, i: Column): Column =
      conv(substring(md5(concat(id.cast("string"), lit("#"), i.cast("string"))), 1, 8),
        16, 10).cast("double") / lit(4294967295.0) * 2.0 - 1.0
    val planted = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", normSqExact($"embedding").as("nsq"))
      .withColumn("eu", transform($"embedding", e => e.cast("double") / sqrt($"nsq")))
      .withColumn("r", transform(sequence(lit(0), size($"embedding") - 1),
        i => noise($"vec_id", i)))
      .withColumn("rn", sqrt(aggregate($"r", lit(0.0), (a, x) => a + x * x)))
      .withColumn("pert", zip_with($"eu", $"r",
        (e, n) => (e * (1.0 - mix) + n / $"rn" * mix).cast("float")))
    val sigs = planted.select(
      SimilarityQueries.hyperSigOf($"embedding").as("sig0"),
      SimilarityQueries.hyperSigOf($"pert").as("sig1"),
      cosineExact($"embedding", $"pert").as("cos"))
    val bandHit = (0 until SimilarityQueries.NBands).map { b =>
      substring($"sig0", b * SimilarityQueries.BandWidth + 1, SimilarityQueries.BandWidth) ===
        substring($"sig1", b * SimilarityQueries.BandWidth + 1, SimilarityQueries.BandWidth)
    }.reduce(_ || _)
    val row = sigs.agg(
      sum(bandHit.cast("long")), count(lit(1)), avg($"cos")).head
    (row.getLong(0).toDouble / row.getLong(1), row.getDouble(2))
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    val body = dirs.map { d =>
      val sf = d.split('/').last
      val per = recalls(spark, d).toSeq.sortBy(_._1)
        .map { case (n, r) => f""""$n":$r%.4f""" }.mkString(",")
      val (pr, pc) = plantedBandRecall(spark, d)
      val ladder = ivfNprobeLadder(spark, d)
        .map { case (np, r4, r5) => f""""$np":{"ss4":$r4%.4f,"ss5":$r5%.4f}""" }
        .mkString(",")
      s""""$sf":{$per,"planted_band_recall":${f"$pr%.4f"},"planted_cosine":${f"$pc%.4f"},"ivf_nprobe":{$ladder}}"""
    }.mkString(",")
    val line = s"""{"metric":"recall","k":$K,$body}"""
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/recall.json"), line + "\n")
    println(line)
    spark.stop()
  }
}
