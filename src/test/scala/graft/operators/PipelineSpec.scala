package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Fingerprint.fingerprintMd5
import graft.sources.Tables

/** Stage-composition invariants for the curation pipeline: p01 must agree
  * with the individually-verified stages it chains (tx2 scoring, dd1
  * fingerprint identity) — the hash oracle pins the end result; these pin
  * the internal consistency. */
class PipelineSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("p01 per-source totals recompose from tx2 scores and dd1 fingerprints") {
    import spark.implicits._
    val p01 = PipelineQueries.queries("p01_curation")(spark, dir).collect()
    assert(p01.nonEmpty)

    // recompute the gate from the DECLARED tx2 output joined back to source
    val tx2 = TextQueries.queries("tx2_quality_score")(spark, dir)
      .select($"doc_id", $"quality", $"n_tokens")
    val src = Tables.documents(spark, dir).select($"doc_id", $"source", $"text")
    val gated = tx2.join(src, "doc_id")
      .filter($"quality" >= 0.5 && $"n_tokens" <= 5000L)
    val nGated = gated.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // dd1 identity: kept docs are exactly the per-fingerprint minima
    val kept = gated
      .withColumn("fp", fingerprintMd5($"text"))
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      .join(gated, "doc_id")
    val nKept = kept.groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    p01.foreach { r =>
      val s = r.getString(0)
      assert(r.getLong(1) == nGated(s), s"n_gated mismatch for $s")
      assert(r.getLong(2) == nKept.getOrElse(s, 0L), s"n_kept mismatch for $s")
      assert(r.getLong(2) <= r.getLong(1), s"kept exceeds gated for $s")
    }
  }

  test("p04 cluster-keyed split seals the dup boundary; doc-keyed split leaks") {
    import spark.implicits._
    val clusters = DedupQueries.queries("dd6_dup_clusters")(spark, dir)
      .select($"doc_id", $"cluster_id")
    def evalSide(c: org.apache.spark.sql.Column) =
      expr(s"conv(substring(md5(cast(${c.toString} as string)), 1, 2), 16, 10)")
        .cast("long") < 64
    val byCluster = clusters.select($"doc_id", evalSide($"cluster_id").as("ev"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val byDoc = clusters.select($"doc_id", evalSide($"doc_id").as("ev"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val pairs = DedupQueries.dupPairs(spark, dir)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain verified dup pairs")
    // the p04 guarantee: no verified dup pair straddles the split
    val leaksCluster = pairs.count { case (a, b) => byCluster(a) != byCluster(b) }
    assert(leaksCluster == 0, s"cluster-keyed split leaked $leaksCluster pairs")
    // positive control: the naive per-document split (tx5's construction)
    // DOES leak on this fixture — the reason p04 exists
    val leaksDoc = pairs.count { case (a, b) => byDoc(a) != byDoc(b) }
    assert(leaksDoc > 0, "per-doc split should leak on this fixture")
    // the split totals partition the corpus
    val p04 = PipelineQueries.queries("p04_leakfree_split")(spark, dir).collect()
    assert(p04.map(_.getLong(1)).sum == clusters.count())
  }

  test("p03 keep set matches a driver-side MessageDigest recompute, exactly") {
    // independent path: Java MessageDigest md5 + BigInteger parse, vs the
    // query's conv(substring(md5(..)))-in-SQL hash — any divergence in the
    // hash construction or the integer threshold rule breaks equality
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val target = counts.values.min
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = docs
      .filter { case (id, lang) =>
        BigInt(h32(id)) * counts(lang) < BigInt(target) * 4294967296L }
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val p03 = PipelineQueries.queries("p03_mixture_resample")(spark, dir).collect()
    assert(p03.map(_.getString(0)).toSet == counts.keySet)
    p03.foreach { r =>
      val lang = r.getString(0)
      assert(r.getLong(1) == counts(lang), s"n_docs mismatch for $lang")
      assert(r.getLong(2) == target, s"n_target mismatch for $lang")
      assert(r.getLong(3) == expected.getOrElse(lang, 0L), s"n_kept mismatch for $lang")
    }
    // the skewed language must actually be downsampled near the target:
    // binomial std ≈ √target, allow 5σ
    val en = p03.find(_.getString(0) == "en").get
    assert(en.getLong(1) > target, "fixture must be language-skewed for this test to bite")
    assert(math.abs(en.getLong(3) - target) < 5 * math.sqrt(target.toDouble),
      s"en kept ${en.getLong(3)} should concentrate near target $target")
  }

  test("p02 KMV estimate tracks the exact distinct count") {
    // sf0.1: ~250 docs/source, so the k=64 estimator actually engages
    // (sf0.001/sf0.01 groups are below k and take the exact fallback)
    val rows = PipelineQueries.queries("p02_kmv_cardinality")(spark, "/root/testdata/sf0.1")
      .collect()
    assert(rows.nonEmpty)
    var engaged = 0
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val est = r.getDouble(2)
      assert(est > 0.0)
      // KMV standard error ~ 1/sqrt(k-2) ≈ 8%; allow 4 sigma
      if (est != exact) { // estimator path (fallback is exact by construction)
        engaged += 1
        assert(math.abs(est - exact) / exact < 0.35,
          s"${r.getString(0)}: est=$est exact=$exact")
      }
    }
    assert(engaged > 0, "estimator never engaged — fixture too small for k")
  }

  test("p05 two-level prefix sum == naive global window, bucket-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val p05 = PipelineQueries.queries("p05_token_offsets")(spark, dir).collect()

    // naive reference: ONE unpartitioned window (the semantics p05's
    // two-level bucket formulation must reproduce exactly)
    val naive = Tables.documents(spark, dir)
      .select($"doc_id", size(TextQueries.wsTokens($"text")).cast("long").as("n"))
      .withColumn("off", coalesce(sum($"n").over(
        Window.orderBy($"doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    p05.foreach { r =>
      val (n, off) = naive(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == off, s"doc ${r.getLong(0)}")
    }

    // bucketing is an implementation choice, not a semantic: a pathological
    // bucket width (many tiny buckets) over the same token counts must
    // yield identical offsets (start = inclusive running total − own count)
    val counts = Tables.documents(spark, dir)
      .select($"doc_id", size(TextQueries.wsTokens($"text")).cast("long").as("n_tokens"))
    val (cum, _) = PrefixSum.cumulative(counts, Seq.empty, "doc_id", "n_tokens",
      asc = true, "cum", "total", width = 7)
    val rebucketed = cum.select($"doc_id", $"n_tokens", $"cum" - $"n_tokens")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(p05.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap == rebucketed,
      "offsets must not depend on the bucket width")
  }

  test("p05 offsets are append-stable: a doc_id-prefix corpus reproduces its slice") {
    import spark.implicits._
    // offsets depend only on EARLIER doc_ids, so a corpus truncated at any
    // doc_id cut reproduces the full corpus's offsets for the kept ids —
    // the property that lets a daily append extend the packing without
    // rewriting yesterday's offsets
    val full = PipelineQueries.queries("p05_token_offsets")(spark, dir).collect()
    val cut = full(full.length / 2).getLong(0)
    val tmp = java.nio.file.Files.createTempDirectory("p05-prefix").toString
    Tables.documents(spark, dir).filter($"doc_id" <= cut)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val prefix = PipelineQueries.queries("p05_token_offsets")(spark, tmp).collect()
    assert(prefix.map(_.toString).toSeq ==
      full.filter(_.getLong(0) <= cut).map(_.toString).toSeq,
      "prefix corpus must reproduce the full corpus's offsets for its ids")
  }

  test("p06 chunks are contiguous, exactly SeqLen-full except the last") {
    val p06 = PipelineQueries.queries("p06_chunk_manifest")(spark, dir).collect()
    val ids = p06.map(_.getLong(0)).toSeq
    assert(ids == (0L until ids.length).toSeq, "chunk ids must be contiguous from 0")
    val last = ids.max
    p06.foreach { r =>
      val (id, mass) = (r.getLong(0), r.getLong(4))
      if (id < last) assert(mass == 2048L, s"chunk $id mass $mass")
      else assert(mass > 0L && mass <= 2048L, s"ragged last chunk mass $mass")
    }
    // token conservation: chunk mass sums to the corpus token count
    val total = PipelineQueries.queries("p05_token_offsets")(spark, dir)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(p06.map(_.getLong(4)).sum == total, "chunk mass must conserve tokens")
  }

  test("p07 shards partition the corpus and conserve token/byte mass") {
    import spark.implicits._
    val p07 = PipelineQueries.queries("p07_shard_manifest")(spark, dir).collect()
    assert(p07.nonEmpty)
    assert(p07.forall(r => r.getLong(0) >= 0L && r.getLong(0) < 8L))
    assert(p07.map(_.getLong(0)).distinct.length == p07.length, "one row per shard")
    val docs = Tables.documents(spark, dir)
    assert(p07.map(_.getLong(1)).sum == docs.count(), "every doc lands in one shard")
    val totalTokens = PipelineQueries.queries("p05_token_offsets")(spark, dir)
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(p07.map(_.getLong(2)).sum == totalTokens, "token mass conserved")
    val totalChars = docs.agg(sum($"n_chars")).collect()(0).getLong(0)
    assert(p07.map(_.getLong(3)).sum == totalChars, "byte mass conserved")
    // the assignment is the tx5/p03 hash — stable, so min/max ranges are
    // reproducible and non-overlapping only per shard id, not globally;
    // just pin that ranges are well-formed
    p07.foreach(r => assert(r.getLong(4) <= r.getLong(5)))
  }

  test("p08 epoch positions are a permutation; batches fill in order") {
    val rows = PipelineQueries.queries("p08_epoch_shuffle")(spark, dir).collect()
    assert(rows.nonEmpty)
    // every chunk of the packing appears exactly once
    val chunks = PipelineQueries.queries("p06_chunk_manifest")(spark, dir)
      .select("chunk_id").collect().map(_.getLong(0)).sorted
    assert(rows.map(_.getLong(0)).sorted.toSeq == chunks.toSeq)
    // positions are a permutation of 0..C-1 (the defining shuffle property)
    val pos = rows.map(_.getLong(1)).sorted
    assert(pos.toSeq == rows.indices.map(_.toLong))
    // batch = pos div BatchChunks: full batches except possibly the last
    rows.foreach(r => assert(r.getLong(2) == r.getLong(1) / 8L))
    val perBatch = rows.groupBy(_.getLong(2)).view.mapValues(_.length).toMap
    val lastBatch = perBatch.keys.max
    perBatch.foreach { case (b, n) =>
      if (b < lastBatch) assert(n == 8, s"batch $b not full")
    }
    // the order is a real shuffle, not the identity: some chunk moved
    assert(rows.exists(r => r.getLong(0) != r.getLong(1)),
      "epoch order must differ from chunk order")
    // and deterministic: a second evaluation reproduces it bit-for-bit
    val again = PipelineQueries.queries("p08_epoch_shuffle")(spark, dir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("p09 card figures agree with independent raw-corpus recomputes") {
    import spark.implicits._
    val card = PipelineQueries.queries("p09_dataset_card")(spark, dir).collect()
    assert(card.length == 1)
    val r = card(0)
    val docs = graft.sources.Tables.documents(spark, dir).cache()
    assert(r.getAs[Long]("n_docs") == docs.count())
    assert(r.getAs[Long]("total_chars") ==
      docs.agg(sum($"n_chars")).collect()(0).getLong(0))
    assert(r.getAs[Long]("n_langs") == docs.select($"lang").distinct().count())
    // tokens from the maintained meta == a fresh whitespace re-tokenization
    val freshTokens = docs
      .select(expr("size(filter(split(lower(trim(text)), '\\\\s+'), t -> length(t) > 0))")
        .cast("long").as("n"))
      .agg(sum($"n")).collect()(0).getLong(0)
    assert(r.getAs[Long]("total_tokens") == freshTokens)
    assert(r.getAs[Long]("n_unique_docs") + r.getAs[Long]("n_exact_dup_docs") ==
      r.getAs[Long]("n_docs"))
    assert(r.getAs[Long]("n_vectors") ==
      graft.sources.Tables.embeddings(spark, dir).count())
    docs.unpersist()
  }

  test("p10 PPS sample matches a driver-side per-row recompute") {
    import spark.implicits._
    val got = PipelineQueries.queries("p10_weighted_sample")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.nonEmpty)

    // independent recompute: weights from a fresh tokenization, the hash
    // from MessageDigest, the draw in BigInt (never lossy)
    val w = Tables.documents(spark, dir)
      .select($"doc_id",
        expr("size(filter(split(lower(trim(text)), '\\\\s+'), t -> length(t) > 0))")
          .cast("long").as("n_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = w.values.sum
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val expected = w.filter { case (id, nt) =>
      BigInt(h32(id)) * total < BigInt(200L * nt) * BigInt(4294967296L)
    }
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (nt, p)) =>
      assert(nt == w(id), s"weight mismatch for $id")
      assert(p == math.min(1.0, (200L * nt).toDouble / total.toDouble),
        s"p_incl mismatch for $id")
      assert(p > 0.0 && p <= 1.0)
    }
    // expectation sanity: the sample lands near the configured budget
    assert(got.size > 100 && got.size < 400, s"sample size ${got.size}")
  }

  test("p10 always keeps a document whose weight saturates the cap") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("p10-heavy").toString
    // doc 0 carries 900 of 920 tokens: 200·900 ≥ 920 → p_incl = 1, kept
    // regardless of its hash; light docs keep/lose by their own draw
    val heavy = (0 until 900).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, heavy)) ++ (1L to 20L).map(i => (i, s"t$i"))
    docs.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"), lit("s").as("source"),
        length($"text").cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = PipelineQueries.queries("p10_weighted_sample")(spark, tmp).collect()
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byId.contains(0L), "saturated doc must always be sampled")
    assert(byId(0L) == 1.0)
    // light docs that DID survive report the exact proportional probability
    byId.removed(0L).values.foreach(p => assert(p == 200.0 / 920.0))
  }
}
