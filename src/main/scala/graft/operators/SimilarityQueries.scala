package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.build.DerivedCache
import graft.functions.Exact.{davg, dsum, sqlAvg, sqlSum}
import graft.functions.VectorOps.{cosineExact, dotExact, hammingDist, hyperSig, normSqExact}
import graft.sources.Tables

/** Similarity search over the `embeddings` table (`vec_id, embedding
  * ARRAY<FLOAT>, label`).
  *
  *  - ss1: brute-force cosine top-k against a probe vector — the exactness
  *    baseline. One codegen'd `cosine_exact` per row (no explode), decimal-
  *    exact internally so the score is bit-identical on any engine and any
  *    partitioning — which keeps the top-k ORDER stable and oracle-checkable.
  *  - ss2: ANN top-k — signature-Hamming ranked candidate pool first, exact
  *    cosine only on the pool. The at-rest index stores a [[RankPlanes]]-bit
  *    hyperplane signature; the query ranks the corpus by Hamming distance
  *    to the probe's signature (one codegen'd byte-walk over the narrow sig
  *    column — a compressed-domain scan, no float touched), keeps the top
  *    [[HamPool]], and exact-cosine reranks only that pool. Round-7's
  *    RECALL audit measured the previous exact-band-match filter at
  *    recall@10 = 0.10 on the flat landscape (band collision ≈ 0.15 admits
  *    near-random candidates); Hamming ranking over the same signature
  *    family measures 1.0 (sf0.01) / 0.9 (sf0.1) at [[HamPool]] = 200.
  *  - ss3: near-duplicate pairs — the same banded signatures generate
  *    candidate pairs via a (band, bandkey) self-join (the dd3 LSH pattern),
  *    then exact cosine verifies. No label blocking and no all-pairs scan, so
  *    it works on unlabeled corpora and survives 100 TB: the shuffle is keyed
  *    on (band, 8-bit bucket) and candidate cardinality is the sum of
  *    per-bucket squares, tunable by BandWidth, never n².
  *  - ss4/ss5: IVF ANN top-k — at-rest cell assignment, nProbe-cell pruned
  *    search. ss4 uses the fixed lowest-id coarse quantizer; ss5 swaps in
  *    deterministically TRAINED k-means centroids (same query shape, only
  *    the index build differs — the documented swap-in, exercised).
  *
  * Scale notes: at the reference near-dup operating point (cosine ≥ 0.9,
  * plane-agreement ≈ 0.86) these parameters catch a true dup with prob
  * ≈ 1-(1-0.86⁸)⁴ ≈ 0.74 per band set and reject a random pair with prob
  * ≈ 0.98; the synthetic corpus plants no dups (max cosine ≈ 0.51), so the
  * declared τ=0.35 exercises the operator on the candidate tail instead.
  * Raising BandWidth tightens buckets for larger corpora without touching the
  * query shape. All candidate generation is deterministic (md5-derived
  * planes, exact-decimal projections), so the identical semantics run in the
  * DuckDB oracle.
  */
object SimilarityQueries {

  private val TopK = 20
  /** Near-dup cosine threshold; see class doc — exercises the operator on a
    * corpus with no planted embedding dups. */
  private val Tau = 0.35
  // LSH geometry — private[graft] so the recall audit (graft.tools) can
  // reproduce the exact banding it is measuring. The at-rest signature is
  // RankPlanes wide; the BANDING family (ss3 and the near-dup candidate
  // machinery) reads only its first Planes chars (plane p's row is
  // independent of the total plane count, so the 32-char prefix of a
  // 256-plane signature IS the 32-plane signature) — widening the rank
  // signature changed no band semantics.
  private[graft] val Planes = 32
  private[graft] val BandWidth = 8
  private[graft] val NBands = Planes / BandWidth
  /** Rank-signature width for the Hamming-ranked ANN pools (ss2/ss9).
    * 256 bits = 32 bytes per vector on the compressed scan side; measured
    * (round 8, md5-exact simulation on the driver corpora): 128 planes →
    * ss2 recall@10 0.8 at sf0.1, 256 planes → 0.9, at the same pool. */
  private[graft] val RankPlanes = 256
  /** Hamming-pool width for ss2's single-probe top-k (pool → exact
    * rerank). The pool is THE recall/latency dial of the compressed-domain
    * scan: library callers pass their own to [[hammingTopK]], while the
    * DECLARED query and its static oracle stay pinned to this default. */
  private val HamPool = 200
  /** Per-query Hamming-pool width for ss9's batch kNN join; same
    * argument-for-callers / pinned-for-declared split ([[knnJoin]]). */
  private val KnnPool = 100
  /** Cosine radius of the declared range query (ss11) — chosen so the
    * driver corpora return a non-trivial result set (14 vectors at
    * sf0.01, 43 at sf0.1) on a landscape whose best non-self cosine is
    * ≈ 0.4/0.5. Exactly representable in binary, so the Spark filter and
    * the DuckDB literal compare identically. */
  private[graft] val RangeTau = 0.25
  /** Hamming admission bound for ss11's compressed-domain prefilter.
    * Under the hyperplane-LSH collision model a pair at angle θ disagrees
    * on each of the [[RankPlanes]] planes independently with p = θ/π, so
    * a vector AT the radius (θ = arccos τ) has Hamming distance
    * Binomial(R, p): mean R·p, sd √(R·p(1−p)). Admitting up to
    * mean + 3.5 sd bounds the per-vector miss probability at ≈ 2·10⁻⁴
    * one-sided (and vectors strictly inside the radius sit further below
    * the bound). Anything admitted is exact-verified, so the bound only
    * trades scan selectivity against recall — never correctness of the
    * declared semantics. */
  private[graft] val RangeHamMax: Int = {
    val p = math.acos(RangeTau) / math.Pi
    math.ceil(RankPlanes * p + 3.5 * math.sqrt(RankPlanes * p * (1 - p))).toInt
  }

  /** Hamming-pool ANN top-k for library callers at their own `pool`. */
  def hammingTopK(s: SparkSession, d: String, pool: Int): DataFrame = ss2(s, d, pool)
  /** Batch kNN join for library callers at their own per-query `pool`. */
  def knnJoin(s: SparkSession, d: String, pool: Int): DataFrame = ss9(s, d, pool)

  /** Banded hyperplane signature under the module's LSH geometry —
    * exposed for the recall audit's planted-near-dup measurement. */
  private[graft] def hyperSigOf(v: Column): Column = hyperSig(v, Planes)

  /** IVF coarse cells / probed cells per query. The probed-cell count is
    * the argument of the PUBLIC [[ivfTopK]]/[[kmeansTopK]] entry points,
    * tuned for the recall/latency target; the DECLARED queries (ss4/ss5)
    * and their static oracles are PINNED to [[DefaultNProbe]]. The cell
    * count is fixed: build, append and delete maintain exactly the
    * [[DefaultCells]] tables, so every read runs at that count (a read at
    * another count would lazily build tables ingest never maintains). The
    * cell count is part of the at-rest index path ([[ivfIndex]]). */
  private[graft] val DefaultCells = 16
  private[operators] val DefaultNProbe = 4

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss1_cosine_topk" -> ss1,
    "ss2_lsh_topk" -> ((s, d) => ss2(s, d, HamPool)),
    "ss3_embed_neardup" -> ss3,
    "ss4_ivf_topk" -> ((s, d) => ivfTopK(s, d, DefaultNProbe)),
    "ss5_ivf_kmeans" -> ((s, d) => kmeansTopK(s, d, DefaultNProbe)),
    "ss6_sq_rerank" -> ss6,
    "ss7_pq_topk" -> ss7,
    "ss8_mips" -> ss8,
    "ss9_knn_join" -> ((s, d) => ss9(s, d, KnnPool)),
    "ss10_rank_fusion" -> ss10,
    "ss11_range_search" -> ss11,
    "ss12_ivfpq_topk" -> ss12,
    "ss13_filtered_topk" -> ss13,
    "ss14_hybrid_search" -> ss14,
    "ss15_range_join" -> ss15,
    "ss16_cell_profile" -> ss16,
    "ss17_mmr_rerank" -> ss17,
    "ss18_sq_fidelity" -> ss18,
    "ss19_ann_pareto" -> ss19,
    "ss19b_pareto_sampled" -> ss19b,
    "ss20_cell_curation" -> ss20,
    "ss21_pq_fidelity" -> ss21,
    "ss22_nprobe_sweep" -> ss22)

  /** Force at-rest index materialization + the one-row probe lookup
    * (ingest-time cost, untimed in Bench). */
  def warm(s: SparkSession, d: String): Unit = {
    VecIndex.warm(s, d, DefaultCells)
    probeRow(s, d)
    // memoize the planning-time count probes here (ingest-time, untimed)
    // so no first timed rep carries a guard's count() job: ss1's control
    // gate and ss9's batch-size broadcast guard
    Controls.gate(Tables.embeddings(s, d), "ss1_cosine_topk", d)
    DerivedCache.scalar(s, d, "ss9_batch_rows")(
      index(s, d).filter(col("vec_id") % 10 === 0).count())
    ()
  }

  /** ss1: brute-force cosine top-k for the probe vector (min vec_id) — the
    * exactness baseline over the raw table, one codegen'd cosine per row.
    * Size-gated ([[Controls]]): the recall floor for ss2–ss8 throws above
    * the configured input size instead of full-scanning a real corpus. */
  private def ss1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Controls.gate(Tables.embeddings(s, d), "ss1_cosine_topk", d)
    val probe = emb.orderBy($"vec_id").limit(1)
      .select($"vec_id".as("pid"), $"embedding".as("pemb"))
    emb
      .crossJoin(broadcast(probe))
      .filter($"vec_id" =!= $"pid")
      .select($"vec_id", cosineExact($"embedding", $"pemb").as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(TopK)
  }

  /** At-rest LSH index (vec_id, embedding, nsq, sig): signatures and norms
    * are INDEX structures — built once at ingest ([[VecIndex]]), read by
    * every ss2/ss3 run, exactly like the materialized graph tables; the
    * root every other vector table derives from. */
  private def index(s: SparkSession, d: String): DataFrame = VecIndex.Index.read(s, d)

  /** Per-vector LSH index rows (vec_id, embedding, nsq, sig) — pure per-row
    * derivation, shared by the full build and [[appendEmbeddings]]. The sig
    * is [[RankPlanes]] wide: its first [[Planes]] chars serve the banding
    * family, the full width serves the Hamming-ranked pools. The
    * repartition spreads the build across cores (the test corpus is a
    * single scan partition). */
  private[operators] def indexRowsOf(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs
      .repartition($"vec_id")
      .select($"vec_id", $"embedding",
        normSqExact($"embedding").as("nsq"),
        hyperSig($"embedding", RankPlanes).as("sig"))
  }

  /** (vec_id, band, bkey): fixed-width band substrings of the signature. */
  private def bandKeys(sig: DataFrame): DataFrame =
    sig.select(col("vec_id"), col("sig"),
      explode(sequence(lit(0), lit(NBands - 1))).as("band"))
      .select(col("vec_id"), col("band"),
        expr(s"substring(sig, band * $BandWidth + 1, $BandWidth)").as("bkey"))

  /** Collected probe row (min vec_id: id, embedding, nsq, sig), memoized per
    * (session, corpus root), versioned by the root's writes — one tiny
    * index lookup shared by ss2/ss4 and the other probe readers, re-run
    * after a delete removes the probe vector. */
  private def probeRow(s: SparkSession, d: String): org.apache.spark.sql.Row =
    DerivedCache.scalar(s, d, "ss.probeRow") {
      index(s, d).orderBy(col("vec_id")).limit(1)
        .select(col("vec_id"), col("embedding"), col("nsq"), col("sig")).collect()(0)
    }

  /** ss2: ANN top-k — Hamming-ranked candidate pool + exact rerank. Stage 1
    * scans only the narrow (vec_id, sig) columns of the at-rest index and
    * ranks by [[graft.functions.HammingDist]] to the probe's signature (a
    * collected one-row index lookup, folded to a literal — no join); the
    * global top-[[HamPool]] is a TakeOrdered (map-side partial top-N per
    * partition, no full shuffle). Stage 2 joins the 200-row pool back to
    * the index (broadcast — bounded by the [[HamPool]] constant, never
    * data-proportional) and pays exact cosine only there. At 100 TB the
    * scan side is 32 bytes/vector — the same compressed-domain bandwidth
    * lever as ss6/ss7, here with zero arithmetic beyond an XOR-count. */
  /** Top-`pool` candidate ids by signature Hamming distance to the probe
    * — THE compressed-domain pool stage shared by ss2/ss13/ss17: one
    * narrow (vec_id, sig) scan, the codegen'd byte-walk, a TakeOrdered
    * under the (ham, vec_id) total order. `idx` may arrive pre-restricted
    * (ss13's eligible-id semi-join). */
  private def hammingPoolIds(idx: DataFrame, pid: Long, psig: String, pool: Int): DataFrame = {
    val s = idx.sparkSession
    import s.implicits._
    idx.filter($"vec_id" =!= pid)
      .select($"vec_id", hammingDist($"sig", lit(psig)).as("ham"))
      .orderBy($"ham", $"vec_id").limit(pool)
      .select($"vec_id")
  }

  private def ss2(s: SparkSession, d: String, pool: Int): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val psig = p.getString(3)
    val poolIds = hammingPoolIds(idx, pid, psig, pool)
    idx.join(broadcast(poolIds), "vec_id")
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(TopK)
  }

  /** ss13: FILTERED ANN top-k — ss2's Hamming-pool machinery with a
    * metadata predicate (the probe's `label`) applied BELOW candidate
    * generation: the pool is drawn only from label-matching vectors, so
    * recall on the filtered sub-corpus equals ss2's unfiltered recall.
    * The naive alternative — pool first, filter after — collapses recall
    * whenever the predicate is selective (a top-200 pool at 1% selectivity
    * leaves ~2 eligible candidates); pre-filtering is what every
    * production vector store does, and here it is two composed relational
    * steps Catalyst already optimizes: (1) the eligible-id set is a
    * narrow (vec_id, label) parquet scan with the label equality PUSHED
    * to the scan (row-group stats + dictionary pruning — PlanAuditSpec
    * pins PushedFilters), (2) a left-semi join restricts the narrow
    * (vec_id, sig) Hamming scan to eligible ids — broadcast by AQE when
    * the predicate is selective (the IN-list shape), a plain equi-join
    * shuffle when it is not (where post-filtering would have been cheap
    * anyway — the degradation is the benign direction). Stages (3)
    * pool + (4) exact rerank are ss2's, byte-identical semantics. At
    * 100 TB the added cost over ss2 is one 12-byte/row pushed scan; the
    * documented upgrade path if filtered search becomes the hot shape is
    * carrying payload attributes in the at-rest index rows (the
    * EmbIndex v3 candidate), which this plan's shape already anticipates
    * (the semi-join collapses to a scan-level predicate). */
  private def ss13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val psig = p.getString(3)
    // the probe's own label: a one-row pushed point lookup on the narrow
    // (vec_id, label) columns, folded to a literal like the probe row
    val plabel = Tables.embeddings(s, d).filter($"vec_id" === pid)
      .select($"label").head.getInt(0)
    val eligible = Tables.embeddings(s, d)
      .filter($"label" === plabel && $"vec_id" =!= pid)
      .select($"vec_id")
    val poolIds =
      hammingPoolIds(idx.join(eligible, Seq("vec_id"), "left_semi"), pid, psig, HamPool)
    idx.join(broadcast(poolIds), "vec_id")
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(TopK)
  }

  /** ss3: near-duplicate pairs — LSH-banded candidates + exact cosine, all
    * from the at-rest index: norms once per vector, one dot per candidate
    * pair, same double-op order as the oracle (dot / (sqrt(n1)·sqrt(n2))). */
  /** Neighbors returned per query vector in the ss9 kNN join. */
  private val KnnK = 3

  /** The two sides of the ss9/ss15 compressed-domain batch scan: the
    * batch sigs (vec_id % 10 = 0, as (qid, qsig)) and the corpus sigs
    * (as (nid, nsig)). The batch side broadcasts while its memoized row
    * count fits the [[Guard]] ceiling (default 2 M rows, ~280 B/row: id +
    * [[RankPlanes]]-char sig). Above it the batch stays unhinted and the
    * scan degrades to a partition-pair cartesian of the two narrow sig
    * frames — more network, never a driver/executor OOM. No shuffle_hash
    * hint: the scan is a cross join, where Spark ignores one. */
  private def batchScanSides(s: SparkSession, d: String,
      idx: DataFrame): (DataFrame, DataFrame) = {
    import s.implicits._
    val qsig = idx.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("qid"), $"sig".as("qsig"))
    val csig = idx.filter($"vec_id" % 10 =!= 0)
      .select($"vec_id".as("nid"), $"sig".as("nsig"))
    val nBatch = DerivedCache.scalar(s, d, "ss9_batch_rows")(qsig.count())
    (if (Guard.fits(s, nBatch, 2000000L)) broadcast(qsig) else qsig, csig)
  }

  /** ss9: kNN JOIN — top-k ANN for a whole QUERY BATCH at once (the
    * deterministic synthetic batch vec_id % 10 = 0) against the corpus
    * side. Every ss1–ss8 query scores ONE probe; the shape a training
    * pipeline actually runs is millions of queries at a time. Per query
    * row, the plan is ss2's: a compressed-domain Hamming scan over the
    * narrow sig columns ([[batchScanSides]]: batch sigs broadcast under
    * the [[Guard]] ceiling, partition-pair cartesian above — result-
    * identical, SimilarityGuardSpec), a per-query top-[[KnnPool]] window
    * over (ham, nid), then exact cosine ONLY on the pooled pairs and a
    * per-query top-k — never a float dot outside the pools, never a
    * per-row driver loop. Round-7's recall audit measured the previous
    * exact-band-match candidates at mean recall 0.07–0.09; the Hamming
    * pool measures 0.98 (sf0.01) / 0.92 (sf0.1). Scan cost is batch ×
    * corpus × 32 bytes — the declared compressed-domain scan (ss6/ss8's
    * lever, narrower); when even that is too wide, restrict the corpus
    * side to the batch's IVF cells first ([[ivfIndex]] composes — measured
    * 0.675 at 8/16 cells on the flat driver corpus, the documented
    * recall-for-bandwidth trade). Ties break on neighbor id; scores are
    * decimal-exact dots over double norms, so the ranking is
    * bit-reproducible in the DuckDB oracle. */
  private def ss9(s: SparkSession, d: String, pool: Int): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val (qside, csig) = batchScanSides(s, d, idx)
    val pooled = csig.crossJoin(qside)
      .select($"qid", $"nid", hammingDist($"nsig", $"qsig").as("ham"))
      .withColumn("pn", row_number().over(
        Window.partitionBy($"qid").orderBy($"ham", $"nid")))
      .filter($"pn" <= pool)
      .select($"qid", $"nid")
    pooled
      .join(idx.select($"vec_id".as("qid"), $"embedding".as("qe"), $"nsq".as("qn")), "qid")
      .join(idx.select($"vec_id".as("nid"), $"embedding".as("ne"), $"nsq".as("nn")), "nid")
      .select($"qid", $"nid",
        (dotExact($"qe", $"ne") / (sqrt($"qn") * sqrt($"nn"))).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy(desc("cosine"), $"nid")).cast("long"))
      .filter($"rank" <= KnnK)
      .select($"qid", $"rank", $"nid", $"cosine")
      .orderBy($"qid", $"rank")
  }

  private def ss3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val bd = bandKeys(idx.select($"vec_id", $"sig"))
    val cand = bd.select($"vec_id".as("v1"), $"band", $"bkey")
      .join(bd.select($"vec_id".as("v2"), $"band", $"bkey"), Seq("band", "bkey"))
      .filter($"v1" < $"v2")
      .select($"v1", $"v2").distinct()
    cand
      .join(idx.select($"vec_id".as("v1"), $"embedding".as("e1"), $"nsq".as("n1")), "v1")
      .join(idx.select($"vec_id".as("v2"), $"embedding".as("e2"), $"nsq".as("n2")), "v2")
      .select($"v1", $"v2",
        (dotExact($"e1", $"e2") / (sqrt($"n1") * sqrt($"n2"))).as("cosine"))
      .filter($"cosine" >= Tau)
      .orderBy($"v1", $"v2")
  }

  /** At-rest IVF cell assignment (vec_id, cid): each vector belongs to its
    * highest-cosine coarse centroid (ties → lowest cid). Centroids are the
    * `cells` lowest-id vectors of the at-rest index
    * ([[VecIndex.IvfCentroids]]) — a FIXED, deterministic coarse quantizer
    * so the oracle reproduces the identical partition. This is the
    * inverted-file layout: at 100 TB the corpus is bucketed by cell and a
    * query scans nProbe/cells of it.
    *
    * K-MEANS SWAP-IN POINT: replace the table's quantizer with trained
    * centroids and bump `IvfVersion` — the version is part of the at-rest
    * path, so stale deterministic-quantizer layouts become unreachable and
    * every reader re-materializes under the new quantizer. Nothing else
    * (probe-cell ranking, semi-join shape, oracle contract for the default
    * build) changes. */
  private[operators] val IvfVersion = 1
  private[operators] def ivfTable(nc: Int): (String, Int) = (s"emb_ivf_c$nc", IvfVersion)
  private def ivfIndex(s: SparkSession, d: String, nc: Int): DataFrame =
    VecIndex.Ivf(nc).read(s, d)

  /** Per-vector hard assignment (vec_id, cid) against a FIXED centroid
    * frame (cid, cemb) — pure per-row given the quantizer, shared by the
    * full build and [[appendEmbeddings]]. */
  private[operators] def ivfAssignRowsOf(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs
      .repartition($"vec_id")
      .crossJoin(broadcast(cents))
      .select($"vec_id", $"cid", cosineExact($"embedding", $"cemb").as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id").orderBy(desc("ccos"), $"cid")))
      .filter($"rn" === 1)
      .select($"vec_id", $"cid")
  }

  // ------------------------------------------- scalar quantization (ss6) --

  /** Rerank pool size for ss6 (approx top-R → exact top-K). */
  private val SqRerank = 50

  /** At-rest int8 scalar-quantization index (vec_id, scale, q ARRAY<LONG>):
    * per-vector symmetric quantization `q_i = floor(e_i·127/scale + 0.5)`
    * with `scale = max |e_i|` — every step (float→double cast, multiply,
    * divide, floor-half-up) is bit-deterministic on any engine, so the
    * DuckDB oracle reproduces the identical codes. At 100 TB this is THE
    * memory-bandwidth lever for ANN: the scan side shrinks 4× (int8 codes
    * instead of float32) and the exact float pass touches only the rerank
    * pool. */
  private def sqIndex(s: SparkSession, d: String): DataFrame = VecIndex.Sq.read(s, d)

  /** Per-vector int8 quantization rows (vec_id, scale, q) — pure per-row,
    * shared by the full build and [[appendEmbeddings]]. */
  private[operators] def sqRowsOf(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs
      .repartition($"vec_id")
      .withColumn("scale",
        array_max(transform($"embedding", x => abs(x.cast("double")))))
      .select($"vec_id", $"scale",
        when($"scale" > 0.0,
          transform($"embedding", x =>
            floor(x.cast("double") * lit(127.0) / $"scale" + lit(0.5))))
          .otherwise(transform($"embedding", _ => lit(0L))).as("q"))
  }

  /** Incremental embedding-index maintenance — the vector-side analog of
    * `DocIndex.append`, over the [[VecIndex]] registry: derive every
    * maintained table's rows for a batch of NEW vectors and append them.
    * LSH/SQ rows are per-vector, so incremental == full rebuild
    * unconditionally; the IVF, PQ and k-means rows are per-vector AGAINST
    * THE FROZEN quantizer (read back before the append), the standard IVF
    * ingest practice. The IVF quantizer (the `cells` lowest ids) and the
    * PQ training init are append-stable under monotone ingest ids
    * (IncrementalEmbeddingSpec); the TRAINED PQ codebook and k-means
    * centroids are frozen until the corpus drifts past [[Drift]] since
    * training, when the append retrains them ([[retrainQuantizer]],
    * [[retrainPqCodebook]] — the [[DedupQueries.rerankPrefix]] pattern).
    * Caller contract: vec_ids must not already be indexed. The IVF and
    * k-means tables of [[DefaultCells]] cells are maintained — the ones the
    * declared ss4/ss5 read. Ends with the
    * compaction sweep so vector-index file counts are bounded by the same
    * policy as the document path. */
  def appendEmbeddings(s: SparkSession, d: String, newVecs: DataFrame): Unit = {
    VecIndex.append(s, d, DefaultCells, newVecs)
    Ingest.compactTables(s, d, maintainedVectorTables)
    ()
  }

  /** Every at-rest vector table the append and delete paths maintain —
    * the compaction worklist and the streaming-vs-batch parity spec's
    * comparison set (the vector-side analog of
    * `Ingest.maintainedDocTables`). */
  private[graft] def maintainedVectorTables: Seq[(String, Int)] =
    VecIndex.tables(DefaultCells)

  /** Day-0 (or periodic-rebuild) materialization of every at-rest vector
    * index over an explicit embedding frame under corpus key `d` — the
    * vector-side analog of [[Ingest.buildDocumentIndexes]], idempotent per
    * table: LSH rank signatures + norms, int8 SQ codes, fixed-quantizer
    * IVF assignments, the trained PQ family and the trained k-means
    * family (centroids or codebook, training-snapshot meta, assignments)
    * for [[DefaultCells]] cells. The declared queries build
    * the same tables lazily; this entry point exists for ingest pipelines
    * (and the maintenance specs/bench) that index an explicit frame before
    * any query runs. */
  def buildEmbeddingIndexes(s: SparkSession, d: String, vecs: DataFrame): Unit =
    VecIndex.build(s, d, DefaultCells, vecs)

  /** Delete previously-ingested vectors from every at-rest vector index —
    * [[appendEmbeddings]]'s right-to-be-forgotten mirror (the embedding
    * side of [[Ingest.deleteDocumentBatch]]'s contract). Per-vector tables
    * pay one staged filter-rewrite. The quantizers that derive from the
    * lowest-id vectors need care: the fixed IVF centroids are the `cells`
    * lowest ids and the PQ training init the lowest [[PqKs]], so deleting
    * such an ANCHOR changes what a fresh build derives — the IVF
    * assignments rebuild against the new anchors and the PQ family fully
    * retrains from the remaining at-rest index (narrow-index passes, never
    * a source re-read); a non-anchor delete is purge-only. The TRAINED
    * families retrain only past the [[Drift]] rule, here from the shrink
    * side — stale trained cells cost recall, never correctness. */
  def deleteEmbeddings(s: SparkSession, d: String, ids: DataFrame): Unit = {
    VecIndex.delete(s, d, DefaultCells, ids)
    Ingest.compactTables(s, d, maintainedVectorTables)
    ()
  }

  /** Full retrain of the ss5 trained-quantizer family from the CURRENT
    * at-rest index — the periodic rebuild that restores cell quality after
    * corpus drift, normally triggered by the [[Drift]] rule on append or
    * delete but callable on any external cadence. Staged table swaps
    * ([[graft.build.DerivedCache.replace]]); KmeansMaintenanceSpec proves
    * append-then-retrain == fresh rebuild bit-for-bit. */
  def retrainQuantizer(s: SparkSession, d: String, nc: Int): Unit =
    VecIndex.retrain(s, d, VecIndex.Km(nc))

  /** ss18: scalar-quantization fidelity audit — per vector, the cosine
    * between the raw embedding and its int8 reconstruction
    * (ê = q·scale/127), read directly off the MAINTAINED SQ index: the
    * index-health diagnostic completing the audit trio (dd15 band skew,
    * ss16 cell balance, ss18 quantization error) — the number an operator
    * checks before trusting ss6/ss8's compressed scans, and the
    * per-vector drill-down when recall drops. The scale factor CANCELS in
    * the cosine, so the score is `dot(e, q/128) / (‖e‖·√(Σq²/2¹⁴))` —
    * mathematically `dot(e, q)/(‖e‖·√Σq²)`, but computed with the codes
    * pre-scaled by the EXACT power of two 1/128 (q/128 is an exact float,
    * and IEEE sqrt(x/4⁷) = sqrt(x)/2⁷ exactly, so the scaling cancels to
    * the last bit). The rescale is a cross-engine requirement, not a
    * nicety: unscaled e·q terms are ~127× the library's proven e·e
    * magnitude class, which multiplies the chance that a term's shortest-
    * decimal and exact-binary values straddle a DECIMAL(28,10) rounding
    * boundary — measured as six last-ulp row mismatches at sf0.1 before
    * the rescale, zero after. (Since round 12 the straddle class itself is
    * gone — Exact.sqlSum routes the oracle's term cast through VARCHAR so
    * both engines round the shortest string — but staying in the proven
    * magnitude class keeps the terms exactly representable headroom-wise.) One exact decimal mixed dot, the
    * stored exact norm, one integer code-norm — no reconstruction array
    * is ever materialized. Zero vectors (scale = 0) quantize losslessly
    * and are reported at fidelity 1. One narrow index join, per-row
    * expressions, no shuffle beyond the presentation sort. */
  private def ss18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sumQ2 = aggregate($"q", lit(0L), (acc, x) => acc + x * x)
    val qf = transform($"q", x => (x.cast("double") / 128.0d).cast("float"))
    sqIndex(s, d)
      .join(index(s, d).select($"vec_id", $"embedding", $"nsq"), "vec_id")
      .select($"vec_id", $"scale", sumQ2.as("q_nsq"),
        when($"scale" > 0.0,
          dotExact($"embedding", qf) /
            (sqrt($"nsq") * sqrt(sumQ2.cast("double") / 16384.0d)))
          .otherwise(lit(1.0)).as("sq_cos"))
      .orderBy($"vec_id")
  }

  /** Pool widths of the declared recall-Pareto sweep. The widest point is
    * [[HamPool]] BY REFERENCE, so the curve always contains the declared
    * ss2 operating point — retuning HamPool moves this sweep with it. */
  private val ParetoPools = Seq(25, 50, 100, HamPool)

  /** ss19: the ANN recall/latency PARETO CURVE as a DECLARED, hash-checked
    * query — for each Hamming-pool width, ss2's top-[[TopK]] measured
    * against the exact top-[[TopK]] (n_hits, recall) — turning the dial
    * the 100-TB operator actually tunes (pool width ∝ scan selectivity)
    * from a side artifact (RECALL_r*.json) into a first-class,
    * oracle-verified operator. The exact reference IS the declared ss1
    * query — same gate (whose count probe `warm()` already memoizes, so
    * no timed rep pays it), same code path, so the audit inherits ss1's
    * [[Controls]] contract (a dev/ops control, thrown loudly on
    * corpus-sized inputs rather than silently full-scanning); each pool's
    * ranking is exactly [[hammingPoolIds]] + the ss2 rerank, so the curve
    * measures the DECLARED operators on both axes, not a simulation.
    * Set intersections run on the collected ≤ TopK id lists — constants,
    * the q20 bounded-collect contract; recall is one exact division. */
  private def ss19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val exact = ss1(s, d).select($"vec_id").collect().map(_.getLong(0)).toSet
    val rows = ParetoPools.map { pool =>
      val ids = ss2(s, d, pool).select($"vec_id").collect().map(_.getLong(0)).toSet
      val hits = ids.intersect(exact).size
      (pool, hits.toLong, hits.toDouble / TopK)
    }
    rows.toDF("pool", "n_hits", "recall").orderBy($"pool")
  }

  /** Probe-sample size for the at-scale Pareto audit (ss19b) — a constant,
    * so the audit's exact-arm cost is exactly [[ParetoSampleN]] cosines
    * per corpus vector in ONE pass, at any corpus size. */
  private val ParetoSampleN = 8

  /** ss19b: the recall-Pareto audit ABOVE the [[Controls]] gate (round-9
    * verdict item 4) — ss19's instrument re-based on a FIXED HASH-SAMPLED
    * probe set so it runs where tuning matters most, the full corpus:
    *
    *  - probes = the [[ParetoSampleN]] smallest `md5(vec_id)` hashes (the
    *    p03/tx5 stable-hash construction + a TakeOrdered — deterministic,
    *    corpus-size-independent count, no RNG);
    *  - ONE corpus pass scores every vector against all probes (Hamming
    *    for the pool arm, exact cosine for the ground truth) off the
    *    narrow at-rest index — cost S·n, embarrassingly parallel, unlike
    *    ss1's per-query brute force this is a batch audit shape;
    *  - per-probe top-K/top-pool use the two-phase grouped-top-K prune
    *    (local rank within a vec_id bucket, global rank over the ≤ 32·K
    *    survivors) so no per-probe corpus-sized window partition exists;
    *  - per pool width, ss2's pool-then-rerank ranking is reproduced and
    *    micro-averaged recall over the probe set reported — one exact
    *    division per row.
    *
    * ss19 (dev-scale, declared-operator-exact) and ss19b (at-scale,
    * sampled) together are the tuning instrument pair SCALING.md
    * describes. */
  private def ss19b(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val probes = idx
      .select($"vec_id".as("pid"), $"embedding".as("pemb"),
        $"nsq".as("pnsq"), $"sig".as("psig"),
        expr("conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10)")
          .cast("long").as("h"))
      .orderBy($"h", $"pid").limit(ParetoSampleN)
      .drop("h")
    val nProbes = probes.count()
    val scored = idx.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id",
        hammingDist($"sig", $"psig").as("ham"),
        (dotExact($"embedding", $"pemb") /
          (sqrt($"nsq") * sqrt($"pnsq"))).as("cosine"))
    // two-phase grouped top-K: the local prune keeps every window
    // partition at n/32 rows, the global rank sees ≤ 32·k survivors —
    // result identical to a direct per-probe top-k (any prune keeping
    // per-bucket top-k preserves the global top-k), so the oracle ranks
    // directly
    def pruned(order: Seq[Column], k: Int, as: String): DataFrame = {
      val wl = Window.partitionBy($"pid", $"_b").orderBy(order: _*)
      val wg = Window.partitionBy($"pid").orderBy(order: _*)
      scored.withColumn("_b", pmod($"vec_id", lit(32)))
        .withColumn("_lr", row_number().over(wl)).filter($"_lr" <= k)
        .withColumn(as, row_number().over(wg)).filter(col(as) <= k)
        .drop("_b", "_lr")
    }
    val exact = pruned(Seq(desc("cosine"), $"vec_id".asc), TopK, "xr")
      .select($"pid", $"vec_id")
    val pooled = pruned(Seq($"ham".asc, $"vec_id".asc), HamPool, "pr")
    val pools = ParetoPools.toDF("pool")
    val rr = pooled.join(broadcast(pools), $"pr" <= $"pool")
      .withColumn("rrk", row_number().over(
        Window.partitionBy($"pid", $"pool").orderBy(desc("cosine"), $"vec_id")))
      .filter($"rrk" <= TopK)
    val hits = rr.join(exact, Seq("pid", "vec_id"), "left_semi")
      .groupBy($"pool").agg(count(lit(1)).as("h"))
    // broadcast the AGGREGATE side: a left-outer join can only build
    // (broadcast) its non-preserved right side, so hinting the tiny
    // `pools` frame on the left is dropped by Spark (HintErrorLogger);
    // `hits` is a ≤|pools|-row groupBy result — the legal broadcast side
    pools.join(broadcast(hits), Seq("pool"), "left")
      .select($"pool", lit(nProbes).as("n_probes"),
        coalesce($"h", lit(0L)).as("n_hits"),
        (coalesce($"h", lit(0L)).cast("double") /
          lit((nProbes * TopK).toDouble)).as("recall"))
      .orderBy($"pool")
  }

  /** nProbe sweep of the declared ss22 audit — the same grid the recall
    * artifact's embedded `ivf_nprobe` table measures; the widest point is
    * [[DefaultCells]] BY CONSTRUCTION a full scan, so the curve always
    * tops out at recall 1 and the knee is read against a known anchor. */
  private val NProbeSweep = Seq(1, 2, 4, 8, DefaultCells)

  /** ss22: sampled nProbe recall sweep — ss19b's at-scale instrument for
    * the OTHER tuning dial: where ss19b turns the Hamming-pool width
    * (scan selectivity of the compressed-domain arm), ss22 turns nProbe
    * (cell fan-out of the trained-IVF arm, ss5/ss12's knob), completing
    * the pair every production ANN deployment tunes together. Probes =
    * the same fixed [[ParetoSampleN]] smallest-md5 sample; ONE corpus
    * pass scores every (probe, vector) exact cosine; each vector's cell
    * (the MAINTAINED trained assignment) joins the probe's cell RANKING
    * against the trained centroids (a cells-bounded window), so "nProbe
    * = v" candidates are exactly `cell_rank ≤ v` — the declared ss5
    * search semantics, batch-shaped. Per-(probe, nProbe) top-k runs the
    * two-phase grouped-top-K prune (no per-probe corpus-sized window),
    * micro-averaged recall per sweep value, one exact division. The
    * oracle retrains the quantizer in SQL (kmSql) and re-ranks directly. */
  private def ss22(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val probes = idx
      .select($"vec_id".as("pid"), $"embedding".as("pemb"), $"nsq".as("pnsq"),
        expr("conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10)")
          .cast("long").as("h"))
      .orderBy($"h", $"pid").limit(ParetoSampleN)
      .drop("h")
    val nProbes = probes.count()
    // probe → cell ranking against the TRAINED centroids: probes × cells
    // cosines (cells-bounded), ranked per probe
    val pev = evRowsOf(probes.select($"pid".as("vec_id"), $"pemb".as("embedding")))
    val cellRank = assignRank(pev, kmCentroids(s, d, DefaultCells))
    val scored = idx.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"pid")
      .select($"pid", $"vec_id",
        (dotExact($"embedding", $"pemb") /
          (sqrt($"nsq") * sqrt($"pnsq"))).as("cosine"))
    def pruned(src: DataFrame, parts: Seq[Column], k: Int, as: String): DataFrame = {
      val wl = Window.partitionBy(parts :+ $"_b": _*).orderBy(desc("cosine"), $"vec_id")
      val wg = Window.partitionBy(parts: _*).orderBy(desc("cosine"), $"vec_id")
      src.withColumn("_b", pmod($"vec_id", lit(32)))
        .withColumn("_lr", row_number().over(wl)).filter($"_lr" <= k)
        .withColumn(as, row_number().over(wg)).filter(col(as) <= k)
        .drop("_b", "_lr")
    }
    val exact = pruned(scored, Seq($"pid"), TopK, "xr").select($"pid", $"vec_id")
    val tagged = scored
      .join(kmAssign(s, d, DefaultCells), "vec_id")
      .join(broadcast(cellRank), Seq("pid", "cid"))
    val nps = NProbeSweep.toDF("np")
    val cand = tagged.join(broadcast(nps), $"crk" <= $"np")
    val topk = pruned(cand, Seq($"pid", $"np"), TopK, "rk")
    val hits = topk.join(exact, Seq("pid", "vec_id"), "left_semi")
      .groupBy($"np").agg(count(lit(1)).as("h"))
    // same legality fix as ss19b: broadcast the ≤|sweep|-row aggregate
    // (the right side a left-outer join can actually build)
    nps.join(broadcast(hits), Seq("np"), "left")
      .select($"np", lit(nProbes).as("n_probes"),
        coalesce($"h", lit(0L)).as("n_hits"),
        (coalesce($"h", lit(0L)).cast("double") /
          lit((nProbes * TopK).toDouble)).as("recall"))
      .orderBy($"np")
  }

  /** Full cosine RANKING of exploded probe rows against a centroid frame
    * — [[assignTo]] without the rn=1 cut: (pid, cid, crk), the per-probe
    * cell search order ss5 scans in. */
  private def assignRank(pev: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(desc("cos"), col("cid"))
    cosTo(pev, cents).withColumn("crk", row_number().over(w))
      .select(col("vec_id").as("pid"), col("cid"), col("crk"))
  }

  /** ss6: quantized-scan ANN — rank the WHOLE corpus by the int8
    * approximate cosine (exact integer dot of the codes, rescaled by the
    * two per-vector scales over the exact norms), keep the top
    * [[SqRerank]], then exact-cosine rerank only that pool for the final
    * top-k. Complements ss2/ss4: same recall-vs-bandwidth trade every
    * production ANN stack layers under its coarse index. */
  private def ss6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sq = sqIndex(s, d)
    val idx = index(s, d)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val pr = sq.filter($"vec_id" === pid)
      .select($"scale", $"q").collect()(0)
    val pScale = pr.getDouble(0)
    val pq = pr.getSeq[Long](1)
    // approx cosine: (scale_v·scale_p·Σ q_v·q_p / 127²) / (‖v‖·‖p‖);
    // the integer dot is exact on any engine, the double rescale has one
    // fixed operation order
    val dotq = aggregate(
      zip_with($"q", typedlit(pq), (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    val approx = sq.join(idx.select($"vec_id", $"nsq"), "vec_id")
      .filter($"vec_id" =!= pid)
      .select($"vec_id",
        ($"scale" * lit(pScale) * dotq.cast("double") / lit(16129.0) /
          (sqrt($"nsq") * lit(psqrtN))).as("approx"))
      .orderBy(desc("approx"), $"vec_id").limit(SqRerank)
    approx.join(idx.select($"vec_id", $"embedding", $"nsq"), "vec_id")
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(TopK)
  }

  /** ss10: reciprocal-rank fusion of two ANN index families — the standard
    * hybrid-recall combiner (Cormack/Clarke/Buettcher, "Reciprocal Rank
    * Fusion outperforms Condorcet and individual rank learning methods",
    * SIGIR 2009): score = Σ_rankers 1/(60 + rank). Fusing the cell-pruned
    * IVF ranking (ss4) with the quantized-scan ranking (ss6) covers each
    * family's blind spot — cell pruning loses neighbors that fall outside
    * the probed cells, the quantized scan loses fine ordering to
    * quantization error — at the cost of running both (each already
    * sub-linear per probe). Rank-only fusion keeps the oracle exact: ranks
    * are integers from the two hash-green rankings, and each fused score
    * is ONE two-term double sum with a fixed operation order — no
    * accumulation-order ambiguity. */
  private def ss10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Bounded by construction: both inputs are `.limit(TopK)` outputs, so
    // the rank pass touches ≤ TopK rows regardless of corpus size; the
    // declared constant key (PrefixSum.onePart) states that contract.
    def ranked(df: DataFrame, as: String) = df.select($"vec_id",
      row_number().over(Window.partitionBy(PrefixSum.onePart($"vec_id"))
        .orderBy(desc("cosine"), $"vec_id")).as(as))
    ranked(ivfTopK(s, d, DefaultNProbe), "r4")
      .join(ranked(ss6(s, d), "r6"), Seq("vec_id"), "full_outer")
      .select($"vec_id",
        (coalesce(lit(1.0) / (lit(60) + $"r4"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + $"r6"), lit(0.0))).as("rrf"))
      .orderBy(desc("rrf"), $"vec_id").limit(TopK)
  }

  /** ss14: hybrid lexical+vector retrieval — RRF fusion (the ss10 combiner)
    * of a document-frequency-weighted KEYWORD ranking with ss2's ANN
    * ranking, the retrieval shape RAG/data-curation stacks actually deploy
    * (vector recall catches paraphrase, lexical recall catches exact
    * terms/rare ids the embedding blurs). The probe is the ss-family probe
    * row; its document (`doc_id == vec_id` in the driver corpus) supplies
    * the query terms.
    *
    * Lexical scoring is an ln-free BM25 surrogate kept integer-exact for
    * the oracle: score(doc) = Σ over shared distinct terms of (N − df_t) —
    * rarer term ⇒ larger weight, a BIGINT sum with no float accumulation
    * (the tx9/tx10 no-`ln` discipline; classic idf needs `log`, whose libm
    * rounding is engine-private). Fusion is rank-only, so the only doubles
    * are ss10's fixed-order two-term RRF sums.
    *
    * Scale shape: the lexical side reads ONLY the probed terms' posting
    * lists — probe terms resolve with one pushed point predicate on the
    * at-rest posting index, candidate volume is Σ df over the query's
    * terms (the tx6 keyed-join shape, AQE-splittable on a hot term), and
    * df itself is computed on that restricted set (counting docs per term
    * needs only the lists already read — no corpus-wide df pass). The
    * vector side is ss2's 32-byte/vector compressed-domain scan. Both
    * rankings are ≤ [[TopK]] rows, so the fusion windows/join are bounded
    * by construction (the ss10 argument). */
  private def ss14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pid = probeRow(s, d).getLong(0)
    val nDocs = Tables.documents(s, d).count()
    val post = TextQueries.postings(s, d).select($"doc_id", $"t")
    val pterms = post.filter($"doc_id" === pid).select($"t")
    val cand = post.join(broadcast(pterms), "t")
    val dfT = cand.groupBy($"t").agg(count(lit(1)).as("df"))
    val lex = cand.filter($"doc_id" =!= pid)
      .join(broadcast(dfT), "t")
      .groupBy($"doc_id").agg(sum(lit(nDocs) - $"df").as("lscore"))
      .orderBy(desc("lscore"), $"doc_id").limit(TopK)
    val kl = lex.select($"doc_id",
      row_number().over(Window.partitionBy(PrefixSum.onePart($"doc_id"))
        .orderBy(desc("lscore"), $"doc_id")).as("rl"))
    val kv = ss2(s, d, HamPool)
      .select($"vec_id",
        row_number().over(Window.partitionBy(PrefixSum.onePart($"vec_id"))
          .orderBy(desc("cosine"), $"vec_id")).as("rv"))
      .withColumnRenamed("vec_id", "doc_id")
    kl.join(kv, Seq("doc_id"), "full_outer")
      .select($"doc_id",
        (coalesce(lit(1.0) / (lit(60) + $"rl"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + $"rv"), lit(0.0))).as("rrf"))
      .orderBy(desc("rrf"), $"doc_id").limit(TopK)
  }

  /** ss12: IVF-PQ top-k — the composition every billion-vector deployment
    * actually runs (FAISS `IVFx,PQy`): the coarse quantizer prunes the
    * candidate set to the [[DefaultNProbe]] probed cells (ss4's index),
    * the ADC scan ranks ONLY those candidates from their M-byte PQ codes
    * (ss7's lookup-table machinery — no float read in the scan), and the
    * top [[PqRerank]] pool pays an exact full-width cosine. Cost per
    * probe at corpus size n with c cells: n/c·nProbe code lookups +
    * [[PqRerank]] float reads, vs ss7's n code lookups — the cell pruning
    * is what keeps the compressed-domain scan sub-linear. Both at-rest
    * inputs (cell assignment, PQ codes) are the incrementally-maintained
    * tables the single-family queries already use; the composition adds
    * no new state. At the gated test scales the probed cells hold fewer
    * vectors than the rerank pool, so recall collapses to ss4's — the
    * ADC ordering becomes the binding constraint only at real corpus
    * sizes (n/c·nProbe ≫ pool), which is exactly the regime the cell
    * count and [[ivfTopK]]'s nProbe argument exist for. */
  private def ss12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val ivf = ivfIndex(s, d, DefaultCells)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val probeCells = VecIndex.IvfCentroids(DefaultCells).read(s, d)
      .select($"cid", cosineExact($"cemb", typedlit(pemb)).as("ccos"))
      .orderBy(desc("ccos"), $"cid").limit(DefaultNProbe)
      .collect().toIndexedSeq.map(_.getLong(0))
    val pe = evSub(s, d).filter($"vec_id" === pid).select($"pos", $"e".as("pe"))
    val lut = pqTrainedCodebook(s, d).join(pe, "pos")
      .groupBy($"m", $"cid").agg(dsum($"ce" * $"pe").as("dotp"))
    val cellMembers = ivf.filter($"cid".isin(probeCells: _*)).select($"vec_id")
    val approx = pqCodes(s, d)
      .join(cellMembers, Seq("vec_id"), "left_semi")
      .join(broadcast(lut), Seq("m", "cid"))
      .groupBy($"vec_id").agg(dsum($"dotp").as("adot"))
      .join(idx.select($"vec_id", $"nsq"), "vec_id")
      .filter($"vec_id" =!= pid)
      .select($"vec_id", ($"adot" / (sqrt($"nsq") * psqrtN)).as("approx"))
      .orderBy(desc("approx"), $"vec_id").limit(PqRerank)
    approx.join(idx.select($"vec_id", $"embedding", $"nsq"), "vec_id")
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(TopK)
  }

  /** ss11: cosine RANGE search — every vector within cosine ≥ [[RangeTau]]
    * of the probe (the radius companion to top-k; FAISS calls it
    * `range_search`). Scale shape: a compressed-domain prefilter over the
    * narrow (vec_id, sig) scan admits only candidates with signature
    * Hamming distance ≤ [[RangeHamMax]] (mean + 3.5 sd at the radius — see
    * the constant's doc), then the float payload is read ONLY for admitted
    * candidates via the join back into the index, and exact-decimal cosine
    * applies the declared radius. At a tight radius (the near-dup regime,
    * τ ≈ 0.9 → bound ≈ 65 vs a cosine-0 bulk at ≈ 128) the prefilter
    * rejects essentially the whole corpus from the 32-byte/vector scan; at
    * a loose radius it degrades gracefully toward a full narrow scan — the
    * float column is still only fetched for survivors. The candidate join
    * is a plain equi-join (candidate cardinality is radius- and
    * data-dependent, so no forced broadcast — AQE decides). */
  private def ss11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val psig = p.getString(3)
    val cand = idx.filter($"vec_id" =!= pid)
      .filter(hammingDist($"sig", lit(psig)) <= RangeHamMax)
      .select($"vec_id")
    idx.join(cand, "vec_id")
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("cosine"))
      .filter($"cosine" >= RangeTau)
      .orderBy(desc("cosine"), $"vec_id")
  }

  /** ss15: range JOIN — ss11's radius semantics for a whole QUERY BATCH
    * (every within-[[RangeTau]] pair between the vec_id%10 batch and the
    * corpus side), completing the single-probe/batch symmetry the top-k
    * family already has (ss2 ↔ ss9). The shape is ss9's compressed-domain
    * scan ([[batchScanSides]]) — batch sigs broadcast under the [[Guard]]
    * ceiling, the corpus side streamed — but admission is ss11's STATIC
    * Hamming bound (a pure per-pair filter, derived at mean + 3.5 sd under
    * the hyperplane collision model), so unlike the kNN join there is NO
    * per-query window anywhere: the scan is fully pipelined, and the
    * float payload is fetched only for admitted pairs through plain
    * equi-joins that AQE sizes. Output cardinality is radius-dependent
    * by design (that is what a range join is); the Hamming prefilter is
    * what keeps the verified fraction ∝ the true result density rather
    * than batch × corpus. */
  private def ss15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val (qside, csig) = batchScanSides(s, d, idx)
    val cand = csig.crossJoin(qside)
      .filter(hammingDist($"nsig", $"qsig") <= RangeHamMax)
      .select($"qid", $"nid")
    cand
      .join(idx.select($"vec_id".as("qid"), $"embedding".as("qe"), $"nsq".as("qn")), "qid")
      .join(idx.select($"vec_id".as("nid"), $"embedding".as("ne"), $"nsq".as("nn")), "nid")
      .select($"qid", $"nid",
        (dotExact($"qe", $"ne") / (sqrt($"qn") * sqrt($"nn"))).as("cosine"))
      .filter($"cosine" >= RangeTau)
      .orderBy($"qid", $"nid")
  }

  // ------------------------------------------- product quantization (ss7) --

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims each (64-dim
    * corpus), [[PqKs]] codes per subspace, codebook TRAINED per subspace
    * with [[PqIters]] deterministic Lloyd rounds (round-9 verdict item 3:
    * the lowest-id codebook rode a friendly flat corpus; a clustered real
    * corpus concentrates quantization error exactly where queries land —
    * PqCodebookSpec plants that corpus and measures the difference).
    * Init = the [[PqKs]] lowest-id subvectors (the old fixed quantizer IS
    * iteration 0), assignment = min-L2 with decimal-exact distances (ties
    * → lowest cid), update = element-wise exact mean, empty codes carry
    * forward — everything double-over-exact-sums, so the DuckDB oracle
    * reproduces the trained codebook bit-for-bit by unrolling the rounds
    * as CTEs (ss5's kmSql discipline per subspace).
    *
    * Round-10 geometry, measured on the driver corpora: the round-8/9
    * 4×16 geometry (one comparison per 16 dims) capped recall at 0.9
    * whatever the training; 16 subspaces × 32 codes puts recall@10 at
    * 1.0 on both sfs trained (PqScratch sweep over {4,8,16}×{16,32,64}×
    * pool {100..400}), with the compressed scan still M = 16 code bytes
    * per vector. */
  private val PqM = 16
  private val PqSubDim = 4
  private[operators] val PqKs = 32
  private val PqIters = 3
  /** v2: per-subspace Lloyd-TRAINED codebook (+ at-rest codebook/meta
    * tables) and the 16×32 geometry — v1 was the untrained 4×16 lowest-id
    * quantizer. */
  private val PqVersion = 2
  /** Rerank pool (approx top-R → exact top-K), same contract as ss6.
    * Pool cost is flat per probe while the compressed scan stays M code
    * bytes per vector — 400 of a billion vectors is the production-shaped
    * knob, and the driver corpus's flat landscape (max cosine ≈ 0.5) is
    * the hardest case for pool sufficiency. */
  private val PqRerank = 400

  /** Exploded corpus rows tagged with their subspace: (vec_id, m, pos, e).
    * NB: [[evRows]] pos is 0-based (posexplode) while the oracle's
    * generate_series pos is 1-based — hence `pos div` here vs
    * `(pos-1) //` in SQL. */
  private[operators] def pqTable: (String, Int) =
    (s"emb_pq_m${PqM}_k${PqKs}_i$PqIters", PqVersion)
  /** At-rest TRAINED codebook (cid, m, pos, ce) — the frozen quantizer
    * artifact appends assign against (the kmCentsTable analog). */
  private[operators] def pqCbTable: (String, Int) =
    (s"emb_pq_cb_m${PqM}_k${PqKs}_i$PqIters", PqVersion)
  /** Corpus size at PQ training time — the retrain trigger's reference
    * point (the kmMetaTable analog). */
  private[operators] def pqMetaTable: (String, Int) =
    (s"emb_pq_meta_m${PqM}_k${PqKs}_i$PqIters", PqVersion)

  private def evSub(s: SparkSession, d: String): DataFrame =
    pqSubRowsOf(VecIndex.vectors(s, d))

  /** Subspace-tagged exploded rows (vec_id, m, pos, e) of a vector frame. */
  private[operators] def pqSubRowsOf(vecs: DataFrame): DataFrame =
    evRowsOf(vecs).withColumn("m", expr(s"pos div $PqSubDim"))

  /** Codebook rows (cid, m, pos, ce): subvectors of the frame's PqKs
    * lowest-id vectors; code id = source vec_id (the ss4/IVF convention).
    * Monotone ingest ids make this codebook APPEND-STABLE: the lowest PqKs
    * ids of a grown corpus are the base corpus's, so the frozen codebook a
    * batch assigns against ([[appendEmbeddings]]) IS the rebuilt one —
    * no drift, no retrain trigger needed (unlike the trained ss5 family). */
  private[operators] def pqCodebookOf(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val ids = vecs.orderBy($"vec_id").limit(PqKs).select($"vec_id".as("cid"))
    pqSubRowsOf(vecs).join(broadcast(ids), $"vec_id" === $"cid")
      .select($"cid", $"m", $"pos", $"e".as("ce"))
  }

  /** Min-L2 code assignment of subspace-tagged rows against a codebook:
    * per (vector, subspace) the nearest codebook entry (ties → lowest cid;
    * distances are decimal-exact sums so the argmin is bit-stable on any
    * engine) — the shared kernel of the Lloyd training loop, the full
    * build, and [[appendEmbeddings]]. */
  private def pqCodesAgainst(sub: DataFrame, codebook: DataFrame): DataFrame = {
    val dist = sub.join(codebook, Seq("m", "pos"))
      .groupBy(col("vec_id"), col("m"), col("cid"))
      .agg(dsum((col("e") - col("ce")) * (col("e") - col("ce"))).as("dist"))
    val w = Window.partitionBy(col("vec_id"), col("m")).orderBy(col("dist"), col("cid"))
    dist.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid"))
  }

  /** Per-vector PQ code rows (vec_id, m, cid) against a GIVEN codebook —
    * pure per-row given the codebook. */
  private[operators] def pqCodeRowsOf(vecs: DataFrame, codebook: DataFrame): DataFrame =
    pqCodesAgainst(pqSubRowsOf(vecs), codebook)

  /** Per-subspace Lloyd training over an explicit vector frame — the PQ
    * sibling of [[kmCentroidRowsOf]], all [[PqM]] subspaces trained in one
    * keyed loop: init = the [[PqKs]] lowest-id subvectors, then
    * [[PqIters]] rounds of min-L2 assignment + element-wise exact mean,
    * empty codes carrying the previous entry forward. Shared by the day-0
    * build and [[retrainPqCodebook]], so both train identical math; the
    * oracle unrolls the same rounds as CTEs. */
  private[operators] def pqTrainedCodebookOf(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val sub = pqSubRowsOf(vecs)
    var cb = pqCodebookOf(vecs)
    for (_ <- 1 to PqIters) {
      val means = pqCodesAgainst(sub, cb).join(sub, Seq("vec_id", "m"))
        .groupBy($"cid", $"m", $"pos").agg(davg($"e").as("mce"))
      cb = cb.join(means, Seq("cid", "m", "pos"), "left")
        .select($"cid", $"m", $"pos", coalesce($"mce", $"ce").as("ce"))
    }
    cb
  }

  /** At-rest trained codebook (+ training-size meta, materialized FIRST
    * inside the same build so the retrain trigger's reference point is an
    * explicit artifact — [[VecIndex.PqCodebook]]). */
  private def pqTrainedCodebook(s: SparkSession, d: String): DataFrame =
    VecIndex.PqCodebook.read(s, d)

  /** Full retrain of the PQ family from the CURRENT at-rest index — the
    * [[retrainQuantizer]] analog: codebook re-trains (init ids re-derive
    * from the current corpus), the snapshot meta resets, every code
    * re-assigns. PqMaintenanceSpec proves append-then-retrain == fresh
    * rebuild. */
  def retrainPqCodebook(s: SparkSession, d: String): Unit =
    VecIndex.retrain(s, d, VecIndex.Pq)

  /** At-rest PQ code assignment vs the TRAINED codebook. At 100 TB this is
    * THE compressed-domain representation: M small ints per vector (codes)
    * replace the float payload on the scan side, and a query touches full
    * vectors only in the rerank pool. */
  private def pqCodes(s: SparkSession, d: String): DataFrame = VecIndex.Pq.read(s, d)

  /** ss7: PQ ANN top-k by asymmetric distance computation — the probe
    * builds a [[PqM]]×[[PqKs]] lookup table of exact codebook·probe
    * subspace dots (tiny, broadcast), each vector's approximate dot is the
    * decimal-exact sum of its M looked-up entries (reconstructed-vector ·
    * probe), normalized by the TRUE stored norms, and only the top
    * [[PqRerank]] pool pays an exact full-width cosine. Completes the ANN
    * family: ss2 prunes by hash bucket, ss4/ss5 by coarse cell, ss6 shrinks
    * scan bandwidth 4× (int8), ss7 shrinks it to M code bytes — the
    * compressed-domain scan every billion-vector deployment runs. */
  private def ss7(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val pe = evSub(s, d).filter($"vec_id" === pid).select($"pos", $"e".as("pe"))
    val lut = pqTrainedCodebook(s, d).join(pe, "pos")
      .groupBy($"m", $"cid").agg(dsum($"ce" * $"pe").as("dotp"))
    val approx = pqCodes(s, d).join(broadcast(lut), Seq("m", "cid"))
      .groupBy($"vec_id").agg(dsum($"dotp").as("adot"))
      .join(idx.select($"vec_id", $"nsq"), "vec_id")
      .filter($"vec_id" =!= pid)
      .select($"vec_id", ($"adot" / (sqrt($"nsq") * psqrtN)).as("approx"))
      .orderBy(desc("approx"), $"vec_id").limit(PqRerank)
    approx.join(idx.select($"vec_id", $"embedding", $"nsq"), "vec_id")
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(TopK)
  }

  /** ss8: maximum-inner-product search (MIPS) — rank by the raw DOT
    * product, not cosine: the retrieval objective when magnitudes carry
    * signal (recommendation scores, unnormalized retrieval embeddings;
    * cosine ANN deliberately erases it). Scan side is the int8 SQ code
    * table (ss6's at-rest index) with the exact integer code dot rescaled
    * once — no norm division anywhere — and only the top [[SqRerank]] pool
    * pays exact full-width dots. MIPS has no triangle inequality, so
    * metric-space indexes don't apply directly; the compressed-domain
    * scan + rerank is the assumption-free shape (the norm-augmentation
    * reduction to cosine is the alternative when an angular index already
    * exists). */
  private def ss8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sq = sqIndex(s, d)
    val idx = index(s, d)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val pr = sq.filter($"vec_id" === pid).select($"scale", $"q").collect()(0)
    val pScale = pr.getDouble(0)
    val pq = pr.getSeq[Long](1)
    val dotq = aggregate(
      zip_with($"q", typedlit(pq), (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    val approx = sq.filter($"vec_id" =!= pid)
      .select($"vec_id",
        ($"scale" * lit(pScale) * dotq.cast("double") / lit(16129.0)).as("approx"))
      .orderBy(desc("approx"), $"vec_id").limit(SqRerank)
    approx.join(idx.select($"vec_id", $"embedding"), "vec_id")
      .select($"vec_id", dotExact($"embedding", typedlit(pemb)).as("dot"))
      .orderBy(desc("dot"), $"vec_id").limit(TopK)
  }

  // ------------------------------------------------- k-means IVF (ss5) --

  /** Lloyd iterations for the trained quantizer — fixed so the at-rest build
    * is deterministic and the oracle can unroll it as nested CTEs. */
  private val KmIters = 3
  /** Bump to invalidate at-rest k-means layouts on any training change.
    * v2: the family gained the training-snapshot meta table — a v1 cache
    * has centroids without it, and the append path must never find half
    * the family. */
  private val KmVersion = 2
  /** (name, version) identities of the trained-quantizer family — the
    * centroids, the assignments, and the corpus size at training time (the
    * retrain trigger's reference point); param-named per the
    * [[graft.build.DocTables]] convention, shared by build, append, and
    * retrain. */
  private[operators] def kmCentsTable(nc: Int): (String, Int) =
    (s"emb_km_cents_c${nc}_i$KmIters", KmVersion)
  private[operators] def kmAssignTable(nc: Int): (String, Int) =
    (s"emb_km_assign_c${nc}_i$KmIters", KmVersion)
  private[operators] def kmMetaTable(nc: Int): (String, Int) =
    (s"emb_km_meta_c${nc}_i$KmIters", KmVersion)

  /** Element-exploded (vec_id, pos, e: double) view of a vector frame — the
    * representation the TRAINING loop shares with the DuckDB oracle, so
    * every centroid coordinate is bit-identical across engines (decimal-
    * exact sums, double division). Query-time cosines still use the
    * codegen'd array expressions; only the ingest-time build is relational. */
  private[operators] def evRowsOf(vecs: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    vecs
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "ef")))
      .select($"vec_id", $"pos", $"ef".cast("double").as("e"))
  }

  private def evRows(s: SparkSession, d: String): DataFrame =
    evRowsOf(VecIndex.vectors(s, d))

  /** Exact cosine of every (vector, centroid) pair from exploded rows —
    * identical aggregation shape to the oracle's GROUP BY (vec_id, cid). */
  private def cosTo(ev: DataFrame, cents: DataFrame): DataFrame =
    ev.join(cents, "pos")
      .groupBy(col("vec_id"), col("cid"))
      .agg((dsum(col("e") * col("ce")) /
        (sqrt(dsum(col("e") * col("e"))) * sqrt(dsum(col("ce") * col("ce"))))).as("cos"))

  /** Hard assignment: each vector to its highest-cosine centroid (ties →
    * lowest cid). */
  private[operators] def assignTo(ev: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(desc("cos"), col("cid"))
    cosTo(ev, cents).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("vec_id"), col("cid"))
  }

  /** At-rest TRAINED centroids (cid, pos, ce): spherical-ish k-means —
    * init = the `cells` lowest-id vectors (ss4's deterministic quantizer as
    * iteration 0), then [[KmIters]] Lloyd rounds of cosine assignment +
    * element-wise mean (decimal-exact sum / count), empty cells carrying the
    * previous centroid forward. Everything is double arithmetic over
    * engine-exact sums, so DuckDB reproduces the training bit-for-bit by
    * unrolling the same [[KmIters]] rounds as CTEs. At 100 TB this is the
    * classic ingest-side training pass: one assignment shuffle keyed on pos
    * (bounded k·d centroid broadcast) per round, written once next to the
    * corpus. */
  private def kmCentroids(s: SparkSession, d: String, nc: Int): DataFrame =
    VecIndex.KmCentroids(nc).read(s, d)

  /** The Lloyd training loop over an explicit vector frame — shared by the
    * day-0 build ([[kmCentroids]]) and the drift-triggered
    * [[retrainQuantizer]], so both train with identical math. */
  private[operators] def kmCentroidRowsOf(vecs: DataFrame, nc: Int): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val ev = evRowsOf(vecs)
    val initIds = vecs.orderBy($"vec_id").limit(nc)
      .select($"vec_id".as("cid"))
    var cents = ev.join(broadcast(initIds), ev("vec_id") === initIds("cid"))
      .select($"cid", $"pos", $"e".as("ce"))
    for (_ <- 1 to KmIters) {
      val means = assignTo(ev, cents).join(ev, "vec_id")
        .groupBy($"cid", $"pos").agg(davg($"e").as("mce"))
      cents = cents.join(means, Seq("cid", "pos"), "left")
        .select($"cid", $"pos", coalesce($"mce", $"ce").as("ce"))
    }
    cents
  }

  /** At-rest assignment (vec_id, cid) against the final trained centroids. */
  private def kmAssign(s: SparkSession, d: String, nc: Int): DataFrame =
    VecIndex.Km(nc).read(s, d)

  /** ss16: cell-occupancy profile of the TRAINED IVF index — dd15's vector
    * sibling, the balance diagnostic a 100-TB operator reads before
    * trusting the index: per trained cell the member count, corpus share,
    * and within-cell pair mass `n·(n−1)/2` (whose total IS dd13's exact
    * verify cost, and whose max IS the ss5 per-probe scan worst case — a
    * degenerate quantizer shows up here as one giant cell long before it
    * shows up as a straggler). One narrow scan of the maintained
    * assignment table + a cells-bounded agg; zero vector math at query
    * time. Integers + one division per row, hash-exact; the oracle
    * re-trains the quantizer in SQL (ss5's `kmSql`) and recounts. */
  private def ss16(s: SparkSession, d: String): DataFrame =
    cellProfileOf(kmAssign(s, d, DefaultCells))

  /** The ss16 profile over any (vec_id, cid) assignment frame — split out
    * so the spec can drive it with planted skewed assignments. */
  private[operators] def cellProfileOf(assign: DataFrame): DataFrame = {
    val s = assign.sparkSession
    import s.implicits._
    val occ = assign.groupBy($"cid").agg(count(lit(1)).as("n_vecs"))
    val tot = occ.agg(sum($"n_vecs").as("n"))
    occ.crossJoin(tot)
      .select($"cid", $"n_vecs",
        ($"n_vecs".cast("double") / $"n").as("share"),
        expr("n_vecs * (n_vecs - 1) div 2").as("cell_pairs"))
      .orderBy($"cid")
  }

  /** ss20: per-semantic-cell CURATION profile — the cluster-level pruning
    * map a SemDeDup/DataComp-style curation pass reads before deciding
    * which semantic regions to thin: for every TRAINED IVF cell, the
    * member count and corpus share (ss16's occupancy), the NEAR-DUP mass
    * (members whose dd6 transitive dup cluster has ≥ 2 docs, off the
    * maintained cluster table), the quality-gate yield (members passing
    * p01's gate — [[PipelineQueries.gateVerdicts]], THE gate, not a
    * reimplementation), and the char mass. A cell that is mostly dups or
    * mostly gate-failures is a pruning candidate as a REGION — the signal
    * none of the single-family queries (ss16 balance, dd17 cluster sizes,
    * p01 per-source yield) can see alone, because it needs the join of all
    * three index families on the shared id space.
    *
    * Scale shape: three narrow id-keyed frames (assignment, dup verdicts,
    * gate verdicts) equi-joined on vec_id, then one cells-bounded hash agg
    * — the only corpus-sized text read is the gate scan (p01's own cost),
    * everything else reads maintained at-rest tables. Integers + one
    * division per ratio, hash-exact; the oracle retrains the quantizer in
    * SQL (ss16's discipline), re-clusters from raw (dd17's), and re-scores
    * the gate (p01's) — a standing three-family maintained-state-vs-raw
    * consistency gate. */
  private def ss20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cl = DedupQueries.dupClusters(s, d)
    val sizes = cl.groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
    val dup = cl.join(sizes, "cluster_id")
      .select($"doc_id".as("vec_id"), ($"sz" >= 2L).as("is_dup"))
    val gate = PipelineQueries.gateVerdicts(s, d)
      .select($"doc_id".as("vec_id"), $"n_chars", $"kept")
    curationProfileOf(
      kmAssign(s, d, DefaultCells).join(dup, "vec_id").join(gate, "vec_id"))
  }

  /** The ss20 rollup over an explicit member frame
    * (vec_id, cid, is_dup, kept, n_chars) — split out so the spec can
    * drive it with planted memberships. */
  private[operators] def curationProfileOf(members: DataFrame): DataFrame = {
    val s = members.sparkSession
    import s.implicits._
    val per = members.groupBy($"cid").agg(
      count(lit(1)).as("n_docs"),
      sum($"is_dup".cast("long")).as("n_dup_docs"),
      sum($"kept".cast("long")).as("n_kept"),
      sum($"n_chars").as("total_chars"))
    val tot = per.agg(sum($"n_docs").as("n"))
    per.crossJoin(tot).select(
      $"cid", $"n_docs",
      ($"n_docs".cast("double") / $"n").as("share"),
      $"n_dup_docs", ($"n_dup_docs".cast("double") / $"n_docs").as("dup_frac"),
      $"n_kept", ($"n_kept".cast("double") / $"n_docs").as("kept_frac"),
      $"total_chars", ($"total_chars".cast("double") / $"n_docs").as("mean_chars"))
      .orderBy($"cid")
  }

  /** ss21: PQ reconstruction-fidelity audit — per vector, the cosine
    * between the raw embedding and its PQ reconstruction (the assigned
    * codeword per subspace, concatenated), read off the MAINTAINED code +
    * trained-codebook tables: ss18's diagnostic for the M-byte compressed
    * representation, completing the index-health family (dd15 band skew,
    * ss16 cell balance, ss18 SQ error, ss21 PQ error) — the per-vector
    * drill-down when ss7/ss12 recall drops, and the number that says
    * whether a codebook retrain ([[retrainPqCodebook]]) is overdue
    * corpus-wide rather than inferring it from query-level recall alone.
    *
    * Unlike ss18 no rescale is needed: codewords are Lloyd MEANS of
    * corpus subvectors, so every e·ce product sits in the proven e·e
    * decimal magnitude class. The dot and the reconstruction norm are one
    * decimal-exact agg over the (vec_id, pos)-keyed join of codeword rows
    * onto the exploded corpus — linear in corpus × dim, keyed shuffle,
    * no reconstruction array materialized; the raw norm is the stored
    * exact `nsq`. Degenerate vectors mirror ss18: a zero vector whose
    * reconstruction is also zero is lossless (1.0); a zero on either
    * side alone scores 0.0 (CASE-guarded identically in the oracle, which
    * retrains the codebook via the ss7 CTEs and recomputes every sum). */
  private def ss21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rec = pqCodes(s, d).join(pqTrainedCodebook(s, d), Seq("m", "cid"))
      .select($"vec_id", $"pos", $"ce")
    val ev = evRowsOf(index(s, d).select($"vec_id", $"embedding"))
    val agg = rec.join(ev, Seq("vec_id", "pos"))
      .groupBy($"vec_id")
      .agg(dsum($"ce" * $"e").as("dotr"), dsum($"ce" * $"ce").as("rnsq"))
    agg.join(index(s, d).select($"vec_id", $"nsq"), "vec_id")
      .select($"vec_id", $"rnsq",
        when($"nsq" > 0.0 && $"rnsq" > 0.0,
          $"dotr" / (sqrt($"nsq") * sqrt($"rnsq")))
          .when($"nsq" === 0.0 && $"rnsq" === 0.0, lit(1.0))
          .otherwise(lit(0.0)).as("pq_cos"))
      .orderBy($"vec_id")
  }

  /** MMR candidate-pool width (exact-cosine top of the Hamming pool) and
    * result size. Both are CONSTANTS of the declared query: the greedy
    * stage touches ≤ MmrPool rel rows + MmrPool² pairwise sims whatever
    * the corpus size. */
  private[graft] val MmrPool = 50
  private[graft] val MmrK = 10
  /** MMR trade-off λ = 1/2 — relevance and redundancy equally weighted.
    * Exactly representable in binary, so `λ·rel − (1−λ)·max_sim` is two
    * exact halvings and one subtraction — bit-identical in any engine. */
  private val MmrLambda = 0.5

  /** ss17: MMR diversity re-ranking (Carbonell/Goldstein SIGIR'98) — the
    * post-retrieval stage every RAG/curation deployment runs when the raw
    * top-k is redundant: greedily pick [[MmrK]] results maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`, ties to the smaller vec_id.
    * Relevance pool = ss2's Hamming-ranked candidates, exact-cosine-cut to
    * the top [[MmrPool]]; pairwise sims are exact cosine over that pool.
    *
    * Scale shape: the DISTRIBUTED work is ss2's compressed-domain scan
    * (narrow sig column, TakeOrdered pool) + the exact rerank + one
    * pool×pool self-join — all bounded by [[MmrPool]] after the scan. The
    * greedy selection itself is inherently sequential (each pick changes
    * every remaining score), so it runs on the DRIVER over the collected
    * ≤ MmrPool + MmrPool² rows — the q20 bounded-collect contract: the
    * collect is constant-size whatever the corpus, never data-
    * proportional. The DuckDB oracle unrolls the [[MmrK]] greedy rounds as
    * CTEs (the tx12/g04 discipline) over the identical exact-cosine
    * doubles, so the whole greedy trajectory is hash-checked. `max_sim`
    * over the empty selected set is 0.0 (round 1's score is λ·rel — the
    * pure-relevance pick). */
  private def ss17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = index(s, d)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val psig = p.getString(3)
    val poolIds = hammingPoolIds(idx, pid, psig, HamPool)
    // snapshot: the pool is referenced three times (rel + both sim sides)
    val pool = idx.join(broadcast(poolIds), "vec_id")
      .select($"vec_id", $"embedding",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("rel"))
      .orderBy(desc("rel"), $"vec_id").limit(MmrPool)
      .localCheckpoint(eager = false)
    val rel = pool.select($"vec_id", $"rel").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val sims = pool.select($"vec_id".as("va"), $"embedding".as("ea"))
      .crossJoin(pool.select($"vec_id".as("vb"), $"embedding".as("eb")))
      .filter($"va" =!= $"vb")
      .select($"va", $"vb", cosineExact($"ea", $"eb").as("sim"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val relSorted = rel.sortBy { case (id, r0) => (-r0, id) }.toVector
    var picked = Vector.empty[(Int, Long, Double, Double, Double)]
    for (r <- 1 to math.min(MmrK, relSorted.length)) {
      val chosen = picked.map(_._2).toSet
      val best = relSorted.iterator.filterNot(c => chosen(c._1)).map { case (id, rl) =>
        val ms = if (picked.isEmpty) 0.0
                 else picked.iterator.map(pk => sims((id, pk._2))).max
        (id, rl, ms, MmrLambda * rl - (1 - MmrLambda) * ms)
      }.minBy { case (id, _, _, mmr) => (-mmr, id) }
      picked :+= ((r, best._1, best._2, best._3, best._4))
    }
    picked.toDF("mmr_rank", "vec_id", "rel", "max_sim", "mmr")
      .orderBy($"mmr_rank")
  }

  /** ss5: IVF ANN top-k over the TRAINED quantizer — same query shape as
    * ss4 (rank nProbe cells, exact cosine only inside them), but cells come
    * from [[kmCentroids]] instead of the fixed lowest-id quantizer. The
    * declared pair (ss4, ss5) demonstrates the documented swap-in: only the
    * index build changed. Probes `np` of the [[DefaultCells]] cells. */
  def kmeansTopK(s: SparkSession, d: String, np: Int): DataFrame = {
    val nc = DefaultCells
    import s.implicits._
    val idx = index(s, d)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val cents = kmCentroids(s, d, nc)
    val pe = evRows(s, d).filter($"vec_id" === pid).select($"pos", $"e".as("pe"))
    val probeCells = cents.join(pe, "pos")
      .groupBy($"cid")
      .agg((dsum($"ce" * $"pe") /
        (sqrt(dsum($"ce" * $"ce")) * sqrt(dsum($"pe" * $"pe")))).as("ccos"))
      .orderBy(desc("ccos"), $"cid").limit(np)
      .collect().toIndexedSeq.map(_.getLong(0))
    idx.join(kmAssign(s, d, nc).filter($"cid".isin(probeCells: _*)), Seq("vec_id"), "left_semi")
      .filter($"vec_id" =!= pid)
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(TopK)
  }

  /** ss4: IVF ANN top-k — rank the probe's nProbe closest cells, exact
    * cosine only over vectors assigned to those cells. The multi-cell OR is
    * the IVF analog of ss2's multi-band OR; both restrict BEFORE any
    * full-width cosine. Probes `np` of the [[DefaultCells]] cells. */
  def ivfTopK(s: SparkSession, d: String, np: Int): DataFrame = {
    val nc = DefaultCells
    import s.implicits._
    val idx = index(s, d)
    val ivf = ivfIndex(s, d, nc)
    val p = probeRow(s, d)
    val pid = p.getLong(0)
    val pemb = p.getSeq[Float](1)
    val psqrtN = math.sqrt(p.getDouble(2))
    val probeCells = VecIndex.IvfCentroids(nc).read(s, d)
      .select($"cid", cosineExact($"cemb", typedlit(pemb)).as("ccos"))
      .orderBy(desc("ccos"), $"cid").limit(np)
      .collect().toIndexedSeq.map(_.getLong(0))
    idx.join(ivf.filter($"cid".isin(probeCells: _*)), Seq("vec_id"), "left_semi")
      .filter($"vec_id" =!= pid)
      .select($"vec_id",
        (dotExact($"embedding", typedlit(pemb)) / (sqrt($"nsq") * psqrtN)).as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(TopK)
  }

  /** SemDeDup similarity threshold: a vector is dropped when a LOWER-id
    * member of its own trained-k-means cell has cosine ≥ this — the near-dup
    * regime the banding family (ss3/dd3) is tuned for. The driver corpus
    * plants no semantic dups (max pairwise cosine ≈ 0.51), so on testdata
    * every vector is kept and `max_sim` carries the verified signal;
    * SemDedupSpec plants tight clusters to pin the drop semantics. */
  private[operators] val SemTau = 0.9

  /** dd13: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication: cluster the corpus with the TRAINED quantizer (ss5's
    * at-rest k-means family — the composition adds no new state), compare
    * pairs only WITHIN a cell, and keep one representative (the lowest
    * vec_id) of every group of semantically-identical vectors. Output per
    * vector: its cell, the max cosine to any lower-id cell-mate (the
    * drop evidence — null when it is the cell's lowest id), and the keep
    * decision at [[SemTau]].
    *
    * Scale shape — the paper's point: clustering bounds the quadratic.
    * Pair cost is Σ|cell|² ≈ n²/k instead of n², and the cell count
    * ([[DefaultCells]], a constant today) is meant to grow with the
    * corpus, holding per-cell work flat. The pair generation is a self-equi-join on cid —
    * AQE-skew-splittable like the dd3 band join — followed by one keyed
    * max-agg on vec_id; no pair set is ever materialized at rest. */
  private[operators] def semDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = kmAssign(s, d, DefaultCells)
      .join(index(s, d).select($"vec_id", $"embedding"), "vec_id")
    val lo = m.select($"cid", $"vec_id".as("lo_id"), $"embedding".as("lo_emb"))
    val sims = m.join(lo, "cid").filter($"lo_id" < $"vec_id")
      .select($"vec_id", cosineExact($"embedding", $"lo_emb").as("cos"))
      .groupBy($"vec_id").agg(max($"cos").as("max_sim"))
    kmAssign(s, d, DefaultCells)
      .join(sims, Seq("vec_id"), "left")
      .select($"vec_id", $"cid", $"max_sim",
        ($"max_sim".isNull || $"max_sim" < SemTau).as("kept"))
      .orderBy($"vec_id")
  }

  /** dd14: ONLINE SemDeDup — dd13's ingest-day shape, completing the
    * online dedup family (dd9 lexical, dd10 containment, dd14 semantic):
    * for each vector of the arriving batch (the vec_id % 10 = 0
    * convention dd9/ss9 use), its trained cell and the max cosine to any
    * ALREADY-INDEXED cell-mate (batch × corpus only, like the declared
    * dd9 — intra-batch resolution is the cluster-append path's job), with
    * the drop verdict at [[SemTau]]. Cost is batch × cell-occupancy, not
    * corpus²/k: the batch assigns against the frozen trained centroids
    * (the maintained ss5 family — no new state), probes only its own
    * cells' members through one cid equi-join, and aggregates one max per
    * batch vector. The driver corpus plants no semantic dups, so testdata
    * verdicts are all false and `max_sim` carries the verified signal;
    * SemDedupSpec's planted clusters pin the online drop semantics. */
  private[operators] def semDedupOnline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = kmAssign(s, d, DefaultCells)
      .join(index(s, d).select($"vec_id", $"embedding"), "vec_id")
    val batch = m.filter($"vec_id" % 10 === 0)
    val corpus = m.filter($"vec_id" % 10 =!= 0)
      .select($"cid", $"vec_id".as("c_id"), $"embedding".as("c_emb"))
    val sims = batch.join(corpus, "cid")
      .select($"vec_id", cosineExact($"embedding", $"c_emb").as("cos"))
      .groupBy($"vec_id").agg(max($"cos").as("max_sim"))
    kmAssign(s, d, DefaultCells).filter($"vec_id" % 10 === 0)
      .join(sims, Seq("vec_id"), "left")
      .select($"vec_id", $"cid", $"max_sim",
        ($"max_sim".isNotNull && $"max_sim" >= SemTau).as("is_dup"))
      .orderBy($"vec_id")
  }

  /** dd14's oracle: [[kmSql]]'s assignment with the pair set restricted to
    * batch × corpus within a cell. */
  private[operators] def semDedupOnlineOracleSql: String =
    s"""WITH $evSql,
       |$kmSql,
       |pair AS (
       |  SELECT b.vec_id, a.vec_id AS c_id,
       |         ${sqlSum("ea.e * eb.e")} /
       |           (sqrt(${sqlSum("ea.e * ea.e")}) * sqrt(${sqlSum("eb.e * eb.e")})) AS cos
       |  FROM af a
       |  JOIN af b ON a.cid = b.cid AND a.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
       |  JOIN ev ea ON ea.vec_id = a.vec_id
       |  JOIN ev eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
       |  GROUP BY b.vec_id, a.vec_id
       |),
       |sims AS (SELECT vec_id, MAX(cos) AS max_sim FROM pair GROUP BY vec_id)
       |SELECT af.vec_id, af.cid, s.max_sim,
       |       (s.max_sim IS NOT NULL AND s.max_sim >= $SemTau) AS is_dup
       |FROM af LEFT JOIN sims s USING (vec_id)
       |WHERE af.vec_id % 10 = 0
       |ORDER BY af.vec_id""".stripMargin

  /** dd13's DuckDB oracle — [[kmSql]]'s final assignment (`af`) + the
    * within-cell pairwise exact cosines, max'd per higher id. Exposed to
    * [[DedupQueries]], which declares the query under the dedup family. */
  private[operators] def semDedupOracleSql: String =
    s"""WITH $evSql,
       |$kmSql,
       |pair AS (
       |  SELECT b.vec_id, a.vec_id AS lo_id,
       |         ${sqlSum("ea.e * eb.e")} /
       |           (sqrt(${sqlSum("ea.e * ea.e")}) * sqrt(${sqlSum("eb.e * eb.e")})) AS cos
       |  FROM af a
       |  JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN ev ea ON ea.vec_id = a.vec_id
       |  JOIN ev eb ON eb.vec_id = b.vec_id AND eb.pos = ea.pos
       |  GROUP BY b.vec_id, a.vec_id
       |),
       |sims AS (SELECT vec_id, MAX(cos) AS max_sim FROM pair GROUP BY vec_id)
       |SELECT af.vec_id, af.cid, s.max_sim,
       |       (s.max_sim IS NULL OR s.max_sim < $SemTau) AS kept
       |FROM af LEFT JOIN sims s USING (vec_id)
       |ORDER BY af.vec_id""".stripMargin

  // ---------------------------------------------------------------- oracle --

  private val evSql =
    """ev AS (
      |  SELECT vec_id,
      |         unnest(generate_series(1, len(embedding))) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS e
      |  FROM embeddings
      |)""".stripMargin

  /** Identical hyperplane/band construction in DuckDB SQL: sign of the
    * exact-decimal projection per plane, fixed-width band substrings. */
  private val sigSql =
    s"""planes AS (SELECT unnest(generate_series(0, ${Planes - 1})) AS p),
       |proj AS (
       |  SELECT vec_id, p,
       |         ${sqlSum("(CASE WHEN substring(md5(CAST(p AS VARCHAR) || '_' || CAST(pos AS VARCHAR)), 1, 1) BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END) * e")} AS proj
       |  FROM ev, planes GROUP BY vec_id, p
       |),
       |sig AS (
       |  SELECT vec_id,
       |         string_agg(CASE WHEN proj >= 0 THEN '+' ELSE '-' END, '' ORDER BY p) AS sig
       |  FROM proj GROUP BY vec_id
       |),
       |bands AS (
       |  SELECT vec_id, b AS band, substring(sig, b * $BandWidth + 1, $BandWidth) AS bkey
       |  FROM sig, (SELECT unnest(generate_series(0, ${NBands - 1})) AS b) bi
       |)""".stripMargin

  /** The [[RankPlanes]]-plane rank signature in DuckDB SQL — the identical
    * construction as sigSql (sign of the exact-decimal projection per
    * plane), full width, for the Hamming-ranked pools. DuckDB's
    * `hamming()` counts mismatching chars of equal-length strings —
    * exactly [[graft.functions.HammingDist]]. */
  private val rsigSql =
    s"""rplanes AS (SELECT unnest(generate_series(0, ${RankPlanes - 1})) AS p),
       |rproj AS (
       |  SELECT vec_id, p,
       |         ${sqlSum("(CASE WHEN substring(md5(CAST(p AS VARCHAR) || '_' || CAST(pos AS VARCHAR)), 1, 1) BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END) * e")} AS proj
       |  FROM ev, rplanes GROUP BY vec_id, p
       |),
       |rsig AS (
       |  SELECT vec_id,
       |         string_agg(CASE WHEN proj >= 0 THEN '+' ELSE '-' END, '' ORDER BY p) AS sig
       |  FROM rproj GROUP BY vec_id
       |)""".stripMargin

  /** The k-means training unrolled as CTEs — textually the same math as
    * [[kmCentroids]]/[[kmAssign]] (exact sums, double division, identical
    * tie-breaks), c0 = lowest-id init, aᵢ/cᵢ per Lloyd round, `af` = final
    * assignment. */
  /** Trained-PQ oracle CTE chain (the per-subspace [[kmSql]]): `evm`
    * subspace-tags the exploded rows, `pc0` is the lowest-[[PqKs]]-id init,
    * each round is a min-L2 assignment (decimal-exact distances, ties →
    * lowest cid) + element-wise exact mean with empty codes carried
    * forward, `cb` is the final trained codebook and `codes` the corpus
    * assignment against it — mirroring [[pqTrainedCodebookOf]] +
    * [[pqCodeRowsOf]] round for round. */
  private def pqCbSql: String = {
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, m, cid FROM (
         |    SELECT t.vec_id, t.m, t.cid,
         |           row_number() OVER (PARTITION BY t.vec_id, t.m
         |                              ORDER BY t.dist, t.cid) AS rn
         |    FROM (
         |      SELECT evm.vec_id, evm.m, c.cid,
         |             ${sqlSum("(evm.e - c.ce) * (evm.e - c.ce)")} AS dist
         |      FROM evm JOIN $cents c ON evm.m = c.m AND evm.pos = c.pos
         |      GROUP BY evm.vec_id, evm.m, c.cid
         |    ) t
         |  ) r WHERE rn = 1
         |)""".stripMargin
    val init =
      s"""evm AS (SELECT vec_id, pos, e, (pos - 1) // $PqSubDim AS m FROM ev),
         |pc0 AS (
         |  SELECT ic.vec_id AS cid, evm.m, evm.pos, evm.e AS ce
         |  FROM evm JOIN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $PqKs) ic
         |    ON evm.vec_id = ic.vec_id
         |)""".stripMargin
    val rounds = (1 to PqIters).map { i =>
      s"""${assign(s"pa$i", s"pc${i - 1}")},
         |pc$i AS (
         |  SELECT p.cid, p.m, p.pos, coalesce(q.ce, p.ce) AS ce
         |  FROM pc${i - 1} p
         |  LEFT JOIN (
         |    SELECT a.cid, a.m, evm.pos, ${sqlAvg("evm.e")} AS ce
         |    FROM pa$i a JOIN evm ON a.vec_id = evm.vec_id AND a.m = evm.m
         |    GROUP BY a.cid, a.m, evm.pos
         |  ) q ON q.cid = p.cid AND q.m = p.m AND q.pos = p.pos
         |)""".stripMargin
    }
    (init +: rounds).mkString(",\n") + ",\n" +
      s"cb AS (SELECT cid, m, pos, ce FROM pc$PqIters),\n" +
      assign("codes", "cb")
  }

  private def kmSql: String = {
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT t.vec_id, t.cid,
         |           row_number() OVER (PARTITION BY t.vec_id ORDER BY t.cos DESC, t.cid) AS rn
         |    FROM (
         |      SELECT ev.vec_id, c.cid,
         |             ${sqlSum("ev.e * c.ce")} /
         |               (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("c.ce * c.ce")})) AS cos
         |      FROM ev JOIN $cents c USING (pos)
         |      GROUP BY ev.vec_id, c.cid
         |    ) t
         |  ) r WHERE rn = 1
         |)""".stripMargin
    val init =
      s"""c0 AS (
         |  SELECT ev.vec_id AS cid, ev.pos, ev.e AS ce
         |  FROM ev JOIN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $DefaultCells) ic
         |    ON ev.vec_id = ic.vec_id
         |)""".stripMargin
    val rounds = (1 to KmIters).map { i =>
      s"""${assign(s"a$i", s"c${i - 1}")},
         |c$i AS (
         |  SELECT p.cid, p.pos, coalesce(m.ce, p.ce) AS ce
         |  FROM c${i - 1} p
         |  LEFT JOIN (
         |    SELECT a.cid, ev.pos, ${sqlAvg("ev.e")} AS ce
         |    FROM a$i a JOIN ev ON a.vec_id = ev.vec_id
         |    GROUP BY a.cid, ev.pos
         |  ) m ON m.cid = p.cid AND m.pos = p.pos
         |)""".stripMargin
    }
    (init +: rounds).mkString(",\n") + ",\n" + assign("af", s"c$KmIters")
  }

  private val cosineSql =
    s"""probe AS (SELECT min(vec_id) AS pid FROM embeddings),
       |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
       |cos AS (
       |  SELECT ev.vec_id,
       |         ${sqlSum("ev.e * pv.pe")} /
       |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
       |  FROM ev JOIN pv USING (pos)
       |  GROUP BY ev.vec_id
       |)""".stripMargin

  /** ss9's pooled-pair → exact-cosine → per-query top-k tail, assuming a
    * `cand(qid, nid)` CTE — shared by the full oracle and the sampled sf1
    * variant so the two can never drift. */
  private def ss9TailSql: String =
    s"""pairs AS (
       |  SELECT c.qid, c.nid, a.pos, a.e AS e1, b.e AS e2
       |  FROM cand c
       |  JOIN ev a ON a.vec_id = c.qid
       |  JOIN ev b ON b.vec_id = c.nid AND b.pos = a.pos
       |),
       |agg AS (
       |  SELECT qid, nid,
       |         ${sqlSum("e1 * e2")} AS dot,
       |         sqrt(${sqlSum("e1 * e1")}) AS n1,
       |         sqrt(${sqlSum("e2 * e2")}) AS n2
       |  FROM pairs GROUP BY qid, nid
       |),
       |ranked AS (
       |  SELECT qid, nid, dot / (n1 * n2) AS cosine,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY dot / (n1 * n2) DESC, nid) AS rank
       |  FROM agg
       |)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, nid, cosine
       |FROM ranked WHERE rank <= $KnnK
       |ORDER BY qid, rank""".stripMargin

  /** The ss19b/ss22 md5-rank sampling hash over `vec_id`, as a SQL
    * expression — the shared deterministic-probe discipline. */
  private def md5RankSql: String = (1 to 8).map { i =>
    val pow = java.lang.Long.toString(1L << (4 * (8 - i)))
    s"(strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), $i, 1)) - 1) * $pow"
  }.mkString("(", " + ", ")")

  /** Probe count for ss9's SAMPLED sf1 oracle — bounds the oracle's
    * batch × corpus Hamming intermediate at [[KnnSampleN]] × n instead of
    * (n/10) × n. */
  private val KnnSampleN = 64

  /** SAMPLED oracle variants for cells whose FULL brute-force oracle
    * outgrows a single node (round-13 verdict item 2: ss9's sf1 DuckDB
    * intermediate is 131M rows and exhausts 100 GB RAM + 78 GB temp disk —
    * the engine side runs fine). Each entry is (spark-side filter SQL,
    * sampled oracle SQL): the check harness restricts the ENGINE dump to
    * the same fixed md5-sampled probe subset (the ss19b/ss22 discipline)
    * and compares it against an oracle that only computes those probes —
    * per-probe rows are identical to the full query's by construction
    * (the kNN of probe q reads nothing from other probes), so the sampled
    * cell verifies the same math at 1/156th the oracle footprint. Used
    * only at the sf1 rung; the driver's sf0.01 gate still runs the full
    * oracle. */
  def oracleSqlSampled: Map[String, (String, String)] = Map(
    "ss9_knn_join" -> ((
      s"""qid IN (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0
         |        ORDER BY $md5RankSql, vec_id LIMIT $KnnSampleN)""".stripMargin,
      s"""WITH $evSql,
         |$rsigSql,
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS pid FROM embeddings WHERE vec_id % 10 = 0
         |  ORDER BY $md5RankSql, vec_id LIMIT $KnnSampleN),
         |cand AS (
         |  SELECT qid, nid FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |           row_number() OVER (PARTITION BY a.vec_id
         |                              ORDER BY hamming(a.sig, b.sig), b.vec_id) AS pn
         |    FROM probes p JOIN rsig a ON a.vec_id = p.pid
         |    JOIN rsig b ON b.vec_id % 10 <> 0
         |  ) t WHERE pn <= $KnnPool
         |),
         |$ss9TailSql""".stripMargin)))

  def oracleSql: Map[String, String] = {
    val m = baseOracleSql
    // ss10 composes the two hash-green rankings verbatim as CTEs, re-ranks
    // each deterministically, and fuses — rank-only, so no new float math
    m + ("ss10_rank_fusion" ->
      s"""WITH r4 AS (${m("ss4_ivf_topk")}),
         |r6 AS (${m("ss6_sq_rerank")}),
         |k4 AS (SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rnk FROM r4),
         |k6 AS (SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rnk FROM r6)
         |SELECT COALESCE(k4.vec_id, k6.vec_id) AS vec_id,
         |       COALESCE(CAST(1.0 AS DOUBLE) / (60 + k4.rnk), 0.0)
         |         + COALESCE(CAST(1.0 AS DOUBLE) / (60 + k6.rnk), 0.0) AS rrf
         |FROM k4 FULL OUTER JOIN k6 ON k4.vec_id = k6.vec_id
         |ORDER BY rrf DESC, vec_id LIMIT $TopK""".stripMargin) +
    // ss14 composes the hash-green ss2 ranking verbatim as a CTE with the
    // posting-index lexical ranking (integer df weights), then the ss10
    // rank-only fusion
    ("ss14_hybrid_search" -> {
      val wsTok = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> len(t) > 0)"
      s"""WITH vecq AS (${baseOracleSql("ss2_lsh_topk")}),
         |p AS (SELECT min(vec_id) AS pid FROM embeddings),
         |post AS (
         |  SELECT DISTINCT doc_id, t
         |  FROM (SELECT doc_id, unnest($wsTok) AS t FROM documents) u),
         |nd AS (SELECT COUNT(*) AS n FROM documents),
         |pt AS (SELECT DISTINCT t FROM post, p WHERE doc_id = pid),
         |dft AS (
         |  SELECT t, COUNT(*) AS df FROM post JOIN pt USING (t) GROUP BY t),
         |lex AS (
         |  SELECT post.doc_id, CAST(SUM(n - df) AS BIGINT) AS lscore
         |  FROM post JOIN pt USING (t) JOIN dft USING (t), nd, p
         |  WHERE post.doc_id <> pid
         |  GROUP BY post.doc_id
         |  ORDER BY lscore DESC, doc_id LIMIT $TopK),
         |kl AS (SELECT doc_id, row_number() OVER (ORDER BY lscore DESC, doc_id) AS rnk FROM lex),
         |kv AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rnk FROM vecq)
         |SELECT COALESCE(kl.doc_id, kv.doc_id) AS doc_id,
         |       COALESCE(CAST(1.0 AS DOUBLE) / (60 + kl.rnk), 0.0)
         |         + COALESCE(CAST(1.0 AS DOUBLE) / (60 + kv.rnk), 0.0) AS rrf
         |FROM kl FULL OUTER JOIN kv ON kl.doc_id = kv.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT $TopK""".stripMargin
    })
  }

  private def baseOracleSql: Map[String, String] = Map(
    // ss4's cell CTEs + ss7's ADC CTEs, with the ADC scan restricted to
    // vectors assigned to the probed cells (ccel = cell id, codeword CTEs
    // keep ss7's cid) — identical composition to the engine
    "ss12_ivfpq_topk" ->
      s"""WITH $evSql,
         |cents AS (SELECT vec_id AS ccel FROM embeddings ORDER BY vec_id LIMIT $DefaultCells),
         |cev AS (SELECT ccel, pos, e AS ce FROM ev JOIN cents ON ev.vec_id = ccel),
         |ccos AS (
         |  SELECT ev.vec_id, cev.ccel,
         |         ${sqlSum("ev.e * cev.ce")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("cev.ce * cev.ce")})) AS ccos
         |  FROM ev JOIN cev USING (pos)
         |  GROUP BY ev.vec_id, cev.ccel
         |),
         |assign AS (
         |  SELECT vec_id, ccel FROM (
         |    SELECT vec_id, ccel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, ccel) AS rn
         |    FROM ccos) t
         |  WHERE rn = 1
         |),
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |pcells AS (
         |  SELECT ccel FROM ccos, probe WHERE vec_id = pid
         |  ORDER BY ccos DESC, ccel LIMIT $DefaultNProbe
         |),
         |$pqCbSql,
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |nrm AS (SELECT vec_id, ${sqlSum("e * e")} AS nsq FROM ev GROUP BY vec_id),
         |pn AS (SELECT nsq AS pnsq FROM nrm, probe WHERE vec_id = pid),
         |lut AS (
         |  SELECT cb.m, cb.cid, ${sqlSum("cb.ce * pv.pe")} AS dotp
         |  FROM cb JOIN pv USING (pos) GROUP BY cb.m, cb.cid
         |),
         |adot AS (
         |  SELECT codes.vec_id, ${sqlSum("lut.dotp")} AS adot
         |  FROM codes
         |  JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
         |  JOIN assign ON assign.vec_id = codes.vec_id
         |  WHERE assign.ccel IN (SELECT ccel FROM pcells)
         |  GROUP BY codes.vec_id
         |),
         |approx AS (
         |  SELECT a.vec_id, a.adot / (sqrt(n1.nsq) * sqrt(pn.pnsq)) AS approx
         |  FROM adot a JOIN nrm n1 ON n1.vec_id = a.vec_id, pn, probe
         |  WHERE a.vec_id <> probe.pid
         |  ORDER BY approx DESC, a.vec_id LIMIT $PqRerank
         |),
         |cos AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev
         |  JOIN approx ON ev.vec_id = approx.vec_id
         |  JOIN pv USING (pos)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id LIMIT $TopK""".stripMargin,
    // identical construction: Hamming prefilter at the derived admission
    // bound over the rank signatures, exact cosine >= radius on survivors
    "ss11_range_search" ->
      s"""WITH $evSql,
         |$rsigSql,
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |psig AS (SELECT sig AS ps FROM rsig, probe WHERE vec_id = pid),
         |cand AS (
         |  SELECT r.vec_id
         |  FROM rsig r, psig, probe
         |  WHERE r.vec_id <> pid AND hamming(r.sig, ps) <= $RangeHamMax
         |),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |cos AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev
         |  JOIN cand ON ev.vec_id = cand.vec_id
         |  JOIN pv USING (pos)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, cosine FROM cos WHERE cosine >= $RangeTau
         |ORDER BY cosine DESC, vec_id""".stripMargin,
    "ss1_cosine_topk" ->
      s"""WITH $evSql,
         |$cosineSql
         |SELECT vec_id, cosine FROM cos, probe WHERE vec_id <> pid
         |ORDER BY cosine DESC, vec_id LIMIT $TopK""".stripMargin,
    // identical Hamming-pool construction: rank by hamming(sig, probe sig)
    // with (ham, vec_id) ties, pool of HamPool, exact cosine on the pool
    // ss2's pool-then-rerank with the probe-label predicate applied BELOW
    // candidate generation (pre-filter semantics): the pool CTE draws only
    // from label-matching vectors, the rerank inherits the restriction
    "ss13_filtered_topk" ->
      s"""WITH $evSql,
         |$rsigSql,
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |plab AS (SELECT label AS pl FROM embeddings, probe WHERE vec_id = pid),
         |psig AS (SELECT sig AS ps FROM rsig, probe WHERE vec_id = pid),
         |pool AS (
         |  SELECT r.vec_id
         |  FROM rsig r
         |  JOIN embeddings emb ON emb.vec_id = r.vec_id, psig, probe, plab
         |  WHERE r.vec_id <> pid AND emb.label = plab.pl
         |  ORDER BY hamming(r.sig, ps), r.vec_id LIMIT $HamPool
         |),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |cos AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev
         |  JOIN pool ON ev.vec_id = pool.vec_id
         |  JOIN pv USING (pos)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id LIMIT $TopK""".stripMargin,
    "ss2_lsh_topk" ->
      s"""WITH $evSql,
         |$rsigSql,
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |psig AS (SELECT sig AS ps FROM rsig, probe WHERE vec_id = pid),
         |pool AS (
         |  SELECT r.vec_id
         |  FROM rsig r, psig, probe WHERE r.vec_id <> pid
         |  ORDER BY hamming(r.sig, ps), r.vec_id LIMIT $HamPool
         |),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |cos AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev
         |  JOIN pool ON ev.vec_id = pool.vec_id
         |  JOIN pv USING (pos)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id LIMIT $TopK""".stripMargin,
    // ss17: the MmrK greedy MMR rounds UNROLLED as CTEs (the tx12/g04
    // discipline) — pool and rel are ss2's hash-green construction, the
    // pairwise sims the same exact-cosine formulation, every round's
    // argmax the identical (mmr DESC, vec_id) total order. sel CTEs are
    // MATERIALIZED: each is referenced twice per later round (NOT IN +
    // max-sim join), the g02 inlining-explosion lesson.
    "ss17_mmr_rerank" -> {
      val rounds = (2 to MmrK).map { i =>
        s""",
           |cand$i AS (
           |  SELECT p.vec_id, p.rel,
           |         (SELECT MAX(ps.sim) FROM psim ps JOIN sel${i - 1} s2 ON ps.vb = s2.vec_id
           |          WHERE ps.va = p.vec_id) AS max_sim
           |  FROM prel p
           |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})),
           |pick$i AS (
           |  SELECT vec_id, rel, max_sim,
           |         0.5e0 * rel - 0.5e0 * max_sim AS mmr, $i AS mmr_rank
           |  FROM cand$i ORDER BY mmr DESC, vec_id LIMIT 1),
           |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin
      }.mkString
      s"""WITH $evSql,
         |$rsigSql,
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |psig AS (SELECT sig AS ps FROM rsig, probe WHERE vec_id = pid),
         |pool AS (
         |  SELECT r.vec_id
         |  FROM rsig r, psig, probe WHERE r.vec_id <> pid
         |  ORDER BY hamming(r.sig, ps), r.vec_id LIMIT $HamPool),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |cosp AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS rel
         |  FROM ev
         |  JOIN pool ON ev.vec_id = pool.vec_id
         |  JOIN pv USING (pos)
         |  GROUP BY ev.vec_id),
         |prel AS MATERIALIZED (
         |  SELECT vec_id, rel FROM cosp ORDER BY rel DESC, vec_id LIMIT $MmrPool),
         |pe AS MATERIALIZED (SELECT ev.vec_id, ev.pos, ev.e FROM ev JOIN prel USING (vec_id)),
         |psim AS MATERIALIZED (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |         ${sqlSum("a.e * b.e")} /
         |           (sqrt(${sqlSum("a.e * a.e")}) * sqrt(${sqlSum("b.e * b.e")})) AS sim
         |  FROM pe a JOIN pe b ON a.pos = b.pos AND a.vec_id <> b.vec_id
         |  GROUP BY a.vec_id, b.vec_id),
         |sel1 AS MATERIALIZED (
         |  SELECT vec_id, rel, 0.0e0 AS max_sim,
         |         0.5e0 * rel - 0.5e0 * 0.0e0 AS mmr, 1 AS mmr_rank
         |  FROM prel ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin + rounds +
        s"""
           |SELECT mmr_rank, vec_id, rel, max_sim, mmr FROM sel$MmrK
           |ORDER BY mmr_rank""".stripMargin
    },
    // ss19: the exact top-k once (the ss1 cos construction), then per pool
    // width the ss2 pool + rerank and an intersection count — every CTE
    // referenced per pool is MATERIALIZED (the g02 inlining lesson)
    "ss19_ann_pareto" -> {
      val perPool = ParetoPools.map { p =>
        s""",
           |pool$p AS (
           |  SELECT r.vec_id
           |  FROM rsig r, psig, probe WHERE r.vec_id <> pid
           |  ORDER BY hamming(r.sig, ps), r.vec_id LIMIT $p),
           |rr$p AS (
           |  SELECT c.vec_id FROM cosall c JOIN pool$p USING (vec_id)
           |  ORDER BY c.cosine DESC, c.vec_id LIMIT $TopK),
           |h$p AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n
           |  FROM rr$p JOIN exact USING (vec_id))""".stripMargin
      }.mkString
      val union = ParetoPools.map { p =>
        s"""SELECT $p AS pool, h$p.n AS n_hits,
           |       CAST(h$p.n AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
           |FROM h$p""".stripMargin
      }.mkString("\n|UNION ALL\n|".stripMargin)
      s"""WITH $evSql,
         |$rsigSql,
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |psig AS (SELECT sig AS ps FROM rsig, probe WHERE vec_id = pid),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |cosall AS MATERIALIZED (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev JOIN pv USING (pos)
         |  GROUP BY ev.vec_id),
         |exact AS MATERIALIZED (
         |  SELECT vec_id FROM cosall, probe WHERE vec_id <> pid
         |  ORDER BY cosine DESC, vec_id LIMIT $TopK)""".stripMargin + perPool +
        s"""
           |SELECT pool, n_hits, recall FROM (
           |$union
           |) z ORDER BY pool""".stripMargin
    },
    // ss19b: hash-sampled probe set (smallest md5 prefixes), per-probe
    // exact ranks and Hamming pool ranks via windows, ss2's rerank per
    // pool width, micro-averaged hits — the engine's two-phase top-K
    // prune is invisible here (any per-bucket top-k prune preserves the
    // global top-k), so the oracle ranks directly
    "ss19b_pareto_sampled" -> {
      val h = (1 to 8).map { i =>
        val pow = java.lang.Long.toString(1L << (4 * (8 - i)))
        s"(strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), $i, 1)) - 1) * $pow"
      }.mkString("(", " + ", ")")
      val perPool = ParetoPools.map { p =>
        s""",
           |rr$p AS (
           |  SELECT pid, vec_id FROM (
           |    SELECT c.pid, c.vec_id,
           |           row_number() OVER (PARTITION BY c.pid
           |                              ORDER BY c.cosine DESC, c.vec_id) AS rrk
           |    FROM cosall c JOIN hamall hm
           |      ON hm.pid = c.pid AND hm.vec_id = c.vec_id AND hm.pr <= $p) t
           |  WHERE rrk <= $TopK),
           |h$p AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS nh
           |  FROM rr$p JOIN exact USING (pid, vec_id))""".stripMargin
      }.mkString
      val union = ParetoPools.map { p =>
        s"""SELECT $p AS pool, CAST(np.n AS BIGINT) AS n_probes, h$p.nh AS n_hits,
           |       CAST(h$p.nh AS DOUBLE) / CAST(np.n * $TopK AS DOUBLE) AS recall
           |FROM h$p, np""".stripMargin
      }.mkString("\n|UNION ALL\n|".stripMargin)
      s"""WITH $evSql,
         |$rsigSql,
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS pid FROM embeddings ORDER BY $h, vec_id LIMIT $ParetoSampleN),
         |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM probes),
         |psig AS (SELECT p.pid, r.sig AS ps FROM probes p JOIN rsig r ON r.vec_id = p.pid),
         |pev AS (SELECT p.pid, ev.pos, ev.e AS pe FROM probes p JOIN ev ON ev.vec_id = p.pid),
         |cosall AS MATERIALIZED (
         |  SELECT pev.pid, ev.vec_id,
         |         ${sqlSum("ev.e * pev.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pev.pe * pev.pe")})) AS cosine
         |  FROM ev JOIN pev USING (pos)
         |  WHERE ev.vec_id <> pev.pid
         |  GROUP BY pev.pid, ev.vec_id),
         |hamall AS MATERIALIZED (
         |  SELECT s.pid, r.vec_id,
         |         row_number() OVER (PARTITION BY s.pid
         |                            ORDER BY hamming(r.sig, s.ps), r.vec_id) AS pr
         |  FROM rsig r JOIN psig s ON r.vec_id <> s.pid),
         |exact AS MATERIALIZED (
         |  SELECT pid, vec_id FROM (
         |    SELECT pid, vec_id,
         |           row_number() OVER (PARTITION BY pid ORDER BY cosine DESC, vec_id) AS xr
         |    FROM cosall) t
         |  WHERE xr <= $TopK)""".stripMargin + perPool +
        s"""
           |SELECT pool, n_probes, n_hits, recall FROM (
           |$union
           |) z ORDER BY pool""".stripMargin
    },
    // ss22: the quantizer retrains via the kmSql Lloyd CTEs, the probe's
    // cell ranking re-derives against the trained centroids, and each
    // sweep value re-ranks the cell-admitted candidates directly (the
    // engine's two-phase prune must be value-identical)
    "ss22_nprobe_sweep" -> {
      val h = (1 to 8).map { i =>
        val pow = java.lang.Long.toString(1L << (4 * (8 - i)))
        s"(strpos('0123456789abcdef', substring(md5(CAST(vec_id AS VARCHAR)), $i, 1)) - 1) * $pow"
      }.mkString("(", " + ", ")")
      val perNp = NProbeSweep.map { v =>
        s""",
           |rr$v AS (
           |  SELECT pid, vec_id FROM (
           |    SELECT c.pid, c.vec_id,
           |           row_number() OVER (PARTITION BY c.pid
           |                              ORDER BY c.cosine DESC, c.vec_id) AS rk
           |    FROM cand c WHERE c.crk <= $v) t
           |  WHERE rk <= $TopK),
           |h$v AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS nh
           |  FROM rr$v JOIN exact USING (pid, vec_id))""".stripMargin
      }.mkString
      val union = NProbeSweep.map { v =>
        s"""SELECT $v AS np, CAST(npr.n AS BIGINT) AS n_probes, h$v.nh AS n_hits,
           |       CAST(h$v.nh AS DOUBLE) / CAST(npr.n * $TopK AS DOUBLE) AS recall
           |FROM h$v, npr""".stripMargin
      }.mkString("\n|UNION ALL\n|".stripMargin)
      s"""WITH $evSql,
         |$kmSql,
         |probes AS MATERIALIZED (
         |  SELECT vec_id AS pid FROM embeddings ORDER BY $h, vec_id LIMIT $ParetoSampleN),
         |npr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM probes),
         |pev AS (SELECT p.pid, ev.pos, ev.e AS pe FROM probes p JOIN ev ON ev.vec_id = p.pid),
         |cosall AS MATERIALIZED (
         |  SELECT pev.pid, ev.vec_id,
         |         ${sqlSum("ev.e * pev.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pev.pe * pev.pe")})) AS cosine
         |  FROM ev JOIN pev USING (pos)
         |  WHERE ev.vec_id <> pev.pid
         |  GROUP BY pev.pid, ev.vec_id),
         |exact AS MATERIALIZED (
         |  SELECT pid, vec_id FROM (
         |    SELECT pid, vec_id,
         |           row_number() OVER (PARTITION BY pid ORDER BY cosine DESC, vec_id) AS xr
         |    FROM cosall) t
         |  WHERE xr <= $TopK),
         |crk AS MATERIALIZED (
         |  SELECT pid, cid,
         |         row_number() OVER (PARTITION BY pid ORDER BY ccos DESC, cid) AS crk
         |  FROM (
         |    SELECT pev.pid, c.cid,
         |           ${sqlSum("pev.pe * c.ce")} /
         |             (sqrt(${sqlSum("pev.pe * pev.pe")}) * sqrt(${sqlSum("c.ce * c.ce")})) AS ccos
         |    FROM c$KmIters c JOIN pev USING (pos)
         |    GROUP BY pev.pid, c.cid) t),
         |cand AS MATERIALIZED (
         |  SELECT c.pid, c.vec_id, c.cosine, k.crk
         |  FROM cosall c
         |  JOIN af ON af.vec_id = c.vec_id
         |  JOIN crk k ON k.pid = c.pid AND k.cid = af.cid)""".stripMargin + perNp +
        s"""
           |SELECT np, n_probes, n_hits, recall FROM (
           |$union
           |) z ORDER BY np""".stripMargin
    },
    "ss4_ivf_topk" ->
      s"""WITH $evSql,
         |cents AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT $DefaultCells),
         |cev AS (SELECT cid, pos, e AS ce FROM ev JOIN cents ON ev.vec_id = cid),
         |ccos AS (
         |  SELECT ev.vec_id, cev.cid,
         |         ${sqlSum("ev.e * cev.ce")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("cev.ce * cev.ce")})) AS ccos
         |  FROM ev JOIN cev USING (pos)
         |  GROUP BY ev.vec_id, cev.cid
         |),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |    FROM ccos) t
         |  WHERE rn = 1
         |),
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |pcells AS (
         |  SELECT cid FROM ccos, probe WHERE vec_id = pid
         |  ORDER BY ccos DESC, cid LIMIT $DefaultNProbe
         |),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |cos AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev
         |  JOIN assign ON ev.vec_id = assign.vec_id
         |  JOIN pv USING (pos)
         |  WHERE assign.cid IN (SELECT cid FROM pcells)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, cosine FROM cos, probe WHERE vec_id <> pid
         |ORDER BY cosine DESC, vec_id LIMIT $TopK""".stripMargin,
    "ss5_ivf_kmeans" ->
      s"""WITH $evSql,
         |$kmSql,
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |pcells AS (
         |  SELECT cid FROM (
         |    SELECT c.cid,
         |           ${sqlSum("c.ce * pv.pe")} /
         |             (sqrt(${sqlSum("c.ce * c.ce")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS ccos
         |    FROM c$KmIters c JOIN pv USING (pos)
         |    GROUP BY c.cid
         |  ) z ORDER BY ccos DESC, cid LIMIT $DefaultNProbe
         |),
         |cos AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev
         |  JOIN af ON ev.vec_id = af.vec_id
         |  JOIN pv USING (pos)
         |  WHERE af.cid IN (SELECT cid FROM pcells)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, cosine FROM cos, probe WHERE vec_id <> pid
         |ORDER BY cosine DESC, vec_id LIMIT $TopK""".stripMargin,
    // ss16: retrain the quantizer in SQL (ss5's chain) and recount its
    // final assignment — integers + one division per row
    "ss16_cell_profile" ->
      s"""WITH $evSql,
         |$kmSql,
         |occ AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM af GROUP BY cid),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS n FROM occ)
         |SELECT cid, n_vecs,
         |       CAST(n_vecs AS DOUBLE) / tot.n AS share,
         |       n_vecs * (n_vecs - 1) // 2 AS cell_pairs
         |FROM occ, tot ORDER BY cid""".stripMargin,
    // identical quantization math: scale = max |e|, q = floor(e·127/scale
    // + 0.5), integer dot exact, one fixed double-rescale operation order
    // ss18: ss6's quantization CTEs, turned inward — the mixed e·(q/128)
    // dot through the sqlSum decimal mirror (q/128 is an exact double;
    // the 1/128 rescale keeps term magnitudes in the proven e·e decimal-
    // rounding class — see the Spark-side doc), the integer code norm
    // scaled by the exact 2⁻¹⁴ before its sqrt
    "ss18_sq_fidelity" ->
      s"""WITH $evSql,
         |sc AS (SELECT vec_id, MAX(abs(e)) AS scale FROM ev GROUP BY vec_id),
         |qv AS (
         |  SELECT ev.vec_id, ev.pos,
         |         CASE WHEN sc.scale > 0
         |              THEN CAST(floor(ev.e * 127.0 / sc.scale + 0.5) AS BIGINT)
         |              ELSE 0 END AS q
         |  FROM ev JOIN sc USING (vec_id)
         |),
         |nrm AS (SELECT vec_id, ${sqlSum("e * e")} AS nsq FROM ev GROUP BY vec_id),
         |qn AS (SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS q_nsq FROM qv GROUP BY vec_id),
         |dq AS (
         |  SELECT qv.vec_id, ${sqlSum("ev.e * (qv.q / 128.0)")} AS dot
         |  FROM ev JOIN qv USING (vec_id, pos) GROUP BY qv.vec_id
         |)
         |SELECT sc.vec_id, sc.scale, qn.q_nsq,
         |       CASE WHEN sc.scale > 0
         |            THEN dq.dot / (sqrt(nrm.nsq)
         |                           * sqrt(CAST(qn.q_nsq AS DOUBLE) / 16384.0))
         |            ELSE 1.0e0 END AS sq_cos
         |FROM sc
         |JOIN qn USING (vec_id)
         |JOIN dq USING (vec_id)
         |JOIN nrm USING (vec_id)
         |ORDER BY sc.vec_id""".stripMargin,
    "ss6_sq_rerank" ->
      s"""WITH $evSql,
         |sc AS (SELECT vec_id, MAX(abs(e)) AS scale FROM ev GROUP BY vec_id),
         |qv AS (
         |  SELECT ev.vec_id, ev.pos,
         |         CASE WHEN sc.scale > 0
         |              THEN CAST(floor(ev.e * 127.0 / sc.scale + 0.5) AS BIGINT)
         |              ELSE 0 END AS q
         |  FROM ev JOIN sc USING (vec_id)
         |),
         |nrm AS (SELECT vec_id, ${sqlSum("e * e")} AS nsq FROM ev GROUP BY vec_id),
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |pq AS (SELECT pos, q AS pqv FROM qv, probe WHERE vec_id = pid),
         |psc AS (SELECT scale AS pscale FROM sc, probe WHERE vec_id = pid),
         |pn AS (SELECT nsq AS pnsq FROM nrm, probe WHERE vec_id = pid),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |dq AS (
         |  SELECT qv.vec_id, CAST(SUM(qv.q * pq.pqv) AS BIGINT) AS dotq
         |  FROM qv JOIN pq USING (pos) GROUP BY qv.vec_id
         |),
         |approx AS (
         |  SELECT d.vec_id,
         |         sc.scale * psc.pscale * CAST(d.dotq AS DOUBLE) / 16129.0
         |           / (sqrt(n1.nsq) * sqrt(pn.pnsq)) AS approx
         |  FROM dq d
         |  JOIN sc ON sc.vec_id = d.vec_id
         |  JOIN nrm n1 ON n1.vec_id = d.vec_id, psc, pn, probe
         |  WHERE d.vec_id <> probe.pid
         |  ORDER BY approx DESC, d.vec_id LIMIT $SqRerank
         |),
         |cos AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev
         |  JOIN approx ON ev.vec_id = approx.vec_id
         |  JOIN pv USING (pos)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id LIMIT $TopK""".stripMargin,
    // ss6's quantization CTEs minus every norm division: approx = rescaled
    // integer code dot, final score = the exact decimal dot
    "ss8_mips" ->
      s"""WITH $evSql,
         |sc AS (SELECT vec_id, MAX(abs(e)) AS scale FROM ev GROUP BY vec_id),
         |qv AS (
         |  SELECT ev.vec_id, ev.pos,
         |         CASE WHEN sc.scale > 0
         |              THEN CAST(floor(ev.e * 127.0 / sc.scale + 0.5) AS BIGINT)
         |              ELSE 0 END AS q
         |  FROM ev JOIN sc USING (vec_id)
         |),
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |pq AS (SELECT pos, q AS pqv FROM qv, probe WHERE vec_id = pid),
         |psc AS (SELECT scale AS pscale FROM sc, probe WHERE vec_id = pid),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |dq AS (
         |  SELECT qv.vec_id, CAST(SUM(qv.q * pq.pqv) AS BIGINT) AS dotq
         |  FROM qv JOIN pq USING (pos) GROUP BY qv.vec_id
         |),
         |approx AS (
         |  SELECT d.vec_id,
         |         sc.scale * psc.pscale * CAST(d.dotq AS DOUBLE) / 16129.0 AS approx
         |  FROM dq d JOIN sc ON sc.vec_id = d.vec_id, psc, probe
         |  WHERE d.vec_id <> probe.pid
         |  ORDER BY approx DESC, d.vec_id LIMIT $SqRerank
         |),
         |dots AS (
         |  SELECT ev.vec_id, ${sqlSum("ev.e * pv.pe")} AS dot
         |  FROM ev
         |  JOIN approx ON ev.vec_id = approx.vec_id
         |  JOIN pv USING (pos)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, dot FROM dots
         |ORDER BY dot DESC, vec_id LIMIT $TopK""".stripMargin,
    // identical PQ construction: subspace m = (pos-1)//SubDim, codebook
    // TRAINED by the unrolled per-subspace Lloyd rounds (pqCbSql — init,
    // min-L2 assignment with decimal-exact dist and ties -> lowest cid,
    // exact-mean update), ADC lookup summed decimal-exact, true-norm
    // normalization, exact rerank of the top pool
    "ss7_pq_topk" ->
      s"""WITH $evSql,
         |$pqCbSql,
         |probe AS (SELECT min(vec_id) AS pid FROM embeddings),
         |pv AS (SELECT pos, e AS pe FROM ev, probe WHERE vec_id = pid),
         |nrm AS (SELECT vec_id, ${sqlSum("e * e")} AS nsq FROM ev GROUP BY vec_id),
         |pn AS (SELECT nsq AS pnsq FROM nrm, probe WHERE vec_id = pid),
         |lut AS (
         |  SELECT cb.m, cb.cid, ${sqlSum("cb.ce * pv.pe")} AS dotp
         |  FROM cb JOIN pv USING (pos) GROUP BY cb.m, cb.cid
         |),
         |adot AS (
         |  SELECT codes.vec_id, ${sqlSum("lut.dotp")} AS adot
         |  FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
         |  GROUP BY codes.vec_id
         |),
         |approx AS (
         |  SELECT a.vec_id, a.adot / (sqrt(n1.nsq) * sqrt(pn.pnsq)) AS approx
         |  FROM adot a JOIN nrm n1 ON n1.vec_id = a.vec_id, pn, probe
         |  WHERE a.vec_id <> probe.pid
         |  ORDER BY approx DESC, a.vec_id LIMIT $PqRerank
         |),
         |cos AS (
         |  SELECT ev.vec_id,
         |         ${sqlSum("ev.e * pv.pe")} /
         |           (sqrt(${sqlSum("ev.e * ev.e")}) * sqrt(${sqlSum("pv.pe * pv.pe")})) AS cosine
         |  FROM ev
         |  JOIN approx ON ev.vec_id = approx.vec_id
         |  JOIN pv USING (pos)
         |  GROUP BY ev.vec_id
         |)
         |SELECT vec_id, cosine FROM cos
         |ORDER BY cosine DESC, vec_id LIMIT $TopK""".stripMargin,
    "ss3_embed_neardup" ->
      s"""WITH $evSql,
         |$sigSql,
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
         |),
         |pairs AS (
         |  SELECT c.v1, c.v2, a.pos, a.e AS e1, b.e AS e2
         |  FROM cand c
         |  JOIN ev a ON a.vec_id = c.v1
         |  JOIN ev b ON b.vec_id = c.v2 AND b.pos = a.pos
         |),
         |agg AS (
         |  SELECT v1, v2,
         |         ${sqlSum("e1 * e2")} AS dot,
         |         sqrt(${sqlSum("e1 * e1")}) AS n1,
         |         sqrt(${sqlSum("e2 * e2")}) AS n2
         |  FROM pairs GROUP BY v1, v2
         |)
         |SELECT v1, v2, dot / (n1 * n2) AS cosine FROM agg
         |WHERE dot / (n1 * n2) >= $Tau
         |ORDER BY v1, v2""".stripMargin,
    // ss15: ss9's batch × corpus sig pairing with ss11's static Hamming
    // admission instead of a pool window, exact cosine + radius on the
    // admitted pairs
    "ss15_range_join" ->
      s"""WITH $evSql,
         |$rsigSql,
         |cand AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid
         |  FROM rsig a JOIN rsig b
         |    ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
         |  WHERE hamming(a.sig, b.sig) <= $RangeHamMax
         |),
         |pairs AS (
         |  SELECT c.qid, c.nid, a.pos, a.e AS e1, b.e AS e2
         |  FROM cand c
         |  JOIN ev a ON a.vec_id = c.qid
         |  JOIN ev b ON b.vec_id = c.nid AND b.pos = a.pos
         |),
         |agg AS (
         |  SELECT qid, nid,
         |         ${sqlSum("e1 * e2")} AS dot,
         |         sqrt(${sqlSum("e1 * e1")}) AS n1,
         |         sqrt(${sqlSum("e2 * e2")}) AS n2
         |  FROM pairs GROUP BY qid, nid
         |)
         |SELECT qid, nid, dot / (n1 * n2) AS cosine
         |FROM agg WHERE dot / (n1 * n2) >= $RangeTau
         |ORDER BY qid, nid""".stripMargin,
    // ss9's oracle: identical per-query Hamming pool (hamming over the
    // rank signature, (ham, nid) ties, KnnPool cut), exact cosine on the
    // pooled pairs, per-query row_number top-k — the same double values
    // as the engine (decimal-exact dot, double sqrt norms), so the ranking
    // hash-matches
    "ss9_knn_join" ->
      s"""WITH $evSql,
         |$rsigSql,
         |cand AS (
         |  SELECT qid, nid FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS nid,
         |           row_number() OVER (PARTITION BY a.vec_id
         |                              ORDER BY hamming(a.sig, b.sig), b.vec_id) AS pn
         |    FROM rsig a JOIN rsig b
         |      ON a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
         |  ) t WHERE pn <= $KnnPool
         |),
         |$ss9TailSql""".stripMargin,
    // ss20: the three-family recompute — quantizer retrained in SQL
    // (ss16's kmSql → af), dup clusters re-derived from raw (dd17's
    // dd6Sql), the gate re-scored (p01's construction via gateSql) — then
    // the same id-keyed joins and cells-bounded rollup, integers + one
    // division per ratio
    "ss20_cell_curation" ->
      s"""WITH $evSql,
         |$kmSql,
         |clusters AS (
         |${DedupQueries.dd6Sql}
         |),
         |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
         |       FROM clusters GROUP BY cluster_id),
         |dup AS (SELECT clusters.doc_id, (cs.sz >= 2) AS is_dup
         |        FROM clusters JOIN cs USING (cluster_id)),
         |${PipelineQueries.gateSql},
         |m AS (
         |  SELECT af.cid, d.n_chars, dup.is_dup, gate.kept
         |  FROM af
         |  JOIN documents d ON d.doc_id = af.vec_id
         |  JOIN dup ON dup.doc_id = af.vec_id
         |  JOIN gate ON gate.doc_id = af.vec_id),
         |per AS (
         |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |  FROM m GROUP BY cid),
         |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM per)
         |SELECT cid, n_docs,
         |       CAST(n_docs AS DOUBLE) / tot.n AS share,
         |       n_dup_docs, CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_frac,
         |       n_kept, CAST(n_kept AS DOUBLE) / n_docs AS kept_frac,
         |       total_chars, CAST(total_chars AS DOUBLE) / n_docs AS mean_chars
         |FROM per, tot ORDER BY cid""".stripMargin,
    // ss21: the codebook re-trains via ss7's unrolled Lloyd CTEs (pqCbSql
    // — cb + codes), the reconstruction rows re-derive by the same
    // (m, cid) → (pos, ce) lookup, and every sum is the same decimal-exact
    // fold — the CASE guard mirrors the engine's degenerate-vector rule
    "ss21_pq_fidelity" ->
      s"""WITH $evSql,
         |$pqCbSql,
         |nrm AS (SELECT vec_id, ${sqlSum("e * e")} AS nsq FROM ev GROUP BY vec_id),
         |rec AS (
         |  SELECT codes.vec_id, cb.pos, cb.ce
         |  FROM codes JOIN cb ON cb.m = codes.m AND cb.cid = codes.cid
         |),
         |agg AS (
         |  SELECT r.vec_id,
         |         ${sqlSum("r.ce * ev.e")} AS dotr,
         |         ${sqlSum("r.ce * r.ce")} AS rnsq
         |  FROM rec r JOIN ev ON ev.vec_id = r.vec_id AND ev.pos = r.pos
         |  GROUP BY r.vec_id
         |)
         |SELECT a.vec_id, a.rnsq,
         |       CASE WHEN n.nsq > 0 AND a.rnsq > 0
         |              THEN a.dotr / (sqrt(n.nsq) * sqrt(a.rnsq))
         |            WHEN n.nsq = 0 AND a.rnsq = 0 THEN 1.0
         |            ELSE 0.0 END AS pq_cos
         |FROM agg a JOIN nrm n USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin)
}
