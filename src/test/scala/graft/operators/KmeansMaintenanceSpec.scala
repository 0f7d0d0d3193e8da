package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.build.{DerivedCache, DocTables}
import graft.sources.Tables

/** Trained-quantizer (ss5) incremental maintenance — the last index family
  * that was still on unconditional periodic rebuild (round-7 verdict,
  * "What's missing" item 2). The contract mirrors the dd7 prefix family:
  *
  *  - under the growth trigger, a batch append assigns the NEW vectors
  *    against the FROZEN trained centroids (stale centroids cost recall,
  *    never correctness: every stored assignment is exact w.r.t. the
  *    quantizer it names) and the centroid/meta tables stay untouched;
  *  - past 50% corpus growth ([[Drift]]) since
  *    the training snapshot, the next append retrains — and
  *    append-then-retrain equals a fresh full rebuild bit-for-bit
  *    (deterministic Lloyd: lowest-id init unchanged under monotone
  *    appends, decimal-exact means). */
class KmeansMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private val nc = SimilarityQueries.DefaultCells

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Day-0 at-rest builds over an explicit base frame under a fresh
    * corpus key — the shared ingest entry point. */
  private def day0(d: String, base: DataFrame): Unit =
    SimilarityQueries.buildEmbeddingIndexes(spark, d, base)

  private def emb: DataFrame =
    Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")

  test("under-growth append: frozen centroids, exact batch assignments") {
    val d = s"/km-maint-spec/${java.util.UUID.randomUUID()}"
    val ids = emb.select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0))
    assert(ids.length > nc * 2, "corpus too small for a meaningful split")
    // delta = ~20% of the base: well under the 50% retrain trigger
    val cut = ids(ids.length * 5 / 6)
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    assert(delta.count() > 0)
    day0(d, base)
    val centsBefore = rows(DerivedCache.existing(spark, d, SimilarityQueries.kmCentsTable(nc)))

    SimilarityQueries.appendEmbeddings(spark, d, delta)

    assert(rows(DerivedCache.existing(spark, d, SimilarityQueries.kmCentsTable(nc)))
      == centsBefore, "under-growth append must not touch the trained centroids")
    assert(DerivedCache.existing(spark, d, SimilarityQueries.kmMetaTable(nc))
      .head.getLong(0) == base.count(),
      "the training snapshot size must still name the base corpus")
    // every vector (base AND batch) assigned, exactly as a full assignment
    // against the frozen base-trained quantizer would assign it
    val frozen = SimilarityQueries.kmCentroidRowsOf(base, nc)
    assert(rows(DerivedCache.existing(spark, d, SimilarityQueries.kmAssignTable(nc)))
      == rows(SimilarityQueries.assignTo(SimilarityQueries.evRowsOf(emb), frozen)),
      "appended assignments must equal the full assignment under the frozen quantizer")
  }

  test("over-growth append retrains: append-then-retrain == fresh rebuild") {
    val d = s"/km-maint-spec/${java.util.UUID.randomUUID()}"
    val ids = emb.select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0))
    // delta = ~150% of the base: far past the 50% trigger
    val cut = ids(ids.length * 2 / 5)
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    assert(base.count() > nc, "base must be larger than the centroid count")
    day0(d, base)

    SimilarityQueries.appendEmbeddings(spark, d, delta)

    val fullCents = SimilarityQueries.kmCentroidRowsOf(emb, nc)
    assert(rows(DerivedCache.existing(spark, d, SimilarityQueries.kmCentsTable(nc)))
      == rows(fullCents),
      "retrained centroids must equal a fresh full-corpus training bit-for-bit")
    assert(DerivedCache.existing(spark, d, SimilarityQueries.kmMetaTable(nc))
      .head.getLong(0) == emb.count(),
      "the training snapshot size must move to the grown corpus")
    assert(rows(DerivedCache.existing(spark, d, SimilarityQueries.kmAssignTable(nc)))
      == rows(SimilarityQueries.assignTo(SimilarityQueries.evRowsOf(emb), fullCents)),
      "retrained assignments must equal a fresh full rebuild")
  }
}
