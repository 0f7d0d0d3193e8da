package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.build.DerivedCache
import graft.sources.Tables

/** Trained-PQ-codebook incremental maintenance (round-9 verdict item 3) —
  * the [[KmeansMaintenanceSpec]] contract applied to the PQ family:
  *
  *  - under the growth trigger, a batch append assigns the NEW vectors'
  *    codes against the FROZEN trained codebook (stale codewords cost
  *    recall, never correctness: every stored code is exact w.r.t. the
  *    codebook it was assigned against) and the codebook/meta stay
  *    untouched;
  *  - past 50% corpus growth ([[Drift]]) since
  *    the training snapshot, the next append retrains the whole family —
  *    and append-then-retrain equals a fresh full rebuild bit-for-bit
  *    (deterministic per-subspace Lloyd: lowest-id init unchanged under
  *    monotone appends, decimal-exact distances and means). */
class PqMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def emb: DataFrame =
    Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")

  test("under-growth append: frozen codebook, exact batch codes") {
    val d = s"/pq-maint-spec/${java.util.UUID.randomUUID()}"
    val ids = emb.select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0))
    // delta = ~20% of the base: well under the 50% retrain trigger
    val cut = ids(ids.length * 5 / 6)
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    assert(delta.count() > 0)
    SimilarityQueries.buildEmbeddingIndexes(spark, d, base)
    val cbBefore = rows(DerivedCache.existing(spark, d, SimilarityQueries.pqCbTable))

    SimilarityQueries.appendEmbeddings(spark, d, delta)

    assert(rows(DerivedCache.existing(spark, d, SimilarityQueries.pqCbTable))
      == cbBefore, "under-growth append must not touch the trained codebook")
    assert(DerivedCache.existing(spark, d, SimilarityQueries.pqMetaTable)
      .head.getLong(0) == base.count(),
      "the training snapshot size must still name the base corpus")
    // every vector (base AND batch) coded exactly as a full assignment
    // against the frozen base-trained codebook would code it
    val frozen = SimilarityQueries.pqTrainedCodebookOf(base)
    assert(rows(DerivedCache.existing(spark, d, SimilarityQueries.pqTable))
      == rows(SimilarityQueries.pqCodeRowsOf(emb, frozen)),
      "appended codes must equal the full assignment under the frozen codebook")
  }

  test("over-growth append retrains: append-then-retrain == fresh rebuild") {
    val d = s"/pq-maint-spec/${java.util.UUID.randomUUID()}"
    val ids = emb.select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0))
    // delta = ~150% of the base: far past the 50% trigger
    val cut = ids(ids.length * 2 / 5)
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    SimilarityQueries.buildEmbeddingIndexes(spark, d, base)

    SimilarityQueries.appendEmbeddings(spark, d, delta)

    val fullCb = SimilarityQueries.pqTrainedCodebookOf(emb)
    assert(rows(DerivedCache.existing(spark, d, SimilarityQueries.pqCbTable))
      == rows(fullCb),
      "retrained codebook must equal a fresh full-corpus training bit-for-bit")
    assert(DerivedCache.existing(spark, d, SimilarityQueries.pqMetaTable)
      .head.getLong(0) == emb.count(),
      "the training snapshot size must move to the grown corpus")
    assert(rows(DerivedCache.existing(spark, d, SimilarityQueries.pqTable))
      == rows(SimilarityQueries.pqCodeRowsOf(emb, fullCb)),
      "retrained codes must equal a fresh full rebuild")
  }
}
