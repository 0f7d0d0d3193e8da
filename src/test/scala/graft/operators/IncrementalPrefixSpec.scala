package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.build.DerivedCache
import graft.sources.Tables

/** Incremental maintenance of the containment-prefix family (dd7/dd10's
  * input — round 6's biggest remaining periodic rebuild). Three claims:
  *
  *  1. Appending a batch's prefixes ranked under the FROZEN df snapshot
  *     keeps the containment RESULTS exact — prefix completeness is
  *     rank-independent, so stale ranks cost fan-out, never a pair.
  *  2. Append-then-rerank equals a fresh rebuild of the index itself,
  *     bit-for-bit — the periodic re-rank fully erases snapshot drift.
  *  3. Corpus growth past the drift rule's fraction auto-triggers the
  *     re-rank on the next batch append.
  */
class IncrementalPrefixSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select($"doc_id", $"text")
  private val base = docs.filter($"doc_id" % 3 =!= 0)
  private val delta = docs.filter($"doc_id" % 3 === 0)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def freshKey(tag: String): String =
    s"/incremental-prefix-$tag/${java.util.UUID.randomUUID()}"

  /** dd7's exact shape (corpus × corpus) and dd10's (batch × corpus). */
  private def dd7Pairs(d: String): DataFrame =
    DedupQueries.containmentPairs(spark, d, "dd7_prefix_containment", lit(true), lit(true))
  private def dd10Pairs(d: String): DataFrame =
    DedupQueries.containmentPairs(spark, d, "dd10_online_containment", $"d1" % 10 === 0, $"doc_id" % 10 =!= 0)

  test("appended prefix index keeps dd7/dd10 results exact; append-then-rerank == rebuild") {
    val d = freshKey("appended")
    val dFull = freshKey("rebuilt")
    assert(base.count() > 0 && delta.count() > 0, "split must be non-trivial")

    // day 0: base corpus, prefix family built eagerly (snapshot = day 0)
    Ingest.buildDocumentIndexes(spark, d, base)
    assert(DerivedCache.isBuilt(spark, d, DedupQueries.PrefixTable),
      "buildDocumentIndexes must pin the prefix snapshot at ingest time")
    // day 1: the delta appends — prefix rows ranked under day 0's df
    Ingest.appendDocumentBatch(spark, d, delta)

    // reference: a from-scratch build over base ∪ delta
    Ingest.buildDocumentIndexes(spark, dFull, docs)

    assert(rows(dd7Pairs(d)) == rows(dd7Pairs(dFull)),
      "dd7 over the stale-rank appended index must equal the fresh rebuild")
    assert(rows(dd10Pairs(d)) == rows(dd10Pairs(dFull)),
      "dd10 over the stale-rank appended index must equal the fresh rebuild")

    // the re-rank erases the drift from the index ITSELF, not just results
    DedupQueries.rerankPrefix(spark, d)
    assert(rows(DerivedCache.existing(spark, d, DedupQueries.PrefixTable))
        == rows(DerivedCache.existing(spark, dFull, DedupQueries.PrefixTable)),
      "append-then-rerank must equal the fresh rebuild bit-for-bit")
    assert(rows(DerivedCache.existing(spark, d, DedupQueries.PrefixDfTable))
        == rows(DerivedCache.existing(spark, dFull, DedupQueries.PrefixDfTable)),
      "the re-ranked df snapshot must equal the fresh one")
    // the snapshot's reference corpus size advances to the appended corpus
    assert(DerivedCache.existing(spark, d, DedupQueries.PrefixMetaTable)
      .head.getLong(0)
        == DerivedCache.existing(spark, dFull, DedupQueries.PrefixMetaTable)
      .head.getLong(0))
  }

  test("shingle-pair index: append == fresh rebuild, and dd7 stays exact under forced escalation") {
    val d = freshKey("pairs-appended")
    val dFull = freshKey("pairs-rebuilt")
    Ingest.buildDocumentIndexes(spark, d, base)
    // provision the pair index on the base corpus (the saturation hook is
    // profile-driven; the spec forces the build to pin the append path)
    DedupQueries.docPairs(spark, d)
    Ingest.appendDocumentBatch(spark, d, delta)
    Ingest.buildDocumentIndexes(spark, dFull, docs)
    DedupQueries.docPairs(spark, dFull)
    assert(rows(DerivedCache.existing(spark, d, DedupQueries.PairTable))
        == rows(DerivedCache.existing(spark, dFull, DedupQueries.PairTable)),
      "appended pair index must equal the fresh rebuild")
    // the appended index serves the escalated route exactly
    spark.conf.set(Controls.EscalateFanoutKey, "0.0")
    try assert(rows(dd7Pairs(d)) == rows(dd7Pairs(dFull)),
      "escalated dd7 over the appended pair index must equal the rebuild")
    finally spark.conf.unset(Controls.EscalateFanoutKey)
  }

  test("corpus growth past the threshold auto-triggers the re-rank") {
    val d = freshKey("auto")
    val dFull = freshKey("auto-rebuilt")
    Ingest.buildDocumentIndexes(spark, d, base)
    // 167 documents over a 333-document base is 50.2% growth, past the
    // drift rule's 50% — the append itself re-ranks
    Ingest.appendDocumentBatch(spark, d, delta)
    Ingest.buildDocumentIndexes(spark, dFull, docs)
    assert(rows(DerivedCache.existing(spark, d, DedupQueries.PrefixTable))
        == rows(DerivedCache.existing(spark, dFull, DedupQueries.PrefixTable)),
      "the auto-triggered re-rank must leave the index equal to a fresh rebuild")
  }
}
