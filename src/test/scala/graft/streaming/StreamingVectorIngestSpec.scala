package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.build.{DerivedCache, DocTables}
import graft.operators.SimilarityQueries
import graft.sources.Tables

/** Streaming-vs-batch parity for the vector-index ingest: folding
  * micro-batches through [[StreamingVectorIngest]] must leave every
  * maintained at-rest vector table IDENTICAL to the batch
  * `appendEmbeddings` path folding the same deltas in the same order —
  * the property that makes the streaming wrapper a wrapper, not a second
  * implementation. Composes with IncrementalEmbeddingSpec /
  * KmeansMaintenanceSpec (batch append vs full rebuild) to close
  * streamed == rebuilt. Also pins the replay-ledger behavior: a re-folded
  * batch id is a no-op. */
class StreamingVectorIngestSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select($"vec_id", $"embedding")

  // monotone-id split: base below, two delta "days" above (the
  // appendEmbeddings centroid contract)
  private lazy val ids = emb.select($"vec_id").orderBy($"vec_id")
    .collect().map(_.getLong(0))
  private lazy val cut1 = ids(ids.length / 2)
  private lazy val cut2 = ids(ids.length * 3 / 4)
  private lazy val base = emb.filter($"vec_id" <= cut1)
  private lazy val delta1 = emb.filter($"vec_id" > cut1 && $"vec_id" <= cut2)
  private lazy val delta2 = emb.filter($"vec_id" > cut2)

  test("streamed micro-batches == batch appendEmbeddings, table for table") {
    implicit val sqlCtx = spark.sqlContext
    val dBatch = s"/stream-vec-batch/${java.util.UUID.randomUUID()}"
    val dStream = s"/stream-vec-stream/${java.util.UUID.randomUUID()}"
    assert(delta1.count() > 0 && delta2.count() > 0)

    // batch side: day-0 build + two daily appends
    SimilarityQueries.buildEmbeddingIndexes(spark, dBatch, base)
    SimilarityQueries.appendEmbeddings(spark, dBatch, delta1)
    SimilarityQueries.appendEmbeddings(spark, dBatch, delta2)

    // streaming side: same base build, deltas arrive as two micro-batches
    SimilarityQueries.buildEmbeddingIndexes(spark, dStream, base)
    val in = MemoryStream[(Long, Array[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-stream-vec").toString
    val q = StreamingVectorIngest.start(
      in.toDF().toDF("vec_id", "embedding"), dStream, ckpt)
    try {
      def feed(delta: DataFrame): Unit = {
        in.addData(delta.collect().toSeq
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
        q.processAllAvailable()
      }
      feed(delta1)
      feed(delta2)
    } finally q.stop()

    for (t <- SimilarityQueries.maintainedVectorTables) {
      assert(rows(DerivedCache.existing(spark, dStream, t))
          == rows(DerivedCache.existing(spark, dBatch, t)),
        s"streamed ${t._1} must equal the batch-appended table")
    }
  }

  test("a replayed batch id is skipped — no double-append") {
    val d = s"/stream-vec-replay/${java.util.UUID.randomUUID()}"
    SimilarityQueries.buildEmbeddingIndexes(spark, d, base)
    val ckpt = s"/stream-vec-replay-ckpt/${java.util.UUID.randomUUID()}"
    StreamingVectorIngest.foldBatch(spark, d, ckpt)(delta1, 0L)
    val n = DerivedCache.existing(spark, d, DocTables.EmbIndex).count()
    // at-least-once redelivery of the SAME batch id must be a no-op
    StreamingVectorIngest.foldBatch(spark, d, ckpt)(delta1, 0L)
    assert(DerivedCache.existing(spark, d, DocTables.EmbIndex).count() == n,
      "replayed batch must not append again")
    // and the next REAL batch still folds
    StreamingVectorIngest.foldBatch(spark, d, ckpt)(delta2, 1L)
    assert(DerivedCache.existing(spark, d, DocTables.EmbIndex).count()
        == n + delta2.count())
  }
}
