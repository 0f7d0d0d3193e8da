package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Ingest

/** Streaming document-index ingest — the document-side sibling of
  * [[StreamingVectorIngest]], completing the symmetry: each micro-batch of
  * NEW document rows folds through `Ingest.appendDocumentBatch`, the ONE
  * batch entry point, so every table of the declared document schedule
  * (`graft.operators.DocIndex`) stays current under live arrival,
  * exactly as in batch, including the compaction sweep at each fold. Day-0
  * contract: the base indexes must exist (`Ingest.buildDocumentIndexes`)
  * before the stream starts. Replay safety is the shared ledger recipe —
  * see [[IdempotentFold]]. */
object StreamingDocumentIngest {

  private val Name = "doc_ingest"

  /** Start folding a STREAMING frame of document rows (`doc_id`, `text`,
    * plus whatever metadata columns the corpus carries) into the at-rest
    * document indexes under corpus key `d`. */
  def start(docs: DataFrame, d: String, checkpoint: String): StreamingQuery =
    IdempotentFold.start(docs, Name, d, checkpoint)(Ingest.appendDocumentBatch)

  /** One micro-batch — package-visible so the parity spec can drive the
    * replay case directly. */
  private[streaming] def foldBatch(s: SparkSession, d: String, ckpt: String)
      (batch: Dataset[Row], batchId: Long): Unit =
    IdempotentFold.foldBatch(s, Name, d, ckpt)(
      Ingest.appendDocumentBatch)(batch, batchId)

  private val CdcName = "doc_cdc"

  /** Start folding a CDC stream: rows carry an `op` column — `"add"` for
    * new documents, `"delete"` for previously-ingested ones (the ORIGINAL
    * row content, per the deletion contract — the CMS's negated partials
    * need the text). Within a micro-batch adds fold first, then deletes,
    * each through its batch entry point, so live arrival drives the same
    * two code paths the batch pipeline runs. A batch carrying one doc_id
    * under BOTH ops is rejected loudly: micro-batches are unordered
    * inside, so delete-then-re-add has no defined meaning within one
    * batch — split it across batches (the stream's own ordering). */
  def startCdc(docs: DataFrame, d: String, checkpoint: String): StreamingQuery =
    IdempotentFold.start(docs, CdcName, d, checkpoint)(foldCdc)

  private[streaming] def foldCdcBatch(s: SparkSession, d: String, ckpt: String)
      (batch: Dataset[Row], batchId: Long): Unit =
    IdempotentFold.foldBatch(s, CdcName, d, ckpt)(foldCdc)(batch, batchId)

  private def foldCdc(s: SparkSession, d: String, batch: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val ops = batch.select(col("op")).distinct()
      .collect().map(_.getString(0)).toSet
    require(ops.subsetOf(Set("add", "delete")),
      s"unknown CDC op(s): ${(ops -- Set("add", "delete")).mkString(", ")}")
    require(batch.groupBy(col("doc_id"))
        .agg(countDistinct(col("op")).as("n")).filter(col("n") > 1).isEmpty,
      "a CDC batch must not add AND delete the same doc_id")
    val adds = batch.filter(col("op") === "add").drop("op")
    val dels = batch.filter(col("op") === "delete").drop("op")
    if (!adds.isEmpty) Ingest.appendDocumentBatch(s, d, adds)
    if (!dels.isEmpty) Ingest.deleteDocumentBatch(s, d, dels)
  }
}
