package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.build.DerivedCache

/** The idempotent-`foreachBatch` recipe, once — shared by every streaming
  * feeder that folds micro-batches through a batch append entry point
  * ([[StreamingVectorIngest]], [[StreamingDocumentIngest]]).
  *
  * `foreachBatch` is at-least-once across restarts, and a replayed batch
  * would violate the append paths' "ids are new" contract by
  * double-appending every index row. A batch LEDGER file next to the
  * corpus's cache tables records each folded batch id (scoped per feeder
  * name AND checkpoint — batch ids are only unique within one checkpoint);
  * replayed ids are skipped. O(1) per batch, where the alternative — an
  * existence anti-join against the index — is exactly the corpus-sized
  * read the append paths exist to avoid. The ledger line is written AFTER
  * the fold, so the dedupe window is honest-but-not-transactional: a crash
  * between the last index append and the ledger write re-folds that one
  * batch on restart. A pipeline needing strict exactly-once should land
  * batches into a transactional table format instead; everything above the
  * sink is unchanged. */
private[streaming] object IdempotentFold {

  /** Start folding `frame`'s micro-batches through `append` under corpus
    * key `d`; `name` scopes this feeder's ledger. */
  def start(frame: DataFrame, name: String, d: String, checkpoint: String)(
      append: (SparkSession, String, DataFrame) => Unit): StreamingQuery = {
    val s = frame.sparkSession
    val fold: (Dataset[Row], Long) => Unit = foldBatch(s, name, d, checkpoint)(append)
    frame.writeStream
      .foreachBatch(fold)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()
  }

  /** One micro-batch: skip if empty or already folded, else append through
    * the batch entry point and commit the ledger line. */
  def foldBatch(s: SparkSession, name: String, d: String, ckpt: String)(
      append: (SparkSession, String, DataFrame) => Unit)
      (batch: Dataset[Row], batchId: Long): Unit = {
    if (!batch.isEmpty && !folded(s, name, d, ckpt, batchId)) {
      append(s, d, batch.toDF())
      commit(s, name, d, ckpt, batchId)
    }
  }

  /** Ledger path: per (feeder name, corpus key, checkpoint) —
    * md5-discriminated like [[DerivedCache.dirKey]], since distinct
    * checkpoints may sanitize identically. */
  private def ledger(s: SparkSession, name: String, d: String,
      ckpt: String): java.nio.file.Path = {
    val ck = java.security.MessageDigest.getInstance("MD5")
      .digest(ckpt.getBytes(UTF_8)).take(4).map("%02x".format(_)).mkString
    Paths.get(s"${DerivedCache.root(s, d)}/stream_${name}_$ck.ledger")
  }

  private def folded(s: SparkSession, name: String, d: String, ckpt: String,
      batchId: Long): Boolean = {
    val p = ledger(s, name, d, ckpt)
    Files.exists(p) &&
      Files.readAllLines(p).asScala.exists(_.trim == batchId.toString)
  }

  private def commit(s: SparkSession, name: String, d: String, ckpt: String,
      batchId: Long): Unit = {
    val p = ledger(s, name, d, ckpt)
    Files.createDirectories(p.getParent)
    Files.write(p, s"$batchId\n".getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    ()
  }
}
