package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.build.{DerivedCache, Par}

/** The document-ingest entry points. Every at-rest document table — the
  * per-document indexes and the stateful families (prefix ranks and
  * stats, SimHash stats, dup pairs and clusters, packing offsets) — comes
  * from ONE declared schedule ([[DocIndex]]), so the bench, the specs, and
  * a library user can't drift on which tables a batch ingest maintains.
  *
  *  - [[buildDocumentIndexes]]: day-0 (or periodic-rebuild) materialization
  *    over an explicit documents frame under an explicit corpus key.
  *  - [[appendDocumentBatch]]: the daily path.
  *  - [[deleteDocumentBatch]]: its mirror.
  */
object Ingest {

  /** Build every at-rest document table over `docs` under corpus key `d`.
    * Idempotent per table ([[DerivedCache.table]] markers). */
  def buildDocumentIndexes(s: SparkSession, d: String, docs: DataFrame): Unit =
    DocIndex.build(s, d, docs)

  /** Fold a NEW document batch into every at-rest table — the daily ingest.
    * Caller contract: batch doc_ids must not already be indexed. Ends with
    * the compaction sweep ([[compactIfNeeded]]) so file counts are bounded
    * by policy, not by how long the append cadence has been running. */
  def appendDocumentBatch(s: SparkSession, d: String, batch: DataFrame): Unit = {
    DocIndex.append(s, d, batch)
    compactIfNeeded(s, d)
    ()
  }

  /** Delete a batch of previously-ingested documents from every at-rest
    * document table — the right-to-be-forgotten path every large training
    * pipeline eventually runs (user opt-outs, licensing takedowns),
    * mirroring [[appendDocumentBatch]] step for step. Caller contract: the
    * batch rows are the ORIGINAL ingested rows (doc_id + text) — the text
    * is needed so per-document derivations (the CMS's negated partial
    * cells) never re-read the corpus.
    *
    * Cost model (deletes are BATCHED like appends): each per-document
    * table pays one staged filter-rewrite (the compaction cost class — a
    * parallel columnar scan+filter+write); the linear CMS sketch pays only
    * an appended negative partial; the order-dependent packing offsets
    * re-prefix from their narrow at-rest rows; dup-cluster repair is
    * bounded by the touched clusters (with exact-dup stars re-centered —
    * see [[DedupQueries.deleteDupClusters]]); the df-ranked prefix family
    * keeps its frozen ranks until the shrink trigger, per the
    * frozen-until-drift discipline every trained artifact here follows
    * (prefix ranks, k-means centroids, BPE merges). */
  def deleteDocumentBatch(s: SparkSession, d: String, batch: DataFrame): Unit = {
    DocIndex.delete(s, d, batch)
    compactIfNeeded(s, d)
    ()
  }

  /** Every at-rest table the document-batch path maintains — the
    * compaction sweep's worklist, derived from the schedule
    * (replace-maintained tables are listed too: replace rewrites
    * wholesale so they rarely trip the threshold, and listing them keeps
    * the policy exhaustive by construction). */
  private[graft] def maintainedDocTables: Seq[(String, Int)] = DocIndex.tables

  /** Data-file ceiling per maintained table before the ingest path compacts
    * it. Each daily append adds one parquet file group per index, so a year
    * of dailies is ~365 small files — scan-task explosion and row-group
    * inefficiency. The default (64 ≈ two months of dailies) bounds both;
    * [[graft.build.DerivedCache.compact]] rewrites to size-targeted files
    * (128 MB), so a compacted 100-TB
    * index still reads at full scan parallelism while a small one collapses
    * to a single row-group-efficient file. */
  val CompactMaxFilesKey = "spark.graft.compact.maxFiles"
  private val CompactMaxFilesDefault = 64

  /** The cadence POLICY: compact every maintained table whose data-file
    * count exceeds the configured ceiling. Content-neutral (compact is a
    * staged replace of the table's own scan). Returns the names compacted
    * — empty when nothing tripped the threshold. */
  def compactIfNeeded(s: SparkSession, d: String): Seq[String] =
    compactTables(s, d, maintainedDocTables)

  /** The sweep itself, over an explicit worklist — shared with the
    * vector-side append path ([[SimilarityQueries.appendEmbeddings]]), so
    * both ingest families compact under the ONE configured ceiling. */
  private[operators] def compactTables(s: SparkSession, d: String,
      tables: Seq[(String, Int)]): Seq[String] = {
    val max = Conf.int(s, CompactMaxFilesKey, CompactMaxFilesDefault)
    val due = tables.filter(t => DerivedCache.isBuilt(s, d, t) &&
      DerivedCache.parquetFileCount(s, d, t) > max)
    // §2.6: each compaction is an independent staged replace of its own
    // table's scan — overlap the rewrites
    Par.run(due.map(t => () => DerivedCache.compact(s, d, t)))
    due.map(_._1)
  }
}
