package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.build.{DerivedCache, DocTables, Par}
import graft.sources.Tables

/** One node of the document-ingest schedule: it runs once every registry
  * table it `follows` has been written. */
private[operators] sealed trait DocStep {
  def follows: Seq[DocIndex]
}

/** One declared per-document at-rest index: its (name, version) identity,
  * the table it derives from (`from`: None = the documents frame), and its
  * per-document derivation `rowsOf`. Because every row depends on one
  * document only, deriving over a batch and appending IS a rebuild over
  * base ∪ batch, and deleting is a filter on doc_id (IncrementalIndexSpec,
  * DeletionSpec).
  *
  *  - `negate`: the count column of a MERGEABLE sketch — a delete appends
  *    the batch's negated partials instead of rewriting the table (reads
  *    fold by summation); every other table purges its doc_id rows.
  *  - `optional`: maintained only when already built. An append to a
  *    non-optional table whose base is unbuilt throws: skipping it would
  *    let a later lazy build serve a corpus without the batch.
  *  - `eager`: built by the day-0 build; the one non-eager table is built
  *    on demand (first escalated query, or saturation provisioning). */
private[operators] final case class DocIndex(
    id: (String, Int),
    from: Option[DocIndex],
    rowsOf: DataFrame => DataFrame,
    negate: Option[String] = None,
    optional: Boolean = false,
    eager: Boolean = true) extends DocStep {

  def follows: Seq[DocIndex] = from.toSeq

  /** The at-rest table, built on first use from the corpus (through the
    * upstream's own at-rest read). */
  def read(s: SparkSession, d: String): DataFrame =
    DerivedCache.table(s, d, id)(rowsOf(from.fold(Tables.documents(s, d))(_.read(s, d))))

  /** This table's rows for a documents frame, through its upstream chain. */
  def derive(docs: DataFrame): DataFrame = rowsOf(from.fold(docs)(_.derive(docs)))
}

/** One stateful document family: at-rest tables whose rows depend on more
  * than one document (a df-rank snapshot, a corpus statistic, the dup
  * graph, running token offsets), so a batch folds in through the
  * family's own build, append and delete steps instead of a per-document
  * derivation. It runs once every registry table it `follows` has been
  * written, and is skipped when one of them was skipped (an unbuilt
  * optional table). */
private[operators] final case class DocFamily(
    tables: Seq[(String, Int)],
    follows: Seq[DocIndex],
    build: DocFamily.Step,
    append: DocFamily.Step,
    delete: DocFamily.Step) extends DocStep

/** A one-row stats table over the current at-rest indexes, and the one
  * rule that keeps it: `read` builds it when absent (a build or a query,
  * so a repeat build on a built corpus bumps no version); `refresh`, a
  * mutation's step, builds it when absent and replaces it otherwise. */
private[operators] final case class StatsRow(id: (String, Int),
    rowsOf: (SparkSession, String) => DataFrame) {

  def read(s: SparkSession, d: String): DataFrame = DerivedCache.table(s, d, id)(rowsOf(s, d))

  def refresh(s: SparkSession, d: String): Unit =
    if (DerivedCache.isBuilt(s, d, id)) DerivedCache.replace(s, d, id)(rowsOf(s, d))
    else { read(s, d); () }
}

private[operators] object DocFamily {
  import DedupQueries.{appendDupClusters, appendPrefix, buildPrefix, clusterTable,
    deleteDupClusters, deletePrefix, PrefixDfTable, PrefixMetaTable, PrefixStatsTable,
    PrefixTable, simStats, SimStatsTable}
  import PipelineQueries.{appendOffsets, buildOffsets, deleteOffsets, OffsetsMetaTable,
    OffsetsTable}

  /** One path's step, given the session, the corpus key, the path's input
    * (build: the documents; append: the new batch; delete: the deleted
    * ids) and the rows each registry table wrote on the path (build: its
    * at-rest table; append: the batch's rows; delete: the ids). */
  type Step = (SparkSession, String, DataFrame, DocIndex => DataFrame) => Unit

  // follows the size table: its count is the drift test's input, and the
  // batch's shingle rows (written before it) are what an append ranks
  val Prefix = DocFamily(Seq(PrefixTable, PrefixDfTable, PrefixMetaTable, PrefixStatsTable),
    Seq(DocIndex.Sizes),
    build = (s, d, _, _) => buildPrefix(s, d),
    append = (s, d, _, rows) => appendPrefix(s, d, rows(DocIndex.Shingles)),
    delete = (s, d, ids, _) => deletePrefix(s, d, ids))
  val SimStats = DocFamily(Seq(SimStatsTable), Seq(DocIndex.Sim),
    build = (s, d, _, _) => { simStats.read(s, d); () },
    append = (s, d, _, _) => simStats.refresh(s, d),
    delete = (s, d, _, _) => simStats.refresh(s, d))
  // the pair and cluster repairs read the batch's rows back out of these
  val Dups = DocFamily(Seq(DocTables.DupPairs, DocTables.DupClusters),
    Seq(DocIndex.Shingles, DocIndex.Bands, DocIndex.Fingerprints, DocIndex.Sizes),
    build = (s, d, docs, _) => { clusterTable(s, d, docs); () },
    append = (s, d, batch, _) => appendDupClusters(s, d, batch),
    delete = (s, d, ids, _) => deleteDupClusters(s, d, ids))
  val Offsets = DocFamily(Seq(OffsetsTable, OffsetsMetaTable), Nil,
    build = (s, d, docs, _) => { buildOffsets(s, d, docs); () },
    append = (s, d, batch, _) => appendOffsets(s, d, batch),
    delete = (s, d, ids, _) => deleteOffsets(s, d, ids))

  val all: Seq[DocFamily] = Seq(Prefix, SimStats, Dups, Offsets)
}

/** The registry: ONE list of the per-document indexes plus the stateful
  * families, from which the day-0 build, the lazy reads, the batch
  * append, the batch delete and the compaction worklist ([[tables]],
  * [[Ingest.maintainedDocTables]]) all derive. Every path walks the same
  * schedule: a table's write follows its upstream's, a family's step
  * follows the writes it names, and independent work overlaps on one
  * [[Par]] pool. */
private[operators] object DocIndex {

  // roots in longest-chain-first order: Par starts ready steps in list order
  val Shingles = DocIndex(DocTables.Shingles, None, DedupQueries.shingleRowsOf)
  // kept queryable for estimate audits (dd8); the band index derives from it
  val Minhash = DocIndex(DocTables.Minhash, Some(Shingles), DedupQueries.minhashRowsOf)
  val Bands = DocIndex(DocTables.Bands, Some(Minhash), DedupQueries.bandRowsOf)
  val Sizes = DocIndex(DocTables.Sizes, Some(Shingles), DedupQueries.sizeRowsOf)
  val Pairs = DocIndex(DedupQueries.PairTable, Some(Shingles), DedupQueries.pairRowsOf,
    optional = true, eager = false)
  // optional: corpora indexed before the table existed keep ingesting
  val Sim = DocIndex(DedupQueries.SimTable, None, DedupQueries.simHashRowsOf,
    optional = true)
  val Fingerprints = DocIndex(DocTables.Fingerprints, None, DedupQueries.fpRowsOf)
  val Windows = DocIndex(DocTables.Windows, None, DedupQueries.windowRowsOf)
  val Postings = DocIndex(DocTables.Postings, None, TextQueries.postingRowsOf)
  val Cms = DocIndex(DocTables.Cms, None, TextQueries.cmsRowsOf, negate = Some("cnt"))
  val MediaFp = DocIndex(DocTables.MediaFp, None, MultimodalQueries.mediaFpRowsOf)

  val all: Seq[DocIndex] =
    Seq(Shingles, Minhash, Bands, Sizes, Pairs, Sim, Fingerprints, Windows, Postings,
      Cms, MediaFp)

  /** Every at-rest table the schedule maintains: the registry's, then each
    * family's. */
  def tables: Seq[(String, Int)] = all.map(_.id) ++ DocFamily.all.flatMap(_.tables)

  /** Runs `write` over every registry table (given its upstream's output,
    * or `in` for a root; it returns what the dependents derive from, or
    * None to skip them), and each family's `step` once the tables it
    * follows are written, with `in` and the rows those writes returned. */
  private def schedule(s: SparkSession, d: String, in: DataFrame,
      step: DocFamily => DocFamily.Step)(write: (DocIndex, DataFrame) => Option[DataFrame]): Unit = {
    val wrote = TrieMap.empty[DocIndex, DataFrame]
    Par.dag[DocStep, DataFrame](all ++ DocFamily.all)(_.follows) {
      case (t: DocIndex, up) => write(t, up.headOption.getOrElse(in)).map { rows =>
        wrote(t) = rows
        rows
      }
      case (f: DocFamily, _) =>
        step(f)(s, d, in, wrote)
        Some(in)
    }
  }

  private def skip(s: SparkSession, d: String, t: DocIndex): Boolean =
    t.optional && !DerivedCache.isBuilt(s, d, t.id)

  /** Day-0 (or periodic-rebuild) build of every eager table and every
    * family over `docs`; idempotent per table, so a repeat build on a
    * built corpus writes nothing. */
  def build(s: SparkSession, d: String, docs: DataFrame): Unit =
    schedule(s, d, docs, _.build) { (t, in) =>
      Option.when(t.eager)(DerivedCache.table(s, d, t.id)(t.rowsOf(in)))
    }

  /** File-append a NEW batch's rows to every maintained table, and fold it
    * into every family. A batch frame that a table derives from is
    * persisted for the call, so the expensive stages (shingling,
    * minhashing) run once. */
  def append(s: SparkSession, d: String, batch: DataFrame): Unit = {
    val cached = new ConcurrentLinkedQueue[DataFrame]
    try schedule(s, d, batch, _.append) { (t, in) =>
      Option.unless(skip(s, d, t)) {
        val rows = t.rowsOf(in)
        if (all.exists(_.from.contains(t))) cached.add(rows.persist())
        DerivedCache.append(s, d, t.id)(rows)
        rows
      }
    } finally cached.forEach(df => { df.unpersist(); () })
  }

  /** Remove previously-ingested documents (`batch`: the original doc_id +
    * text rows, which the negated sketch partials derive from). */
  def delete(s: SparkSession, d: String, batch: DataFrame): Unit = {
    val ids = batch.select(col("doc_id")).distinct()
    schedule(s, d, ids, _.delete) { (t, _) =>
      Option.unless(skip(s, d, t)) {
        t.negate match {
          case Some(c) => DerivedCache.append(s, d, t.id)(t.derive(batch).withColumn(c, -col(c)))
          case None => DerivedCache.purge(s, d, t.id, ids)
        }
        ids
      }
    }
  }
}
