package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.build.{DerivedCache, DocTables, Par}
import graft.sources.Tables

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
    eager: Boolean = true) {

  /** The at-rest table, built on first use from the corpus (through the
    * upstream's own at-rest read). */
  def read(s: SparkSession, d: String): DataFrame =
    DerivedCache.table(s, d, id)(rowsOf(from.fold(Tables.documents(s, d))(_.read(s, d))))

  /** This table's rows for a documents frame, through its upstream chain. */
  def derive(docs: DataFrame): DataFrame = rowsOf(from.fold(docs)(_.derive(docs)))
}

/** The registry: ONE list of the per-document indexes, from which the
  * day-0 build, the lazy reads, the batch append, the batch delete and the
  * compaction worklist ([[Ingest.maintainedDocTables]]) all derive. Every
  * path walks the same schedule: a table's write follows its upstream's,
  * independent tables overlap on [[Par]] pools. The stateful families
  * (prefix, stats meta, dup pairs/clusters, packing offsets) stay
  * hand-written steps that the batch paths hand in as `after` hooks (run
  * right after one table's write) or `alongside` tasks. */
private[operators] object DocIndex {

  // roots in longest-chain-first order: Par starts tasks in list order
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

  /** A hand-kept step keyed by the table whose write it must follow; it
    * gets that write's input (append: the upstream's batch rows; delete:
    * the deleted ids). */
  type After = PartialFunction[DocIndex, DataFrame => Unit]

  private def dependents(t: Option[DocIndex]): Seq[DocIndex] = all.filter(_.from == t)

  /** Runs `write` over the tables below `from` (siblings in parallel), then
    * each table's dependents and its `after` hook; `write` returns the
    * frame the dependents derive from, or None to skip the subtree. */
  private def walk(from: Option[DocIndex], in: DataFrame, extra: Seq[() => Unit],
      after: After)(write: (DocIndex, DataFrame) => Option[DataFrame]): Unit =
    Par.run(extra ++ dependents(from).map { t => () =>
      write(t, in).foreach { out =>
        walk(Some(t), out, after.lift(t).map(h => () => h(in)).toSeq, after)(write)
      }
    })

  private def skip(s: SparkSession, d: String, t: DocIndex): Boolean =
    t.optional && !DerivedCache.isBuilt(s, d, t.id)

  /** Day-0 (or periodic-rebuild) build of every eager table over `docs`;
    * idempotent per table. */
  def build(s: SparkSession, d: String, docs: DataFrame): Unit =
    walk(None, docs, Nil, PartialFunction.empty) { (t, in) =>
      Option.when(t.eager)(DerivedCache.table(s, d, t.id)(t.rowsOf(in)))
    }

  /** File-append a NEW batch's rows to every maintained table. A batch
    * frame that a dependent derives from is persisted for the call, so
    * the expensive stages (shingling, minhashing) run once. */
  def append(s: SparkSession, d: String, batch: DataFrame,
      alongside: Seq[() => Unit] = Nil, after: After = PartialFunction.empty): Unit = {
    val cached = new ConcurrentLinkedQueue[DataFrame]
    try walk(None, batch, alongside, after) { (t, in) =>
      Option.unless(skip(s, d, t)) {
        val rows = t.rowsOf(in)
        if (dependents(Some(t)).nonEmpty) cached.add(rows.persist())
        DerivedCache.append(s, d, t.id)(rows)
        rows
      }
    } finally cached.forEach(df => { df.unpersist(); () })
  }

  /** Remove previously-ingested documents (`batch`: the original doc_id +
    * text rows, which the negated sketch partials derive from). */
  def delete(s: SparkSession, d: String, batch: DataFrame,
      alongside: Seq[() => Unit] = Nil, after: After = PartialFunction.empty): Unit = {
    val ids = batch.select(col("doc_id")).distinct()
    walk(None, ids, alongside, after) { (t, _) =>
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
