package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.build.{DerivedCache, DocTables, Par}
import graft.sources.Tables

/** The quantizer a quantized vector table assigns its vectors against,
  * `of` the at-rest vectors (vec_id, embedding).
  *
  *  - `stored` None: DERIVED on every use from the at-rest index (the IVF
  *    coarse quantizer: the `cells` lowest-id vectors).
  *  - `stored` Some((table, meta)): a TRAINED artifact written next to the
  *    corpus, with the corpus size at training time in `meta` — written
  *    first inside the build, so the snapshot is an explicit artifact.
  *    Frozen until the corpus drifts past [[Drift]]: stale codewords or
  *    centroids cost recall, never correctness (every stored assignment is
  *    exact w.r.t. the quantizer it was made against).
  *  - `anchors`: how many lowest-id vectors `of` derives from (0: none).
  *    Deleting one changes what a fresh build derives, so the delete path
  *    retrains the table on an anchor hit. */
private[operators] final case class Quantizer(
    of: DataFrame => DataFrame,
    stored: Option[((String, Int), (String, Int))] = None,
    anchors: Int = 0) {

  /** The quantizer over the current at-rest vectors; a trained one is
    * built (meta first) on first use and read back after. */
  def read(s: SparkSession, d: String): DataFrame = stored match {
    case None => of(VecIndex.vectors(s, d))
    case Some((table, meta)) => DerivedCache.table(s, d, table) {
      val v = VecIndex.vectors(s, d)
      DerivedCache.table(s, d, meta)(VecIndex.sizeOf(v))
      of(v)
    }
  }

  /** Whether a trained quantizer's corpus has drifted past its training
    * snapshot; a derived one never drifts. */
  def drifted(s: SparkSession, d: String, now: => Long): Boolean =
    stored.exists { case (_, meta) =>
      Drift.past(DerivedCache.existing(s, d, meta).head.getLong(0), now)
    }
}

/** One declared at-rest vector table: its (name, version) identity, its
  * rows `rowsOf(vectors, quantizer)` and, for a quantized table, the
  * [[Quantizer]] it assigns against (per-vector tables have none and are
  * handed null). */
private[operators] final case class VecIndex(
    id: (String, Int),
    rowsOf: (DataFrame, DataFrame) => DataFrame,
    quantizer: Option[Quantizer] = None) {

  /** The at-rest table, built on first use: the index from the corpus
    * parquet, every other table from the at-rest index, so a lazy build
    * after an append or delete sees the maintained corpus. */
  def read(s: SparkSession, d: String): DataFrame =
    DerivedCache.table(s, d, id) {
      if (this eq VecIndex.Index) rowsOf(Tables.embeddings(s, d), null)
      else rowsOf(VecIndex.vectors(s, d), quantizer.map(_.read(s, d)).orNull)
    }
}

/** The registry: ONE list of the at-rest vector tables for a cell count,
  * from which the day-0 build, the warm, the lazy reads, the batch
  * append, the batch delete, the retrains and the compaction worklist
  * ([[SimilarityQueries.maintainedVectorTables]]) all derive — the
  * vector-side analog of [[DocIndex]]. The index is the root: every other
  * table derives from it and is maintained only when built (a later lazy
  * build reads the maintained index, so skipping it loses nothing). */
private[operators] object VecIndex {
  import SimilarityQueries.{assignTo, evRowsOf, indexRowsOf, ivfAssignRowsOf, ivfTable,
    kmAssignTable, kmCentroidRowsOf, kmCentsTable, kmMetaTable, pqCbTable, pqCodeRowsOf,
    pqMetaTable, pqTable, pqTrainedCodebookOf, PqKs, sqRowsOf}

  val Index = VecIndex(DocTables.EmbIndex, (v, _) => indexRowsOf(v))
  val Sq = VecIndex(DocTables.EmbSq, (v, _) => sqRowsOf(v))

  /** The fixed IVF quantizer: the `nc` lowest-id vectors as (cid, cemb) —
    * a deterministic partition the oracle reproduces. */
  def IvfCentroids(nc: Int): Quantizer = Quantizer(
    _.orderBy(col("vec_id")).limit(nc)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb")),
    anchors = nc)
  val PqCodebook = Quantizer(pqTrainedCodebookOf,
    stored = Some((pqCbTable, pqMetaTable)), anchors = PqKs)
  def KmCentroids(nc: Int): Quantizer = Quantizer(kmCentroidRowsOf(_, nc),
    stored = Some((kmCentsTable(nc), kmMetaTable(nc))))

  def Ivf(nc: Int): VecIndex = VecIndex(ivfTable(nc), ivfAssignRowsOf, Some(IvfCentroids(nc)))
  val Pq = VecIndex(pqTable, pqCodeRowsOf, Some(PqCodebook))
  def Km(nc: Int): VecIndex =
    VecIndex(kmAssignTable(nc), (v, q) => assignTo(evRowsOf(v), q), Some(KmCentroids(nc)))

  def all(nc: Int): Seq[VecIndex] = Seq(Index, Sq, Ivf(nc), Pq, Km(nc))

  /** Every at-rest table of the list: each table, then its quantizer's
    * stored tables. */
  def tables(nc: Int): Seq[(String, Int)] = all(nc).flatMap { t =>
    t.id +: t.quantizer.flatMap(_.stored).toSeq.flatMap { case (q, meta) => Seq(q, meta) }
  }

  /** The at-rest vectors every derived table and quantizer reads. */
  def vectors(s: SparkSession, d: String): DataFrame =
    Index.read(s, d).select(col("vec_id"), col("embedding"))

  def sizeOf(v: DataFrame): DataFrame = v.agg(count(lit(1)).as("n_vecs"))

  /** Build (or read back) every table of the list; idempotent per table.
    * The index comes first, the tables derived from it overlap on [[Par]]. */
  def warm(s: SparkSession, d: String, nc: Int): Unit = {
    Index.read(s, d)
    Par.run(all(nc).tail.map(t => () => { t.read(s, d); () }))
  }

  /** Day-0 build over an explicit vector frame. */
  def build(s: SparkSession, d: String, nc: Int, vecs: DataFrame): Unit = {
    DerivedCache.table(s, d, Index.id)(indexRowsOf(vecs))
    warm(s, d, nc)
  }

  private def local(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** File-append a batch of NEW vectors to every maintained table. Every
    * quantizer is frozen to the driver BEFORE any append — a lazy plan
    * would list the index files only when the assignment executes, i.e.
    * after the index append — so every append derives only from the
    * batch. The index append throws when the index was never built. */
  def append(s: SparkSession, d: String, nc: Int, batch: DataFrame): Unit = {
    val kept = all(nc).filter(t => (t eq Index) || DerivedCache.isBuilt(s, d, t.id))
    val frozen = kept.map(t => t -> t.quantizer.map(q => local(s, q.read(s, d))).orNull).toMap
    maintain(s, d, kept, Nil)(t => DerivedCache.append(s, d, t.id)(t.rowsOf(batch, frozen(t))))
  }

  /** Remove previously-ingested vectors from every maintained table. The
    * anchor test runs BEFORE any purge (the anchors are the pre-delete
    * lowest ids); an anchored table is retrained from the remaining index
    * instead of purged, every other table pays one staged filter-rewrite. */
  def delete(s: SparkSession, d: String, nc: Int, ids: DataFrame): Unit = {
    val idSet = ids.select(col("vec_id")).distinct()
    val kept = all(nc).filter(t => DerivedCache.isBuilt(s, d, t.id))
    val k = kept.flatMap(_.quantizer).map(_.anchors).maxOption.getOrElse(0)
    // whether each of the k lowest ids is deleted, in id order
    val gone = if (k == 0) Array.empty[Boolean] else
      DerivedCache.existing(s, d, Index.id).select(col("vec_id"))
        .orderBy(col("vec_id")).limit(k)
        .join(idSet.withColumn("gone", lit(true)), Seq("vec_id"), "left")
        .orderBy(col("vec_id")).select(col("gone").isNotNull).collect().map(_.getBoolean(0))
    val anchored = kept.filter(_.quantizer.exists(q => gone.take(q.anchors).contains(true)))
    maintain(s, d, kept, anchored)(t => DerivedCache.purge(s, d, t.id, idSet, "vec_id"))
  }

  /** The shared body of append and delete: `write` every kept table but
    * `due`, the index and the tables without a trained quantizer first;
    * then retrain `due` plus every trained table whose quantizer has
    * drifted from the index's new size, and `write` the rest — a table
    * the retrain replaces wholesale is never written first. */
  private def maintain(s: SparkSession, d: String, kept: Seq[VecIndex],
      due: Seq[VecIndex])(write: VecIndex => Unit): Unit = {
    val (trained, rest) = kept.filterNot(due.contains)
      .partition(_.quantizer.exists(_.stored.nonEmpty))
    Par.run(rest.map(t => () => write(t)))
    lazy val now = DerivedCache.existing(s, d, Index.id).count()
    val drifted = trained.filter(_.quantizer.exists(_.drifted(s, d, now)))
    Par.run(trained.filterNot(drifted.contains).map(t => () => write(t)) ++
      (due ++ drifted).map(t => () => retrain(s, d, t)))
  }

  /** Full retrain of one quantized table from the CURRENT at-rest index:
    * a trained quantizer re-trains (staged replace, then its snapshot
    * meta), a derived one re-derives, and every assignment is redone
    * against it. Append-then-retrain and delete-then-retrain equal a
    * fresh build (KmeansMaintenanceSpec, PqMaintenanceSpec,
    * EmbeddingDeletionSpec). */
  def retrain(s: SparkSession, d: String, t: VecIndex): Unit = {
    val v = DerivedCache.existing(s, d, Index.id).select(col("vec_id"), col("embedding"))
    val q = t.quantizer.get
    val rows = q.stored match {
      case None => q.of(v)
      case Some((table, meta)) =>
        DerivedCache.replace(s, d, table)(q.of(v))
        DerivedCache.replace(s, d, meta)(sizeOf(v))
        DerivedCache.existing(s, d, table)
    }
    DerivedCache.replace(s, d, t.id)(t.rowsOf(v, rows))
  }
}
