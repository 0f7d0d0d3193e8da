package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.build.{DerivedCache, DocTables}

/** Right-to-be-forgotten maintenance: deleting an ingested batch from
  * every at-rest document index must equal a fresh build over the
  * remaining corpus — including the two hard cases: exact-dup STARS whose
  * center is deleted (the pair graph must re-center on the new min, not
  * split the surviving duplicates), and the linear CMS sketch whose
  * deletion is an appended NEGATIVE partial that the read-side fold
  * cancels exactly. */
class DeletionSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val t1 = "alpha beta gamma delta epsilon zeta eta theta"
  private val t2 = "iota kappa lambda mu nu xi omicron pi"
  private val t3 = "rho sigma tau upsilon phi chi psi omega"
  private val t4 = "one two three four five six seven eight"
  private val t5 = "nine ten eleven twelve thirteen fourteen fifteen"
  private val t6 = "sixteen seventeen eighteen nineteen twenty twentyone"

  private val all = Seq(
    1L -> t1, 2L -> t1, 3L -> t1, // exact-dup star, center 1 (deleted)
    5L -> t2, 6L -> t2,           // untouched cluster
    7L -> t3, 8L -> t4,           // singletons (8 deleted)
    20L -> t5, 21L -> t5,         // rep survives, its dup deleted
    30L -> t6, 31L -> t6)         // whole cluster deleted
  private val deletedIds = Set(1L, 8L, 21L, 30L, 31L)

  /** Deletes `ids` from a built corpus and asserts every maintained table
    * equals a fresh build over the remaining documents; returns the
    * deletion-side cache dir. */
  private def deleteMatchesFreshBuild(ids: Set[Long]): String = {
    val docs = all.toDF("doc_id", "text")
    val batch = docs.filter($"doc_id".isInCollection(ids))
    val remaining = docs.filter(!$"doc_id".isInCollection(ids))

    val dDel = s"/deletion-spec/${java.util.UUID.randomUUID()}"
    val dRef = s"/deletion-ref/${java.util.UUID.randomUUID()}"
    Ingest.buildDocumentIndexes(spark, dDel, docs)
    Ingest.deleteDocumentBatch(spark, dDel, batch)
    Ingest.buildDocumentIndexes(spark, dRef, remaining)

    // the frozen prefix ranks differ from a fresh build's by design
    // (frozen-until-drift); re-rank first so the family compares
    // bit-for-bit, the IncrementalPrefixSpec convention
    DedupQueries.rerankPrefix(spark, dDel)
    // the pair index is profile-provisioned (saturation only), so its
    // built-ness can legitimately differ between the two corpora; ensure
    // both sides exist so the purge path is compared content-for-content
    DedupQueries.docPairs(spark, dDel)
    DedupQueries.docPairs(spark, dRef)

    for (t <- Ingest.maintainedDocTables) {
      val del0 = DerivedCache.existing(spark, dDel, t)
      val ref0 = DerivedCache.existing(spark, dRef, t)
      // the CMS table stores mergeable partials (incl. deletion's negated
      // ones); equality is through the read-side fold
      val (del, ref) =
        if (t == DocTables.Cms)
          (del0.groupBy("r", "c").agg(sum("cnt").as("cnt")).filter($"cnt" =!= 0L),
            ref0.groupBy("r", "c").agg(sum("cnt").as("cnt")).filter($"cnt" =!= 0L))
        else (del0, ref0)
      assert(rows(del) == rows(ref), s"table ${t._1} must equal the fresh build")
    }
    dDel
  }

  test("deleteDocumentBatch == fresh build over the remaining corpus, every table") {
    val dDel = deleteMatchesFreshBuild(deletedIds)

    // semantics pins: deleting star center 1 must KEEP {2,3} one cluster
    // (re-centered on 2), not split them into singletons
    val clusters = DerivedCache.existing(spark, dDel, DocTables.DupClusters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(2L -> 2L, 3L -> 2L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 20L -> 20L))
    val pairs = DerivedCache.existing(spark, dDel, DocTables.DupPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 3L)), "the star must re-center on the new min")
    assert(pairs.forall { case (a, b) => !deletedIds(a) && !deletedIds(b) },
      "no pair may reference a deleted document")
  }

  test("deleting only documents whose clusters keep no survivor == fresh build") {
    // singleton 8 and the whole cluster {30, 31}: the relabeling loop runs
    // on an empty survivor set
    deleteMatchesFreshBuild(Set(8L, 30L, 31L))
  }

  test("a delete past the drift rule re-ranks the prefix family by itself") {
    // 6 of the 11 documents: the corpus shrinks past half its size at the
    // df snapshot, so the delete must re-rank without a rerankPrefix call
    val docs = all.toDF("doc_id", "text")
    val ids = Set(1L, 2L, 3L, 8L, 30L, 31L)
    val dDel = s"/deletion-shrink/${java.util.UUID.randomUUID()}"
    val dRef = s"/deletion-shrink-ref/${java.util.UUID.randomUUID()}"
    Ingest.buildDocumentIndexes(spark, dDel, docs)
    Ingest.deleteDocumentBatch(spark, dDel, docs.filter($"doc_id".isInCollection(ids)))
    Ingest.buildDocumentIndexes(spark, dRef, docs.filter(!$"doc_id".isInCollection(ids)))
    for (t <- Seq(DedupQueries.PrefixTable, DedupQueries.PrefixDfTable,
        DedupQueries.PrefixMetaTable, DedupQueries.PrefixStatsTable)) {
      assert(rows(DerivedCache.existing(spark, dDel, t))
          == rows(DerivedCache.existing(spark, dRef, t)),
        s"table ${t._1} must equal the fresh build")
    }
  }
}
