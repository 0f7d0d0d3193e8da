package graft.operators

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{desc, typedlit}

import graft.SparkSpec
import graft.build.{DerivedCache, DocTables}
import graft.functions.VectorOps.cosineExact
import graft.sources.Tables

/** Vector-side right-to-be-forgotten maintenance: deleting a batch from
  * the at-rest vector indexes must equal a fresh build over the remaining
  * vectors — including the anchor case, where a deleted vector IS one of
  * the lowest-id vectors the fixed IVF quantizer / PQ codebook derive
  * from, so assignments and codes must rebuild against the new anchors. */
class EmbeddingDeletionSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select($"vec_id", $"embedding")
  private lazy val allIds =
    emb.select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0))

  test("anchor delete: every table equals a fresh build (after retrain)") {
    // the LOWEST id is by construction an IVF centroid and a PQ codeword
    // anchor — its deletion forces the quantizer re-derivation path
    val deleted = Set(allIds.head, allIds(allIds.length / 3), allIds(allIds.length / 2))
    val batch = emb.filter($"vec_id".isInCollection(deleted)).select($"vec_id")
    val remaining = emb.filter(!$"vec_id".isInCollection(deleted))

    val dDel = s"/emb-del/${java.util.UUID.randomUUID()}"
    val dRef = s"/emb-del-ref/${java.util.UUID.randomUUID()}"
    SimilarityQueries.buildEmbeddingIndexes(spark, dDel, emb)
    SimilarityQueries.deleteEmbeddings(spark, dDel, batch)
    SimilarityQueries.buildEmbeddingIndexes(spark, dRef, remaining)
    // the trained family is frozen-until-drift; retrain so it compares
    // bit-for-bit (the rerankPrefix convention, proven symmetric by
    // KmeansMaintenanceSpec)
    SimilarityQueries.retrainQuantizer(spark, dDel, SimilarityQueries.DefaultCells)

    for (t <- SimilarityQueries.maintainedVectorTables) {
      assert(rows(DerivedCache.existing(spark, dDel, t))
          == rows(DerivedCache.existing(spark, dRef, t)),
        s"table ${t._1} must equal the fresh build")
    }
  }

  test("ss2 after an anchor delete == ss2 on a fresh build") {
    // ss2 probes the lowest vec_id; once a delete removes it, the memoized
    // probe row must follow the mutation, not keep probing a deleted vector
    val deleted = Set(allIds.head)
    val batch = emb.filter($"vec_id".isInCollection(deleted)).select($"vec_id")
    val remaining = emb.filter(!$"vec_id".isInCollection(deleted))
    def ss2(d: String): Seq[String] =
      rows(SimilarityQueries.queries("ss2_lsh_topk")(spark, d))

    val dDel = s"/emb-del-probe/${java.util.UUID.randomUUID()}"
    val dRef = s"/emb-del-probe-ref/${java.util.UUID.randomUUID()}"
    SimilarityQueries.buildEmbeddingIndexes(spark, dDel, emb)
    val before = ss2(dDel)
    SimilarityQueries.deleteEmbeddings(spark, dDel, batch)
    SimilarityQueries.buildEmbeddingIndexes(spark, dRef, remaining)
    val after = ss2(dDel)
    assert(after == ss2(dRef), "ss2 after the delete must equal ss2 on the fresh build")
    assert(after != before, "deleting the probe vector must change ss2's answer")
  }

  test("ss2 after a cache-root switch == ss2 before the delete") {
    // the probe row is memoized per corpus ROOT: a delete under root A must
    // not leak into the same corpus key freshly built under root B
    val rootKey = "spark.graft.cache.dir"
    val saved = spark.conf.getOption(rootKey)
    val roots = Seq("a", "b").map(r => Files.createTempDirectory(s"graft-root-$r-").toFile)
    val d = s"/emb-del-root/${java.util.UUID.randomUUID()}"
    def ss2(): Seq[String] = rows(SimilarityQueries.queries("ss2_lsh_topk")(spark, d))
    try {
      spark.conf.set(rootKey, roots(0).toString)
      SimilarityQueries.buildEmbeddingIndexes(spark, d, emb)
      val before = ss2()
      SimilarityQueries.deleteEmbeddings(spark, d,
        emb.filter($"vec_id" === allIds.head).select($"vec_id"))
      ss2()
      spark.conf.set(rootKey, roots(1).toString)
      SimilarityQueries.buildEmbeddingIndexes(spark, d, emb)
      assert(ss2() == before, "root B holds every vector: ss2 must probe the lowest vec_id")
    } finally {
      saved.fold(spark.conf.unset(rootKey))(spark.conf.set(rootKey, _))
      roots.foreach(FileUtils.deleteDirectory)
    }
  }

  test("ss4 and ss12 after an anchor delete == ss4 and ss12 on a fresh build") {
    // delete the anchors of the probe's best-ranked cells (but not the
    // probe, the lowest id): the probe must rank against the remaining
    // index's anchors, the ones the rebuilt assignments name
    val nc = SimilarityQueries.DefaultCells
    val pemb = emb.filter($"vec_id" === allIds.head).head.getSeq[Float](1)
    val topCells = emb.filter($"vec_id".isInCollection(allIds.take(nc)))
      .select($"vec_id", cosineExact($"embedding", typedlit(pemb)).as("ccos"))
      .orderBy(desc("ccos"), $"vec_id")
      .limit(SimilarityQueries.DefaultNProbe).collect().map(_.getLong(0))
    val deleted = topCells.toSet - allIds.head
    assert(deleted.nonEmpty)
    val batch = emb.filter($"vec_id".isInCollection(deleted)).select($"vec_id")
    val remaining = emb.filter(!$"vec_id".isInCollection(deleted))
    def answers(d: String): Seq[Seq[String]] =
      Seq("ss4_ivf_topk", "ss12_ivfpq_topk").map(q => rows(SimilarityQueries.queries(q)(spark, d)))

    val dDel = s"/emb-del-cells/${java.util.UUID.randomUUID()}"
    val dRef = s"/emb-del-cells-ref/${java.util.UUID.randomUUID()}"
    SimilarityQueries.buildEmbeddingIndexes(spark, dDel, emb)
    SimilarityQueries.deleteEmbeddings(spark, dDel, batch)
    SimilarityQueries.buildEmbeddingIndexes(spark, dRef, remaining)
    assert(answers(dDel) == answers(dRef),
      "ss4 and ss12 after the delete must equal their answers on the fresh build")
  }

  test("a delete past the drift rule leaves every table equal to a fresh build") {
    // more than half of the corpus, every id above the anchors: the
    // trained families must retrain on their own, no explicit call
    val deleted = allIds.drop(allIds.length / 2 - 10).toSet
    assert(deleted.size * 2 > allIds.length)
    val batch = emb.filter($"vec_id".isInCollection(deleted)).select($"vec_id")
    val remaining = emb.filter(!$"vec_id".isInCollection(deleted))

    val dDel = s"/emb-del-shrink/${java.util.UUID.randomUUID()}"
    val dRef = s"/emb-del-shrink-ref/${java.util.UUID.randomUUID()}"
    SimilarityQueries.buildEmbeddingIndexes(spark, dDel, emb)
    SimilarityQueries.deleteEmbeddings(spark, dDel, batch)
    SimilarityQueries.buildEmbeddingIndexes(spark, dRef, remaining)
    for (t <- SimilarityQueries.maintainedVectorTables) {
      assert(rows(DerivedCache.existing(spark, dDel, t))
          == rows(DerivedCache.existing(spark, dRef, t)),
        s"table ${t._1} must equal the fresh build")
    }
  }

  test("non-anchor delete: purge alone reproduces the fresh build") {
    val nc = SimilarityQueries.DefaultCells
    // ids strictly above every anchor: the derived quantizers are
    // untouched and no rebuild pass should be needed
    val deleted = Set(allIds.last, allIds(allIds.length - 2))
    assert(deleted.forall(i => allIds.indexOf(i) >= nc))
    val batch = emb.filter($"vec_id".isInCollection(deleted)).select($"vec_id")
    val remaining = emb.filter(!$"vec_id".isInCollection(deleted))

    val dDel = s"/emb-del-na/${java.util.UUID.randomUUID()}"
    val dRef = s"/emb-del-na-ref/${java.util.UUID.randomUUID()}"
    SimilarityQueries.buildEmbeddingIndexes(spark, dDel, emb)
    SimilarityQueries.deleteEmbeddings(spark, dDel, batch)
    SimilarityQueries.buildEmbeddingIndexes(spark, dRef, remaining)

    // derived-quantizer tables need no retrain to match; the TRAINED
    // families (k-means AND, since round 10, the PQ codebook) stay frozen
    // by design — km is compared after the explicit retrain in the anchor
    // test, pq after the explicit retrain below
    val derived = Seq(DocTables.EmbIndex, DocTables.EmbSq,
      (s"emb_ivf_c$nc", SimilarityQueries.IvfVersion))
    for (t <- derived) {
      assert(rows(DerivedCache.existing(spark, dDel, t))
          == rows(DerivedCache.existing(spark, dRef, t)),
        s"table ${t._1} must equal the fresh build without any rebuild pass")
    }
    // frozen codebook: the purged codes are still exact vs the pre-delete
    // quantizer (row count matches the remaining corpus)...
    assert(DerivedCache.existing(spark, dDel, SimilarityQueries.pqTable).count()
        == DerivedCache.existing(spark, dRef, SimilarityQueries.pqTable).count())
    // ...and an explicit retrain lands exactly on the fresh rebuild
    SimilarityQueries.retrainPqCodebook(spark, dDel)
    for (t <- Seq(SimilarityQueries.pqCbTable, SimilarityQueries.pqTable,
        SimilarityQueries.pqMetaTable)) {
      assert(rows(DerivedCache.existing(spark, dDel, t))
          == rows(DerivedCache.existing(spark, dRef, t)),
        s"table ${t._1} must equal the fresh build after retrain")
    }
  }
}
