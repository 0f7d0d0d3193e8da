package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{desc, typedlit}

import graft.SparkSpec
import graft.build.{DerivedCache, DocTables}
import graft.functions.VectorOps.cosineExact
import graft.sources.Tables

/** Vector-side incremental maintenance: appending the per-vector
  * derivations of an embedding delta to the at-rest LSH / SQ / IVF / PQ tables
  * must equal a full rebuild — for IVF and PQ, against the frozen
  * quantizer/codebook (IVF centroid ids stay inside the base corpus under
  * the monotone-append contract; the v2 TRAINED PQ codebook is a stored
  * artifact an under-growth append must not touch — the retrain arm lives
  * in [[PqMaintenanceSpec]]). */
class IncrementalEmbeddingSpec extends SparkSpec {
  import spark.implicits._

  private val d = s"/incremental-emb-spec/${java.util.UUID.randomUUID()}"
  private val nc = SimilarityQueries.DefaultCells
  private val ivfName = s"emb_ivf_c$nc"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def centsOf(vecs: DataFrame): DataFrame =
    vecs.orderBy($"vec_id").limit(nc)
      .select($"vec_id".as("cid"), $"embedding".as("cemb"))

  test("appendEmbeddings == full rebuild for LSH/SQ/IVF/PQ index tables") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val ids = emb.select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0))
    assert(ids.length > nc * 2, "corpus too small for a meaningful split")
    // delta ids sit strictly above every centroid id (monotone ingest
    // ids); delta ≈ base/3 keeps the append safely under the 50%
    // retrain-growth trigger so the frozen-codebook arm is what runs
    val cut = ids(ids.length * 3 / 4)
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    assert(delta.count() > 0)

    // ingest day 0: at-rest builds over the BASE corpus, the
    // buildEmbeddingIndexes layout piece by piece (trained codebook +
    // training-size meta BEFORE the codes, the v2 at-rest contract)
    val idx0 = DerivedCache.table(spark, d, DocTables.EmbIndex)(
      SimilarityQueries.indexRowsOf(base))
    DerivedCache.table(spark, d, DocTables.EmbSq)(
      SimilarityQueries.sqRowsOf(base))
    DerivedCache.table(spark, d, (ivfName, SimilarityQueries.IvfVersion))(
      SimilarityQueries.ivfAssignRowsOf(base, centsOf(idx0)))
    val cb0 = DerivedCache.table(spark, d, SimilarityQueries.pqCbTable) {
      DerivedCache.table(spark, d, SimilarityQueries.pqMetaTable)(
        base.agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_vecs")))
      SimilarityQueries.pqTrainedCodebookOf(base)
    }
    DerivedCache.table(spark, d, SimilarityQueries.pqTable)(
      SimilarityQueries.pqCodeRowsOf(base, cb0))

    // ingest day 1: the delta appends
    SimilarityQueries.appendEmbeddings(spark, d, delta)

    def readBack(t: (String, Int)) = DerivedCache.existing(spark, d, t)
    assert(rows(readBack(DocTables.EmbIndex)) == rows(SimilarityQueries.indexRowsOf(emb)),
      "appended LSH index must equal the full rebuild")
    assert(rows(readBack(DocTables.EmbSq)) == rows(SimilarityQueries.sqRowsOf(emb)),
      "appended SQ codes must equal the full rebuild")
    assert(rows(readBack((ivfName, SimilarityQueries.IvfVersion))) ==
      rows(SimilarityQueries.ivfAssignRowsOf(emb, centsOf(emb))),
      "appended IVF assignments must equal a full rebuild under the same quantizer")
    // the trained codebook is NOT append-stable (Lloyd means move with
    // the corpus) — the under-growth contract is a full assignment
    // against the FROZEN base-trained codebook, which must be untouched
    assert(rows(readBack(SimilarityQueries.pqCbTable)) == rows(cb0),
      "under-growth append must not touch the trained codebook")
    assert(rows(readBack(SimilarityQueries.pqTable)) ==
      rows(SimilarityQueries.pqCodeRowsOf(emb, cb0)),
      "appended PQ codes must equal a full assignment under the frozen codebook")
  }

  test("ivfTopK and kmeansTopK read the vectors appendEmbeddings added") {
    // the public entry points read the cell count ingest maintains: probing
    // every cell after an append is the exact top-k over base + delta
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", $"embedding")
    val ids = emb.select($"vec_id").orderBy($"vec_id").collect().map(_.getLong(0))
    val pemb = emb.filter($"vec_id" === ids.head).head.getSeq[Float](1)
    val exact = emb.filter($"vec_id" =!= ids.head)
      .select($"vec_id", cosineExact($"embedding", typedlit(pemb)).as("cosine"))
      .orderBy(desc("cosine"), $"vec_id").limit(20)
      .collect().map(_.getLong(0)).toSeq
    // the delta is the probe's exact neighbours, none of them an IVF
    // anchor (the nc lowest ids stay in the base, the monotone contract)
    val deltaIds = exact.filterNot(ids.take(nc).contains)
    assert(deltaIds.nonEmpty)
    val dApp = s"/incremental-emb-read/${java.util.UUID.randomUUID()}"
    SimilarityQueries.buildEmbeddingIndexes(spark, dApp,
      emb.filter(!$"vec_id".isInCollection(deltaIds)))
    SimilarityQueries.appendEmbeddings(spark, dApp,
      emb.filter($"vec_id".isInCollection(deltaIds)))
    for ((name, topK) <- Seq(
        "ivfTopK" -> SimilarityQueries.ivfTopK(spark, dApp, nc),
        "kmeansTopK" -> SimilarityQueries.kmeansTopK(spark, dApp, nc))) {
      assert(topK.collect().map(_.getLong(0)).toSeq == exact,
        s"$name probing all $nc cells must return the exact top-k, appended vectors included")
    }
  }
}
