package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.build.{DerivedCache, DocTables}
import graft.sources.Tables

/** Incremental index maintenance: appending the per-document derivations of
  * a document delta to every declared at-rest table ([[DocIndex]]) must
  * equal a full rebuild over base ∪ delta — the property that lets a 100-TB
  * pipeline ingest a daily append without re-shingling the corpus. */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._

  // unique fake corpus key per run: the at-rest tables live under
  // target/graft-cache/<key>/ and a reused key would double-append
  private val d = s"/incremental-spec-corpus/${java.util.UUID.randomUUID()}"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val message = Map(
    DocIndex.Shingles -> "appended shingle index must equal the full rebuild",
    DocIndex.Minhash -> "appended minhash index must equal the full rebuild",
    DocIndex.Bands -> "appended band index must equal the full rebuild",
    DocIndex.Fingerprints -> "appended fingerprint index must equal the full rebuild",
    DocIndex.Sizes -> "appended size table must equal the full rebuild",
    DocIndex.Windows -> "appended positional window index must equal the full rebuild",
    DocIndex.Postings -> "appended posting index must equal the full rebuild",
    DocIndex.Cms -> "folded appended CMS cells must equal the single-pass rebuild",
    DocIndex.MediaFp -> "appended media fingerprint table must equal the full rebuild",
    DocIndex.Sim -> "appended SimHash index must equal the full rebuild",
    DocIndex.Pairs -> "appended shingle-pair index must equal the full rebuild")

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select($"doc_id", $"text")

  // ingest day 0 builds every at-rest index over the BASE corpus only (plus
  // the on-demand pair index, so the append maintains every table); ingest
  // day 1 appends the derivations of the delta docs ONLY. Done once, shared
  // by the checks below.
  private lazy val appended: Unit = {
    val base = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    assert(base.count() > 0 && delta.count() > 0, "split must be non-trivial")
    DocIndex.build(spark, d, base)
    DocIndex.Pairs.read(spark, d)
    DocIndex.append(spark, d, delta)
  }

  private val textTables = Seq(DocIndex.Postings, DocIndex.Cms)

  /** Each table read back through the cache with a poisoned build closure —
    * it must be served from the appended files, never rebuilt — equals its
    * derivation over base ∪ delta. */
  private def assertAppendedEqualsRebuild(tables: Seq[DocIndex]): Unit = {
    appended
    for (t <- tables) {
      val atRest = DerivedCache.table(spark, d, t.id)(
        sys.error(s"${t.id._1} must come from the at-rest files, not a rebuild"))
      // the CMS table holds batch PARTIALS: equality to a rebuild is the
      // mergeable-sketch property, and holds only after the read-side fold
      val got =
        if (t == DocIndex.Cms)
          atRest.groupBy("r", "c").agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
        else atRest
      assert(rows(got) == rows(t.derive(docs)), message(t))
    }
  }

  test("appendDocuments == full rebuild for shingle/minhash/band indexes") {
    assert(message.keySet == DocIndex.all.toSet)
    assertAppendedEqualsRebuild(DocIndex.all.filterNot(textTables.contains))
  }

  test("TextQueries.appendDocuments == full rebuild for the posting index") {
    assertAppendedEqualsRebuild(textTables)
    // and the partials really are partials (two builds present at rest)
    val cms = DerivedCache.existing(spark, d, DocTables.Cms)
    assert(cms.count() > TextQueries.cmsRowsOf(docs).count() ||
      rows(cms) != rows(TextQueries.cmsRowsOf(docs)),
      "append must file-append partials, not rewrite the folded table")
  }

  test("append refuses a table whose base was never built") {
    val e = intercept[IllegalArgumentException] {
      DerivedCache.append(spark, s"$d-unbuilt", DocTables.Shingles)(
        Seq((1L, "a b c")).toDF("doc_id", "sg"))
    }
    assert(e.getMessage.contains("not built"))
    // the registry never skips an unbuilt non-optional table: a later lazy
    // build would serve a corpus without the appended batch
    val viaRegistry = intercept[IllegalArgumentException] {
      DocIndex.append(spark, s"$d-unbuilt-registry",
        Seq((1L, "a b c")).toDF("doc_id", "text"))
    }
    assert(viaRegistry.getMessage.contains("not built"))
  }
}
