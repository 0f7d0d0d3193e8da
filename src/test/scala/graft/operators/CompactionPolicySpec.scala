package graft.operators

import graft.SparkSpec
import graft.build.{DerivedCache, DocTables}
import graft.sources.Tables

/** The compaction cadence policy ([[Ingest.compactIfNeeded]]): a long-lived
  * daily append accumulates one parquet file group per day per index — the
  * classic small-files pathology — so the ingest path compacts any
  * maintained table whose file count passes `spark.graft.compact.maxFiles`.
  * Pins: the sweep fires past the threshold, is content-neutral, leaves a
  * small table as ONE row-group-efficient file, is idempotent, and runs
  * automatically from [[Ingest.appendDocumentBatch]]. */
class CompactionPolicySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    .select($"doc_id", $"text")

  private def files(d: String): Int =
    DerivedCache.parquetFileCount(spark, d, DocTables.Shingles._1, DocTables.Shingles._2)

  test("the file-count policy compacts appended indexes, content-neutrally") {
    val d = s"/compact-policy/${java.util.UUID.randomUUID()}"
    Ingest.buildDocumentIndexes(spark, d, docs.filter($"doc_id" % 8 === 0))
    spark.conf.set(Ingest.CompactMaxFilesKey, "9999") // hold the sweep off
    try {
      (1 to 6).foreach { k =>
        Ingest.appendDocumentBatch(spark, d, docs.filter($"doc_id" % 8 === k))
      }
      val before = files(d)
      assert(before > 6, s"six daily appends must leave many small files, got $before")
      val rows = DerivedCache.existing(spark, d, DocTables.Shingles)
        .collect().map(_.toString).sorted.toSeq

      spark.conf.set(Ingest.CompactMaxFilesKey, "4")
      val compacted = Ingest.compactIfNeeded(spark, d)
      assert(compacted.contains(DocTables.Shingles._1),
        s"the sweep must pick up the fragmented shingle index, got $compacted")
      assert(files(d) == 1,
        s"a small table must compact to one size-targeted file, got ${files(d)}")
      assert(DerivedCache.existing(spark, d, DocTables.Shingles)
        .collect().map(_.toString).sorted.toSeq == rows,
        "compaction must be content-neutral")
      assert(Ingest.compactIfNeeded(spark, d).isEmpty,
        "a second sweep under the ceiling must be a no-op")
    } finally spark.conf.unset(Ingest.CompactMaxFilesKey)
  }

  test("appendDocumentBatch keeps file counts bounded automatically") {
    val dTight = s"/compact-auto/${java.util.UUID.randomUUID()}"
    val dLoose = s"/compact-none/${java.util.UUID.randomUUID()}"
    def run(d: String, maxFiles: String): Int = {
      spark.conf.set(Ingest.CompactMaxFilesKey, maxFiles)
      try {
        Ingest.buildDocumentIndexes(spark, d, docs.filter($"doc_id" % 8 === 0))
        (1 to 3).foreach { k =>
          Ingest.appendDocumentBatch(spark, d, docs.filter($"doc_id" % 8 === k))
        }
        files(d)
      } finally spark.conf.unset(Ingest.CompactMaxFilesKey)
    }
    val loose = run(dLoose, "9999")
    val tight = run(dTight, "2")
    assert(tight < loose,
      s"the in-append sweep must bound fragmentation: policy=$tight, none=$loose")
  }

  test("the worklist is every document table, and the day-0 build writes all but sh_pairs") {
    // written out, not derived: a table the schedule silently lost would
    // drop out of every spec that iterates the worklist
    val expected = Set(
      "doc_shingles" -> 1, "doc_minhash" -> 1, "doc_mh_bands" -> 1, "doc_sizes" -> 1,
      "sh_pairs" -> 1, "sh_sim" -> 1, "doc_fp" -> 1, "doc_windows" -> 1,
      "doc_postings" -> 1, "doc_cms" -> 1, "media_fp" -> 4,
      "sh_prefix_c9_10" -> 3, "sh_df" -> 1, "sh_df_meta" -> 1, "sh_stats" -> 1,
      "sim_stats" -> 1, "dup_pairs" -> 1, "dup_clusters" -> 1,
      "doc_offsets" -> 1, "doc_offsets_meta" -> 1)
    assert(Ingest.maintainedDocTables.toSet == expected)
    assert(Ingest.maintainedDocTables.size == expected.size, "no table may be listed twice")
    val d = s"/compact-worklist/${java.util.UUID.randomUUID()}"
    Ingest.buildDocumentIndexes(spark, d, docs)
    val unbuilt = Ingest.maintainedDocTables.filterNot(DerivedCache.isBuilt(spark, d, _))
    // the pair index is built on demand (saturated corpora only)
    assert(unbuilt == Seq("sh_pairs" -> 1))
  }
}
