package graft.operators

import graft.SparkSpec

/** The declared control queries (dd2/ss1) are size-gated: above the guard
  * they throw loudly instead of launching quadratic/full-scan work. */
class ControlGuardSpec extends SparkSpec {
  import spark.implicits._

  test("gate passes small inputs unchanged and throws above the guard") {
    val df = spark.range(10).toDF("id")
    assert(Controls.gate(df, "x", max = 10L).count() == 10)
    val e = intercept[IllegalArgumentException] {
      Controls.gate(df, "dd2_ngram_jaccard", max = 9L)
    }
    assert(e.getMessage.contains("CONTROL") &&
      e.getMessage.contains("dd2_ngram_jaccard"))
  }

  test("default guard admits the test corpora (dd2/ss1 stay runnable)") {
    val sh = DedupQueries.shingleRowsOf(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(Controls.gate(sh, "dd2_ngram_jaccard", "/root/testdata/sf0.001").count() > 0)
  }

  test("an append to the corpus invalidates the memoized gate count") {
    import graft.build.{DerivedCache, DocTables}
    val d = s"/control-epoch/${java.util.UUID.randomUUID()}"
    val key = Controls.MaxRowsKey
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "4")
    try {
      DerivedCache.table(spark, d, DocTables.Shingles)(
        Seq((1L, "a"), (1L, "b"), (2L, "a")).toDF("doc_id", "sg"))
      val t = DerivedCache.existing(spark, d, DocTables.Shingles)
      // 3 rows <= 4: memoizes the passing count for this (corpus, epoch)
      Controls.gate(t, "dd2_ngram_jaccard", d)
      // the incremental path grows the gated table past the guard; the
      // epoch bump must force a recount — a stale pass here would launch
      // the quadratic control on a corpus far above the limit
      DerivedCache.append(spark, d, DocTables.Shingles)(
        Seq((3L, "a"), (3L, "b"), (4L, "a")).toDF("doc_id", "sg"))
      val e = intercept[IllegalArgumentException] {
        Controls.gate(DerivedCache.existing(spark, d, DocTables.Shingles),
          "dd2_ngram_jaccard", d)
      }
      assert(e.getMessage.contains("CONTROL"))
    } finally {
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("a malformed numeric option is rejected by name") {
    def rejected(key: String, bad: String)(read: => Any): Unit = {
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException](read)
        assert(e.getMessage.contains(key) && e.getMessage.contains(bad), e.getMessage)
      } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    rejected(Controls.MaxRowsKey, "ten") {
      Controls.gate(spark.range(3).toDF("id"), "dd2_ngram_jaccard", "/control-conf")
    }
    rejected(Ingest.CompactMaxFilesKey, "-16") {
      Ingest.compactIfNeeded(spark, "/control-conf")
    }
  }
}
