package graft.build

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The at-rest maintenance primitives: `append` (per-document index delta),
  * `replace` (state tables whose update touches existing rows), and
  * `compact` (the small-files pathology of a long-lived append path —
  * every daily append leaves another parquet file group; compaction
  * rewrites them into size-targeted files without changing content). */
class DerivedCacheSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String) =
    s"/derived-cache-$tag/${java.util.UUID.randomUUID()}"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("compact merges appended file groups without changing content") {
    val d = freshDir("compact")
    DerivedCache.table(spark, d, ("t", 1))(Seq((1L, "a")).toDF("id", "v"))
    (2 to 4).foreach { i =>
      DerivedCache.append(spark, d, ("t", 1))(Seq((i.toLong, "b")).toDF("id", "v"))
    }
    val before = rows(DerivedCache.existing(spark, d, ("t", 1)))
    assert(before.size == 4)
    val filesBefore = DerivedCache.parquetFileCount(spark, d, ("t", 1))
    assert(filesBefore >= 4,
      s"a build plus three appends must leave >= 4 file groups, got $filesBefore")

    DerivedCache.compact(spark, d, ("t", 1))
    assert(DerivedCache.parquetFileCount(spark, d, ("t", 1)) == 1,
      "a table far under targetBytes must compact to a single file")
    assert(rows(DerivedCache.existing(spark, d, ("t", 1))) == before,
      "compaction must be content-neutral")

    // the compacted table keeps working as an append target
    DerivedCache.append(spark, d, ("t", 1))(Seq((5L, "c")).toDF("id", "v"))
    assert(rows(DerivedCache.existing(spark, d, ("t", 1))).size == 5)
  }

  test("replace may read from the table it replaces") {
    val d = freshDir("replace")
    DerivedCache.table(spark, d, ("t", 1))(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    val cur = DerivedCache.existing(spark, d, ("t", 1))
    DerivedCache.replace(spark, d, ("t", 1))(cur.withColumn("v", $"v" + 1))
    assert(DerivedCache.existing(spark, d, ("t", 1))
      .as[(Long, Long)].collect().toMap == Map(1L -> 11L, 2L -> 21L))
  }

  test("replace refuses a table whose base was never built") {
    val e = intercept[IllegalArgumentException] {
      DerivedCache.replace(spark, freshDir("unbuilt"), ("t", 1))(
        Seq((1L, 1L)).toDF("k", "v"))
    }
    assert(e.getMessage.contains("not built"))
  }

  test("compact refuses a table whose base was never built") {
    val e = intercept[IllegalArgumentException] {
      DerivedCache.compact(spark, freshDir("unbuilt"), ("t", 1))
    }
    assert(e.getMessage.contains("not built"))
  }
}
