package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The posting index's (t, doc_id) uniqueness — an implicit construction
  * property through round 13, LOAD-BEARING since round 14: tx6/tx9/tx10
  * compute document frequency as a plain COUNT over the index (map-side
  * partials) instead of countDistinct's distinct-shuffle, which is exact
  * iff no (t, doc_id) key repeats. Pins the invariant on the fresh build
  * AND across the append maintenance path (the two ways rows enter). */
class PostingUniqueSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("posting index rows are unique per (t, doc_id)") {
    val p = TextQueries.postings(spark, dir)
    val dup = p.groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    assert(dup == 0L, "posting index must hold one row per (t, doc_id)")
  }

  test("count-based df equals countDistinct df on the live index") {
    val p = TextQueries.postings(spark, dir)
    val viaCount = p.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val viaDistinct = p.groupBy(col("t")).agg(countDistinct(col("doc_id")).as("df"))
    assert(viaCount.exceptAll(viaDistinct).isEmpty &&
      viaDistinct.exceptAll(viaCount).isEmpty,
      "df must be identical under both formulations")
  }

  test("uniqueness and count==countDistinct survive the append path") {
    import spark.implicits._
    // base ∪ appended batch through the REAL maintenance entry point
    // (the registry append, DocIndex.append) — the second way rows enter
    // the index
    val d = s"/posting-unique-append/${java.util.UUID.randomUUID()}"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"text")
    val base = docs.filter($"doc_id" % 3 =!= 0)
    val delta = docs.filter($"doc_id" % 3 === 0)
    DocIndex.build(spark, d, base)
    DocIndex.append(spark, d, delta)
    val merged = TextQueries.postings(spark, d)
    val dup = merged.groupBy(col("t"), col("doc_id")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    assert(dup == 0L, "appended posting index must stay unique per (t, doc_id)")
    val viaCount = merged.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val viaDistinct = merged.groupBy(col("t"))
      .agg(countDistinct(col("doc_id")).as("df"))
    assert(viaCount.exceptAll(viaDistinct).isEmpty &&
      viaDistinct.exceptAll(viaCount).isEmpty,
      "count-based df must survive the append path")
  }
}
