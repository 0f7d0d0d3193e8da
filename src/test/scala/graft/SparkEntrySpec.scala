package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants on the declared surface — a query slipping in
  * without an oracle would silently downgrade the driver's check for it to
  * rows-only, and an oracle without a query would never run at all. */
class SparkEntrySpec extends AnyFunSuite {

  test("every declared query has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("query names follow the family_name convention") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("[a-z]{1,3}[0-9]+[a-z]?_[a-z0-9_]+"))
    assert(bad.isEmpty, s"non-conforming query names: ${bad.toSeq.sorted}")
  }

  test("oracle SQL never references the Spark-side cache or testdata paths") {
    val bad = SparkEntry.oracleSql.filter { case (_, sql) =>
      sql.contains("graft-cache") || sql.contains("/root/")
    }
    assert(bad.isEmpty, s"oracles with environment paths: ${bad.keys.toSeq.sorted}")
  }

  test("sampled oracle variants target declared queries and stay path-clean") {
    val extra = SparkEntry.oracleSqlSampled.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"sampled oracles without a query: ${extra.toSeq.sorted}")
    val bad = SparkEntry.oracleSqlSampled.filter { case (_, (f, sql)) =>
      (f + sql).contains("graft-cache") || (f + sql).contains("/root/")
    }
    assert(bad.isEmpty, s"sampled oracles with environment paths: ${bad.keys.toSeq.sorted}")
  }

  test("bench medians split into stdout parts under the tail capture") {
    val medians = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
      .map { case (q, i) => q -> (123.456789012345 + i) }
    val parts = Bench.medianParts(medians, "\"unit\":\"sec\",\"sf\":\"testdata/sf0.1\",\"reps\":5")
    assert(parts.size > 1, "the full surface must not fit one part")
    assert(parts.forall(_.length <= Bench.PartChars), parts.map(_.length))
    val got = parts.zipWithIndex.flatMap { case (p, i) =>
      val j = org.json4s.jackson.JsonMethods.parse(p)
      assert((j \ "part") == org.json4s.JInt(i + 1) && (j \ "of") == org.json4s.JInt(parts.size))
      (j \ "bench_queries").asInstanceOf[org.json4s.JObject].obj.map {
        case (k, v) => k -> v.asInstanceOf[org.json4s.JDouble].num
      }
    }
    assert(got == medians, "the parts together must hold every median, in order")
  }

  test("a subset selector matches query names by prefix") {
    val names = SparkEntry.queries.keySet
    def selected(only: String) = names.filter(SparkEntry.selects(Some(only)))
    val ss = names.filter(_.matches("ss[0-9]+[a-z]?_.*"))
    assert(ss.nonEmpty && selected("ss") == ss, s"ss selected ${selected("ss")}")
    assert(selected("dd7") == Set("dd7_prefix_containment"))
    assert(selected("dd7,ss1_") == Set("dd7_prefix_containment", "ss1_cosine_topk"))
    assert(names.filter(SparkEntry.selects(None)) == names)
  }
}
