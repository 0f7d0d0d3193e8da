package graft.operators

import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint

import graft.SparkSpec

/** ss9's and ss15's compressed-domain Hamming scans broadcast their
  * batch-signature side — data-proportional (corpus/10 here), so the
  * broadcast sits behind the row ceiling ([[Guard.BroadcastMaxKey]]). Over
  * the ceiling each scan degrades to a partition-pair cartesian of the two
  * NARROW sig frames (id + sig only — more network, never a driver OOM),
  * and the result must be identical in both modes. */
class SimilarityGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("hammingTopK at a full-corpus pool equals the exact control bit-for-bit") {
    // the pool is THE recall/latency dial: at pool >= corpus the
    // compressed-domain scan admits everything and the exact rerank IS
    // ss1's brute-force ranking — same scores (stored nsq, identical
    // operation order), same ties, so the rows must match exactly
    val approx = SimilarityQueries.hammingTopK(spark, dir, 1000000).collect().toSeq
    val exact = SimilarityQueries.queries("ss1_cosine_topk")(spark, dir).collect().toSeq
    assert(approx == exact, "full-pool hammingTopK must equal the exact control")
  }

  test("knnJoin pool conf narrows the per-query candidate pool") {
    val perQuery = SimilarityQueries.knnJoin(spark, dir, 1)
      .groupBy("qid").count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getLong(1) == 1L),
      "pool=1 must yield exactly one neighbor per query")
  }

  for (name <- Seq("ss9_knn_join", "ss15_range_join")) {
    val q = name.takeWhile(_ != '_')
    test(s"$q over the batch ceiling drops the broadcast, result-identical") {
      val run = SimilarityQueries.queries(name)
      val base = run(spark, dir).collect().toSeq
      assert(base.nonEmpty)
      spark.conf.set(Guard.BroadcastMaxKey, "0")
      try {
        val df = run(spark, dir)
        val broadcastHints = df.queryExecution.analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.exists(
            _.toString.toLowerCase.contains("broadcast")) => h
        }
        assert(broadcastHints.isEmpty,
          s"over-threshold $q must not force a broadcast: $broadcastHints")
        assert(df.collect().toSeq == base,
          s"$q must return identical rows in both scan modes")
      } finally spark.conf.unset(Guard.BroadcastMaxKey)
    }
  }
}
