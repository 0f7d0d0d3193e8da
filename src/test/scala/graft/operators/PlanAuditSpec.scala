package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Plan-regression tests: the access-path properties the engine's scale
  * story depends on, asserted on the executed plans so a refactor can't
  * silently reintroduce a scan-everything or join-everything shape
  * (the builder prompt's ".explain and iterate until it's the plan you'd
  * want", frozen as tests).
  *
  * The suite runs at TWO scales: sf0.001 ([[PlanAuditSpec]], the fast
  * default) and the bench scale sf0.1 ([[PlanAuditSf01Spec]]) — broadcast
  * vs shuffle decisions, AQE coalescing and skew handling are all
  * size-dependent, so a plan property asserted only on tiny data can
  * silently flip where it matters. */
abstract class PlanAuditBase extends SparkSpec {

  protected def dir: String

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def partitionFilters(p: String): String =
    p.split("PartitionFilters: ").drop(1).mkString(" ")

  test("c01 time-range scan partition-prunes on (year, month, day)") {
    val p = plan(ParityQueries.queries("c01_frame_range_scan")(spark, dir))
    val pf = partitionFilters(p)
    assert(pf.contains("year") && pf.contains("month") && pf.contains("day"),
      s"frames scan must prune partitions, got: ${pf.take(300)}")
    // hour is a data column: predicate must reach the parquet reader
    assert(p.contains("PushedFilters: ") && p.split("PushedFilters: ")(1).contains("hour"),
      "hour predicate must push to the scan")
  }

  test("c11a active-edge scan is partition-pruned with hour pushed down") {
    val p = plan(ParityQueries.queries("c11a_ego_triangles")(spark, dir))
    val pf = partitionFilters(p)
    assert(pf.contains("day"), s"fi scan must prune on the probe day: ${pf.take(300)}")
    assert(p.split("PushedFilters: ").exists(_.contains("hour")),
      "hour predicate must push to the fi scan")
  }

  test("ss2 ANN pools on a narrow Hamming scan, reranks via broadcast — no shuffle") {
    val p = plan(SimilarityQueries.queries("ss2_lsh_topk")(spark, dir))
    // the pool stage must touch ONLY the narrow (vec_id, sig) columns —
    // a pool scan that reads embeddings forfeits the 32-byte/vector
    // compressed-domain bandwidth this operator exists for
    assert("""ReadSchema: struct<vec_id:bigint,sig:string>""".r.findFirstIn(p).isDefined,
      s"ss2's Hamming pool must scan only (vec_id, sig):\n${p.take(1500)}")
    assert(p.contains("hamming_dist"),
      "the pool ranking must be the codegen'd hamming_dist, not a join")
    // global top-pool and top-k are TakeOrdered (map-side partial top-N);
    // the constant-bounded pool broadcasts into the rerank join; nothing
    // in the plan shuffles
    assert(p.contains("TakeOrderedAndProject"), "top-k should be TakeOrderedAndProject")
    assert(p.contains("BroadcastHashJoin"), "the rerank pool must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("Exchange hashpartitioning") && !p.contains("Exchange rangepartitioning"),
      s"ss2 must not shuffle:\n${p.take(1500)}")
  }

  test("ss13 filtered ANN pushes the label predicate to the scan, pools narrow") {
    val p = plan(SimilarityQueries.queries("ss13_filtered_topk")(spark, dir))
    // pre-filter semantics live or die on the predicate reaching the
    // narrow (vec_id, label) parquet scan — row-group stats + dictionary
    // pruning are what make the eligible-id set cheap at 100 TB
    assert(p.split("PushedFilters: ").exists(_.contains("EqualTo(label")),
      s"label equality must push to the embeddings scan:\n${p.take(1500)}")
    assert("""ReadSchema: struct<vec_id:bigint,label:int>""".r.findFirstIn(p).isDefined,
      s"the eligible-id scan must read only (vec_id, label):\n${p.take(1500)}")
    // the Hamming pool keeps ss2's compressed-domain property
    assert("""ReadSchema: struct<vec_id:bigint,sig:string>""".r.findFirstIn(p).isDefined,
      s"ss13's Hamming pool must scan only (vec_id, sig):\n${p.take(1500)}")
    assert(p.contains("hamming_dist"),
      "the pool ranking must be the codegen'd hamming_dist")
    // selective predicate ⇒ the eligible-id restriction broadcasts into
    // the sig scan (the IN-list shape); above broadcast size it may
    // degrade to an equi-join shuffle BY DESIGN — never a cartesian
    assert(p.contains("BroadcastHashJoin"),
      "the eligible-id semi-join should broadcast at audit scale")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"ss13 must never cross-join:\n${p.take(1500)}")
  }

  test("ss1 brute-force top-k uses TakeOrderedAndProject, not a global sort") {
    val p = plan(SimilarityQueries.queries("ss1_cosine_topk")(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("q03 dimension joins broadcast (no shuffle join on dims)") {
    val p = plan(RelationalQueries.queries("q03_revenue_by_nation")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    // with AQE the fact-side join may also end up broadcast at this SF; the
    // invariant is that no dim join degenerates to nested-loop/cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("dd3 verify stage is candidate-driven — no shingle-only self-join") {
    // the quadratic shape is a join keyed solely on the shingle column
    // (a ⋈ b ON sg): Σ df² pairs before any candidate restriction. dd3's
    // verify must key its joins on candidate doc ids instead; dd2 keeps the
    // exhaustive shape as the declared baseline (positive control below).
    val sgOnlyJoin = """Join \[sg#\d+\], \[sg#\d+\]""".r
    val p3 = plan(DedupQueries.queries("dd3_minhash_lsh")(spark, dir))
    assert(sgOnlyJoin.findFirstIn(p3).isEmpty,
      s"dd3 must not contain a shingle-only self-join:\n${p3.take(2000)}")
    val p2 = plan(DedupQueries.queries("dd2_ngram_jaccard")(spark, dir))
    assert(sgOnlyJoin.findFirstIn(p2).isDefined,
      "positive control: dd2's exhaustive baseline should contain the sg-keyed join " +
        "(if this fails the pattern no longer matches plan syntax)")
  }

  test("dd11 counts window hashes in partials and joins the dup set — no h-partitioned window") {
    val p = plan(DedupQueries.queries("dd11_dup_spans")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // occurrence counting must be the map-side-partial groupBy shape…
    assert("""HashAggregate\(keys=\[h#\d+\], functions=\[partial_count""".r.findFirstIn(p).isDefined,
      s"dd11 must partial-aggregate window-hash counts:\n${p.take(2000)}")
    // …feeding an equi-join of the occurrence rows against the dup-hash set
    assert("""Join \[h#\d+\], \[h#\d+\]""".r.findFirstIn(p).isDefined,
      s"dd11 must equi-join occurrences against the dup-hash set:\n${p.take(2000)}")
    // and NEVER a window function partitioned by the hash: one boilerplate
    // window with millions of occurrences would land on a single task
    assert("""windowspecdefinition\(h#\d+""".r.findFirstIn(p).isEmpty,
      s"dd11 must not run a window function partitioned by h:\n${p.take(2000)}")
  }

  test("dd9 online dedup is candidate-driven — band-keyed probe, no shingle self-join") {
    // same contract as dd3: the batch probes the band index on (band, bh)
    // and the verify stage keys on candidate doc ids — never Σ df² pairs
    val sgOnlyJoin = """Join \[sg#\d+\], \[sg#\d+\]""".r
    val p = plan(DedupQueries.queries("dd9_online_dedup")(spark, dir))
    assert(sgOnlyJoin.findFirstIn(p).isEmpty,
      s"dd9 must not contain a shingle-only self-join:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("dd10 online containment probes the prefix index — one prefix-side sg join only") {
    // the PPJoin shape: exactly ONE sg-keyed join — the (batch-restricted)
    // prefix rows probing the shingle index — reading the at-rest
    // sh_prefix table; the verify stage keys on candidate doc ids. A
    // second sg-keyed join (or one not fed by the prefix scan) would be
    // the quadratic full self-join creeping back.
    val sgOnlyJoin = """Join \[sg#\d+\], \[sg#\d+\]""".r
    val p = plan(DedupQueries.queries("dd10_online_containment")(spark, dir))
    assert(sgOnlyJoin.findAllIn(p).size == 1,
      s"dd10 must have exactly one sg-keyed join (the prefix probe):\n${p.take(2000)}")
    // the prefix index is the only at-rest table whose scan has a d1 column;
    // the batch restriction must be pushed INTO that scan, not filtered later
    // (the scan also reads the round-13 `core` flag — the single-witness
    // row marker the non-escalated route filters on)
    assert("""FileScan parquet \[d1#\d+L,sg#\d+,core#\d+\][^\n]*% 10\) = 0""".r.findFirstIn(p).isDefined,
      "dd10's candidates must read the at-rest prefix index with the batch filter pushed down")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("ss9 kNN join Hamming-scans narrow sigs, pools per query, reranks equi-joined") {
    val p = plan(SimilarityQueries.queries("ss9_knn_join")(spark, dir))
    // the batch×corpus product is the DECLARED compressed-domain scan —
    // but it must run over the narrow sig columns only (the broadcast side
    // is the batch sigs, under the Guard ceiling), with every
    // embedding access behind the pooled equi-joins
    assert("""ReadSchema: struct<vec_id:bigint,sig:string>""".r.findFirstIn(p).isDefined,
      s"ss9's Hamming scan must read only (vec_id, sig):\n${p.take(1500)}")
    assert(p.contains("hamming_dist"), "pair scoring must be the codegen'd hamming_dist")
    // rank-limit pushdown: the per-query pool and top-k windows must both
    // pre-truncate map-side (WindowGroupLimit), not shuffle every pair
    assert(p.contains("WindowGroupLimit"),
      s"per-query pools must push the rank limit into the scan side:\n${p.take(1500)}")
    assert(p.contains("Window"), "per-query top-k must be a window, not a global sort")
    // exact cosine only via equi-joins on the pooled (qid, nid) pairs
    assert(!"""BroadcastNestedLoopJoin[^\n]*\n[^\n]*embedding""".r.findFirstIn(p).isDefined,
      "no embedding column may flow through the cross scan")
  }

  test("a03 interval join is grid-bucketed — equi-join, never a nested-loop range join") {
    val p = plan(SessionQueries.queries("a03_session_copresence")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"session×frame overlap must equi-join on the grid bucket:\n${p.take(1500)}")
  }

  test("c04 aggregation is partial+final hash agg over the at-rest scan") {
    val p = plan(ParityQueries.queries("c04_actor_activity")(spark, dir))
    assert(p.contains("HashAggregate"), p.take(1500))
    assert(!p.contains("SortAggregate"), "count-by-key must stay hash-based")
  }

  test("a03 range join broadcasts the grid-bounded side (fa never shuffles into it)") {
    val p = plan(SessionQueries.queries("a03_session_copresence")(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the exploded range list must broadcast over frame_actors:\n${p.take(1500)}")
  }

  test("a03 over the broadcast threshold degrades to a keyed shuffle join, result-identical") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val base = SessionQueries.queries("a03_session_copresence")(spark, dir).collect().toSeq
    spark.conf.set(Guard.BroadcastMaxKey, "0")
    try {
      val df = SessionQueries.queries("a03_session_copresence")(spark, dir)
      // the guard must drop the broadcast HINT entirely (AQE may still pick
      // a broadcast at runtime when the actual size is small — that's fine,
      // it's size-informed; the bug was the unconditional force)
      val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"over-threshold a03 must not force a broadcast: $hints")
      val p = df.queryExecution.sparkPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"degraded a03 must stay an equi-join:\n${p.take(1500)}")
      assert(df.collect().toSeq == base, "both modes must return identical rows")
    } finally spark.conf.unset(Guard.BroadcastMaxKey)
  }

  test("c12 probe-day metrics read the at-rest day-edge table, not frame_interactions") {
    // round 5: the probe-day edge set is a DerivedCache table (five queries
    // share it), so the partition pruning happens once at the index BUILD;
    // the query plan must scan the materialized table and never fall back
    // to the raw frame_interactions scan
    val df = GraphMetricsQueries.queries("c12_clustering_coeff")(spark, dir)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }
    assert(scans.exists(_.contains("edges_probe_day")),
      s"c12 must scan the at-rest probe-day edges, got: $scans")
    assert(!scans.exists(_.contains("frame_interactions")),
      s"c12 must not re-derive the day window from raw edge partitions: $scans")
  }

  test("q16 bucketed join+agg plans with no hash exchange (co-located layout)") {
    val p = plan(RelationalQueries.queries("q16_bucketed_join")(spark, dir))
    assert(p.contains("SortMergeJoin"), s"merge-hinted bucketed join expected:\n${p.take(1500)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join/agg must not shuffle — only the final sort may exchange:\n${p.take(2000)}")
  }

  test("q15 salted join replicates the dim side without shuffling it by key") {
    val p = plan(RelationalQueries.queries("q15_salted_join")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("a05 interval-overlap join stays a bucket-keyed hash join") {
    // the general range join: the Δ-grid generates candidates, so the plan
    // must never contain the nested-loop shape the raw theta-join plans to
    val p = plan(SessionQueries.queries("a05_overlap_join")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval×interval overlap must equi-join on the grid bucket:\n${p.take(1500)}")
  }

  test("g05 link prediction broadcasts the degree table into the score joins") {
    val p = plan(GraphMetricsQueries.queries("g05_link_prediction")(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"degree joins must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), "the top-k cut must not global-sort")
  }

  test("ss7 PQ scan joins codes against a broadcast lookup table") {
    val p = plan(SimilarityQueries.queries("ss7_pq_topk")(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the M×Ks ADC lookup table must broadcast:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"), "rerank pool cut must be top-k")
  }

  test("p05 offsets BUILD reuses ONE tokenized shuffle (scan+tokenize run once)") {
    // the claim in offsetRowsOf's comment, pinned: both prefix levels
    // consume the same bucket exchange. AQE stage reuse only shows in the
    // FINAL adaptive plan, so drive this dataset's own execution first.
    val df = PipelineQueries.offsetRowsOf(
      graft.sources.Tables.documents(spark, dir))
    df.queryExecution.toRdd.foreachPartition(_ => ())
    // AdaptiveSparkPlan prints final AND initial plans; audit the final only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("ReusedExchange"), p.take(1500))
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      "documents must be scanned exactly once\n" + p.take(1500))
  }

  test("p05 query reads the at-rest offsets table, not the documents corpus") {
    // packing happens once at ingest; the declared query is a scan of
    // doc_offsets plus per-row chunk arithmetic
    // the plan string truncates long cache paths, so assert the cache root
    // (InMemoryFileIndex location) + the offsets schema, not the table name
    val p = plan(PipelineQueries.queries("p05_token_offsets")(spark, dir))
    assert(p.contains("graft-cache"), p.take(1500))
    assert(p.contains("struct<doc_id:bigint,n_tokens:bigint,start_off:bigint>"), p.take(1500))
    assert(!p.contains("documents.parquet"), p.take(1500))
  }

  test("dd5 contamination never joins eval docs against train docs directly") {
    // the scale contract: one join keyed on the shingle against the
    // DISTINCT train-shingle set — no doc×doc shape anywhere
    val docJoin = """Join \[d\d?#\d+\], \[d\d?#\d+\]""".r
    val p = plan(DedupQueries.queries("dd5_contamination")(spark, dir))
    assert(docJoin.findFirstIn(p).isEmpty, p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q20 folds the bloom bit-test into the fact scan as a per-row filter") {
    // NOTE: this plan string embeds the bloom blob literal — never print
    // it wholesale in assertion messages
    val p = plan(RelationalQueries.queries("q20_bloom_semi_join")(spark, dir))
    assert(p.contains("might_contain"), "the bloom probe must be in the plan")
    assert(p.contains("xxhash64"), "probe and build must hash via xxhash64")
    // the fact scan stays column-pruned to the 4 consumed columns
    assert(p.split("ReadSchema: ").exists(s =>
      s.startsWith("struct<l_orderkey:bigint,l_quantity:double,l_extendedprice:double,l_discount:double")),
      "lineitem scan must prune to the consumed columns")
    assert(!p.contains("CartesianProduct"))
    // exactness downstream: the semi-join is still present after the prune
    assert(p.contains("LeftSemi"), "the exact semi-join must survive the prune")
  }

  test("ss14 lexical side reads only the probed posting lists, never the corpus") {
    val p = plan(SimilarityQueries.queries("ss14_hybrid_search")(spark, dir))
    // probe-term resolution is a pushed point predicate on the at-rest
    // posting index
    assert(p.split("PushedFilters: ").exists(_.contains("EqualTo(doc_id,0)")),
      "the probe-doc point lookup must push to the posting scan")
    // the raw documents table (and its text column) must not appear: the
    // only corpus-sized inputs are the posting index and the emb index
    assert(!p.contains("documents.parquet"),
      "ss14 must not scan the documents corpus")
    // (the final full-outer fusion join may sort-merge — both its inputs
    // are ≤ TopK rows by construction, the ss10 boundedness argument)
    assert(!p.contains("CartesianProduct"))
  }

  test("p07 reads narrow at-rest offsets + (doc_id, n_chars); text never scanned") {
    val p = plan(PipelineQueries.queries("p07_shard_manifest")(spark, dir))
    // the token-mass side reads the maintained offsets table's narrow
    // (doc_id, n_tokens) schema — the corpus is never re-tokenized (the
    // scan LOCATION string is display-truncated, so assert the schema)
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<doc_id:bigint,n_tokens:bigint")),
      "token mass must come from the maintained offsets table")
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<doc_id:bigint,n_chars:bigint")),
      "the documents scan must prune to (doc_id, n_chars)")
    assert(!p.split("ReadSchema: ").exists(_.contains("text:string")),
      "p07 must never read the text column")
  }

  test("p10 samples off the maintained offsets; corpus text never read") {
    val p = plan(PipelineQueries.queries("p10_weighted_sample")(spark, dir))
    // weights come from the at-rest offsets' narrow (doc_id, n_tokens)
    // projection; the corpus total is the one-row offsets-meta scan
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<doc_id:bigint,n_tokens:bigint")),
      s"weights must come from the maintained offsets table:\n${p.take(1200)}")
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<total_tokens:bigint")),
      "the corpus total must be the one-row offsets-meta scan")
    assert(!p.split("ReadSchema: ").exists(_.contains("text:string")),
      "p10 must never read the corpus text")
    // the one-row total broadcasts; the draw is a per-row filter — the
    // only exchange in the plan is the final presentation sort
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the one-row total must broadcast")
    assert(!p.contains("Exchange hashpartitioning"),
      s"p10 must not shuffle before the final order:\n${p.take(1200)}")
  }

  test("tx14 runs entirely off maintained tables — zero text reads") {
    val p = plan(TextQueries.queries("tx14_cms_topk")(spark, dir))
    // the sketch estimates fold the at-rest doc_cms partials (a
    // ≤ depth×width×files input)...
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<r:int,c:bigint,cnt:bigint")),
      s"tx14 must read the at-rest cms cells:\n${p.take(1200)}")
    // ...and the exact top-k companion pass aggregates the at-rest
    // posting index (Σ tf per term; doc_id prunes away) — the corpus
    // text never appears
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<t:string,tf:bigint")),
      "exact counts must come from the posting index")
    assert(!p.split("ReadSchema: ").exists(_.contains("text:string")),
      "tx14 must never read the corpus text")
  }

  test("tx13 encodes off the posting index — zero text reads") {
    val p = plan(TextQueries.queries("tx13_bpe_encode")(spark, dir))
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<t:string,doc_id:bigint,tf:bigint")),
      s"tx13's (doc, word, count) table is the at-rest posting index:\n${p.take(1200)}")
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<doc_id:bigint,n_chars:bigint")),
      "byte mass must come from the narrow (doc_id, n_chars) projection")
    assert(!p.split("ReadSchema: ").exists(_.contains("text:string")),
      "tx13 must never read the corpus text")
  }

  test("g09 persistence reads the adjacency index per-row; frame aggs broadcast") {
    val df = GraphMetricsQueries.queries("g09_frame_turnover")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // round 14: consecutive-frame persistence is a per-row array filter
    // over the at-rest temporal adjacency (each pair's sorted frame set),
    // NOT a shuffle of the frame-edge incidence list through a pair-keyed
    // lead window — the v1 shape this audit used to pin
    assert(!p.contains("Window [lead"),
      s"g09 must not re-shuffle the incidence list through a lead window:\n${p.take(1200)}")
    assert(p.contains("array_contains"),
      s"persistence must be the codegen'd sorted-array filter:\n${p.take(1200)}")
    assert(p.contains("temporal_adj") || p.contains("InMemoryTableScan"),
      s"the filter must read the at-rest/pinned adjacency index:\n${p.take(1200)}")
    // per-frame aggregate tables are frame-count-bounded: they broadcast
    // into the dense frame spine rather than shuffling it
    assert(p.contains("BroadcastHashJoin"), "frame-keyed aggs should broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("p08 ranks off the maintained offsets; corpus text never read") {
    val p = plan(PipelineQueries.queries("p08_epoch_shuffle")(spark, dir))
    // chunk ids derive from the at-rest offsets rows (the p06 span
    // explode; doc_id itself prunes away) — the documents table does not
    // appear in the plan at all
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<n_tokens:bigint,start_off:bigint")),
      s"chunks must derive from the maintained offsets table:\n${p.take(1200)}")
    assert(!p.split("ReadSchema: ").exists(_.contains("text:string")),
      "p08 must never read the corpus text")
    // the within-bucket rank is partitioned; the ONE unpartitioned window
    // is the bucket-offset pass, bounded at 4096 rows by the fixed hash
    // space (the documented p05-style exception)
    val unpartitioned = p.linesIterator
      .filter(l => l.contains("Window [") && !l.contains("bucket")).toSeq
    assert(unpartitioned.isEmpty,
      s"every window must be bucket-scoped:\n${unpartitioned.mkString("\n")}")
  }

  test("p12 shuffles its corpus-sized rows once per rank level") {
    // each PrefixSum level's offsets, rows and totals share ONE bucket
    // exchange; with the final doc_id sort that is three corpus-sized
    // shuffle writes. A consumer that missed the shared exchange would
    // show as a fourth (the stages run in the checkpoint jobs too, so
    // this counts stages, not plan nodes)
    val n = graft.sources.Tables.documents(spark, dir).count()
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        writes.add(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try PipelineQueries.queries("p12_mixture_order")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val corpusSized = writes.asScala.toSeq.filter(_ >= n)
    assert(corpusSized.size == 3, s"corpus-sized shuffle writes: $corpusSized (n = $n)")
  }

  test("mm7/mm8 scan the at-rest fingerprint table; no decode in the query plan") {
    for (q <- Seq("mm7_image_phash", "mm8_audio_fingerprint")) {
      val p = plan(MultimodalQueries.queries(q)(spark, dir))
      // the candidate join's ONLY input is the narrow maintained media_fp
      // scan with the modality predicate pushed — re-decoding rasters/PCM
      // at query time would show up as an object-serialization stage
      assert(p.split("ReadSchema: ").exists(_.startsWith("struct<doc_id:bigint,modality:string,sig_lo:bigint")),
        s"$q must read the at-rest media_fp table:\n${p.take(1200)}")
      assert(p.split("PushedFilters: ").exists(_.contains("EqualTo(modality")),
        s"$q's modality predicate must push to the scan")
      assert(!p.contains("SerializeFromObject") && !p.contains("MapPartitions"),
        s"$q must not decode media at query time:\n${p.take(1200)}")
      assert(!p.contains("CartesianProduct"), s"$q candidates must come from the band equi-join")
    }
  }

  test("mm14 compares the two at-rest fingerprint arms; no decode at query time") {
    val p = plan(MultimodalQueries.queries("mm14_jpeg_fidelity")(spark, dir))
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<doc_id:bigint,modality:string,sig_lo:bigint")),
      s"mm14 must read the at-rest media_fp table:\n${p.take(1200)}")
    assert(p.split("PushedFilters: ").exists(_.contains("EqualTo(modality")),
      "mm14's modality predicates must push to the scans")
    assert(!p.contains("SerializeFromObject") && !p.contains("MapPartitions"),
      s"mm14 must never decode a JPEG at query time:\n${p.take(1200)}")
  }

  test("tx15 profiles from ONE corpus scan; windows are keyed (two-level)") {
    val df = TextQueries.queries("tx15_length_profile")(spark, dir)
    // the two-level PrefixSum fans the histogram out to three consumers;
    // one-scan-ness is an AQE stage-reuse property, so assert on the FINAL
    // adaptive plan (collect() finalizes df's own query execution):
    // exactly one live corpus FileScan, the rest reused
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), "plan must be AQE-final before auditing")
    // toString prints Final AND Initial sections — audit the final one
    val p = full.split("== Initial Plan ==")(0)
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"tx15's final plan must scan the corpus exactly once (stage reuse):\n${p.take(2500)}")
    assert(p.contains("ReusedQueryStage") || p.contains("ReusedExchange"),
      "the histogram exchange must be reused across the PrefixSum consumers")
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<doc_id:bigint,text:string")),
      "the one scan reads only (doc_id, text) — doc_id is documentsWide's compute-spread key")
    // every cumulative window carries a partition key: metric for the
    // bucket pass, (metric, _bucket) for the within-bucket pass — no
    // unpartitioned histogram-sized window exists at any scale
    assert(p.linesIterator.filter(_.contains("Window [")).forall(_.contains("metric")),
      s"tx15 windows must be metric-partitioned:\n${p.take(1500)}")
  }

  test("a08 step window is user-partitioned over one events scan") {
    val p = plan(AsOfQueries.queries("a08_time_weighted_avg")(spark, dir))
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"a08 must scan events exactly once:\n${p.take(1200)}")
    assert(p.linesIterator.filter(_.contains("Window [")).forall(_.contains("user_id")),
      s"a08 windows must partition by user_id:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      "a08 is a pure window+agg plan, no joins")
  }

  test("a09 anomaly is one events scan + user-partitioned windows, no joins") {
    val p = plan(SessionQueries.queries("a09_activity_anomaly")(spark, dir))
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"a09 must scan events exactly once:\n${p.take(1200)}")
    assert(p.linesIterator.filter(_.contains("Window [")).forall(_.contains("user_id")),
      s"a09 windows must partition by user_id:\n${p.take(1200)}")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "a09 is a pure agg+window plan, no joins")
  }

  test("dd15 profiles the maintained band index — corpus text never read") {
    val p = plan(DedupQueries.queries("dd15_band_profile")(spark, dir))
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"dd15 must scan only the at-rest band table:\n${p.take(1200)}")
    assert(!p.contains("text:string"), "dd15 must never read document text")
    assert(p.contains("HashAggregate"), "occupancy/histogram are hash aggs")
  }

  test("ss16 profiles the maintained assignment table — no vector math in-plan") {
    val p = plan(SimilarityQueries.queries("ss16_cell_profile")(spark, dir))
    // the occupancy and total branches each scan the at-rest table; both
    // must be the column-pruned cid projection of the ASSIGNMENT parquet,
    // never the embeddings corpus
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("graft-cache")),
      s"ss16 must scan only at-rest state:\n${p.take(1200)}")
    assert(p.split("ReadSchema: ").drop(1).forall(_.startsWith("struct<cid:bigint")),
      s"every scan must prune to the cid column:\n${p.take(1200)}")
    assert(!p.contains("embedding"), "ss16 must never touch embedding vectors")
  }

  test("tx17 head reads the posting index only; top-K is TakeOrdered") {
    val p = plan(TextQueries.queries("tx17_zipf_head")(spark, dir))
    assert(!p.contains("text:string"), "tx17 must never read document text")
    assert(p.contains("TakeOrderedAndProject"),
      "the head must be a map-side partial top-K, never a full sort")
  }

  test("a10 retention joins stay keyed; events read narrow (user_id, ts)") {
    val p = plan(SessionQueries.queries("a10_retention_cohorts")(spark, dir))
    assert(p.split("ReadSchema: ").drop(1).forall(r =>
        r.startsWith("struct<ts:timestamp") || r.startsWith("struct<user_id:bigint")),
      s"a10 scans must prune to (user_id, ts):\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cohort joins are keyed equi-joins")
  }

  test("a11 transition matrix windows by user over narrow event columns") {
    val p = plan(SessionQueries.queries("a11_transition_matrix")(spark, dir))
    assert(p.linesIterator.filter(_.contains("Window [")).forall(_.contains("user_id")),
      s"a11 windows must partition by user_id:\n${p.take(1200)}")
    assert(p.split("ReadSchema: ").drop(1).forall(r => !r.contains("props") && !r.contains("value")),
      "a11 must not read the wide props/value columns")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the row-total join is keyed")
  }

  test("g11 histogram reads at-rest interactions; CCDF window is histogram-sized") {
    val p = plan(GraphMetricsQueries.queries("g11_degree_histogram")(spark, dir))
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("graft-cache")),
      s"g11 must scan only the at-rest graph tables:\n${p.take(1200)}")
    assert(!p.contains("text:string") && !p.contains("events"),
      "g11 touches only the interaction table")
  }

  test("mm9 integrity audit reads only (doc_id, n_chars) — one narrow scan") {
    val p = plan(MultimodalQueries.queries("mm9_integrity_audit")(spark, dir))
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"mm9 must scan documents exactly once:\n${p.take(1200)}")
    assert(p.split("ReadSchema: ").exists(_.startsWith("struct<doc_id:bigint,n_chars:bigint")),
      s"asset generation needs only (doc_id, n_chars):\n${p.take(1200)}")
  }

  /** `df`'s FINAL adaptive plan (it is collected first), without the
    * initial-plan section. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), "plan must be AQE-final before auditing")
    full.split("== Initial Plan ==")(0)
  }

  /** A sampled audit's rank-cut pins: hash exchanges and windows in the
    * final plan (one exchange and one window per cut — a pre-rank level
    * would add one of each), and Spark's partial `WindowGroupLimit`
    * directly below every hash exchange that feeds a rank window keyed by
    * `pid`, so no probe's corpus-sized row set is shuffled whole. */
  private def assertRankCuts(q: String, exchanges: Int, windows: Int): Unit = {
    val p = finalPlan(SimilarityQueries.queries(q)(spark, dir))
    val lines = p.linesIterator.toIndexedSeq
    val nEx = lines.count(_.contains("Exchange hashpartitioning"))
    val nWin = lines.count(_.contains("Window ["))
    assert(nEx == exchanges && nWin == windows,
      s"$q: $nEx hash exchanges and $nWin windows, pinned at $exchanges and $windows:\n${p.take(4000)}")
    val rankEx = lines.indices.filter(i =>
      lines(i).contains("Exchange hashpartitioning(pid") &&
        lines.take(i).reverse.takeWhile(!_.contains("Exchange")).exists(_.contains("WindowGroupLimit")))
    assert(rankEx.nonEmpty, s"$q: no per-probe rank exchange found:\n${p.take(4000)}")
    rankEx.foreach { i =>
      assert(lines(i + 1).contains("WindowGroupLimit") && lines(i + 1).contains("Partial"),
        s"$q: a partial WindowGroupLimit must sit below ${lines(i).trim}:\n${p.take(4000)}")
    }
  }

  test("ss19b per-probe cuts: Spark's partial WindowGroupLimit, no pre-rank level") {
    assertRankCuts("ss19b_pareto_sampled", 3, 3)
  }

  test("ss22 per-probe cuts: Spark's partial WindowGroupLimit, no pre-rank level") {
    assertRankCuts("ss22_nprobe_sweep", 5, 3)
  }
}

/** Plan audits at the tiny scale — the fast default. */
class PlanAuditSpec extends PlanAuditBase {
  protected val dir = "/root/testdata/sf0.001"
}

/** The same plan properties at the BENCH scale: what broadcasts at
  * sf0.001 because everything is tiny must still broadcast (or stay a
  * keyed equi-join) when the inputs are 100× bigger. */
class PlanAuditSf01Spec extends PlanAuditBase {
  protected val dir = "/root/testdata/sf0.1"
}
