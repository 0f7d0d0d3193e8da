package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.build.DerivedCache
import graft.functions.Fingerprint.fingerprintMd5
import graft.sources.Tables

/** Text-analysis operators for a large-scale training-data pipeline, over the
  * `documents` table: token counting, quality scoring, language
  * identification, and document fingerprinting.
  *
  * Everything is per-row Catalyst expressions + one final aggregation, so the
  * work is embarrassingly parallel and whole-stage-codegen'd: at 100 TB each
  * document is scored in its scan partition, and only small aggregates
  * shuffle. All scoring math is integer counts + double division (identical
  * bits on every engine), keeping the DuckDB oracle exact.
  */
object TextQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tx1_token_stats" -> tx1,
    "tx2_quality_score" -> tx2,
    "tx3_lang_id" -> tx3,
    "tx4_fingerprint" -> tx4,
    "tx5_stratified_sample" -> tx5,
    "tx6_fulltext_search" -> tx6,
    "tx7_repetition" -> tx7,
    "tx8_bigram_topk" -> tx8,
    "tx9_tfidf_terms" -> tx9,
    "tx10_rarity_profile" -> tx10,
    "tx11_bpe_pairs" -> tx11,
    "tx12_bpe_merges" -> tx12,
    "tx13_bpe_encode" -> tx13,
    "tx14_cms_topk" -> tx14,
    "tx15_length_profile" -> tx15,
    "tx16_collocations" -> tx16,
    "tx17_zipf_head" -> tx17,
    "tx18_rake_phrases" -> tx18,
    "tx19_lm_familiarity" -> tx19,
    "tx20_lexical_diversity" -> tx20,
    "tx21_source_divergence" -> tx21)

  /** Force at-rest posting-index materialization and BPE merge-table
    * training (untimed in Bench — training is ingest-time work like ss5's
    * k-means; tx12 declares the trained artifact, tx13 its application). */
  def warm(s: SparkSession, d: String): Unit = {
    postings(s, d)
    trainedMerges(s, d)
    cmsCells(s, d)
    ()
  }

  /** Whitespace tokens of the lowercased text (empty text → empty array).
    * Shared with the composed curation pipeline (p01). */
  private[operators] def wsTokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)

  /** THE quality formula over (token count, stopword ratio, punctuation
    * ratio) — single source of truth for tx2 AND the p01 gate (Scala and
    * SQL sides both): a drift between the two would silently break p01's
    * "composed tx2 gate" contract. */
  private[operators] def qualityFormula(nTokens: Column, stopRatio: Column,
      punctRatio: Column): Column =
    when(nTokens >= 10, lit(1.0)).otherwise(lit(0.0)) *
      (lit(1.0) - punctRatio) *
      when(stopRatio > 0.02, lit(1.0)).otherwise(lit(0.5))

  /** [[qualityFormula]] as DuckDB SQL over caller-supplied expressions. */
  private[operators] def qualityFormulaSql(nTokens: String, stopRatio: String,
      punctRatio: String): String =
    s"""(CASE WHEN $nTokens >= 10 THEN 1.0 ELSE 0.0 END)
       |    * (1.0 - $punctRatio)
       |    * (CASE WHEN ($stopRatio) > 0.02 THEN 1.0 ELSE 0.5 END)""".stripMargin

  /** tx1: token counting — whitespace tokens vs BPE-ish regex tokens
    * (letter runs / digit runs / single punctuation) vs chars. */
  private def tx1(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documentsWide(s, d)
      .select(
        $"doc_id",
        size(wsTokens($"text")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower($"text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast("long").as("re_tokens"),
        length($"text").cast("long").as("n_chars"))
      .orderBy($"doc_id")
  }

  private[operators] val stop = Seq("the", "a", "and", "of", "to", "in")

  /** tx2: quality scoring — length/punctuation/stopword signals composed into
    * a deterministic score, the shape of heuristic quality filters used for
    * pretraining-corpus curation. */
  private def tx2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = wsTokens($"text")
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, t => t.isInCollection(stop))).cast("double")
    val nPunct = size(regexp_extract_all($"text", lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("double")
    val nChars = length($"text").cast("double")
    Tables.documentsWide(s, d)
      .select(
        $"doc_id",
        nTok.cast("long").as("n_tokens"),
        when(nTok > 0, nStop / nTok).otherwise(lit(0.0)).as("stop_ratio"),
        when(nChars > 0, nPunct / nChars).otherwise(lit(0.0)).as("punct_ratio"),
        when(nTok > 0, nChars / nTok).otherwise(lit(0.0)).as("avg_tok_len"))
      .withColumn("quality",
        qualityFormula($"n_tokens", $"stop_ratio", $"punct_ratio"))
      .orderBy($"doc_id")
  }

  /** Per-language stopword marker sets for the n-gram/stopword language-ID
    * heuristic. The synthetic corpus is English-vocabulary, so the classifier
    * mostly answers `en` — the operator under test is the scoring plumbing,
    * not the model. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "nicht"),
    "es" -> Seq("el", "que", "los"),
    "fr" -> Seq("le", "les", "une"),
    "en" -> Seq("the", "and", "of"))

  /** tx3: language ID — score each language's marker set over the tokens,
    * argmax with a fixed preference order, confusion matrix vs the labeled
    * `lang` column. */
  private def tx3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = wsTokens($"text")
    val scoreCols = Seq($"doc_id", $"lang") ++ langMarkers.map { case (l, ws) =>
      size(filter(toks, t => t.isInCollection(ws))).as(s"s_$l")
    }
    val scored = Tables.documentsWide(s, d).select(scoreCols: _*)
    // strictly-greater chain = first-listed language wins ties
    val pred = langMarkers.init.foldRight(lit(langMarkers.last._1)) {
      case ((l, _), rest) =>
        val others = langMarkers.filter(_._1 != l).map(m => col(s"s_$l") >= col(s"s_${m._1}"))
        when(others.reduce(_ && _), lit(l)).otherwise(rest)
    }
    scored.withColumn("pred_lang", pred)
      .groupBy($"lang", $"pred_lang").agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred_lang")
  }

  /** tx4: document fingerprinting — md5 over whitespace-normalized lowercase
    * text; per-source uniqueness profile. */
  private def tx4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"source", fingerprintMd5($"text").as("fp"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), countDistinct($"fp").as("n_unique"))
      .orderBy($"source")
  }

  /** tx5: deterministic hash-stratified sampling — corpus curation's
    * reproducible subset: strata = length bands, membership decided by a
    * hash of the STABLE KEY (doc_id), never by position or RNG, so the
    * sample is identical on any engine, partitioning, or re-run, and
    * documents keep/lose membership stably as the corpus grows. Rate 64/256
    * (25%) via the first md5 byte; at 100 TB this is a pushed-down
    * per-row filter — no shuffle at all before the final order. */
  private def tx5(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("band", expr("n_chars div 500"))
      .withColumn("hb", expr("conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10)")
        .cast("long"))
      .filter($"hb" < 64)
      .select($"doc_id", $"band", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Posting rows (t, doc_id, tf) for a documents frame — PER-DOCUMENT
    * (the groupBy keys include doc_id), so the at-rest index is
    * append-exact under document batches like the shingle/minhash/band
    * family (IncrementalIndexSpec). */
  private[graft] def postingRowsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .repartition($"doc_id")
      .select($"doc_id", explode(wsTokens($"text")).as("t"))
      .groupBy($"t", $"doc_id").agg(count(lit(1)).as("tf"))
  }

  /** At-rest inverted index (token, doc_id, tf) — the fulltext analog of the
    * reference's Lucene `actors_<run>` index (`load_gexf_to_neo4j.py:148`,
    * dropped by SURVEY §1.3 because nothing queried it; tx6 gives the
    * capability a real, tested analog). Built once at ingest like every
    * other [[graft.build.DerivedCache]] table; at 100 TB the posting list is the
    * standard token-bucketed layout search engines shard on.
    *
    * INVARIANT (load-bearing since round 14): rows are UNIQUE per
    * (t, doc_id) — [[postingRowsOf]] groups by exactly that key, appends
    * are per-NEW-document batches and deletes are whole-document filters,
    * so the key stays unique under every maintenance path
    * (PostingUniqueSpec pins it). tx6/tx9/tx10 lean on it to compute df
    * as a plain COUNT with map-side partials instead of countDistinct's
    * two-phase distinct shuffle of the whole index (guide §2.3). */
  private[operators] def postings(s: SparkSession, d: String): DataFrame =
    DocIndex.Postings.read(s, d)

  /** Term-stat join operand for posting-index joins (the
    * GraphMetricsQueries.guarded analog, round 14): term-keyed stats
    * frames are VOCABULARY-bounded, so they broadcast under the [[Guard]]
    * ceiling — keeping the corpus-sized posting scan un-shuffled — and
    * degrade to a keyed shuffle-hash join above it, never fail. The
    * vocabulary probe is one memoized narrow count off the at-rest index
    * (the dayVertices discipline: one scalar job per corpus
    * version, cost ≪ the join it plans). */
  private def guardedTerms(s: SparkSession, d: String, stats: DataFrame): DataFrame =
    Guard.sized(stats, DerivedCache.scalar(s, d, "text.vocab") {
      postings(s, d).select(col("t")).distinct().count()
    })

  /** tx6: fulltext AND-search over the inverted index. The probe is
    * data-derived like every graph probe: the two highest-document-frequency
    * non-stopword tokens (ties → lexicographic), resolved with one tiny
    * collected aggregate (the A3 seed-lookup analog), then a posting-list
    * intersection ranked by summed term frequency, top 20. */
  private def tx6(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = postings(s, d)
    // df/nt as plain COUNTs: the posting index is unique per (t, doc_id)
    // (the [[postings]] invariant), so countDistinct's distinct shuffle of
    // the whole index is pure overhead — count(1) aggregates map-side
    val terms = p.filter(!$"t".isInCollection(stop))
      .groupBy($"t").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), $"t").limit(2)
      .collect().toIndexedSeq.map(_.getString(0))
    p.filter($"t".isin(terms: _*))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nt"), sum($"tf").as("score"))
      .filter($"nt" === terms.length)
      .select($"doc_id", $"score")
      .orderBy(desc("score"), $"doc_id").limit(20)
  }

  /** tx7: within-document repetition — the Gopher-style duplicate-n-gram
    * quality signal: fraction of a document's word-3-grams that are repeats
    * (`1 − distinct/total`). The total is a per-row token count; the
    * DISTINCT count comes from the at-rest shingle index (one group-by over
    * the index scan) — a per-row `array_distinct` over thousand-element
    * string arrays is quadratic per document and measured 40 s at sf0.1,
    * while the shingle index already holds exactly the distinct trigrams. */
  private def tx7(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = wsTokens($"text")
    val uniq = DedupQueries.shingles(s, d)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_distinct"))
    Tables.documents(s, d)
      .select($"doc_id", greatest(size(w) - 2, lit(0)).cast("long").as("n_trigrams"))
      .join(uniq, Seq("doc_id"), "left")
      .select($"doc_id", $"n_trigrams", coalesce($"n_distinct", lit(0L)).as("n_distinct"))
      .withColumn("rep_ratio",
        when($"n_trigrams" > 0,
          lit(1.0) - $"n_distinct".cast("double") / $"n_trigrams".cast("double"))
          .otherwise(lit(0.0)))
      .orderBy($"doc_id")
  }

  /** tx8: corpus bigram top-k — the n-gram frequency profile corpus curation
    * uses for boilerplate detection and contamination screens. Bigrams are
    * formed per row with a codegen'd `zip_with` over two array slices (no
    * per-token shuffle until the count), then one partial+final hash agg and
    * a global top-20 (`TakeOrderedAndProject`, never a full sort) with the
    * (count desc, bigram) total order making ties deterministic. */
  private def tx8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = wsTokens($"text")
    val bigrams = when(size(w) >= 2,
      zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    Tables.documentsWide(s, d)
      .select(explode(bigrams).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), $"bigram").limit(20)
  }

  /** tx9: per-document top TF-IDF terms off the at-rest posting index — the
    * keyword-extraction shape (tf and df both come straight from the index;
    * the only new shuffle is the per-document window). The score is the
    * rational `tf·N/df` evaluated as one double division — no `ln`, whose
    * last-ulp rounding is libm-dependent and would break the bit-exact
    * oracle — which ranks identically to classic tf·idf for fixed N. */
  private def tx9(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = postings(s, d)
    val n = Tables.documents(s, d).count()
    // round 14: df via count(1) (the [[postings]] uniqueness invariant —
    // no distinct shuffle of the index), and the vocabulary-bounded df
    // table joins in guarded-broadcast mode so the posting scan itself is
    // never re-keyed on t (guide §2.3/§3.1)
    val byDf = p.groupBy($"t").agg(count(lit(1)).as("df"))
    val scored = p.join(guardedTerms(s, d, byDf), "t")
      .select($"doc_id", $"t".as("term"),
        (($"tf" * lit(n)).cast("double") / $"df").as("score"))
    GroupTop.per(scored, Seq($"doc_id"), Seq(desc("score"), $"term"), 3, "rn")
      .select($"doc_id", $"term", $"score")
      .orderBy($"doc_id", desc("score"), $"term")
  }

  /** tx10: per-document rarity profile — the document-frequency complement
    * to tx2's surface heuristics: a document whose token mass is corpus-
    * unique (OCR noise, gibberish, mangled encodings) or corpus-saturated
    * (boilerplate) is flagged by its df distribution, the signal CCNet-style
    * pipelines get from an LM and dd12 gets from duplicated spans. Per doc
    * over its DISTINCT terms: term count, corpus-unique terms (df = 1),
    * mean df and the rare fraction — both emitted as ONE division of exact
    * integer aggregates, so the doubles are bit-identical on any engine
    * (the tx9 no-`ln` discipline). Token-empty docs profile as (0, 0,
    * null, null).
    *
    * Scale shape: at-rest posting scan → df join keyed on the term (the
    * same AQE-splittable hot-stopword shape tx9 runs) → one hash agg on
    * doc_id → left join back to the doc list. No new state, no window. */
  private def tx10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = postings(s, d)
    // round 14: same count(1)-df + guarded-broadcast join as tx9
    val byDf = p.groupBy($"t").agg(count(lit(1)).as("df"))
    val prof = p.join(guardedTerms(s, d, byDf), "t")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_terms"),
        sum(when($"df" === 1L, 1L).otherwise(0L)).as("n_rare"),
        sum($"df").as("sum_df"))
    Tables.documents(s, d).select($"doc_id")
      .join(prof, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_terms", lit(0L)).as("n_terms"),
        coalesce($"n_rare", lit(0L)).as("n_rare"),
        ($"sum_df".cast("double") / $"n_terms").as("mean_df"),
        ($"n_rare".cast("double") / $"n_terms").as("rarity"))
      .orderBy($"doc_id")
  }

  /** tx12's merge budget — small enough that the declared query stays
    * cheap in the timed bench (each round is one vocabulary-sized agg);
    * library callers pass their own to [[BpeTrainer.train]]. */
  private val BpeMerges = 8

  /** tx11: BPE pair statistics — round 0 of tokenizer training as a plain
    * declared query: adjacent character pairs inside each distinct word,
    * weighted by the word's corpus frequency (the exact quantity
    * [[BpeTrainer]] argmaxes each round), top 20. Integer counts end to
    * end, so the oracle is hash-exact; BpeSpec pins that tx11's top row IS
    * the trainer's first merge.
    *
    * Scale shape: the corpus-sized pass is the word count (scan + one hash
    * shuffle — tx1's shape); the pair explode runs on the DISTINCT-word
    * table (vocabulary-sized), and the final agg groups on a key space
    * bounded by |alphabet|² — partial aggregation collapses it map-side. */
  private def tx11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documentsWide(s, d)
      .select(explode(wsTokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("wc"))
    words.filter(length($"w") >= 2)
      .select($"w", $"wc", explode(sequence(lit(1), length($"w") - 1)).as("i"))
      .select(expr("substring(w, i, 1)").as("lhs"),
        expr("substring(w, i + 1, 1)").as("rhs"), $"wc")
      .groupBy($"lhs", $"rhs").agg(sum($"wc").as("pair_count"))
      .orderBy(desc("pair_count"), $"lhs", $"rhs").limit(20)
  }

  /** tx12: the trained BPE merge table ([[BpeTrainer]], [[BpeMerges]]
    * rounds) as a declared query — rank, fused pair, and the weighted
    * occurrence count that won the round. The oracle is the g04-style
    * UNROLLED iteration: [[BpeMerges]] chained CTE rounds, each computing
    * the same overlap-counted pair argmax and applying the merge with a
    * `list_reduce` fold whose accumulator check reproduces the greedy
    * left-to-right semantics of [[BpeTrainer.applyMerge]] exactly (a
    * freshly-fused symbol can never re-match as `lhs` within its round,
    * because lhs++rhs ≠ lhs). So even the trained ITERATIVE artifact is
    * hash-checked end to end, like ss5's trained k-means; BpeSpec adds the
    * differential test against an independent single-machine trainer. */
  private def tx12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = trainedMerges(s, d)
    merges.map(m => (m.rank, m.lhs, m.rhs, m.pairCount))
      .toDF("rank", "lhs", "rhs", "pair_count")
      .orderBy($"rank")
  }

  /** The trained merge table (driver state, 8 rows), an entry of the one
    * memo on the corpus root ([[DerivedCache.scalar]]), per session —
    * training is ingest-time work ([[warm]]); tx12 and tx13 both read the
    * SAME trained artifact, the ss5/centroid discipline. */
  private[operators] def trainedMerges(
      s: SparkSession, d: String): Seq[BpeTrainer.Merge] =
    DerivedCache.scalar(s, d, "tx.bpeMerges")(
      BpeTrainer.train(Tables.documentsWide(s, d), BpeMerges))

  /** tx13: BPE ENCODING under the trained merge table — the apply side of
    * tx12's train side, closing the tokenizer loop: per document, the
    * whitespace token count, the token count under the trained BPE vocab,
    * and chars-per-BPE-token (the compression ratio an LLM-pipeline
    * operator actually monitors; one exact division, hash-safe).
    *
    * Scale shape: encoding is NEVER applied to corpus rows — the greedy
    * merge fold runs once per DISTINCT word (vocabulary-sized typed map
    * with the 8-row merge table in the closure), joined onto the AT-REST
    * posting index, which already is the (doc, word, count) table this
    * query needs — so the corpus text is never read (byte mass comes from
    * the narrow (doc_id, n_chars) documents projection; plan-audited).
    * The oracle replays training AND encoding as one chained-CTE DuckDB
    * query (the tx12 unroll, carrying the word through every round), so
    * the trained-then-applied artifact is hash-checked end to end. */
  private def tx13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = trainedMerges(s, d)
    // the at-rest posting index IS the (doc, word, count) table this
    // query needs — the corpus text is never read: the byte mass comes
    // from the documents table's narrow (doc_id, n_chars) projection
    val dw = postings(s, d).select($"doc_id", $"t", $"tf".as("cnt"))
    val enc = dw.select($"t").distinct().as[String]
      .map(w => (w, BpeTrainer.encode(w, merges).length.toLong))
      .toDF("t", "bpe_len")
    val agg = dw.join(enc, "t")
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("ws_tokens"),
        sum($"cnt" * $"bpe_len").as("bpe_tokens"))
    Tables.documents(s, d).select($"doc_id", $"n_chars")
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"ws_tokens", lit(0L)).as("ws_tokens"),
        coalesce($"bpe_tokens", lit(0L)).as("bpe_tokens"),
        $"n_chars",
        when(coalesce($"bpe_tokens", lit(0L)) > 0,
          $"n_chars".cast("double") / $"bpe_tokens")
          .otherwise(lit(0.0)).as("chars_per_token"))
      .orderBy($"doc_id")
  }

  /** Count-min sketch geometry (Cormode/Muthukrishnan '05) — [[tx14]] and
    * its oracle share it; depth×width bounds the sketch at 2048 cells
    * whatever the corpus size. */
  private val CmsDepth = 4
  private val CmsWidth = 512
  private val CmsTopK = 20

  /** Row-`i` CMS cell of a token column: first 8 md5 hex digits of the
    * row-salted token (the p02/KMV hash construction — bit-identical in
    * DuckDB), mod the width. */
  private def cmsCell(i: Int, t: Column): Column =
    pmod(
      conv(substring(md5(concat(lit(s"cms$i:"), t).cast("binary")), 1, 8),
        16, 10).cast("long"),
      lit(CmsWidth.toLong))

  /** Partial CMS cells of a document frame — one pass whose aggregation
    * keyspace is depth×width, collapsed map-side by partial aggregation.
    * SUM-decomposable: the cells of base ∪ delta are the per-key sums of
    * the two frames' cells (CMS is a mergeable sketch), so the at-rest
    * table holds batch PARTIALS and [[cmsCells]] folds them at read. */
  private[graft] def cmsRowsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(explode(wsTokens($"text")).as("t"))
      .select(posexplode(array((0 until CmsDepth).map(i => cmsCell(i, $"t")): _*))
        .as(Seq("r", "c")))
      .groupBy($"r", $"c").agg(count(lit(1)).as("cnt"))
  }

  /** The folded at-rest sketch: ≤ depth×width rows after summing the
    * batch partials (a few KB of input whatever the corpus size). Cells
    * fully cancelled by deletion's negative partials are dropped — absent
    * and zero are the same cell state, and dropping them keeps the folded
    * sketch identical to a rebuild over the remaining corpus. */
  private[operators] def cmsCells(s: SparkSession, d: String): DataFrame =
    DocIndex.Cms.read(s, d).groupBy("r", "c").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") =!= 0L)

  /** tx14: count-min-sketch heavy hitters — the point-query sketch
    * completing the repo's sketch trio (KMV cardinality p02, bloom
    * membership q20, CMS frequency). The sketch is an at-rest MAINTAINED
    * table ([[cmsRowsOf]], appended as batch partials by
    * [[DocIndex.append]] and folded at read by [[cmsCells]]); the exact
    * top-[[CmsTopK]] pass exists to make the estimate's one-sided error a
    * measured column (`overcount` ≥ 0 — the dd8 estimate-vs-exact
    * discipline), not because the sketch needs it. Deterministic md5 row
    * hashes keep the DuckDB oracle hash-exact. */
  private def tx14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = cmsCells(s, d)
    // exact counts come from the at-rest posting index too (Σ tf per
    // term) — the whole query runs off maintained tables, zero text reads
    val top = postings(s, d).groupBy($"t").agg(sum($"tf").as("exact_cnt"))
      .orderBy(desc("exact_cnt"), $"t").limit(CmsTopK)
    val cand = top.select($"t", $"exact_cnt",
      posexplode(array((0 until CmsDepth).map(i => cmsCell(i, $"t")): _*))
        .as(Seq("r", "c")))
    cand.join(cells, Seq("r", "c"))
      .groupBy($"t", $"exact_cnt")
      .agg(min($"cnt").as("cms_est"))
      .select($"t".as("term"), $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overcount"))
      .orderBy(desc("exact_cnt"), $"term")
  }

  /** tx15: corpus length profile — EXACT nearest-rank quantiles (min, max,
    * p25/p50/p75/p95/p99, mean) of document char and whitespace-token
    * counts, the length-distribution audit every curation run reports
    * (truncation budgeting, packing-length choice, outlier cut lines).
    *
    * The scale-honest formulation: quantiles are read off a VALUE-KEYED
    * HISTOGRAM (one hash agg over the corpus, shuffle = |distinct
    * lengths|), then [[PrefixSum.profile]]'s two-level cumulative ranks
    * over histogram rows — no corpus-sized window partition, and the
    * reason this never uses Spark's `percentile` (whose sort-based exact
    * path moves per-ROW data, and whose approx path is un-oracle-able).
    * Mean is exact integer sums with ONE final division (the tx9/tx10
    * discipline). */
  private def tx15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = Tables.documentsWide(s, d).select(
      length($"text").cast("long").as("chars"),
      size(wsTokens($"text")).cast("long").as("tokens"))
    val hist = m.select(expr("stack(2, 'chars', chars, 'tokens', tokens) AS (metric, v)"))
      .groupBy($"metric", $"v").agg(count(lit(1)).as("cnt"))
    PrefixSum.profile(hist, "n_docs")
  }

  /** tx16's inclusion floor (rare pairs have unstable lift) and result
    * cap (total order makes the cut deterministic). */
  private val CollMinPair = 5L
  private val CollTopK = 50

  /** tx16: collocation mining — the phrase-discovery pass (tokenizer
    * vocabulary work, index phrase tables) ranking adjacent word pairs by
    * LIFT, the ln-free PMI: `N·c(ab) / (c(a)·c(b))` (PMI's exp — ranks
    * identically since log is monotone, and the no-`ln` discipline keeps
    * the oracle hash-exact: the score is two IEEE double products and ONE
    * division of exact integer counts). Bigram counts pay the corpus scan
    * (the tx8 shape: one explode + hash agg, Σ tokens rows); unigram
    * counts and the token total come from the MAINTAINED posting index —
    * no second text pass. The two unigram joins are term-keyed equi-joins
    * on the ≥ [[CollMinPair]]-filtered pair table (hot stopword heads are
    * AQE-splittable, the tx9 argument); the token total is a one-row
    * cross join. */
  private def tx16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = wsTokens($"text")
    val pairs = when(size(w) >= 2,
      zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val big = Tables.documentsWide(s, d)
      .select(explode(pairs).as("p"))
      .select($"p.w1", $"p.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= CollMinPair)
    val uni = postings(s, d).groupBy($"t").agg(sum($"tf").as("c"))
    val tot = uni.agg(sum($"c").as("n_tokens"))
    big
      .join(uni.select($"t".as("w1"), $"c".as("c_a")), "w1")
      .join(uni.select($"t".as("w2"), $"c".as("c_b")), "w2")
      .crossJoin(tot)
      .select($"w1", $"w2", $"c_ab", $"c_a", $"c_b",
        (($"n_tokens".cast("double") * $"c_ab") /
          ($"c_a".cast("double") * $"c_b")).as("lift"))
      .orderBy(desc("lift"), $"w1", $"w2")
      .limit(CollTopK)
  }

  /** Head size of the tx17 rank-frequency profile. */
  private val ZipfK = 100

  /** tx17: Zipf rank-frequency head — the corpus frequency-distribution
    * profile (top-[[ZipfK]] terms with rank, count, cumulative coverage,
    * and the per-term Zipf constant `rank·freq/N`) every curation run
    * eyeballs before setting stopword/boilerplate thresholds, read off the
    * MAINTAINED posting index (no text pass). The global top-K is a
    * `TakeOrderedAndProject` over the term aggregate (never a full sort);
    * the rank/cumulative window then runs on the ALREADY-LIMITED ≤ K rows,
    * so the one unpartitioned window here is bounded by construction (the
    * ss10 discipline). Doubles are each ONE division of exact integers
    * (coverage = cum/N; zipf_c = (freq·rank)/N with the product exact in
    * IEEE double), so the oracle stays hash-exact. */
  private def tx17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val uni = postings(s, d).groupBy($"t").agg(sum($"tf").as("cnt"))
    val tot = uni.agg(sum($"cnt").as("n_tokens"))
    val top = uni.orderBy(desc("cnt"), $"t").limit(ZipfK)
    // the window input is the ALREADY-LIMITED ≤ ZipfK rows; the declared
    // constant key (PrefixSum.onePart) states that bounded contract
    val w = Window.partitionBy(PrefixSum.onePart($"cnt")).orderBy(desc("cnt"), $"t")
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_cnt",
        sum($"cnt").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(tot)
      .select($"rank", $"t", $"cnt", $"cum_cnt",
        ($"cum_cnt".cast("double") / $"n_tokens").as("coverage"),
        (($"cnt".cast("double") * $"rank") / $"n_tokens").as("zipf_c"))
      .orderBy($"rank")
  }

  /** Result size of the declared RAKE query. */
  private val RakeK = 20

  /** tx18: RAKE keyphrase extraction (Rose et al. 2010) — candidate
    * phrases are the maximal stopword-free token runs (the [[stop]] list
    * segments each document), scored by Σ_w deg(w)/freq(w) over the
    * phrase's words, where freq(w) counts w's occurrences inside
    * candidates and deg(w) sums the lengths of the phrases containing it
    * (within-phrase co-occurrence incl. self — RAKE's degree). Top-
    * [[RakeK]] distinct phrases by (score desc, phrase) — the unsupervised
    * keyword/topic profile next to tx16's bigram collocations (RAKE finds
    * arbitrary-length phrases, lift finds statistically-bound pairs).
    *
    * All word statistics are integer counts; word score is ONE exact
    * division, phrase score the decimal-exact [[Exact.dsum]] of its word
    * scores (order-independent, so two occurrences of the same phrase text
    * score identically on any partitioning AND on the oracle). Scale
    * shape: one doc-keyed tokenize+window pass (per-doc partitions — no
    * corpus-sized window), a vocabulary-keyed stats agg, one word-keyed
    * score join back, a phrase-keyed rollup, TakeOrdered top-K. */
  private def tx18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val occ = Tables.documents(s, d)
      .repartition($"doc_id")
      .select($"doc_id", posexplode(wsTokens($"text")).as(Seq("pos", "t")))
      .withColumn("is_stop", $"t".isInCollection(stop))
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val grouped = occ
      .withColumn("grp", sum(when($"is_stop", 1L).otherwise(0L)).over(w))
      .filter(!$"is_stop")
    // snapshot: the occurrence subtree feeds BOTH the vocabulary stats and
    // the phrase rollup — un-checkpointed, the tokenize + windows would
    // run once per branch (the ss17/g12 discipline; the exchange below
    // them dedupes only the raw scan, not the post-shuffle work)
    val withLen = grouped
      .withColumn("len", count(lit(1)).over(Window.partitionBy($"doc_id", $"grp")))
      .localCheckpoint(eager = false)
    val words = withLen.groupBy($"t")
      .agg(count(lit(1)).as("freq"), sum($"len").as("deg"))
      .select($"t", ($"deg".cast("double") / $"freq".cast("double")).as("wscore"))
    // round 14: the word-score table is vocabulary-bounded — joining it in
    // guarded-broadcast mode keeps the occurrence rows on their doc_id
    // layout (the checkpoint preserves the window exchange's partitioning),
    // so the phrase rollup right below needs NO exchange of its own where
    // v1 re-keyed every occurrence row on t and back on (doc_id, grp)
    val phrases = withLen.join(guardedTerms(s, d, words), "t")
      .groupBy($"doc_id", $"grp")
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(pos, t))), x -> x.t), ' ')")
          .as("phrase"),
        count(lit(1)).as("n_words"),
        graft.functions.Exact.dsum($"wscore").as("score"))
    phrases.groupBy($"phrase")
      .agg(max($"n_words").as("n_words"), count(lit(1)).as("n_occurrences"),
        max($"score").as("score"))
      .orderBy(desc("score"), $"phrase")
      .limit(RakeK)
      .select($"phrase", $"n_words", $"n_occurrences", $"score")
  }

  /** tx19's "known bigram" floor (corpus count ≥ this) and the familiar
    * verdict's OOV-fraction ceiling. */
  private val LmMinCount = 3L
  private val LmMaxOov = 0.5

  /** tx19: bigram-LM FAMILIARITY score — the ln-free perplexity-proxy
    * quality filter (the importance-resampling signal of CCNet/DSIR-class
    * pipelines, scored against the corpus's OWN bigram statistics instead
    * of an external KenLM): per document, the fraction of its bigram
    * OCCURRENCES whose corpus count falls under [[LmMinCount]] (the
    * "unseen n-gram rate" — high = the doc's word transitions are foreign
    * to the corpus: gibberish, boilerplate markup, wrong-language spans)
    * and the mean corpus frequency of its bigrams (the fluency rank —
    * monotone in the add-nothing bigram-LM likelihood, so it ranks
    * documents exactly as a perplexity sort would without a single `ln`
    * entering the value path). Verdict: `familiar = oov_frac ≤
    * [[LmMaxOov]]`.
    *
    * Scale shape: ONE tokenize pass builds per-(doc, bigram) counts; the
    * corpus table is a second hash agg OVER those counts (map-side
    * partial, never a second text read — the subtree is snapshotted so it
    * runs once); the stats join is bigram-keyed on the distinct-pair rows
    * (hot pairs are AQE-splittable, the tx9 argument) and the rollup is
    * doc-keyed. Integers + CASE-guarded one-division doubles, hash-exact;
    * zero-bigram docs (< 2 tokens) report 0/0.0 by the left join. */
  private def tx19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = wsTokens($"text")
    val pairs = when(size(w) >= 2,
      zip_with(slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    // per-(doc, bigram) multiplicities — the one corpus-sized pass,
    // snapshotted because both the corpus counts and the per-doc rollup
    // read it (the tx18 discipline)
    val dpc = Tables.documentsWide(s, d)
      .select($"doc_id", explode(pairs).as("p"))
      .select($"doc_id", $"p.w1", $"p.w2")
      .groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = false)
    val corpus = dpc.groupBy($"w1", $"w2").agg(sum($"k").as("c_ab"))
    // round 14: the corpus-count table is bounded by the DISTINCT bigram
    // vocabulary; broadcast under the Guard ceiling (total-token scalar as
    // the cheap over-bound — distinct bigrams ≤ corpus tokens) keeps the
    // (doc, bigram) rows un-shuffled ahead of their doc-keyed rollup
    val bigramBound = DerivedCache.scalar(s, d, "text.bigramBound") {
      postings(s, d).agg(coalesce(sum($"tf"), lit(0L)).as("n")).head.getLong(0)
    }
    val per = dpc.join(Guard.sized(corpus, bigramBound), Seq("w1", "w2"))
      .groupBy($"doc_id").agg(
        sum($"k").as("n_bigrams"),
        sum(when($"c_ab" < LmMinCount, $"k").otherwise(0L)).as("n_oov"),
        sum($"k" * $"c_ab").as("freq_mass"))
    Tables.documents(s, d).select($"doc_id")
      .join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"n_oov", lit(0L)).as("n_oov"),
        when($"n_bigrams" > 0, $"n_oov".cast("double") / $"n_bigrams")
          .otherwise(lit(0.0)).as("oov_frac"),
        when($"n_bigrams" > 0, $"freq_mass".cast("double") / $"n_bigrams")
          .otherwise(lit(0.0)).as("mean_bfreq"))
      .withColumn("familiar", $"oov_frac" <= LmMaxOov)
      .orderBy($"doc_id")
  }

  /** tx20: lexical-diversity profile — the length-robust repetitiveness
    * signal quality classifiers use where type-token ratio alone decays
    * with length: per document the token/type counts, TTR, and the
    * Gini–Simpson diversity 1 − Σp² kept EXACT as the rational
    * (n² − Σc²)/n² — integer numerator and denominator, ONE double
    * division, no entropy `ln` anywhere (the a13/tx16 ln-free
    * discipline). Low diversity = template/boilerplate/keyword-stuffed
    * docs; complements tx7, which measures duplicated n-GRAM mass rather
    * than unigram concentration.
    *
    * Served ENTIRELY off the maintained posting index — (t, doc_id, tf)
    * rows, one doc-keyed hash agg, zero text reads at query time — while
    * the oracle retokenizes the raw corpus, making tx20 another standing
    * maintained-state-vs-raw gate (the p09/dd17 discipline). Token-empty
    * docs report zeros via the left join. */
  private def tx20(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val per = postings(s, d).groupBy($"doc_id").agg(
      sum($"tf").as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum($"tf" * $"tf").as("sum_sq"))
    Tables.documents(s, d).select($"doc_id")
      .join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_types", lit(0L)).as("n_types"),
        when($"n_tokens" > 0, $"n_types".cast("double") / $"n_tokens")
          .otherwise(lit(0.0)).as("ttr"),
        when($"n_tokens" > 0,
          ($"n_tokens" * $"n_tokens" - $"sum_sq").cast("double") /
            ($"n_tokens" * $"n_tokens").cast("double"))
          .otherwise(lit(0.0)).as("simpson_div"))
      .orderBy($"doc_id")
  }

  /** tx21: per-source distribution shift — the total-variation distance
    * between each source's unigram distribution and the whole-corpus
    * distribution, the "which crawl sources look unlike the mix?" audit a
    * pretraining pipeline runs before setting mixture weights (a source
    * whose TV distance jumps between snapshots changed its content
    * pipeline; one near `1 − m_s/N` is lexically disjoint from the rest).
    *
    * EXACT integer arithmetic via the absent-word identity: with
    * per-source counts `c_{s,w}` (m_s = Σ_w c_{s,w}) and corpus counts
    * `C_w` (N = Σ C_w),
    *
    *   Σ_w |c_{s,w}·N − C_w·m_s|                    (over ALL corpus words)
    *     = Σ_{w∈s} (|c_{s,w}·N − C_w·m_s| − C_w·m_s) + N·m_s
    *
    * because every word ABSENT from the source contributes exactly
    * C_w·m_s and Σ_w C_w·m_s = N·m_s — so the sum runs only over words
    * the source actually contains, never over the |sources|×|vocab|
    * dense grid. `tv_num` is that integer (products through
    * decimal(19,0), the a09 guard; at petabyte token counts the pipeline
    * swaps the casts to decimal(38,0)), and `tv = tv_num / (2·N·m_s)` is
    * the ONE double division (2·N·m_s < 2^53 at declared scale) —
    * hash-exact on any partitioning, TV ∈ [0, 1].
    *
    * Scale shape: served off the MAINTAINED posting index (no text pass)
    * — one doc→source equi-join (doc-keyed), one (source, word) agg, one
    * word-keyed agg + equi-join for corpus counts, then a source-keyed
    * rollup; the tiny per-source totals and the 1-row corpus total
    * broadcast. All aggs map-side-partial; nothing is ever
    * |vocab|×|sources| dense. */
  private def tx21(s: SparkSession, d: String): DataFrame =
    divergenceOf(postings(s, d), Tables.documents(s, d)
      .select(col("doc_id"), col("source")))

  /** The tx21 computation over any (doc_id, t, tf) posting frame and
    * (doc_id, source) mapping — split out so the planted-corpus spec can
    * drive it directly. */
  private[operators] def divergenceOf(posting: DataFrame, srcOf: DataFrame): DataFrame = {
    val s = posting.sparkSession
    import s.implicits._
    def dec(c: Column) = c.cast("decimal(19,0)")
    // snapshot: feeds corpus word counts, per-source totals, AND the TV
    // join (the tx19 shared-subtree discipline)
    val sc = posting.join(srcOf, "doc_id")
      .groupBy($"source", $"t").agg(sum($"tf").as("sc"))
      .localCheckpoint(eager = false)
    val wc = sc.groupBy($"t").agg(sum($"sc").as("wc"))
    val ms = sc.groupBy($"source").agg(sum($"sc").as("m_tokens"))
    val tot = ms.agg(sum($"m_tokens").as("n_corpus"))
    val term = abs(dec($"sc") * dec($"n_corpus") - dec($"wc") * dec($"m_tokens")) -
      dec($"wc") * dec($"m_tokens")
    sc.join(wc, "t")
      .join(broadcast(ms), "source")
      .crossJoin(broadcast(tot))
      .groupBy($"source")
      .agg(max($"m_tokens").as("m_tokens"), max($"n_corpus").as("n_corpus"),
        sum(term).as("sum_term"))
      .withColumn("tv_num",
        ($"sum_term" + dec($"n_corpus") * dec($"m_tokens")).cast("long"))
      .select($"source", $"m_tokens", $"tv_num",
        ($"tv_num".cast("double") /
          (lit(2.0) * $"n_corpus".cast("double") * $"m_tokens".cast("double"))).as("tv"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- oracle --

  private[operators] val wsTokSql = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> len(t) > 0)"
  private def inSet(v: String, ws: Seq[String]) =
    ws.map(w => s"$v = '$w'").mkString("(", " OR ", ")")

  def oracleSql: Map[String, String] = {
    val sScores = langMarkers.map { case (l, ws) =>
      s"len(list_filter($wsTokSql, t -> ${inSet("t", ws)})) AS s_$l"
    }.mkString(",\n    ")
    val predCase = {
      def caseFor(idx: Int): String =
        if (idx == langMarkers.length - 1) s"'${langMarkers(idx)._1}'"
        else {
          val l = langMarkers(idx)._1
          val conds = langMarkers.filter(_._1 != l).map(m => s"s_$l >= s_${m._1}").mkString(" AND ")
          s"CASE WHEN $conds THEN '$l' ELSE ${caseFor(idx + 1)} END"
        }
      caseFor(0)
    }
    Map(
      // tx21: the same absent-word identity — the sum runs over the
      // source's own words only, the closed-form N·m_s covers the rest;
      // HUGEINT products mirror the decimal(19,0) casts
      "tx21_source_divergence" ->
        s"""WITH p AS (SELECT source, unnest($wsTokSql) AS t FROM documents),
           |sc AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS sc FROM p GROUP BY 1, 2),
           |wc AS (SELECT t, CAST(SUM(sc) AS BIGINT) AS wc FROM sc GROUP BY t),
           |ms AS (SELECT source, CAST(SUM(sc) AS BIGINT) AS m_tokens FROM sc GROUP BY source),
           |tot AS (SELECT CAST(SUM(m_tokens) AS BIGINT) AS n_corpus FROM ms),
           |terms AS (
           |  SELECT s.source,
           |         ABS(CAST(s.sc AS HUGEINT) * tot.n_corpus
           |             - CAST(w.wc AS HUGEINT) * m.m_tokens)
           |           - CAST(w.wc AS HUGEINT) * m.m_tokens AS term
           |  FROM sc s JOIN wc w USING (t) JOIN ms m USING (source), tot),
           |agg AS (SELECT source, SUM(term) AS sum_term FROM terms GROUP BY source)
           |SELECT a.source, m.m_tokens,
           |       CAST(a.sum_term + CAST(tot.n_corpus AS HUGEINT) * m.m_tokens AS BIGINT)
           |         AS tv_num,
           |       CAST(CAST(a.sum_term + CAST(tot.n_corpus AS HUGEINT) * m.m_tokens
           |                 AS BIGINT) AS DOUBLE)
           |         / (2.0 * tot.n_corpus * m.m_tokens) AS tv
           |FROM agg a JOIN ms m USING (source), tot
           |ORDER BY a.source""".stripMargin,
      "tx1_token_stats" ->
        s"""SELECT doc_id,
           |  CAST(len($wsTokSql) AS BIGINT) AS ws_tokens,
           |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS re_tokens,
           |  CAST(length(text) AS BIGINT) AS n_chars
           |FROM documents ORDER BY doc_id""".stripMargin,
      // tx15: same histogram → cumulative-rank construction; quantile rank
      // literals use the e0 suffix so DuckDB multiplies in DOUBLE (never
      // its decimal arithmetic), matching Spark's IEEE product bit-for-bit
      "tx15_length_profile" ->
        s"""WITH m AS (
           |  SELECT 'chars' AS metric, CAST(length(text) AS BIGINT) AS v FROM documents
           |  UNION ALL
           |  SELECT 'tokens', CAST(len($wsTokSql) AS BIGINT) FROM documents
           |),
           |hist AS (
           |  SELECT metric, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM m GROUP BY 1, 2
           |),
           |cum AS (
           |  SELECT metric, v, cnt,
           |         CAST(SUM(cnt) OVER (PARTITION BY metric ORDER BY v) AS BIGINT) AS cum,
           |         CAST(SUM(cnt) OVER (PARTITION BY metric) AS BIGINT) AS tot
           |  FROM hist
           |)
           |SELECT metric,
           |  CAST(MAX(tot) AS BIGINT) AS n_docs,
           |  MIN(v) AS v_min,
           |  MAX(v) AS v_max,
           |  CAST(CAST(SUM(CAST(v AS HUGEINT) * cnt) AS VARCHAR) AS DOUBLE)
           |    / CAST(MAX(tot) AS DOUBLE) AS mean,
           |${PrefixSum.ProfileQs.map(q =>
              s"  MIN(CASE WHEN cum >= ceil(tot * ${q / 100.0}e0) THEN v END) AS p$q")
              .mkString(",\n")}
           |FROM cum GROUP BY metric ORDER BY metric""".stripMargin,
      "tx2_quality_score" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |    CAST(len($wsTokSql) AS DOUBLE) AS n_tok,
           |    CAST(len(list_filter($wsTokSql, t -> ${inSet("t", stop)})) AS DOUBLE) AS n_stop,
           |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n_punct,
           |    CAST(length(text) AS DOUBLE) AS n_chars
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(n_tok AS BIGINT) AS n_tokens,
           |  CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stop_ratio,
           |  CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
           |  CASE WHEN n_tok > 0 THEN n_chars / n_tok ELSE 0.0 END AS avg_tok_len,
           |  ${qualityFormulaSql("n_tok",
                "CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END",
                "CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END")} AS quality
           |FROM t ORDER BY doc_id""".stripMargin,
      "tx12_bpe_merges" -> {
        // unrolled trainer: round k's argmax CTE p<k> feeds round k+1's
        // merge application; the list-of-list reduce is the greedy
        // left-to-right applyMerge (overlap-safe: after a fusion the
        // accumulator tail is lhs||rhs, which can't equal lhs again)
        val w0 =
          s"""w0 AS (
             |  SELECT regexp_extract_all(t, '.') AS syms, COUNT(*) AS wc
             |  FROM (SELECT unnest($wsTokSql) AS t FROM documents) u GROUP BY t)""".stripMargin
        val rounds = (0 until BpeMerges).map { k =>
          s"""p$k AS (
             |  SELECT syms[i] AS lhs, syms[i + 1] AS rhs, CAST(SUM(wc) AS BIGINT) AS pair_count
             |  FROM w$k, LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
             |  WHERE len(syms) >= 2
             |  GROUP BY 1, 2
             |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
             |w${k + 1} AS (
             |  SELECT list_reduce(list_transform(syms, x -> [x]),
             |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = p$k.lhs AND x[1] = p$k.rhs
             |                THEN list_slice(acc, 1, len(acc) - 1) || [p$k.lhs || p$k.rhs]
             |                ELSE acc || x END) AS syms, wc
             |  FROM w$k, p$k)""".stripMargin
        }
        val unioned = (0 until BpeMerges)
          .map(k => s"SELECT $k AS rank, lhs, rhs, pair_count FROM p$k")
          .mkString("\nUNION ALL\n")
        (w0 +: rounds).mkString("WITH ", ",\n", "\n") + unioned + "\nORDER BY rank"
      },
      "tx13_bpe_encode" -> {
        // the tx12 unrolled-training chain, with the ORIGINAL word carried
        // through every round so the final symbol lists can be joined back
        // to documents; encoding = len(syms) after the last round
        val w0 =
          s"""w0 AS (
             |  SELECT t AS w, regexp_extract_all(t, '.') AS syms, COUNT(*) AS wc
             |  FROM (SELECT unnest($wsTokSql) AS t FROM documents) u GROUP BY t)""".stripMargin
        val rounds = (0 until BpeMerges).map { k =>
          s"""p$k AS (
             |  SELECT syms[i] AS lhs, syms[i + 1] AS rhs, CAST(SUM(wc) AS BIGINT) AS pair_count
             |  FROM w$k, LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
             |  WHERE len(syms) >= 2
             |  GROUP BY 1, 2
             |  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
             |w${k + 1} AS (
             |  SELECT w, list_reduce(list_transform(syms, x -> [x]),
             |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = p$k.lhs AND x[1] = p$k.rhs
             |                THEN list_slice(acc, 1, len(acc) - 1) || [p$k.lhs || p$k.rhs]
             |                ELSE acc || x END) AS syms, wc
             |  FROM w$k, p$k)""".stripMargin
        }
        val tail =
          s"""enc AS (SELECT w, CAST(len(syms) AS BIGINT) AS bpe_len FROM w$BpeMerges),
             |dw AS (
             |  SELECT doc_id, t, COUNT(*) AS cnt
             |  FROM (SELECT doc_id, unnest($wsTokSql) AS t FROM documents) z
             |  GROUP BY doc_id, t),
             |agg AS (
             |  SELECT doc_id,
             |         CAST(SUM(cnt) AS BIGINT) AS ws_tokens,
             |         CAST(SUM(cnt * bpe_len) AS BIGINT) AS bpe_tokens
             |  FROM dw JOIN enc ON dw.t = enc.w GROUP BY doc_id)
             |SELECT d.doc_id,
             |  COALESCE(ws_tokens, 0) AS ws_tokens,
             |  COALESCE(bpe_tokens, 0) AS bpe_tokens,
             |  d.n_chars AS n_chars,
             |  CASE WHEN COALESCE(bpe_tokens, 0) > 0
             |       THEN CAST(d.n_chars AS DOUBLE) / bpe_tokens
             |       ELSE 0.0 END AS chars_per_token
             |FROM documents d LEFT JOIN agg USING (doc_id)
             |ORDER BY d.doc_id""".stripMargin
        (w0 +: rounds).mkString("WITH ", ",\n", ",\n") + tail
      },
      "tx14_cms_topk" -> {
        def cellSql(i: Int): String = {
          val md = s"md5('cms$i:' || t)"
          val parsed = (1 to 8).map { p =>
            val pow = java.lang.Long.toString(1L << (4 * (8 - p)))
            s"(strpos('0123456789abcdef', substring($md, $p, 1)) - 1) * $pow"
          }.mkString("(", "\n       + ", ")")
          s"($parsed % $CmsWidth)"
        }
        val rowSelects = (0 until CmsDepth)
          .map(i => s"SELECT $i AS r, ${cellSql(i)} AS c FROM toks")
          .mkString("\nUNION ALL\n")
        val candSelects = (0 until CmsDepth)
          .map(i => s"SELECT t, exact_cnt, $i AS r, ${cellSql(i)} AS c FROM top")
          .mkString("\nUNION ALL\n")
        s"""WITH toks AS (SELECT unnest($wsTokSql) AS t FROM documents),
           |cells AS (
           |  SELECT r, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           |$rowSelects) z GROUP BY r, c),
           |top AS (
           |  SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM toks
           |  GROUP BY t ORDER BY exact_cnt DESC, t LIMIT $CmsTopK),
           |cand AS (
           |$candSelects),
           |est AS (
           |  SELECT t, exact_cnt, MIN(cnt) AS cms_est
           |  FROM cand JOIN cells USING (r, c) GROUP BY t, exact_cnt)
           |SELECT t AS term, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
           |FROM est ORDER BY exact_cnt DESC, term""".stripMargin
      },
      "tx11_bpe_pairs" ->
        s"""WITH words AS (
           |  SELECT t AS w, COUNT(*) AS wc
           |  FROM (SELECT unnest($wsTokSql) AS t FROM documents) u
           |  GROUP BY t),
           |pairs AS (
           |  SELECT substring(w, i, 1) AS lhs, substring(w, i + 1, 1) AS rhs, wc
           |  FROM words, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
           |  WHERE len(w) >= 2)
           |SELECT lhs, rhs, CAST(SUM(wc) AS BIGINT) AS pair_count
           |FROM pairs GROUP BY lhs, rhs
           |ORDER BY pair_count DESC, lhs, rhs LIMIT 20""".stripMargin,
      "tx3_lang_id" ->
        s"""WITH scored AS (
           |  SELECT doc_id, lang,
           |    $sScores
           |  FROM documents)
           |SELECT lang, $predCase AS pred_lang, COUNT(*) AS n
           |FROM scored GROUP BY lang, pred_lang
           |ORDER BY lang, pred_lang""".stripMargin,
      "tx4_fingerprint" ->
        """SELECT source, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      // first md5 byte via 1-based hex-digit positions (same construction as
      // the dd4/mm2 oracles)
      "tx5_stratified_sample" ->
        """SELECT doc_id, n_chars // 500 AS band, n_chars
          |FROM documents
          |WHERE (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          |    + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 < 64
          |ORDER BY doc_id""".stripMargin,
      "tx6_fulltext_search" ->
        s"""WITH p AS (
           |  SELECT t, doc_id, COUNT(*) AS tf FROM (
           |    SELECT doc_id, unnest($wsTokSql) AS t FROM documents) z
           |  GROUP BY t, doc_id
           |),
           |terms AS (
           |  SELECT t FROM p
           |  WHERE NOT ${inSet("t", stop)}
           |  GROUP BY t
           |  ORDER BY COUNT(DISTINCT doc_id) DESC, t LIMIT 2
           |)
           |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS score
           |FROM p JOIN terms USING (t)
           |GROUP BY doc_id
           |HAVING COUNT(DISTINCT t) = 2
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
      "tx8_bigram_topk" ->
        s"""SELECT bigram, COUNT(*) AS n FROM (
           |  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
           |                               i -> w[i] || ' ' || w[i+1])) AS bigram
           |  FROM (SELECT $wsTokSql AS w FROM documents) z) y
           |GROUP BY bigram
           |ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
      // tx16: DuckDB zips the two shifted unnests positionally (same
      // generate_series length), counts mirror the posting construction,
      // and the lift is the same two-products-one-division double chain
      "tx16_collocations" ->
        s"""WITH toks AS (SELECT unnest($wsTokSql) AS t FROM documents),
           |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY t),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
           |big AS (
           |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_ab FROM (
           |    SELECT unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
           |           unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i+1])) AS w2
           |    FROM (SELECT $wsTokSql AS w FROM documents) z) y
           |  GROUP BY w1, w2 HAVING COUNT(*) >= $CollMinPair
           |)
           |SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b,
           |       (CAST(tot.n AS DOUBLE) * b.c_ab) / (CAST(ua.c AS DOUBLE) * ub.c) AS lift
           |FROM big b JOIN uni ua ON ua.t = b.w1 JOIN uni ub ON ub.t = b.w2, tot
           |ORDER BY lift DESC, b.w1, b.w2 LIMIT $CollTopK""".stripMargin,
      // tx17: the oracle recomputes term counts from the raw text (the
      // posting index is engine state); same deterministic total order,
      // same one-division doubles over exact integer counts
      // tx18: same segmentation (cumulative stop count splits phrases),
      // same integer word stats, same one-division word score, phrase
      // score through the decimal-exact sqlSum mirror of dsum; positions
      // via the parallel-unnest generate_series pairing (the evSql pattern)
      "tx18_rake_phrases" ->
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos,
           |         unnest(toks) AS t
           |  FROM (SELECT doc_id, $wsTokSql AS toks FROM documents) z),
           |grp AS (
           |  SELECT doc_id, pos, t, ${inSet("t", stop)} AS is_stop,
           |         SUM(CASE WHEN ${inSet("t", stop)} THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY doc_id ORDER BY pos) AS g
           |  FROM tok),
           |occ AS (SELECT doc_id, pos, t, g FROM grp WHERE NOT is_stop),
           |wl AS (
           |  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS len
           |  FROM occ GROUP BY doc_id, g),
           |ws AS (
           |  SELECT t, CAST(CAST(SUM(len) AS BIGINT) AS DOUBLE)
           |              / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS wscore
           |  FROM occ JOIN wl USING (doc_id, g) GROUP BY t),
           |ph AS (
           |  SELECT o.doc_id, o.g,
           |         string_agg(o.t, ' ' ORDER BY o.pos) AS phrase,
           |         CAST(COUNT(*) AS BIGINT) AS n_words,
           |         ${graft.functions.Exact.sqlSum("ws.wscore")} AS score
           |  FROM occ o JOIN ws USING (t)
           |  GROUP BY o.doc_id, o.g)
           |SELECT phrase, MAX(n_words) AS n_words,
           |       CAST(COUNT(*) AS BIGINT) AS n_occurrences, MAX(score) AS score
           |FROM ph GROUP BY phrase
           |ORDER BY score DESC, phrase LIMIT $RakeK""".stripMargin,
      // tx19: the tx16 shifted-unnest pair construction per DOCUMENT,
      // corpus counts re-aggregated from the same per-doc counts, the
      // same CASE-guarded one-division doubles and the 0.5-threshold
      // verdict over the identical double
      "tx19_lm_familiarity" ->
        s"""WITH dp AS (
           |  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k FROM (
           |    SELECT doc_id,
           |           unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i])) AS w1,
           |           unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i+1])) AS w2
           |    FROM (SELECT doc_id, $wsTokSql AS w FROM documents) z) y
           |  GROUP BY doc_id, w1, w2),
           |corpus AS (SELECT w1, w2, CAST(SUM(k) AS BIGINT) AS c_ab
           |           FROM dp GROUP BY w1, w2),
           |per AS (
           |  SELECT doc_id,
           |         CAST(SUM(k) AS BIGINT) AS n_bigrams,
           |         CAST(SUM(CASE WHEN c_ab < $LmMinCount THEN k ELSE 0 END) AS BIGINT) AS n_oov,
           |         CAST(SUM(k * c_ab) AS BIGINT) AS freq_mass
           |  FROM dp JOIN corpus USING (w1, w2) GROUP BY doc_id)
           |SELECT d.doc_id,
           |       COALESCE(p.n_bigrams, 0) AS n_bigrams,
           |       COALESCE(p.n_oov, 0) AS n_oov,
           |       CASE WHEN p.n_bigrams > 0
           |            THEN CAST(p.n_oov AS DOUBLE) / p.n_bigrams ELSE 0.0 END AS oov_frac,
           |       CASE WHEN p.n_bigrams > 0
           |            THEN CAST(p.freq_mass AS DOUBLE) / p.n_bigrams ELSE 0.0 END AS mean_bfreq,
           |       (CASE WHEN p.n_bigrams > 0
           |             THEN CAST(p.n_oov AS DOUBLE) / p.n_bigrams ELSE 0.0 END) <= $LmMaxOov AS familiar
           |FROM documents d LEFT JOIN per p USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin,
      // tx20: the oracle retokenizes the RAW corpus (the engine reads the
      // maintained posting index) — integer type/token/Σc² aggregates,
      // one double division per ratio
      "tx20_lexical_diversity" ->
        s"""WITH counts AS (
           |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM (SELECT doc_id, unnest($wsTokSql) AS t FROM documents) z
           |  GROUP BY doc_id, t),
           |per AS (
           |  SELECT doc_id,
           |         CAST(SUM(c) AS BIGINT) AS n_tokens,
           |         CAST(COUNT(*) AS BIGINT) AS n_types,
           |         CAST(SUM(c * c) AS BIGINT) AS sum_sq
           |  FROM counts GROUP BY doc_id)
           |SELECT d.doc_id,
           |       COALESCE(p.n_tokens, 0) AS n_tokens,
           |       COALESCE(p.n_types, 0) AS n_types,
           |       CASE WHEN p.n_tokens > 0
           |            THEN CAST(p.n_types AS DOUBLE) / p.n_tokens ELSE 0.0 END AS ttr,
           |       CASE WHEN p.n_tokens > 0
           |            THEN CAST(p.n_tokens * p.n_tokens - p.sum_sq AS DOUBLE)
           |                 / CAST(p.n_tokens * p.n_tokens AS DOUBLE)
           |            ELSE 0.0 END AS simpson_div
           |FROM documents d LEFT JOIN per p USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin,
      "tx17_zipf_head" ->
        s"""WITH toks AS (SELECT unnest($wsTokSql) AS t FROM documents),
           |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY t),
           |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM uni),
           |top AS (
           |  SELECT t, cnt,
           |         CAST(row_number() OVER (ORDER BY cnt DESC, t) AS BIGINT) AS rank
           |  FROM uni ORDER BY cnt DESC, t LIMIT $ZipfK
           |)
           |SELECT rank, t, cnt,
           |       CAST(SUM(cnt) OVER (ORDER BY rank) AS BIGINT) AS cum_cnt,
           |       CAST(SUM(cnt) OVER (ORDER BY rank) AS DOUBLE) / tot.n_tokens AS coverage,
           |       (CAST(cnt AS DOUBLE) * rank) / tot.n_tokens AS zipf_c
           |FROM top, tot ORDER BY rank""".stripMargin,
      "tx9_tfidf_terms" ->
        s"""WITH p AS (
           |  SELECT t, doc_id, COUNT(*) AS tf FROM (
           |    SELECT doc_id, unnest($wsTokSql) AS t FROM documents) z
           |  GROUP BY t, doc_id
           |),
           |n AS (SELECT COUNT(*) AS n FROM documents),
           |bydf AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY t),
           |scored AS (
           |  SELECT doc_id, t AS term,
           |         CAST(tf * n AS DOUBLE) / df AS score
           |  FROM p JOIN bydf USING (t), n
           |)
           |SELECT doc_id, term, score FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
           |                               ORDER BY score DESC, term) AS rn
           |  FROM scored) w
           |WHERE rn <= 3
           |ORDER BY doc_id, score DESC, term""".stripMargin,
      "tx10_rarity_profile" ->
        s"""WITH p AS (
           |  SELECT t, doc_id FROM (
           |    SELECT doc_id, unnest($wsTokSql) AS t FROM documents) z
           |  GROUP BY t, doc_id
           |),
           |bydf AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM p GROUP BY t),
           |prof AS (
           |  SELECT doc_id,
           |         CAST(COUNT(*) AS BIGINT) AS n_terms,
           |         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           |         CAST(SUM(df) AS BIGINT) AS sum_df
           |  FROM p JOIN bydf USING (t) GROUP BY doc_id
           |)
           |SELECT d.doc_id,
           |       COALESCE(n_terms, 0) AS n_terms,
           |       COALESCE(n_rare, 0) AS n_rare,
           |       CAST(sum_df AS DOUBLE) / n_terms AS mean_df,
           |       CAST(n_rare AS DOUBLE) / n_terms AS rarity
           |FROM documents d LEFT JOIN prof USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin,
      "tx7_repetition" ->
        s"""SELECT doc_id,
           |  CAST(len(tri) AS BIGINT) AS n_trigrams,
           |  CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct,
           |  CASE WHEN len(tri) > 0
           |       THEN 1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / CAST(len(tri) AS DOUBLE)
           |       ELSE 0.0 END AS rep_ratio
           |FROM (
           |  SELECT doc_id,
           |         list_transform(generate_series(1, greatest(len(w) - 2, 0)),
           |                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tri
           |  FROM (SELECT doc_id, $wsTokSql AS w FROM documents) z) y
           |ORDER BY doc_id""".stripMargin)
  }
}
