package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PortableSketches

/** Text analysis for training-data pipelines: stats/quality scoring,
  * token counting, language ID, and document fingerprinting. All map-only
  * column expressions — each metric is computed where the document is read.
  */
object TextAnalysis {

  /** Per-document surface statistics + a simple quality score.
    * All metrics are built-in string functions (codegen'd, oracle-friendly).
    *
    * Word-count contract (shared by textStats/tokenCounts/qualityScore/
    * repetitionRatios): a blank or whitespace-only document counts ONE
    * empty whitespace token, because `split('', '\s+')` yields `['']` on
    * BOTH engines — the oracle-replayable semantics, deliberately kept
    * over a prettier 0 that would need lockstep null-guards in every
    * ratio on both sides. Filter blank docs upstream if the +1 bias
    * matters to a corpus-level average.
    */
  def textStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nWords = size(split(trim(t), "\\s+"))
    val nPunct = nChars - length(regexp_replace(t, "[.,;:!?]", ""))
    val nUpper = nChars - length(regexp_replace(t, "[A-Z]", ""))
    // try_divide, not `/`: an empty document has n_chars = 0, and the
    // ratio contract for an undefined denominator is NULL — exactly what
    // DuckDB's double division-by-zero yields, so the oracle needs no
    // guard of its own (adversarial-corpus sweep, round 10; plain `/`
    // threw DIVIDE_BY_ZERO under ANSI)
    docs.select(
      col(idCol).as("doc_id"),
      nChars.cast("long").as("n_chars"),
      nWords.cast("long").as("n_words"),
      try_divide(nChars.cast("double"), nWords).as("avg_word_len"),
      try_divide(nPunct.cast("double"), nChars).as("punct_ratio"),
      try_divide(nUpper.cast("double"), nChars).as("upper_ratio"))
  }

  /** Composite quality score for training-data filtering: length factor,
    * punctuation/uppercase sanity, average word length band, and English
    * stopword presence, combined into [0,1]. Weights are heuristic; the
    * value of the op is the deterministic, map-only shape — each signal is a
    * codegen'd column expression over one row.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val withToks = docs
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .withColumn("toks", Shingles.tokensOfNorm(col("norm")))
    val nWords = size(col("toks"))
    val nChars = length(col(textCol))
    // try_divide: empty text has n_chars = 0 → NULL ratio (the textStats
    // contract); the NULL then flows through greatest/least, which skip
    // NULLs identically in Spark and DuckDB, so the composite quality
    // stays defined and cross-engine equal for empty documents
    val punctRatio = try_divide((nChars - length(regexp_replace(col(textCol), "[.,;:!?]", "")))
      .cast("double"), nChars)
    val avgWordLen = try_divide(nChars.cast("double"), nWords)
    val stopRatio = try_divide(size(array_intersect(col("toks"), lit(markers("en").toArray)))
      .cast("double"), nWords)
    val lengthFactor = least(nWords.cast("double") / 50.0, lit(1.0))
    val punctFactor = greatest(lit(0.0), lit(1.0) - punctRatio * 5.0)
    val wordLenFactor = when(avgWordLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    val stopFactor = least(stopRatio * 10.0, lit(1.0))
    withToks.select(
      col(idCol).as("doc_id"),
      nWords.cast("long").as("n_words"),
      stopRatio.as("stopword_ratio"),
      (lengthFactor * 0.3 + punctFactor * 0.3 + wordLenFactor * 0.2 + stopFactor * 0.2)
        .as("quality"))
  }

  /** Near-dup candidate pairs from winnowing fingerprints: docs sharing at
    * least `minShared` fingerprint hashes, scored by overlap fraction.
    * Same inverted-index + capped-bucket shape as the n-gram Jaccard path,
    * but over the (much smaller) winnowed hash set — the classic
    * plagiarism/boilerplate detector at corpus scale.
    */
  def fingerprintOverlapPairs(docs: DataFrame, k: Int = 8, w: Int = 4,
      minShared: Int = 2, maxBucket: Int = 200, minOverlap: Double = 0.3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val fps = fingerprints(docs, k, w, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // sizes + index
    val sizes = fps.select(col("doc_id"), size(col("fingerprint")).as("n_fp"))
    val inverted = fps.select(col("doc_id"), explode(col("fingerprint")).as("fp"))
    // fingerprint buckets are DENSE (a boilerplate hash can sit in thousands
    // of docs, and capped buckets still expand to ~1k pairs each): a
    // codegen'd equi-self-join on fp beats Dedup.bucketPairs' collect_list +
    // interpreted-lambda expansion here (the LSH families keep bucketPairs —
    // their buckets are tiny and the one-shuffle shape wins there)
    val bucketSizes = inverted.groupBy("fp").agg(count(lit(1)).as("bs"))
      .filter(col("bs").between(2, maxBucket))
    val capped = inverted.join(bucketSizes.select("fp"), "fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // identical subtrees on both join sides (aliases; renames ABOVE the
    // join) so ReuseExchange shuffles the capped index once and builds the
    // sizes side once (per-side projections are not `sameResult`)
    val shared = capped.as("a")
      .join(capped.as("b"), col("a.fp") === col("b.fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val out = shared
      .join(sizes, col("doc_a") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("n_fp", "na")
      .join(sizes, col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumnRenamed("n_fp", "nb")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") / least(col("na"), col("nb"))).as("overlap"))
      .filter(col("overlap") >= minOverlap)
    // explicit-handle caching contract (review r9: fps + capped leaked):
    // the returned frame is the ONE persisted handle, internals released
    Dedup.materializeAndRelease(out, fps, capped)
  }

  /** Token counts: whitespace tokens and a BPE-ish lexical split
    * (letter runs | single digits | single punctuation). The regex is
    * RE2-compatible so the same pattern runs in DuckDB for the oracle.
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol).as("doc_id"),
      size(split(trim(t), "\\s+")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
        .cast("long").as("lex_tokens"))
  }

  /** TF-IDF top-m terms per document. Two passes over tokens: (1) per-doc
    * term frequencies — one groupBy on (doc, term); (2) corpus document
    * frequencies derived from the same frame, broadcast back (the vocabulary
    * is tiny next to the corpus — at web scale, still ≪ docs). Smoothed idf
    * = ln((N+1)/(df+1)). Top-m selection by window over the per-doc term
    * rows (~vocab-sized groups, cheap).
    */
  def tfidfTopTerms(docs: DataFrame, m: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus size as a 1-row broadcast frame, NOT docs.count(): a count()
    // here would run a whole extra corpus scan eagerly at plan-BUILD time —
    // a surprise action inside a lazy query builder (VERDICT r3 #5). The
    // cross join is a BroadcastNestedLoopJoin of one row, free at any scale.
    val nDocs = docs.select(count(lit(1)).cast("double").as("__n_docs"))
    val tf = docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .select(col(idCol).as("doc_id"), explode(Shingles.tokensOfNorm(col("norm"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // df pass + weight pass
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("weight").desc, col("term"))
    val out = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("weight",
        col("tf") * log((col("__n_docs") + 1.0) / (col("df") + lit(1.0))))
      .drop("__n_docs")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= m)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("weight"))
    // same explicit-handle contract as bm25Scores (review r9: tf leaked)
    Dedup.materializeAndRelease(out, tf)
  }

  /** Tiny per-language stopword marker sets for the heuristic language ID.
    * Public common function words; enough signal for coarse routing.
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "avec", "une"),
    "es" -> Seq("el", "los", "las", "es", "en", "con", "una", "por"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "不", "我"))

  /** Heuristic language ID: count marker-token hits per language over the
    * token multiset, pick the argmax (ties broken by language code order,
    * "und" = undetermined when nothing matches). For zh (no whitespace
    * segmentation) markers are matched as substrings.
    */
  def languageId(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // materialize tokens once — the per-language score lambdas iterate them
    val withToks = docs
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .withColumn("toks", Shingles.tokensOfNorm(col("norm")))
    val scores: Seq[(String, Column)] = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      val score =
        if (lang == "zh")
          words.map(w => when(col("norm").contains(w), 1).otherwise(0)).reduce(_ + _)
        else
          // native set-intersection (codegen'd) — counts distinct marker
          // hits; a per-token lambda filter here ran interpreted, 4× slower
          size(array_intersect(col("toks"), lit(words.toArray)))
      lang -> score
    }
    // array argmax (a when-chain fold doubles the expression tree per
    // language); ties → first language in sorted order, 0 hits → "und"
    val scoreArr = array(scores.map(_._2): _*)
    val langArr = array(scores.map { case (l, _) => lit(l) }: _*)
    val bestScore = array_max(scoreArr)
    withToks.select(
      col(idCol).as("doc_id"),
      when(bestScore > 0, element_at(langArr, array_position(scoreArr, bestScore).cast("int")))
        .otherwise(lit("und")).as("pred_lang"),
      greatest(bestScore, lit(0)).as("marker_hits"))
  }

  /** Gopher-style repetition signals: the fraction of repeated word n-grams
    * per document (1 - distinct/total), for n = 2 and 3. High values mark
    * boilerplate/spam for training-data filtering. Distinct counts come from
    * the one-pass [[graft.functions.TextSketches.ngramHashes]] kernel —
    * map-only, nothing explodes, nothing shuffles.
    */
  def repetitionRatios(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val withToks = docs
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .withColumn("toks", Shingles.tokensOfNorm(col("norm")))
    def dupFrac(n: Int) = {
      val total = size(col("toks")) - lit(n - 1)
      val distinctN = size(graft.functions.TextSketches.ngramHashes(col("norm"), n))
      when(total > 0, lit(1.0) - distinctN.cast("double") / total).otherwise(lit(0.0))
    }
    withToks.select(
      col(idCol).as("doc_id"),
      size(col("toks")).cast("long").as("n_words"),
      dupFrac(2).as("dup_2gram_frac"),
      dupFrac(3).as("dup_3gram_frac"))
  }

  /** C4-style rule-based quality filter: per-rule booleans plus the combined
    * keep decision. Unlike [[qualityScore]] (a soft score), this is the
    * hard-filter form used to cut a raw crawl — every rule is a codegen'd
    * map-only expression, and the rule columns make filter attrition
    * auditable (GROUP BY on them gives the cut breakdown).
    */
  def qualityFilter(docs: DataFrame, minWords: Int = 10, maxWordLen: Int = 30,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val withToks = docs
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .withColumn("toks", Shingles.tokensOfNorm(col("norm")))
    val nWords = size(col("toks"))
    val enoughWords = nWords >= minWords
    val terminalPunct = col(textCol).rlike("[.!?]\\s*$")
    val meanLen = length(col("norm")).cast("double") / nWords
    val saneWordLen = meanLen.between(3.0, 10.0)
    // cheap per-element lambda (length only) over materialized tokens — the
    // Shingles perf contract bans expensive lambda bodies, not this
    val noGiantWord = array_max(transform(col("toks"), t => length(t))) <= maxWordLen
    val hasStopword = size(array_intersect(col("toks"), lit(markers("en").toArray))) > 0
    withToks.select(
      col(idCol).as("doc_id"),
      enoughWords.as("enough_words"),
      terminalPunct.as("terminal_punct"),
      saneWordLen.as("sane_word_len"),
      noGiantWord.as("no_giant_word"),
      hasStopword.as("has_stopword"),
      (enoughWords && terminalPunct && saneWordLen && noGiantWord && hasStopword).as("keep"))
  }

  /** Corpus bigram language-model counts: P(w2 | w1) over whitespace tokens,
    * for bigrams seen at least `minCount` times. Two codegen'd aggregates:
    * bigram counts (one shuffle on (w1,w2)) + a window sum over w1 for the
    * denominator (runs on the already-aggregated vocab²-bounded frame, not
    * the corpus). Bigram extraction is `arrays_zip` of two token slices —
    * no interpreted lambda, no self-join on position.
    */
  def bigramConditionals(docs: DataFrame, minCount: Long = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withToks = docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .withColumn("toks", Shingles.tokensOfNorm(col("norm")))
      .filter(size(col("toks")) >= 2)
    val pairs = withToks
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
    val counted = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
    // denominator over ALL bigrams starting with w1 (so probabilities sum
    // to 1 per w1), computed before the minCount cut
    val w = Window.partitionBy(col("w1"))
    counted
      .withColumn("cond_p", col("cnt").cast("double") / sum(col("cnt")).over(w))
      .filter(col("cnt") >= minCount)
  }

  /** Perplexity-style quality score: per-document average negative log2 of
    * the corpus bigram conditional P(w2|w1) — the classic LM-based filter
    * (high bits/bigram ≈ unusual word sequences ≈ noise). Two corpus
    * passes: the LM aggregate ([[bigramConditionals]]) and the per-doc
    * bigram explode, joined on (w1, w2) — one shuffle each. The score is
    * rounded to 4 dp so cross-engine libm/summation-order noise (~1e-13
    * relative) cannot flip a value; 4 dp is far finer than any filtering
    * threshold cares about.
    */
  def perplexityScores(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val withToks = docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .withColumn("toks", Shingles.tokensOfNorm(col("norm")))
      .filter(size(col("toks")) >= 2)
    val bigrams = withToks
      .select(col(idCol).as("doc_id"), explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .select(col("doc_id"), col("bg.0").as("w1"), col("bg.1").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
    val lm = bigramConditionals(docs, minCount = 1, textCol, idCol)
      .select(col("w1"), col("w2"), col("cond_p"))
    bigrams.join(lm, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log2(col("cond_p"))), 4).as("bits_per_bigram"))
  }

  /** Winnowing-style document fingerprint: hash all character k-grams,
    * keep the minimum hash in each sliding window of `w` consecutive
    * k-grams, distinct the survivors (sorted for a deterministic output).
    * Robust to small edits. Returns (doc_id, fingerprint, content_hash).
    *
    * Computed by the one-pass codegen'd kernel
    * [[graft.functions.PortableSketches.portableWinnow]] over
    * md5-60-bit gram hashes — proven equal to the explode → window-min
    * algorithm the SQL oracle states (ReplaySpec). The document never
    * explodes into per-gram rows and nothing shuffles but
    * (doc_id, fingerprint); the explode shape cost 5.5 s vs ~1 s at sf0.1.
    */
  def fingerprints(docs: DataFrame, k: Int = 8, w: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .repartition(col(idCol))
      // short-doc drop-out via the winnow kernel's exact empty contract
      // (code points < k+w-1 ⇒ no full window ⇒ empty), as a one-row
      // Generate: kernel AND normalize evaluate once per row (guide §4.4 —
      // the r15 length filter still ran the normalize regex twice)
      .select(col(idCol).as("doc_id"),
        Shingles.onceOrDrop(
          struct(
            PortableSketches.portableWinnow(
              Shingles.normalize(col(textCol)), k, w).as("fingerprint"),
            PortableSketches.hash60(col(textCol)).as("content_hash")),
          p => size(p.getField("fingerprint")) > 0).as("fp"))
      .select(col("doc_id"), col("fp.fingerprint").as("fingerprint"),
        col("fp.content_hash").as("content_hash"))

  /** Per-doc term frequencies — the shared first stage of the retrieval /
    * distribution operators below: normalize once, explode tokens, one
    * partial+final hash aggregate on (doc, term). Text never shuffles; only
    * (doc_id, term, count) rows do.
    */
  /** (id, term, tf) aggregate. `spread = true` pre-partitions by the id so
    * the (id, term) groupBy reuses that exchange (one shuffle of raw docs
    * instead of one of exploded tokens) — right for HIGH-cardinality ids
    * (doc_id). A LOW-cardinality id (a 5-value source column) must pass
    * `spread = false`: partitioning by it would funnel the whole corpus
    * into |ids| tasks for the normalize/tokenize kernel (review r9), while
    * the un-partitioned groupBy shuffles only map-side-combined
    * vocabulary-sized partials.
    */
  private def termFrequencies(docs: DataFrame, textCol: String, idCol: String,
      spread: Boolean = true): DataFrame =
    (if (spread) docs.repartition(col(idCol)) else docs)
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .select(col(idCol).as("doc_id"), explode(Shingles.tokensOfNorm(col("norm"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Okapi BM25 relevance score of every document against a fixed query
    * term set: score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf(t) = ln(1 + (N−df+0.5)/(df+0.5)). Only docs matching ≥1 query
    * term appear (`n_hits` = matched terms).
    *
    * Shape at scale: tf aggregates map-side; doc length is a window sum over
    * the already-(doc,term)-grouped frame (rows ≪ tokens); the filter to
    * query terms happens BEFORE the df window, so the per-term doc-frequency
    * count runs over |query|·|matching docs| rows only. avgdl and N are
    * 1-row broadcast frames — no driver action at plan-build time.
    *
    * Floats: every arithmetic step is a double op mirrored verbatim by the
    * oracle SQL; the per-doc sum over matched terms is order-dependent at
    * the last ulp, so the score rounds to 6 dp (stats_suite convention).
    *
    * Caching: tf feeds both avgdl and the scoring chain — persisted, then
    * released via [[Dedup.materializeAndRelease]] (explicit-handle
    * contract; the returned frame is the one persisted handle).
    */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val tf = termFrequencies(docs, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.select(count(lit(1)).as("__n"))
    val avgdl = tf.agg(
      (sum(col("tf")).cast("double") / countDistinct(col("doc_id"))).as("__avgdl"))
    val idf = log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / col("__avgdl"))))
    val result = tf
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .filter(col("term").isin(queryTerms: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .crossJoin(broadcast(nDocs))
      .crossJoin(broadcast(avgdl))
      .groupBy(col("doc_id"))
      .agg(round(sum(idf * tfNorm), 6).as("bm25"), count(lit(1)).as("n_hits"))
    Dedup.materializeAndRelease(result, tf)
  }

  /** KL divergence of each source's unigram distribution from the corpus
    * distribution: KL(P_s‖Q) = Σ_t P_s(t)·ln(P_s(t)/Q(t)) — the standard
    * data-mixture drift diagnostic (a source whose token mix diverges from
    * the corpus gets a large score). Every source term also occurs in the
    * corpus, so Q(t) > 0 and no smoothing is needed.
    *
    * Shape at scale: one (source, term) aggregate (map-side combined — the
    * shuffle carries vocabulary-sized rows per source, not tokens); source
    * totals as a window sum over that frame; corpus term counts broadcast
    * back (vocabulary ≪ corpus); the grand total is a 1-row broadcast.
    * Per-source sums round to 6 dp (order-dependent double accumulation).
    *
    * Caching: the (source, term) frame feeds three consumers — persisted,
    * then released via [[Dedup.materializeAndRelease]].
    */
  def sourceKlDivergence(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // documents with a NULL source are excluded: a per-source distribution
    // cannot be attributed to an unknown source, and SQL replay would drop
    // the NULL key at the first equi-join anyway — stating it here makes
    // engine and oracle agree by contract, not accident (round-10 sweep)
    val tf = termFrequencies(docs.filter(col(sourceCol).isNotNull), textCol, sourceCol, spread = false)
      .withColumnRenamed("doc_id", "source").withColumnRenamed("tf", "cnt")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gt = tf.groupBy(col("term")).agg(sum(col("cnt")).as("gcnt"))
    val g = tf.agg(sum(col("cnt")).as("__gtotal"))
    val p = col("cnt").cast("double") / col("total")
    val q = col("gcnt").cast("double") / col("__gtotal")
    val result = tf
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .join(broadcast(gt), "term")
      .crossJoin(broadcast(g))
      .groupBy(col("source"))
      .agg(round(sum(p * log(p / q)), 6).as("kl"), count(lit(1)).as("n_terms"))
    Dedup.materializeAndRelease(result, tf)
  }

  /** Boilerplate n-gram mining: distinct word n-grams present in at least
    * `minDocPct`% of documents — headers, footers, and template fragments
    * shared across a crawl surface as high-document-frequency grams. The
    * threshold compares as integer cross-multiplication (df·100 ≥ N·pct):
    * a double `ceil(0.05·N)` puts 25.000000000000004 on one engine and 25.0
    * on the other when N·pct lands exactly on an integer.
    *
    * Shape at scale: grams are distinct-per-doc at the map side
    * ([[Shingles.wordNgrams]]), so the aggregate counts document frequency
    * directly; only (gram, count) rows shuffle. N is a 1-row broadcast.
    */
  def boilerplateGrams(docs: DataFrame, n: Int = 2, minDocPct: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minDocPct >= 1 && minDocPct <= 100, s"minDocPct=$minDocPct out of range")
    val nDocs = docs.select(count(lit(1)).as("__n"))
    docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .withColumn("toks", Shingles.tokensOfNorm(col("norm")))
      .select(col(idCol).as("doc_id"), explode(Shingles.wordNgrams(col("toks"), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 100 >= col("__n") * minDocPct)
      .select(col("gram"), col("df"))
  }

  /** Collocation mining: top-`topK` bigrams by pointwise-association lift
    * `count(w1 w2) · N_unigrams / (count(w1) · count(w2))` — PMI without
    * the log (the ranking is identical and the score stays in exact-ish
    * double territory: one multiply chain in a fixed order, no libm).
    * Bigrams below `minCount` are cut BEFORE the unigram join.
    *
    * Shape at scale: two corpus token passes (unigram counts, bigram
    * counts), both map-side-combined hash aggregates; the unigram
    * vocabulary joins in broadcast (vocabularies are millions of rows at
    * most — tiny next to the corpus). The final top-K is a single window
    * over the `minCount`-surviving bigrams, which the cut keeps small; at
    * 100 TB you would swap the window for TopKPerGroup or raise minCount.
    */
  def collocations(docs: DataFrame, minCount: Long = 5, topK: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withToks = docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .withColumn("toks", Shingles.tokensOfNorm(col("norm")))
    val uni = withToks.select(explode(col("toks")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nUni = uni.agg(sum(col("wc")).as("__n_uni"))
    val bigrams = withToks.filter(size(col("toks")) >= 2)
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .select(col("bg.0").as("w1"), col("bg.1").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val scored = bigrams
      .join(broadcast(uni.select(col("w").as("w1"), col("wc").as("c_a"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("wc").as("c_b"))), "w2")
      .crossJoin(broadcast(nUni))
      // fixed association order: (c_ab · N) first, then the divisor product
      .withColumn("lift",
        (col("c_ab").cast("double") * col("__n_uni")) /
          (col("c_a").cast("double") * col("c_b")))
    val w = Window.orderBy(col("lift").desc, col("w1"), col("w2"))
    // top-k via orderBy+limit (TakeOrderedAndProject: per-partition heaps)
    // BEFORE the rank window — windowing the full scored-bigram frame
    // would drag vocab²-scale candidates into one task
    val result = scored
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(topK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("w1"), col("w2"), col("c_ab"), col("lift"))
    Dedup.materializeAndRelease(result, uni)
  }

  /** Corpus vocabulary head: top-`topK` words by frequency with their rank,
    * the Zipf invariant rank·freq (exact integer), and frequency relative
    * to the top word. One map-side-combined aggregate over the tokens; the
    * rank window runs on the (tiny) top slice only after a `limit`-friendly
    * global ordering — at scale this is TakeOrderedAndProject territory,
    * not a full sort.
    */
  def zipfRanks(docs: DataFrame, topK: Int = 50,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uni = docs
      .repartition(col(idCol))
      .withColumn("norm", Shingles.normalize(col(textCol)))
      .select(explode(Shingles.tokensOfNorm(col("norm"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val top = uni.orderBy(col("freq").desc, col("w")).limit(topK)
    val w = Window.orderBy(col("freq").desc, col("w"))
    // __top rides the SAME rank window (first row under the desc order IS
    // the max) instead of a separate top.agg(...) — which, `top` being
    // unpersisted, re-executed the whole corpus unigram aggregate a second
    // time for one number (review r9). Both window functions share one
    // Window exec over the ≤topK-row frame.
    top.withColumn("rank", row_number().over(w))
      .withColumn("__top", first(col("freq")).over(w))
      .select(col("rank").cast("long").as("rank"), col("w").as("word"), col("freq"),
        (col("rank").cast("long") * col("freq")).as("rank_freq"),
        (col("freq").cast("double") / col("__top")).as("ratio_to_top"))
  }
}
