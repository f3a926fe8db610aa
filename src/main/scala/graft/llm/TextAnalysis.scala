package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines
  * (BASELINE.json north_star): tokenization, quality scoring,
  * language-ID heuristic, fingerprinting.
  *
  * All pure `Column` compositions over built-ins (whole-stage codegen;
  * no UDFs, no driver round-trips) — each operator is a narrow map over
  * one row, so at 100 TB they scale embarrassingly with the scan and
  * add nothing to shuffle volume.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed, lowercased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish regex token count: word runs + single non-space symbols
    * (the standard pre-tokenizer shape). */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")

  /** Punctuation character count / ratio (quality-scoring feature). */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:'\"-]", ""))).cast("long")

  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / length(text)

  /** Ratio of tokens found in a stopword list (quality-scoring
    * feature; high ratio ≈ natural prose, near-zero ≈ boilerplate). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    val toks = tokens(text)
    size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks)
  }

  /** Mean token length (quality-scoring feature). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(toks)
  }

  /** Deterministic language-ID heuristic: score = count of tokens in
    * each language's marker list; argmax with a fixed preference order
    * on ties. (A real n-gram model plugs in the same shape; the scoring
    * rule is the operator, and the oracle reimplements the identical
    * rule in SQL.) */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "la", "y", "es", "los"))

  def langScore(text: Column, markers: Seq[String]): Column = {
    val m = array(markers.map(lit): _*)
    size(filter(tokens(text), t => array_contains(m, t)))
  }

  /** Predicted language, 'und' (undetermined) when no marker hits. */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (l, ms) => (l, langScore(text, ms)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s > 0 && s === best, lit(l)).otherwise(acc)
    }
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text
    * (md5 so any engine reproduces it — never engine-local hashes). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** TF-IDF per (doc, term): tf = in-doc occurrences, idf = ln(N/df).
    * Two shuffles total — one explode→(doc, term) count, one term df
    * aggregate joined back (the df table is |vocab|-sized → broadcast
    * at any corpus scale with a bounded vocabulary). ln() is exact-
    * enough for ranking but NOT bit-portable across libm builds, so
    * oracle-checked outputs keep tf/df integers and derive the score
    * in the verification SQL identically. */
  def tfIdf(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val n = docs.count()
    val termCounts = docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = termCounts.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    termCounts.join(broadcast(df), Seq("term"))
      .withColumn("n_docs", lit(n))
  }

  /** BM25 ranked retrieval (Robertson et al., Okapi BM25): top-k
    * documents per query, the data-pipeline staple for
    * decontamination-by-retrieval and targeted corpus inspection.
    *
    * score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)   (the "+1" Lucene
    * variant — idf stays positive even for df > N/2).
    *
    * Scale shape: the query-term list is tiny and broadcast, and the
    * postings are pruned to query terms BEFORE the per-(doc, term)
    * count aggregate, so the one token-keyed shuffle carries only rows
    * whose term appears in some query — at 100 TB the shuffle volume
    * is O(matching postings), not O(corpus tokens). df/avgdl corpus
    * stats ride one scalar aggregate + broadcast joins; the final
    * per-query top-k is a window over the (small) matched-candidate
    * set. Per-doc scores use the exact-decimal sum pattern
    * ([[graft.functions.GraftFunctions.dsum]]) so parallel partial
    * aggregation is bit-deterministic. */
  /** Sparse TF-IDF cosine top-k retrieval — the inverted-index
    * companion to BM25 ([[bm25TopK]]) and to the dense ANN family:
    * the VSM ranking (Salton's vector space model) with weights
    * w(d,t) = tf(d,t)·ln(N/df(t)) and true cosine normalization, so
    * long documents don't win on length. Query vectors weight their
    * terms with the CORPUS idf; out-of-vocabulary query terms carry
    * zero weight (they contribute to neither the dot nor the query
    * norm) — the standard convention.
    *
    * Determinism: the dot and both squared norms fold through
    * DECIMAL(30,12) (the dsum discipline); cosine is one IEEE
    * division of the three folded scalars, so the ranking
    * hash-matches the DuckDB replay.
    *
    * Scale shape: ONE corpus-token aggregate builds the (doc, term,
    * tf) postings (keyed on high-cardinality (doc, term) — the
    * inverted index build); df and document norms are keyed
    * re-aggregates of it; the DOT prunes postings to the query term
    * set map-side (broadcast semi-join) before its (query, doc) fold,
    * so per-request work is posting-lists-of-query-terms, never
    * corpus × queries. Postings are deliberately NOT cached: at
    * corpus scale the index doesn't fit executor storage and the
    * honest plan re-aggregates (a production deployment persists the
    * posting table once and serves it — the signatureTable split). */
  def tfidfCosineTopK(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 10): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.GraftFunctions.dsum
    require(k >= 1, s"k must be positive, got $k")
    val tf = docs
      .select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("long").as("tf"))
    val dfTab = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val nFrame = docs.agg(count(lit(1)).cast("long").as("__n"))
    val idf = log(col("__n").cast("double") / col("df").cast("double"))
    val post = tf.join(dfTab, Seq("term")).crossJoin(broadcast(nFrame))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") * idf).as("w"))
    val norms = post.groupBy("doc_id")
      .agg(sqrt(dsum(col("w") * col("w"), 12)).as("__dn"))
    val qw = queries
      .select(col("query_id"), explode(tokens(col("query_text"))).as("term"))
      .groupBy("query_id", "term").agg(count(lit(1)).cast("long").as("qtf"))
      .join(dfTab, Seq("term")).crossJoin(broadcast(nFrame))
      .select(col("query_id"), col("term"),
        (col("qtf").cast("double") * idf).as("qwt"))
    val qnorm = qw.groupBy("query_id")
      .agg(sqrt(dsum(col("qwt") * col("qwt"), 12)).as("__qn"))
    val dots = post.join(broadcast(qw), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(dsum(col("w") * col("qwt"), 12).as("__dot"),
        count(lit(1)).cast("long").as("n_terms"))
    // Degenerate-norm guard: a doc (or query) whose every term is
    // corpus-universal has idf-0 weights only, so its norm is 0 and
    // the raw cosine is 0/0 = NaN — which Spark's descending sort
    // ranks ABOVE every real score, handing top-k slots to the least
    // informative docs (and DuckDB's NaN semantics diverge). Null the
    // cosine when either norm is 0 and drop it before ranking (the
    // madOutliers mad=0 convention).
    val scored = dots.join(norms, Seq("doc_id"))
      .join(broadcast(qnorm), Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        when(col("__dn") > 0.0 && col("__qn") > 0.0,
          col("__dot") / (col("__dn") * col("__qn"))).as("cos"))
      .filter(col("cos").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("cos"),
        col("n_terms"))
  }

  def bm25TopK(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val qTerms = queries.select(col("query_id"),
      explode(array_distinct(tokens(col("query_text")))).as("term"))
    val qTermSet = qTerms.select("term").distinct()
    val base = docs.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        col("toks"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    // Prune to query terms BEFORE the aggregate: the shuffle carries
    // only matching postings. dl is functionally dependent on doc_id,
    // so it rides the grouping key instead of a second join.
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qTermSet), Seq("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    // tf rows are unique per (doc_id, term) by construction (they ARE
    // the group keys), so df = plain count — no distinct-agg state
    val dfTab = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = log((col("n_docs").cast("double") - col("df").cast("double")
      + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val denom = col("tf").cast("double") +
      lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / avgdl)
    val contrib = idf * (col("tf").cast("double") * lit(k1 + 1.0)) / denom
    val scored = tf
      .join(broadcast(dfTab), Seq("term"))
      .join(broadcast(qTerms), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("c", contrib)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("c").cast(DecimalType(30, 12))).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"),
        col("n_terms"))
  }

  /** Corpus bigram counts: consecutive token pairs via an index zip —
    * a narrow map + one count aggregate (the language-model data-prep
    * staple). */
  def bigramCounts(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    docs.select(explode(
      zip_with(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
  }

  /** Gopher-style repetition statistics per document (Rae et al.,
    * "Scaling Language Models" — the repetition-removal filters):
    * fraction of tokens that are the single most common token, and
    * fraction of duplicate bigrams. Documents dominated by one token
    * or by repeated phrases are low-quality training data regardless
    * of their other stats.
    *
    * Shape: explode → per-(doc, gram) count → per-doc aggregate — two
    * partial-aggregated shuffles keyed by doc id, no corpus-wide
    * state, so at 100 TB it scales with the token count like the rest
    * of the text family. (A per-row higher-order-function formulation
    * would avoid the shuffles but runs interpreted and O(n²) per doc —
    * the explode is the right trade.) */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      topTokenMax: Double = 0.2, dupBigramMax: Double = 0.3): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(idCol), tokens(col(textCol)).as("toks"))
    val tokStats = base.select(col(idCol), explode(col("toks")).as("tok"))
      .groupBy(idCol, "tok").agg(count(lit(1)).as("cnt"))
      .groupBy(idCol).agg(
        sum("cnt").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("distinct_tokens"),
        max("cnt").cast("long").as("top_token_count"))
    val bgStats = base.select(col(idCol), explode(
        zip_with(slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy(idCol, "bigram").agg(count(lit(1)).as("cnt"))
      .groupBy(idCol).agg(
        sum("cnt").cast("long").as("n_bigrams"),
        count(lit(1)).cast("long").as("distinct_bigrams"))
    // LEFT join: a document with fewer than 2 tokens has no bigrams at
    // all — it must still appear (NULL bigram stats, flagged on
    // top_token_frac alone), not silently vanish from the report.
    tokStats.join(bgStats, Seq(idCol), "left")
      .withColumn("top_token_frac",
        col("top_token_count").cast("double") / col("n_tokens"))
      .withColumn("dup_bigram_frac",
        lit(1.0) - col("distinct_bigrams").cast("double") / col("n_bigrams"))
      .withColumn("repetition_flagged",
        col("top_token_frac") > topTokenMax ||
          coalesce(col("dup_bigram_frac") > dupBigramMax, lit(false)))
  }

  /** Benchmark-contamination check (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" §evaluation-overlap):
    * corpus documents sharing at least one word n-gram with any
    * document of the eval/benchmark set, with the count of DISTINCT
    * shared n-grams per contaminated doc. Production uses 8–13-gram
    * windows; `n` is a parameter because the right window depends on
    * the tokenizer and corpus.
    *
    * Shape: both sides explode to (doc, shingle); the eval side
    * reduces to DISTINCT shingles (small — benchmarks are tiny next
    * to the corpus) and the join shuffles on the shingle hash only.
    * At 100 TB the eval shingle set broadcasts and the corpus side
    * never shuffles at all. */
  def contaminatedDocs(corpus: org.apache.spark.sql.DataFrame,
      eval: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int = 8): org.apache.spark.sql.DataFrame = {
    def shingled(df: org.apache.spark.sql.DataFrame) =
      df.select(col(idCol), explode(graft.functions.WordShingles.column(
        col(textCol), n, distinct = true)).as("shingle"))
    val evalShingles = shingled(eval).select("shingle").distinct()
    shingled(corpus).join(evalShingles, Seq("shingle"))
      .groupBy(idCol)
      .agg(countDistinct(col("shingle")).as("shared_ngrams"))
  }

  /** Contamination scan, zero-shuffle path: the eval shingle set is
    * collected to the driver (benchmarks are tiny next to the corpus —
    * the standing assumption of the join path too, which broadcasts
    * it) and embedded by reference in a codegen'd expression, so the
    * corpus side is ONE narrow map fused into the scan: no (doc,
    * shingle) explode, no join, no countDistinct shuffle. Result ≡
    * [[contaminatedDocs]] (LlmSpec asserts it). Falls back on the
    * join path above when the eval side is too large to collect. */
  def contaminatedDocsFast(corpus: org.apache.spark.sql.DataFrame,
      eval: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      maxEvalShingles: Long = 10_000_000L): org.apache.spark.sql.DataFrame = {
    val evalShingles = eval
      .select(explode(graft.functions.WordShingles.column(
        col(textCol), n, distinct = true)).as("shingle"))
      .distinct()
    // The collected set lives in one driver array, so anything past
    // Int.MaxValue - 1 can't be collected anyway; clamping keeps a
    // caller-supplied huge Long from overflowing to a NEGATIVE limit
    // (which Spark rejects) while preserving the gate semantics.
    val cap = math.min(maxEvalShingles, (Int.MaxValue - 1).toLong)
    if (evalShingles.limit(cap.toInt + 1).count() > cap)
      return contaminatedDocs(corpus, eval, idCol, textCol, n)
    val set = new java.util.HashSet[String]()
    evalShingles.collect().foreach(r => set.add(r.getString(0)))
    val shared = org.apache.spark.sql.GraftSqlBridge.column(col(textCol))(
      exprs => graft.functions.SharedNgrams(exprs.head, set, n))
    corpus.select(col(idCol), shared.as("shared_ngrams"))
      .filter(col("shared_ngrams") > 0)
  }

  /** Language-model perplexity scoring (the CCNet/Wenzek et al. 2020
    * quality signal: documents far from the corpus distribution score
    * high perplexity): a word-bigram LM with add-one smoothing,
    * trained on the corpus itself in two aggregations, then applied
    * per document. P(b|a) = (c(a,b) + 1) / (c(a) + V); score =
    * avg −ln P over the doc's bigrams; perplexity = exp(score).
    * Documents with fewer than 2 tokens get NULL scores (no bigrams)
    * and are never flagged.
    *
    * Shape: unigram + bigram count aggregations (shuffles keyed by
    * token/bigram — high cardinality, no skew magnet), then the doc
    * bigram stream LEFT-joins the count tables on those same keys and
    * re-aggregates per doc. Nothing is corpus²; the model tables are
    * vocabulary-sized, three orders under the corpus at web scale. */
  def lmPerplexity(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      flagAbove: Double = 1000.0): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    // parallelism floor (the lshPairs rule): tokenize/explode feeds
    // every downstream aggregate and must not serialize onto one core
    // behind an unsplittable input file
    //
    // Cache lifecycle: the tokenized frame feeds THREE consumers
    // (vocab count, unigram counts, the bigram stream used twice) —
    // without truncation the regex tokenization re-runs per consumer.
    // localCheckpoint (r19; was persist) keeps the pin EAGER and
    // GC-collectable with the returned frame — the persist form
    // registered a CacheManager entry per call that outlived the
    // query (a slow leak across a 301-query bench pass).
    val base = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), toks.as("toks"))
      .localCheckpoint(true)
    val uni = base.select(explode(col("toks")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("ca"))
      .localCheckpoint(true)
    val vocab = uni.count() // V: driver scalar over the pinned frame
    val docBigrams = base.select(col(idCol), explode(
        zip_with(slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("bg"))
      .select(col(idCol), col("bg.a").as("a"), col("bg.b").as("b"))
    val bi = docBigrams.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val scored = docBigrams
      .join(bi, Seq("a", "b"))
      .join(uni, Seq("a"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_bigrams"),
        // per-row ln values are engine-identical (shared libm); the
        // SUM goes through exact decimals so accumulation ORDER can't
        // move the result (the dsum/davg discipline — doubles are not
        // associative, shuffles don't promise an order)
        graft.functions.GraftFunctions.davg(
          -log((col("cab") + 1).cast("double") / (col("ca") + vocab)), 12)
          .as("avg_neg_logprob"))
    // LEFT join from the full doc list: a sub-2-token doc has no
    // bigrams — it must still appear (NULL scores, never flagged),
    // not silently vanish from the quality report
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("perplexity", exp(col("avg_neg_logprob")))
      .withColumn("perplexity_flagged",
        coalesce(col("perplexity") > flagAbove, lit(false)))
  }

  /** Language-ID confusion matrix: declared `lang` metadata vs the
    * [[langId]] heuristic's prediction, with each cell's share of its
    * declared row — the metadata-QA readout that catches mislabeled
    * crawl slices (a declared-en row whose mass sits under
    * predicted-fr is a feed labeling bug, not a model error) before a
    * mixture trusts the labels. Scale shape: one narrow predict map,
    * one map-side-combined (declared, predicted) count, a
    * |langs|-row total broadcast back. */
  def langConfusion(docs: org.apache.spark.sql.DataFrame, langCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val cm = docs
      .select(col(langCol), langId(col(textCol)).as("predicted_lang"))
      .groupBy(col(langCol), col("predicted_lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    val tot = cm.groupBy(col(langCol)).agg(sum(col("n_docs")).as("__t"))
    cm.join(broadcast(tot), Seq(langCol))
      .select(col(langCol), col("predicted_lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("__t").cast("double"))
          .as("frac_of_declared"))
  }

  /** Per-group character-bigram entropy (nats and bits): the
    * compressibility / script-mix proxy next to the token-level
    * [[graft.functions.UnigramEntropyExpr]] readout — char-bigram
    * entropy is what an entropy-coding tokenizer can exploit, so a
    * source whose bits-per-gram craters is repetitive boilerplate and
    * one whose bits spike is mixed-script or binary-ish noise.
    * Short texts follow the shingle convention: a sub-`2`-char doc
    * contributes its whole text as one gram.
    *
    * Scale shape: the native [[graft.functions.CharGramCounts]]
    * kernel pre-counts each doc's bigrams in one codegen pass, so the
    * explode ships one row per DISTINCT in-doc bigram (alphabet²-
    * capped) instead of one per character; the (group, gram) sum is
    * map-side combined, |groups|-row totals broadcast back, entropy
    * terms decimal-rounded then exactly summed (the q214
    * discipline). */
  def charBigramEntropy(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.dsum
    val counts = docs.select(col(groupCol),
        explode(graft.functions.CharGramCounts.column(col(textCol))).as("gc"))
      .groupBy(col(groupCol), col("gc.g").as("g"))
      .agg(sum(col("gc.c")).as("c"))
    val tot = counts.groupBy(col(groupCol)).agg(sum(col("c")).as("__t"))
    val p = col("c").cast("double") / col("__t").cast("double")
    val ln2 = 0.6931471805599453 // shortest-repr double of ln 2
    counts.join(broadcast(tot), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        first(col("__t")).cast("long").as("n_grams"),
        count(lit(1)).cast("long").as("n_distinct"),
        dsum(-p * log(p), 12).as("entropy_nats"))
      .withColumn("entropy_bits", col("entropy_nats") / ln2)
  }

  /** Distinctive terms per source by log-odds ratio with an
    * informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    * "Fightin' Words") — the principled "what characterizes this
    * source" readout: raw tf-idf over-rewards rare typos, plain
    * log-odds over-rewards hapaxes; the Dirichlet prior (scaled by
    * each term's corpus frequency) shrinks both, and the z-score
    * divides by the estimated variance so sources of different sizes
    * rank comparably. Emits the top-k terms per source by z.
    *
    * Scale shape: one (source, term) count with map-side combine, a
    * vocab-keyed join to term totals, |sources|-row and 1-row totals
    * broadcast; the top-k window partitions on the source. All
    * arithmetic is expression-ordered for oracle replay. */
  def logOddsTerms(docs: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String, topK: Int = 5,
      priorMass: Double = 10.0): org.apache.spark.sql.DataFrame = {
    require(topK >= 1 && priorMass > 0, "need topK >= 1, priorMass > 0")
    val csw = docs.select(col(groupCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(groupCol), col("w"))
      .agg(count(lit(1)).as("csw"))
    val cw = csw.groupBy("w").agg(sum(col("csw")).as("cw"))
    val ns = csw.groupBy(col(groupCol)).agg(sum(col("csw")).as("ns"))
    val nTot = csw.agg(sum(col("csw")).as("n"))
    val aw = lit(priorMass) * col("cw").cast("double") / col("n").cast("double")
    val inS = col("csw").cast("double") + aw
    val outS = col("ns").cast("double") + lit(priorMass) -
      col("csw").cast("double") - aw
    val cwr = col("cw").cast("double") - col("csw").cast("double")
    val inR = cwr + aw
    val outR = (col("n").cast("double") - col("ns").cast("double")) +
      lit(priorMass) - cwr - aw
    val delta = log(inS / outS) - log(inR / outR)
    val z = delta / sqrt(lit(1.0) / inS + lit(1.0) / inR)
    csw
      .join(cw, Seq("w"))
      .join(broadcast(ns), Seq(groupCol))
      .crossJoin(broadcast(nTot))
      .select(col(groupCol), col("w").as("term"),
        col("csw").cast("long").as("n_in_group"), z.as("z"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("z").desc, col("term"))))
      .filter(col("rk") <= topK)
      .select(col(groupCol), col("rk").cast("long").as("rk"), col("term"),
        col("n_in_group"), col("z"))
  }

  /** Min-K% Prob membership/contamination score (Shi et al. 2023,
    * "Detecting Pretraining Data from Large Language Models"): per
    * document, the mean negative log-probability of its k% LEAST
    * likely bigrams under the corpus-trained add-one LM — the
    * pretraining-data detector's core statistic: a document the model
    * finds unsurprising even at its WORST tokens was very likely
    * trained on, while the full-document average ([[lmPerplexity]])
    * lets a few memorized spans hide behind normal text. Low score →
    * likely member / likely contamination against an eval set.
    *
    * Determinism under ties: the bottom-k set is chosen by
    * neg-logprob rank, and ties at the boundary carry EQUAL values,
    * so the mean is well-defined no matter which tied bigram the rank
    * picks — the oracle replays bit-for-bit without a tie-break
    * column. Scale shape: the q125 count joins (vocabulary-sized,
    * map-side combined) plus ONE doc-keyed window — partitioned by
    * the document, never a global sort. */
  def minKProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, kPct: Double = 0.2): org.apache.spark.sql.DataFrame = {
    require(kPct > 0 && kPct <= 1, s"kPct must be in (0, 1], got $kPct")
    val toks = tokens(col(textCol))
    val base = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), toks.as("toks")).persist()
    val uni = base.select(explode(col("toks")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("ca")).persist()
    val vocab = uni.count()
    val docBigrams = base.select(col(idCol), explode(
        zip_with(slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("bg"))
      .select(col(idCol), col("bg.a").as("a"), col("bg.b").as("b"))
    val bi = docBigrams.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val lp = -log((col("cab") + 1).cast("double") / (col("ca") + vocab))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__lp").desc)
    val scored = docBigrams
      .join(bi, Seq("a", "b")).join(uni, Seq("a"))
      .select(col(idCol), lp.as("__lp"))
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn("__m", ceil(col("__n") * lit(kPct)).cast("long"))
      .groupBy(idCol)
      .agg(first(col("__n")).cast("long").as("n_bigrams"),
        first(col("__m")).cast("long").as("k_used"),
        (graft.functions.GraftFunctions.dsum(
          when(col("__rk") <= col("__m"), col("__lp")), 12)
          / first(col("__m")).cast("double")).as("mink_score"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("k_used"), lit(0L)).as("k_used"),
        col("mink_score"))
  }

  /** Stupid-backoff bigram scoring of HELD-OUT documents (Brants et
    * al. 2007 — the LM smoothing built for MapReduce-scale counts):
    * train bigram/unigram counts on the md5-bucket train split
    * ([[graft.llm.Corpus.split]], same 80% cut as q58), then score
    * every val/test document's bigrams as
    * S(b|a) = c(ab)/c(a) when the bigram was seen in training, else
    * α·(c(b)+1)/(N+V) — the α-discounted unigram with an add-one
    * floor so OOV words score α/(N+V) instead of −∞. Unlike
    * [[lmPerplexity]] (in-corpus, add-one) this is a genuine
    * out-of-sample readout: `backoff_rate` (fraction of bigrams the
    * trained table missed) is the distribution-shift signal, and
    * `avg_neg_logscore` ranks held-out docs by how surprising they
    * are to the training distribution.
    *
    * Scale shape: the tokenized frame persists once and feeds train
    * counts + held-out bigrams (the lmPerplexity cache contract);
    * unigram/bigram counts are vocabulary-sized with map-side
    * combine; all three score joins key on terms; N and V are two
    * driver scalars off a vocabulary-sized aggregate. Stupid backoff
    * needs no normalization pass — that's exactly why it scales. */
  def backoffScore(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      alpha: Double = 0.4): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val base = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        (graft.llm.Corpus.split(col(idCol)) === "train").as("__train"),
        toks.as("toks"))
      .persist()
    val uni = base.filter(col("__train"))
      .select(explode(col("toks")).as("a"))
      .groupBy("a").agg(count(lit(1)).as("ca"))
      .persist()
    // V and N: one vocabulary-sized aggregate → two driver scalars
    // (warms both caches)
    val nv = uni.agg(count(lit(1)).as("v"), sum(col("ca")).as("n")).collect()(0)
    val vocab = nv.getLong(0)
    val nTrain = if (nv.isNullAt(1)) 0L else nv.getLong(1)
    require(nTrain > 0, "backoffScore: empty training split")
    def bigrams(df: org.apache.spark.sql.DataFrame) = df.select(col(idCol),
      explode(zip_with(
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
        slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))).as("bg"))
      .select(col(idCol), col("bg.a").as("a"), col("bg.b").as("b"))
    val cab = bigrams(base.filter(col("__train")))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val floorDen = (nTrain + vocab).toDouble
    val s = when(col("cab").isNotNull,
        col("cab").cast("double") / col("ca").cast("double"))
      .otherwise(lit(alpha) *
        (coalesce(col("cb"), lit(0L)) + 1).cast("double") / lit(floorDen))
    val scored = bigrams(base.filter(!col("__train")))
      .join(cab, Seq("a", "b"), "left")
      .join(uni, Seq("a"), "left")
      .join(uni.select(col("a").as("b"), col("ca").as("cb")), Seq("b"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(when(col("cab").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_backoff"),
        graft.functions.GraftFunctions.davg(-log(s), 12)
          .as("avg_neg_logscore"))
    // every held-out doc appears, bigram-less ones with NULL scores
    base.filter(!col("__train")).select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        when(col("n_bigrams") > 0, col("n_backoff").cast("double")
          / col("n_bigrams").cast("double")).as("backoff_rate"),
        col("avg_neg_logscore"))
  }

  /** CCNet perplexity tiers (Wenzek et al. 2020): per-language
    * head/middle/tail quality buckets by LM perplexity — the corpus
    * partitioning CCNet ships (train on head, mine middle, drop tail).
    * Composes [[lmPerplexity]] with an `ntile(nTiers)` window per
    * language; docs too short to score (NULL perplexity) sort LAST
    * within their language (explicitly on both engines — Spark's ASC
    * default is nulls-first, DuckDB's is nulls-last) and land in the
    * tail, ties break on doc id, so the assignment is deterministic
    * and hash-gates (q149).
    *
    * Scale shape: the ntile is a per-language sort — exact, and the
    * right gate semantics, but a total sort of each language partition.
    * At 100 TB swap in [[perplexityTiersApprox]]: approx-percentile
    * THRESHOLDS (one aggregate pass, t-digest state) broadcast into a
    * narrow comparison — no sort, no per-language skew, at the cost of
    * boundary-epsilon tier assignment (ScalaTest-gated agreement ≥95%
    * vs exact on the fixture). */
  def perplexityTiers(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, langCol: String,
      nTiers: Int = 3): org.apache.spark.sql.DataFrame = {
    val scored = lmPerplexity(docs, idCol, textCol)
      .select(col(idCol), col("perplexity"))
    val w = Window.partitionBy(col(langCol))
      .orderBy(col("perplexity").asc_nulls_last, col(idCol).asc)
    docs.select(col(idCol), col(langCol))
      .join(scored, Seq(idCol))
      .withColumn("tier", ntile(nTiers).over(w).cast("long"))
      .withColumn("tier_label",
        when(col("tier") === 1, lit("head"))
          .when(col("tier") === nTiers, lit("tail"))
          .otherwise(lit("middle")))
  }

  /** The 100 TB form of [[perplexityTiers]]: per-language approximate
    * perplexity thresholds (one `percentile_approx` aggregate — a
    * handful of rows) broadcast-joined back and compared — a narrow
    * map instead of a per-language total sort. Tier boundaries move by
    * the sketch's epsilon; everything else matches the exact form. */
  def perplexityTiersApprox(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, langCol: String,
      nTiers: Int = 3): org.apache.spark.sql.DataFrame = {
    val scored = docs.select(col(idCol), col(langCol))
      .join(lmPerplexity(docs, idCol, textCol)
        .select(col(idCol), col("perplexity")), Seq(idCol))
    val qs = (1 until nTiers).map(_.toDouble / nTiers)
    val cuts = scored.groupBy(col(langCol))
      .agg(percentile_approx(col("perplexity"),
        array(qs.map(lit): _*), lit(10000)).as("cuts"))
    scored.join(broadcast(cuts), Seq(langCol))
      .withColumn("tier",
        when(col("perplexity").isNull, lit(nTiers.toLong))
          .otherwise(aggregate(col("cuts"), lit(1L),
            (acc, c) => acc + when(col("perplexity") > c, 1L).otherwise(0L))))
      .withColumn("tier_label",
        when(col("tier") === 1, lit("head"))
          .when(col("tier") === nTiers, lit("tail"))
          .otherwise(lit("middle")))
      .drop("cuts")
  }

  /** URL canonicalization (the key step of URL-level dedup in web
    * corpus assembly — CCNet/RefinedWeb dedup by canonical URL before
    * any content hashing): two spellings of the same resource must
    * map to one key. Rules (each a portable regex/HOF both engines
    * reproduce; no lookaheads — RE2-safe):
    *   1. drop the #fragment;
    *   2. lowercase scheme and host (path/query stay case-sensitive);
    *   3. strip a leading `www.` and the SCHEME'S default port only
    *      (`:80` for http, `:443` for https — `https://h:80` is a
    *      distinct endpoint and keeps its port);
    *   4. drop tracking parameters (`utm_*`, `fbclid`, `gclid`,
    *      `ref`), SORT the survivors for order-independence;
    *   5. strip trailing slashes from the path.
    * A narrow per-row map — zero shuffle; the dedup that follows is
    * one hash aggregate on the canonical key. */
  def urlCanonicalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host0 = lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val hostNoWww = regexp_replace(host0, "^www\\.", "")
    // only the SCHEME'S default port is redundant: https://h:80 is a
    // real non-default endpoint and must keep its port
    val host = when(scheme === "http", regexp_replace(hostNoWww, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostNoWww, ":443$", ""))
      .otherwise(hostNoWww)
    val rest = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val path = regexp_replace(
      regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    val query = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val params = sort_array(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=&]*|fbclid|gclid|ref)=")))
    concat(scheme, lit("://"), host, path,
      when(size(params) > 0, concat(lit("?"), array_join(params, "&")))
        .otherwise(lit("")))
  }

  /** C4-style corpus cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning" §2.2): line-level filters — keep
    * lines that end in terminal punctuation, contain at least
    * `minWords` words, and do not mention "javascript" — plus
    * page-level removal of documents containing "lorem ipsum" or a
    * curly brace, or retaining fewer than `minKeptLines` lines after
    * line filtering.
    *
    * Pure `Column` composition over built-ins (higher-order `filter`
    * on the line array, no explode): a narrow per-row map with ZERO
    * shuffle, so at 100 TB the whole cleaning pass rides the scan.
    * The explode→filter→re-group alternative would shuffle every
    * (doc, line) pair for no reason — lines of one document never
    * interact. */
  def c4Stats(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      minWords: Int = 3, minKeptLines: Int = 3): org.apache.spark.sql.DataFrame = {
    // NO parallelism floor: this is a zero-shuffle scan rider
    // (PlanQualitySpec pins it) — at scale the scan parallelizes by
    // file, and shuffling full text bytes to parallelize a regex pass
    // costs more than it buys. (Contrast substringStats, whose md5
    // volume is ~token-count and does justify the floor.)
    // The per-line work runs in the ONE-PASS native kernel
    // (graft.functions.C4LineStats); [[c4StatsColumns]] is the pinned
    // built-in-only reference formulation (LlmSpec asserts equality).
    // The struct lands in its own projection so the kernel runs once
    // per row, not once per referencing output column (CollapseProject
    // refuses to inline non-cheap expressions referenced repeatedly).
    val st = graft.functions.C4LineStats.column(col(textCol), minWords)
    docs.select(col(idCol), st.as("__s")).select(
      col(idCol),
      col("__s.n_lines").cast("long").as("n_lines"),
      col("__s.n_kept").cast("long").as("n_kept_lines"),
      (col("__s.n_kept").cast("double") / col("__s.n_lines")).as("kept_frac"),
      col("__s.has_lorem").as("has_lorem_ipsum"),
      col("__s.has_brace").as("has_brace"),
      (!col("__s.has_lorem") && !col("__s.has_brace") &&
        col("__s.n_kept") >= minKeptLines).as("c4_kept"),
      col("__s.clean_chars").cast("long").as("clean_chars"))
  }

  /** Built-ins-only [[c4Stats]] (the pre-kernel formulation, kept as
    * the pinned semantic reference — LlmSpec asserts the native kernel
    * reproduces it bit-for-bit). Walks the text ~5×: page probes, the
    * line split, then per line trim+regex, trim+split, lower+contains,
    * and a third trim in the clean-chars join. */
  def c4StatsColumns(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      minWords: Int = 3, minKeptLines: Int = 3): org.apache.spark.sql.DataFrame = {
    // STAGED projections: the filtered line array is referenced by
    // four output columns, and a Column expression referenced N times
    // is evaluated N times — materializing `__kept` in its own
    // projection runs the per-line regex filter once per row.
    val keepLine = (l: Column) =>
      trim(l).rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= minWords &&
        !lower(l).contains("javascript")
    val staged = docs.select(col(idCol),
        lower(col(textCol)).contains("lorem ipsum").as("__lorem"),
        col(textCol).contains("{").as("__brace"),
        split(col(textCol), "\n").as("__lines"))
      .select(col(idCol), col("__lorem"), col("__brace"), col("__lines"),
        filter(col("__lines"), keepLine).as("__kept"))
    staged.select(
      col(idCol),
      size(col("__lines")).cast("long").as("n_lines"),
      size(col("__kept")).cast("long").as("n_kept_lines"),
      (size(col("__kept")).cast("double") / size(col("__lines"))).as("kept_frac"),
      col("__lorem").as("has_lorem_ipsum"),
      col("__brace").as("has_brace"),
      (!col("__lorem") && !col("__brace") && size(col("__kept")) >= minKeptLines)
        .as("c4_kept"),
      length(array_join(transform(col("__kept"), l => trim(l)), "\n"))
        .cast("long").as("clean_chars"))
  }

  /** The cleaned corpus itself (C4 page filter applied, surviving
    * lines re-joined): what a training pipeline actually feeds
    * downstream. Same zero-shuffle shape as [[c4Stats]]. */
  def c4Clean(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      minWords: Int = 3, minKeptLines: Int = 3): org.apache.spark.sql.DataFrame = {
    // same staged-projection discipline as [[c4Stats]]: the regex
    // filter runs once per row, not once per reference
    val kept = filter(split(col(textCol), "\n"), (l: Column) =>
      trim(l).rlike("[.!?\"]$") &&
        size(split(trim(l), "\\s+")) >= minWords &&
        !lower(l).contains("javascript"))
    docs.select(col(idCol),
        (!lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{")).as("__page_ok"),
        kept.as("__kept"))
      .filter(col("__page_ok") && size(col("__kept")) >= minKeptLines)
      .select(col(idCol),
        array_join(transform(col("__kept"), l => trim(l)), "\n").as("clean_text"))
  }

  /** C4/RefinedWeb blocklist stage: flag every document containing any
    * of a phrase list, with WHICH phrases matched (ascending pattern
    * ids) — the audit trail corpus pipelines keep alongside the drop.
    * One Aho-Corasick pass per row fused into the scan
    * ([[graft.functions.MultiMatch]]): O(text + hits) per document
    * regardless of pattern count, zero shuffle — at the 10k-phrase
    * lists real pipelines run, per-pattern `contains` scans or a
    * regex alternation are the difference between scan-bound and
    * CPU-bound at 100 TB. Matching is case-insensitive substring
    * (Locale.ROOT), so the oracle is per-pattern `contains`. */
  def blocklist(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      patterns: Seq[String]): org.apache.spark.sql.DataFrame = {
    val m = graft.functions.MultiMatch.column(col(textCol), patterns)
    docs.select(col(idCol), m.as("matched"))
      .select(col(idCol), col("matched"),
        size(col("matched")).cast("long").as("n_matched"),
        (size(col("matched")) === 0).as("kept"))
  }

  /** HTML → text extraction (the CommonCrawl/WARC → plain-text stage):
    * drop head/script/style blocks and comments, strip tags (replaced by a
    * space so adjacent words don't fuse), decode the six entities that
    * dominate real HTML (&amp; last, so "&amp;lt;" decodes exactly
    * once), collapse whitespace. Also surfaces the <title>. Narrow
    * map, zero shuffle — a scan rider like the C4 filters.
    *
    * Deliberate simplification (same contract on both engines): tags
    * match `<[^>]+>`, so a literal '>' inside an attribute value ends
    * the tag early; the full-fidelity path is a real HTML parser
    * behind mapInPandas. All regexes stay in the Java∩RE2 subset
    * (non-greedy + inline (?is), no lookarounds), so the DuckDB
    * oracle replays them verbatim (q137). */
  def htmlToText(docs: org.apache.spark.sql.DataFrame,
      idCol: String, htmlCol: String): org.apache.spark.sql.DataFrame = {
    // <head> needs a boundary (`(\s[^>]*)?>`) so <header> never
    // matches; title is extracted from the ORIGINAL html before the
    // head block (title text included) is dropped from the body text
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(col(htmlCol),
      "(?is)<head(\\s[^>]*)?>.*?</head\\s*>", " "),
      "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]+>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    docs.select(col(idCol),
      regexp_extract(col(htmlCol), "(?is)<title[^>]*>(.*?)</title>", 1)
        .as("title"),
      trim(regexp_replace(decoded, "\\s+", " ")).as("text_clean"))
  }

  /** Sliding token windows (training-chunk preparation): each document
    * split on `\S+` tokens and emitted as overlapping chunks of
    * `window` tokens at `stride`-token steps — the standard context-
    * window packing for long documents, with `window - stride` tokens
    * of overlap preserving cross-chunk context. The LAST chunk may be
    * short (every token is covered; nothing is emitted past the end).
    * Chunk count = 1 if n ≤ window else 1 + ceil((n-window)/stride),
    * in INTEGER arithmetic so both engines agree exactly.
    *
    * Scale shape: one narrow explode — output volume is input tokens
    * × (window/stride) overlap factor, no shuffle, no state. */
  def tokenWindows(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    docs
      .select(col(idCol),
        regexp_extract_all(col(textCol), lit("\\S+"), lit(0)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0),
          when(col("__n") <= window, lit(0)).otherwise(
            floor((col("__n") - window + (stride - 1)) / stride)
              .cast("int")))).as("chunk_id"))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        array_join(slice(col("__toks"), col("chunk_id") * stride + 1,
          lit(window)), " ").as("chunk_text"),
        least(lit(window), col("__n") - col("chunk_id") * stride)
          .cast("long").as("n_tokens"))
  }

  /** Corpus text normalization — the stage every pipeline runs before
    * hashing, deduping, or tokenizing raw web text: Unicode NFC
    * canonical composition (so `é` composed and `e`+U+0301 hash
    * identically), C0/C1-control and DEL stripping, whitespace
    * collapse, trim. NFC is the native codegen expression
    * [[graft.functions.NfcNormalize]] (ASCII rows return the input
    * buffer untouched); the strip/collapse regexes stay in the
    * Java∩RE2 subset so the DuckDB oracle replays them verbatim
    * (q140). Narrow map, zero shuffle — rides the scan at 100 TB.
    *
    * `changed` compares against the raw input (a cheap data-quality
    * metric: fraction of corpus touched by normalization). */
  def normalizeText(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val nfc = graft.functions.NfcNormalize.column(col(textCol))
    // \x0B (vertical tab) must go in THIS step: Java \s matches it but
    // RE2 \s does not, so the collapse step may only ever see the
    // shared [\t\n\f\r ] whitespace alphabet.
    val stripped =
      regexp_replace(nfc, "[\\x00-\\x08\\x0B-\\x1F\\x7F\\x80-\\x9F]", "")
    val collapsed = trim(regexp_replace(stripped, "\\s+", " "))
    docs.select(col(idCol).as("doc_id"),
      collapsed.as("norm_text"),
      (collapsed =!= col(textCol)).as("changed"),
      length(collapsed).cast("long").as("n_chars_norm"))
  }

  /** Word-unigram entropy + type-token ratio (the RedPajama-v2
    * `rps_doc_unigram_entropy` quality signal, with the classic
    * lexical-diversity ratio riding along): low-entropy documents are
    * the keyboard-mash / template / degenerate-repetition pages every
    * pre-training filter drops.
    *
    * Runs in the ONE-PASS native kernel
    * ([[graft.functions.UnigramEntropy]]): a zero-shuffle scan rider —
    * the signal is a within-row property, so the explode→count
    * formulation's (doc, word) shuffle (LlmSpec pins equality against
    * it) buys nothing at 100 TB. `ttr` is a single IEEE division of
    * the two exact counts, so it hashes cross-engine. */
  def unigramEntropy(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val st = graft.functions.UnigramEntropy.column(col(textCol))
    docs.select(col(idCol), st.as("__u"))
      .select(col(idCol),
        col("__u.n_tokens").as("n_tokens"),
        col("__u.n_types").as("n_types"),
        col("__u.entropy").as("entropy"))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
  }

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010,
    * "Automatic keyword extraction from individual documents"): the
    * unsupervised per-document keyword operator — candidate phrases
    * are the maximal stopword-free token runs; each word scores
    * deg/freq within the document (deg = Σ lengths of the phrases
    * its occurrences sit in — words keeping long company score
    * high); a phrase scores the sum of its words' scores; emit the
    * top-k distinct phrases per document. The cheap content-tagging
    * pass corpus curators run where TF-IDF needs a corpus and an
    * LLM tagger needs a GPU.
    *
    * Determinism: phrase order inside a run is reconstructed by
    * position sort (never collect_list order); identical phrases in
    * one doc dedupe to one candidate; score terms decimal-round
    * before the exact sum; ranking ties break on the phrase text.
    *
    * Scale shape: everything is doc-keyed — one posexplode, one
    * doc-partitioned rank window, (doc, run)/(doc, word) grouped
    * aggregates, one doc-keyed top-k window. No corpus-global state
    * at all. */
  def rakeKeywords(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, stopwords: Seq[String],
      topK: Int = 3): org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.dsum
    require(topK >= 1, s"topK must be positive, got $topK")
    require(stopwords.nonEmpty, "need a stopword list")
    val tok = docs
      .select(col(idCol).as("__id"), posexplode(tokens(col(textCol))))
      .toDF("__id", "__pos", "__w")
    // Pinned (r19): the tokenized+ranked stream feeds THREE consumers
    // (the phrase build, the occurrence join, the score join) and the
    // phrase frame TWO — without truncation each consumer re-runs the
    // explode+window subtree (ReuseExchange cannot collapse them: the
    // operators above the shared exchange differ per consumer). The
    // q278 multi-consumer lesson applied here; localCheckpoint keeps
    // the loan eager and GC-collectable with the returned frame.
    val ns = tok
      .filter(length(col("__w")) > 0 &&
        !col("__w").isInCollection(stopwords))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__id")).orderBy(col("__pos"))))
      .withColumn("__run", col("__pos") - col("__rn"))
      .localCheckpoint(true)
    val ph = ns.groupBy(col("__id"), col("__run"))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__w"))))
        .as("__ws"))
      .select(col("__id"), col("__run"),
        array_join(transform(col("__ws"), s => s.getField("__w")), " ")
          .as("phrase"),
        size(col("__ws")).cast("long").as("__plen"))
      .localCheckpoint(true)
    val occ = ns.select(col("__id"), col("__run"), col("__w"))
      .join(ph.select(col("__id"), col("__run"), col("__plen")),
        Seq("__id", "__run"))
    val ws = occ.groupBy(col("__id"), col("__w"))
      .agg(count(lit(1)).cast("long").as("__freq"),
        sum(col("__plen")).cast("long").as("__deg"))
    val sc = ns.select(col("__id"), col("__run"), col("__w"))
      .join(ws, Seq("__id", "__w"))
      .groupBy(col("__id"), col("__run"))
      .agg(dsum(col("__deg").cast("double") / col("__freq").cast("double"),
        12).as("score"))
    val ded = sc.join(ph.select(col("__id"), col("__run"), col("phrase")),
        Seq("__id", "__run"))
      .groupBy(col("__id"), col("phrase"))
      .agg(max(col("score")).as("score"))
    ded.withColumn("rank", row_number().over(
        Window.partitionBy(col("__id"))
          .orderBy(col("score").desc, col("phrase").asc)).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("__id").as(idCol), col("rank"), col("phrase"),
        col("score"))
      .orderBy(idCol, "rank")
  }

  /** Collapse consecutive duplicate tokens ("batch batch batch" →
    * "batch") — the cheap rewrite against token-run degeneration
    * (stuttered boilerplate, scraped marquee/ticker text, LM-loop
    * output). Gopher's repetition RULES (q114) only measure; this is
    * the matching CLEANER, keeping the first token of every run.
    *
    * Pure Column composition (higher-order `filter` with the index
    * lambda; `get` is the 0-based null-safe indexer, so the first
    * token's missing predecessor coalesces to keep): a narrow per-row
    * map, zero shuffle, rides the scan at 100 TB. */
  def collapseTokenRuns(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__t"),
        filter(col("__t"), (x, i) =>
          coalesce(x =!= get(col("__t"), i - lit(1)), lit(true))).as("__k"))
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        size(col("__k")).cast("long").as("n_kept"),
        (size(col("__t")) - size(col("__k"))).cast("long").as("n_collapsed"),
        array_join(col("__k"), " ").as("cleaned"))
  }

  /** Bigram collocations ranked by pointwise mutual information —
    * the classic phrase-mining pass (Church & Hanks 1990; word2vec's
    * phrase pre-join uses the same count ratio) that turns "new york"
    * into one vocabulary unit before tokenizer training.
    *
    * Determinism: PMI's log is monotone, so ranking by the raw ratio
    * count(a,b)·N / (count(a)·count(b)) is order-equivalent to PMI
    * and strictly portable (the q69 ln()-avoidance discipline). Each
    * count is cast to double BEFORE multiplying: IEEE double products
    * and the final division are bit-deterministic cross-engine at ANY
    * corpus size, whereas the r12 LongType products silently wrapped
    * past 2^63 in non-ANSI mode (n_total ~1e13 tokens at the 100 TB
    * design point puts cab·n_total there), corrupting the ranking.
    *
    * Scale shape: counts aggregate with map-side combine, the
    * `minCount` prune runs BEFORE the unigram joins, and both joins
    * key on a term — vocabulary-sized inputs, never corpus-sized, and
    * AQE broadcasts the pruned bigram side when it is small. */
  def pmiPairs(docs: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long = 5): org.apache.spark.sql.DataFrame = {
    val base = docs.select(tokens(col(textCol)).as("toks"))
    val uni = base.select(explode(col("toks")).as("w"))
    val uc = uni.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(count(lit(1)).as("n_total"))
    val bg = base.select(explode(
        zip_with(slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    bg.join(uc.select(col("w").as("a"), col("c").as("ca")), Seq("a"))
      .join(uc.select(col("w").as("b"), col("c").as("cb")), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a"), col("b"), col("cab").cast("long").as("cab"),
        col("ca").cast("long").as("ca"), col("cb").cast("long").as("cb"),
        ((col("cab").cast("double") * col("n_total").cast("double")) /
          (col("ca").cast("double") * col("cb").cast("double")))
          .as("pmi_ratio"))
  }

  /** Per-document n-gram novelty: the fraction of a document's
    * DISTINCT word n-grams whose first corpus occurrence (lowest doc
    * id) is this document — the curation signal behind
    * "sample novel data first" ordering and incremental-crawl triage:
    * a doc whose shingles all appeared earlier adds nothing a
    * dedup-aware sampler wants.
    *
    * Scale shape: the native [[graft.functions.WordShingles]] kernel
    * emits each doc's DISTINCT shingles in one codegen pass (the
    * former corpus-wide `(id, shingle) DISTINCT` shuffle collapsed
    * within-doc repeats the kernel now removes for free — one less
    * exchange), then a shingle-keyed min-aggregate (map-side
    * combined), one shingle-keyed join back, and a doc-keyed fold —
    * every remaining shuffle is keyed and partial-aggregated, nothing
    * corpus². `novelty` is one IEEE division of exact counts. */
  def ngramNovelty(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, n: Int = 5): org.apache.spark.sql.DataFrame = {
    val sh = docs.select(col(idCol),
      explode(graft.functions.WordShingles.column(
        col(textCol), n, distinct = true)).as("shingle"))
    val first = sh.groupBy("shingle").agg(min(col(idCol)).as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy(idCol).agg(
        count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("first_doc") === col(idCol), 1L).otherwise(0L))
          .cast("long").as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
  }

  /** Cross-source n-gram overlap matrix: for every source pair, the
    * Jaccard and containment of their DISTINCT word-shingle sets —
    * the "are these two crawls/feeds the same content under different
    * labels" triage that runs BEFORE doc-level dedup (a source pair
    * with high containment means one is close to a subset of the
    * other and the smaller one adds little). Emits
    * (src_a, src_b, n_a, n_b, shared, jaccard, containment) for
    * src_a < src_b.
    *
    * Scale shape: the native [[graft.functions.WordShingles]] kernel
    * dedups within-doc; one DISTINCT to (source, shingle) postings;
    * the self-join keys on the shingle and its output is
    * Σ_shingle df(shingle)² ≤ |shingles|·|sources|² — sources number
    * in the dozens, so the pair stream is postings-sized, never
    * corpus². The final fold is a |sources|²-row aggregate. */
  def sourceOverlap(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String,
      n: Int = 3): org.apache.spark.sql.DataFrame = {
    val post = docs.select(col(groupCol).as("src"),
        explode(graft.functions.WordShingles.column(
          col(textCol), n, distinct = true)).as("sh"))
      .distinct()
    val sizes = post.groupBy("src").agg(count(lit(1)).as("n_sh"))
    val pairs = post.select(col("src").as("src_a"), col("sh"))
      .join(post.select(col("src").as("src_b"), col("sh")), Seq("sh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).cast("long").as("shared"))
    pairs
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("n_sh").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("n_sh").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"), col("shared"),
        (col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
          .as("jaccard"),
        (col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment"))
  }

  /** Held-out OOV rate by n-gram order: the fraction of the md5
    * val/test split's k-gram OCCURRENCES (k = 1..maxN) that training
    * never saw — the coverage curve a tokenizer/LM owner reads next
    * to [[backoffScore]]: order 1 is classic OOV, the higher orders
    * show how fast contextual coverage decays (bigram OOV >> unigram
    * OOV means the corpus is lexically covered but combinatorially
    * novel). One row per order.
    *
    * Scale shape: per order, the train side is a DISTINCT k-gram set
    * (subcorpus-vocabulary-sized, the coverage join key) and the held
    * side streams occurrences through one keyed left join into a
    * map-side-combined count — the [[ngramNovelty]] shape. The native
    * [[graft.functions.WordShingles]] kernel emits k-grams in one
    * codegen pass, no per-order re-tokenization shuffle. */
  def oovRate(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, maxN: Int = 3): org.apache.spark.sql.DataFrame = {
    require(maxN >= 1, s"maxN must be positive, got $maxN")
    val isTrain = graft.llm.Corpus.split(col(idCol)) === "train"
    (1 to maxN).map { k =>
      val train = docs.filter(isTrain)
        .select(explode(graft.functions.WordShingles.column(
          col(textCol), k, distinct = true)).as("g"))
        .distinct()
        .withColumn("__seen", lit(1))
      val held = docs.filter(!isTrain)
        .select(explode(graft.functions.WordShingles.column(
          col(textCol), k, distinct = false)).as("g"))
      held.join(train, Seq("g"), "left")
        .agg(count(lit(1)).cast("long").as("n_held"),
          sum(when(col("__seen").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_oov"))
        .select(lit(k.toLong).as("ngram_order"), col("n_held"), col("n_oov"),
          when(col("n_held") > 0,
            col("n_oov").cast("double") / col("n_held").cast("double"))
            .as("oov_rate"))
    }.reduce(_.union(_))
  }

  /** Per-group hapax legomena stats: how much of each source's
    * VOCABULARY occurs exactly once (and the dis legomena, twice) —
    * the classic lexical-richness / crawl-noise readout: a source
    * whose hapax share spikes is usually full of serial numbers,
    * usernames or OCR shrapnel, and it is the segment BPE training
    * wastes merges on. Emits (group, n_tokens, n_terms, n_hapax,
    * n_dis, hapax_ratio).
    *
    * Scale shape: one (group, term) count with map-side combine —
    * vocabulary-sized per group — folded to a |groups|-row frame;
    * exact BIGINTs, one IEEE division. */
  def hapaxStats(docs: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(groupCol), explode(tokens(col(textCol))).as("__t"))
      .groupBy(col(groupCol), col("__t"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_terms"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).cast("long")
          .as("n_dis"))
      .withColumn("hapax_ratio",
        when(col("n_terms") > 0,
          col("n_hapax").cast("double") / col("n_terms").cast("double")))

  /** Per-group log-normal fit of a positive doc stat: μ and σ of
    * ln(x) (exact-decimal sums, so the fit is partition-invariant)
    * plus the implied fitted median e^μ and mean e^(μ+σ²/2) — the
    * two-parameter summary that actually describes doc-length
    * distributions (heavy-tailed, multiplicative), where mean/stddev
    * alone mislead. Rows with x ≤ 0 are dropped and counted, surfaced
    * as `n_nonpos` so degenerate stats fail loudly in review, not
    * silently in the fit.
    *
    * Scale shape: one map-side-combined aggregate per group carrying
    * (n, Σln x, Σ(ln x)²) through the dsum decimal discipline; the
    * moments→parameters algebra is a |groups|-row scalar map. */
  def logNormalFit(docs: org.apache.spark.sql.DataFrame, groupCol: String,
      valCol: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.dsum
    val v = col(valCol).cast("double")
    val lx = when(v > 0.0, log(v))
    val agg = docs.groupBy(col(groupCol))
      .agg(
        count(lx).cast("long").as("n"),
        sum(when(v <= 0.0 || v.isNull, 1L).otherwise(0L)).cast("long")
          .as("n_nonpos"),
        dsum(lx, 12).as("slx"),
        dsum(lx * lx, 12).as("slx2"))
    val mu = col("slx") / col("n").cast("double")
    val sig2 = col("slx2") / col("n").cast("double") - mu * mu
    agg.select(col(groupCol), col("n"), col("n_nonpos"),
      when(col("n") > 0, mu).as("mu_log"),
      when(col("n") > 1, sqrt(greatest(sig2, lit(0.0)))).as("sigma_log"),
      when(col("n") > 0, exp(mu)).as("median_fit"),
      when(col("n") > 1, exp(mu + greatest(sig2, lit(0.0)) / 2.0))
        .as("mean_fit"))
  }

  /** Corpus concentration by group (Herfindahl–Hirschman): HHI =
    * Σ share², effective group count 1/HHI, and the top group's
    * share — the one-row mixture-design readout ("our 20 sources are
    * effectively 3.2") that decides whether temperature sampling /
    * domain caps are even needed. Shares are of TOKEN mass, not doc
    * count, since tokens are what training consumes.
    *
    * Scale shape: one map-side-combined per-group token count →
    * \|groups\|-row frame; shares are exact-BIGINT ratios; the HHI
    * fold runs through the dsum decimal discipline on \|groups\|
    * rows. */
  def sourceConcentration(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.dsum
    val perGroup = docs
      .select(col(groupCol), size(tokens(col(textCol))).cast("long")
        .as("__tok"))
      .groupBy(col(groupCol))
      .agg(sum(col("__tok")).as("g_tokens"))
    val tot = perGroup.agg(sum(col("g_tokens")).as("n_tokens"))
    val share = col("g_tokens").cast("double") /
      col("n_tokens").cast("double")
    perGroup.crossJoin(broadcast(tot))
      .select(col("n_tokens"), share.as("sh"))
      .agg(
        count(lit(1)).cast("long").as("n_groups"),
        first(col("n_tokens")).cast("long").as("n_tokens"),
        dsum(col("sh") * col("sh"), 18).as("hhi"),
        max(col("sh")).as("top_share"))
      .withColumn("eff_groups",
        when(col("hhi") > 0.0, lit(1.0) / col("hhi")))
  }

  /** Distinct-n diversity per group (the distinct-1/2/3 metrics of
    * Li et al. 2016): distinct k-gram count over total k-gram
    * occurrences — the repetitiveness readout generation-quality
    * evals use, and for corpora the complement of [[hapaxStats]]:
    * a source whose distinct-2 craters is template output repeating
    * the same transitions. One row per (group, order).
    *
    * Scale shape: per order one (group, k-gram) count with map-side
    * combine (vocabulary-sized per group), folded to |groups| rows;
    * the native WordShingles kernel emits k-grams in one codegen
    * pass. Orders union — |orders|·|groups| output rows. */
  def distinctN(docs: org.apache.spark.sql.DataFrame, groupCol: String,
      textCol: String, maxN: Int = 3): org.apache.spark.sql.DataFrame = {
    require(maxN >= 1, s"maxN must be positive, got $maxN")
    (1 to maxN).map { k =>
      docs.select(col(groupCol),
          explode(graft.functions.WordShingles.column(
            col(textCol), k, distinct = false)).as("g"))
        .groupBy(col(groupCol), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col(groupCol))
        .agg(sum(col("c")).cast("long").as("n_grams"),
          count(lit(1)).cast("long").as("n_distinct"))
        .select(col(groupCol), lit(k.toLong).as("ngram_order"),
          col("n_grams"), col("n_distinct"),
          when(col("n_grams") > 0, col("n_distinct").cast("double")
            / col("n_grams").cast("double")).as("distinct_ratio"))
    }.reduce(_.union(_))
  }

  /** Robust per-group outlier flags by median/MAD — the
    * scale-invariant filter quality pipelines use where mean/stddev
    * breaks on heavy-tailed doc stats (a handful of giant pages
    * shifts a z-score cut; the median absolute deviation doesn't
    * move). Flags rows with |x − median| > k·MAD within their group.
    *
    * Scale shape: two grouped exact percentiles (`percentile` keeps a
    * mergeable value→count map per group — bounded by the stat's
    * VALUE CARDINALITY, which for discrete doc stats like n_chars /
    * token counts is far below the row count, but for a genuinely
    * continuous stat — a quality score, a perplexity — approaches one
    * entry per row and the map stops being a sketch; use
    * [[madOutliersApprox]] there) and two broadcast joins of
    * |groups|-row aggregates back onto the scan; nothing corpus-wide
    * moves. Determinism: `percentile` ≡ DuckDB `quantile_cont` (the
    * q50 discipline) and the flag compares two exactly-derived
    * doubles. */
  def madOutliers(docs: org.apache.spark.sql.DataFrame, idCol: String,
      groupCol: String, valCol: String, k: Double = 3.0): org.apache.spark.sql.DataFrame = {
    val v = col(valCol).cast("double")
    val med = docs.groupBy(col(groupCol))
      .agg(percentile(v, lit(0.5)).as("med"))
    val dev = docs.join(broadcast(med), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("med"),
        abs(v - col("med")).as("absdev"))
    val mad = dev.groupBy(col(groupCol))
      .agg(percentile(col("absdev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("med"), col("mad"),
        (col("absdev") > lit(k) * col("mad")).as("is_outlier"))
  }

  /** [[madOutliers]] with `approx_percentile` (Greenwald-Khanna):
    * the CONTINUOUS-stat path. Exact `percentile`'s per-group state
    * is one map entry per distinct value — fine for n_chars, a
    * row-count-sized (spill-prone) map for a float quality score at
    * 100 TB. GK's state is bounded by `accuracy` regardless of
    * cardinality; the flag inherits a rank error ≤ 1/accuracy on both
    * the median and the MAD, which an outlier CUT (a boundary, not a
    * statistic) tolerates by construction. Not oracle-gated — the
    * sketch's merge order is engine-specific — so the contract is
    * spec-level: flags agree with the exact version on discrete
    * fixtures (TextSpec). */
  def madOutliersApprox(docs: org.apache.spark.sql.DataFrame, idCol: String,
      groupCol: String, valCol: String, k: Double = 3.0,
      accuracy: Int = 10000): org.apache.spark.sql.DataFrame = {
    val v = col(valCol).cast("double")
    val med = docs.groupBy(col(groupCol))
      .agg(approx_percentile(v, lit(0.5), lit(accuracy)).as("med"))
    val dev = docs.join(broadcast(med), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("med"),
        abs(v - col("med")).as("absdev"))
    val mad = dev.groupBy(col(groupCol))
      .agg(approx_percentile(col("absdev"), lit(0.5), lit(accuracy))
        .as("mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("med"), col("mad"),
        (col("absdev") > lit(k) * col("mad")).as("is_outlier"))
  }

  /** Per-group robust location readouts: raw mean next to the
    * winsorized mean (values clamped to the group's [lo, hi] exact
    * percentiles) and the trimmed mean (clamped rows DROPPED) — the
    * corpus-health numbers a mixture owner reads when a handful of
    * megadocs or empty stubs drag the plain average ("mean doc length
    * 4 KB" can hide a 2 GB crawl artifact; the winsorized mean
    * doesn't). `n_clipped` counts the rows outside the band, the
    * direct tail-mass readout.
    *
    * Scale shape: one grouped exact-percentile aggregate (state
    * bounded by the stat's value cardinality — the [[madOutliers]]
    * DISCRETE-stat contract; use its `approx_percentile` escape-hatch
    * pattern for continuous stats), the |groups|-row bound frame
    * broadcast back, then a single map-side-combined aggregate. All
    * means go through the exact-decimal davg discipline. Null stat
    * values count in `n` but in no mean and never as clipped (the
    * SQL aggregate convention both engines share). */
  def winsorStats(docs: org.apache.spark.sql.DataFrame, groupCol: String,
      valCol: String, lo: Double = 0.05,
      hi: Double = 0.95): org.apache.spark.sql.DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"bad winsor band [$lo, $hi]")
    val v = col(valCol).cast("double")
    val qs = docs.groupBy(col(groupCol))
      .agg(percentile(v, array(lit(lo), lit(hi))).as("q"))
      .select(col(groupCol), col("q")(0).as("p_lo"), col("q")(1).as("p_hi"))
    val clamped = least(greatest(v, col("p_lo")), col("p_hi"))
    val inBand = v >= col("p_lo") && v <= col("p_hi")
    docs.join(broadcast(qs), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).cast("long").as("n"),
        first(col("p_lo")).as("p_lo"),
        first(col("p_hi")).as("p_hi"),
        sum(when(!inBand, 1L).otherwise(0L)).cast("long").as("n_clipped"),
        graft.functions.GraftFunctions.davg(v, 6).as("mean_raw"),
        graft.functions.GraftFunctions.davg(clamped, 6).as("mean_winsor"),
        graft.functions.GraftFunctions.davg(when(inBand, v), 6)
          .as("mean_trimmed"))
  }

  /** Sparse all-pairs document cosine over bigram postings — the
    * "related documents" join (DISCO / DIMSUM family): docs scored by
    * the cosine of their term-frequency vectors, computed as a
    * postings self-join so only CO-OCCURRING terms ever pair.
    *
    * The scale lever is the document-frequency cap — the analog of
    * DIMSUM's magnitude pruning: a term in df documents fans out to
    * ≤ df² candidate pairs, so dropping ubiquitous terms
    * (`df > maxDf`, which carry no discrimination anyway) bounds the
    * self-join at |terms|·maxDf² instead of corpus². Norms are taken
    * over the SAME pruned vector space, so cosine stays a true cosine
    * there. On the fixture the cap collapses 104k candidate pairs to
    * the planted near-dup set.
    *
    * Determinism: numerator and norms are exact BIGINT sums; cosine
    * is one IEEE division by a product of exact sqrts — hashes
    * cross-engine with no decimal scaffolding. */
  def sparseCosinePairs(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, maxDf: Long = 12,
      threshold: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val postings0 = docs.select(col(idCol).as("id"), explode(
        zip_with(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val keep = postings0.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("term")
    val p = postings0.join(keep, Seq("term"))
    val nrm = p.groupBy("id").agg(sum(col("tf") * col("tf")).as("n2"))
    val num = p.select(col("term"), col("id").as("id_a"), col("tf").as("tf_a"))
      .join(p.select(col("term"), col("id").as("id_b"), col("tf").as("tf_b")),
        Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(sum(col("tf_a") * col("tf_b")).as("num"))
    num.join(nrm.select(col("id").as("id_a"), col("n2").as("n2_a")), Seq("id_a"))
      .join(nrm.select(col("id").as("id_b"), col("n2").as("n2_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("num").cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-source total-variation distance of the source's unigram
    * distribution from the whole-corpus distribution — the
    * domain-shift readout beside DSIR's importance weights: TVD = ½
    * Σ_t |p_s(t) − p(t)| ∈ [0, 1], 0 = the source looks exactly like
    * the corpus, 1 = disjoint vocabulary. The curation use is triage:
    * a crawl slice whose TVD jumps between snapshots changed its
    * content mix and needs a re-sampled quality audit.
    *
    * Exactness: with c = per-(source, term) count, g = global term
    * count, S = source tokens, G = corpus tokens,
    * TVD·2SG = Σ_{t∈s} |c·G − g·S| + S·(G − Σ_{t∈s} g) — the second
    * term is the mass of corpus terms ABSENT from the source. Both
    * terms are exact BIGINT sums; the single IEEE division at the end
    * is the only float op, so hashes cross-engine.
    *
    * Scale shape: per-(source, term) counts partial-aggregate
    * map-side; the term-keyed join hits the vocabulary-sized
    * aggregate, never the token stream; source totals and the grand
    * total are |sources|-row / 1-row broadcasts. At 100 TB the BIGINT
    * products bound the corpus at ~3·10⁹ tokens per 2⁶³ — past that,
    * swap the two product columns to DECIMAL(38,0); the plan shape is
    * already the scale form. */
  def sourceTvd(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val st = docs
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("term"))
      .groupBy("grp", "term").agg(count(lit(1)).as("c"))
    val g = st.groupBy("term").agg(sum("c").as("gc"))
    val stot = st.groupBy("grp").agg(sum("c").as("s"))
    val gtot = st.agg(sum("c").as("gt"))
    val parts = st.join(g, Seq("term"))
      .join(broadcast(stot), Seq("grp"))
      .crossJoin(broadcast(gtot))
      .groupBy("grp")
      .agg(sum(abs(col("c") * col("gt") - col("gc") * col("s"))).as("present"),
        sum(col("gc")).as("gsum"))
    parts.join(broadcast(stot), Seq("grp")).crossJoin(broadcast(gtot))
      .select(col("grp").as(groupCol), col("s").as("n_tokens"),
        ((col("present") + col("s") * (col("gt") - col("gsum"))).cast("double")
          / (lit(2.0) * col("s").cast("double") * col("gt").cast("double")))
          .as("tvd"))
  }

  /** Token-budget-constrained greedy selection: rank documents by a
    * quality score (here type-token ratio — lexical diversity, the
    * cheap proxy that already rides q167's entropy) and keep the
    * best-first prefix whose cumulative token count fits the budget —
    * the "fill the training run" step after filtering: a budget is
    * what a compute allocation actually gives you, not a doc count.
    * Emits the selected docs with score and running token total
    * (straddle rule: a doc is kept iff the budget is not yet exhausted
    * BEFORE it, ±1-doc tolerance like [[graft.llm.Corpus.tokenShards]]).
    *
    * Scale shape: the global best-first running sum is the two-level
    * prefix sum (tokenShards discipline) with ORDER-PRESERVING score
    * bands — floor(score·bands) buckets descend with the score, the
    * in-band window shuffles once on the band key, and the only
    * unpartitioned window runs over `bands` band totals, never the
    * corpus. Determinism: score is one IEEE division of exact counts;
    * ties break on doc id. */
  def budgetSelect(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, budgetTokens: Long, bands: Int = 256): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col(textCol))
    val base = docs.select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        (size(array_distinct(toks)).cast("double") /
          size(toks).cast("double")).as("score"))
      .withColumn("__bk", floor(col("score") * bands).cast("long"))
    val w = Window.partitionBy(col("__bk"))
      .orderBy(col("score").desc, col(idCol))
    val wb = Window.orderBy(col("__bk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("__bk").agg(sum("n_tokens").as("__tot"))
      .withColumn("__off", coalesce(sum(col("__tot")).over(wb), lit(0L)))
      .select(col("__bk"), col("__off"))
    base.withColumn("__cum_in", sum(col("n_tokens")).over(w))
      .join(broadcast(offsets), Seq("__bk"))
      .withColumn("cum_tokens", col("__off") + col("__cum_in"))
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
      .select(col(idCol), col("n_tokens"), col("score"), col("cum_tokens"))
  }

  /** Filter-cascade funnel: survivor counts and token mass after each
    * stage of a quality pipeline — the observability table a curation
    * run publishes so a mixture owner can see WHERE the corpus went
    * (repetition kill? language mismatch? junk signals?) before
    * debating the thresholds. Stages compose left-to-right exactly
    * like the production cascade: (1) Gopher repetition pass, (2) +
    * predicted language matches the declared one, (3) + junk-signal
    * floor (distinct-token ratio, long-digit runs).
    *
    * Scale shape: one pass builds per-doc flags (the repetition join
    * is the q114 shape — per-doc keyed aggregates, nothing global),
    * then ONE 1-row aggregate with conditional sums (map-side
    * combined) fans out to the 4-row funnel via `stack`. The funnel
    * table itself is O(stages), never data-sized. */
  def filterFunnel(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, langCol: String, minDistinctRatio: Double = 0.3,
      maxDigitRuns: Long = 5L): org.apache.spark.sql.DataFrame =
    filterFunnelBy(docs, idCol, textCol, Some(langCol), Nil,
      minDistinctRatio, maxDigitRuns)

  /** [[filterFunnel]] generalized two ways: per-GROUP funnels (one
    * funnel row-set per value of `groupCols` — the per-source "where
    * does each crawl lose its mass" table, or per-epoch observability
    * over a streaming corpus sink), and an OPTIONAL language stage
    * (`langCol = None` drops the lang_match row — the corpus sink
    * case, where the declared-language column did not survive
    * ingest; stages renumber to all(0) → repetition(1) → quality(2)).
    *
    * Because each stage predicate is per-document, group funnels are
    * ADDITIVE: summing any stage's n_docs/n_tokens across groups
    * equals the ungrouped funnel on the union — the invariant that
    * makes per-epoch funnels composable into a whole-corpus one
    * (asserted in the specs). `doc_frac` stays group-relative.
    *
    * Scale shape: unchanged from [[filterFunnel]] — per-doc keyed
    * flag joins, then ONE (groupCols)-keyed aggregate of conditional
    * sums (map-side combined) fanned to O(stages) rows per group. */
  def filterFunnelBy(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, langCol: Option[String], groupCols: Seq[String],
      minDistinctRatio: Double = 0.3,
      maxDigitRuns: Long = 5L): org.apache.spark.sql.DataFrame = {
    val rep = repetitionStats(docs, idCol, textCol)
      .select(col(idCol), col("repetition_flagged"))
    val toks = tokens(col(textCol))
    val base = docs.select(Seq(col(idCol)) ++ groupCols.map(col) ++ Seq(
      size(toks).cast("long").as("__nt"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("__dr"),
      size(regexp_extract_all(col(textCol), lit("[0-9]{4,}"), lit(0)))
        .cast("long").as("__dg")) ++
      langCol.toSeq.flatMap(lc => Seq(col(lc).as("__lang"),
        langId(col(textCol)).as("__lp"))): _*)
    val withRep = base.join(rep, Seq(idCol))
      .withColumn("__p1", !col("repetition_flagged"))
    // __pl = the predicate the quality stage chains FROM: with a lang
    // column it is repetition ∧ lang-match, without it just repetition.
    val chained = langCol match {
      case Some(_) => withRep.withColumn("__pl",
        col("__p1") && col("__lp") === col("__lang"))
      case None => withRep.withColumn("__pl", col("__p1"))
    }
    val flagged = chained.withColumn("__pq",
      col("__pl") && col("__dr") >= minDistinctRatio &&
        col("__dg") <= maxDigitRuns)
    val aggs = Seq(sum("__nt").as("t0"),
      sum(when(col("__p1"), 1L).otherwise(0L)).as("c1"),
      sum(when(col("__p1"), col("__nt")).otherwise(0L)).as("t1")) ++
      (if (langCol.isDefined) Seq(
        sum(when(col("__pl"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("__pl"), col("__nt")).otherwise(0L)).as("t2"))
      else Nil) ++ Seq(
      sum(when(col("__pq"), 1L).otherwise(0L)).as("cq"),
      sum(when(col("__pq"), col("__nt")).otherwise(0L)).as("tq"))
    val a = flagged.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("c0"), aggs: _*)
    val stages = Seq(("0L", "'all'", "c0", "t0"),
      ("1L", "'repetition'", "c1", "t1")) ++
      (if (langCol.isDefined) Seq(("2L", "'lang_match'", "c2", "t2"))
      else Nil) ++
      Seq((s"${if (langCol.isDefined) 3 else 2}L", "'quality'", "cq", "tq"))
    val stackExpr = s"stack(${stages.length}, " +
      stages.map(s => s"${s._1}, ${s._2}, ${s._3}, ${s._4}").mkString(", ") +
      ") AS (stage, stage_name, n_docs, n_tokens)"
    a.selectExpr(groupCols ++ Seq(stackExpr, "c0 AS __total"): _*)
      .withColumn("doc_frac",
        col("n_docs").cast("double") / col("__total").cast("double"))
      .drop("__total")
  }

  /** Vocabulary coverage curve: for each integer percentage threshold,
    * the smallest frequency-ranked vocabulary (count desc, term asc)
    * whose cumulative token mass reaches it — the sizing readout a
    * tokenizer budget decision reads (how many types cover 95% of the
    * stream) and the long-tail health check beside q167's entropy.
    *
    * Exactness: the reach test is `cum·100 ≥ pct·total` — all BIGINT,
    * no float thresholds; `coverage` is one IEEE division reported for
    * the curve.
    *
    * Scale shape: term counts partial-aggregate map-side; the ranking
    * runs the two-level prefix sum over ORDER-PRESERVING count bands
    * (binary magnitude of the count — `length(bin(c))` — descends with
    * the count, and bands partition count values so cross-band ties
    * are impossible); the threshold probe is a |vocab|×|pcts| fold.
    * The only unpartitioned window is over band totals. */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame, textCol: String,
      pcts: Seq[Int] = Seq(50, 80, 90, 95, 99)): org.apache.spark.sql.DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be integer percentages in [1,100], got $pcts")
    val tc = docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .withColumn("__bk", length(bin(col("c"))).cast("long"))
    val w = Window.partitionBy(col("__bk")).orderBy(col("c").desc, col("term"))
    val wb = Window.orderBy(col("__bk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = tc.groupBy("__bk")
      .agg(sum("c").as("__tot"), count(lit(1)).as("__n"))
      .withColumn("__toff", coalesce(sum(col("__tot")).over(wb), lit(0L)))
      .withColumn("__roff", coalesce(sum(col("__n")).over(wb), lit(0L)))
      .select(col("__bk"), col("__toff"), col("__roff"))
    val ranked = tc
      .withColumn("__cum_in", sum(col("c")).over(w))
      .withColumn("__rk_in", row_number().over(w).cast("long"))
      .join(broadcast(offsets), Seq("__bk"))
      .select((col("__roff") + col("__rk_in")).as("rank"),
        (col("__toff") + col("__cum_in")).as("cum"))
    val total = tc.agg(sum("c").as("total"))
    val ss = docs.sparkSession
    import ss.implicits._
    val p = pcts.map(_.toLong).toDF("pct")
    ranked.crossJoin(broadcast(total)).crossJoin(broadcast(p))
      .filter(col("cum") * 100 >= col("pct") * col("total"))
      .groupBy("pct")
      .agg(min(col("rank")).as("vocab_size"),
        min_by(col("cum"), col("rank")).as("covered_tokens"),
        (min_by(col("cum"), col("rank")).cast("double") /
          first(col("total")).cast("double")).as("coverage"))
  }

  /** Frequency-of-frequencies spectrum with the Good-Turing adjusted
    * count — the third classic vocabulary readout beside Zipf's slope
    * (q186) and Heaps' curve (q187): N_r = how many distinct terms
    * occur exactly r times, and the Good-Turing estimate
    * r* = (r+1)·N_{r+1}/N_r — the smoothed "effective count" whose
    * r=1 row (N_1, the hapax mass) is the standard estimate of
    * unseen-event probability (Gale & Sampson's simple Good-Turing).
    * A corpus whose hapax share balloons between snapshots grew junk
    * vocabulary (OCR noise, boilerplate IDs); one whose N_1 collapses
    * is saturating. Rows where N_{r+1} = 0 emit a null r* (the raw
    * estimator is undefined there — downstream smoothing, not this
    * readout, fills gaps).
    *
    * Scale shape: term counts partial-aggregate map-side
    * (vocabulary-sized); the spectrum is a second keyed aggregate on
    * the COUNT value (≤ |distinct counts| rows — tiny); the r+1
    * lookup is a self-join on that tiny frame. `maxR` bounds the
    * OUTPUT rows only — the r+1 neighbor is read before the cut so
    * the last row's r* stays correct. */
  def freqSpectrum(docs: org.apache.spark.sql.DataFrame, textCol: String,
      maxR: Long = 50L): org.apache.spark.sql.DataFrame = {
    require(maxR >= 1, s"maxR must be positive, got $maxR")
    val spec = docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n_r"))
    spec
      .join(spec.select((col("r") - 1).as("r"), col("n_r").as("__n1")),
        Seq("r"), "left")
      .filter(col("r") <= maxR)
      .select(col("r"), col("n_r"),
        (((col("r") + 1).cast("double") * col("__n1").cast("double")) /
          col("n_r").cast("double")).as("gt_r_star"))
  }

  /** Corpus vocabulary-richness summary — the "how much vocabulary
    * haven't we crawled yet" readout: Good-Turing unseen mass
    * n₁/N (the probability the NEXT token is a never-seen type —
    * Good 1953; the number that says whether more data buys new
    * vocabulary or repeats) and the bias-corrected Chao1 richness
    * estimate V + n₁(n₁−1)/(2(n₂+1)) (Chao 1984: a lower bound on
    * the TRUE vocabulary size including unseen types). Complements
    * [[freqSpectrum]] (which carries the per-r Good-Turing discounts)
    * and [[heapsCurve]] (growth trajectory) with the one-row
    * headline both are read for.
    *
    * Determinism: all five counts are exact longs off one spectrum;
    * the two estimates are single IEEE expressions of them.
    *
    * Scale shape: one token-keyed count (map-side combined), one
    * spectrum fold over the vocab-sized frame — the freqSpectrum
    * shape; output is ONE row. */
  def vocabRichness(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val spec = docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("r"))
    val agg = spec.agg(
      sum(col("r")).cast("long").as("n_tokens"),
      count(lit(1)).cast("long").as("vocab"),
      sum(when(col("r") === 1L, 1L).otherwise(0L)).cast("long").as("n1"),
      sum(when(col("r") === 2L, 1L).otherwise(0L)).cast("long").as("n2"))
    agg.select(col("n_tokens"), col("vocab"), col("n1"), col("n2"),
      (col("n1").cast("double") / col("n_tokens").cast("double"))
        .as("unseen_mass"),
      (col("vocab").cast("double") +
        (col("n1").cast("double") * (col("n1") - 1L).cast("double")) /
          (lit(2.0) * (col("n2") + 1L).cast("double"))).as("chao1"))
  }

  /** Most-repeated winnow fingerprints across the corpus — the
    * memorization-risk span heads: a fingerprint selected by ≥
    * `minDocs` documents marks a shared ≥ w+k−1-word run (the
    * [[winnowFingerprints]] guarantee), and the head of THIS list is
    * boilerplate/licence/template text a dedup pass should learn
    * about first. Output (fingerprint, n_docs), heaviest first.
    *
    * Scale shape: the per-doc kernel rides the scan; the explode
    * emits the w-fold-discounted fingerprint stream; ONE
    * fingerprint-keyed count (map-side combined) — never a pair
    * join, never a doc×doc anything. */
  def winnowHeads(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 4, w: Int = 4,
      minDocs: Long = 2L): org.apache.spark.sql.DataFrame =
    winnowFingerprints(docs, idCol, textCol, k, w)
      .select(explode(col("fingerprints")).as("fingerprint"))
      .groupBy("fingerprint").agg(count(lit(1)).cast("long").as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Pairwise Jensen-Shannon divergence between per-source unigram
    * distributions — the symmetric, bounded ([0, ln 2]) companion to
    * [[sourceTvd]]'s corpus-relative distance: the mixture designer's
    * source-redundancy matrix (two crawls with near-zero JS are the
    * same content; a high-JS outlier is a coverage slice), and the
    * standard drift metric between corpus snapshots.
    *
    * Decomposition that keeps the join INNER: terms present in only
    * one source contribute exactly p·ln2 to their side's KL half, so
    * JS = Σ_shared ½·(p·ln(2p/(p+q)) + q·ln(2q/(p+q)))
    *        + ½·ln2·(absent-mass_a + absent-mass_b),
    * where each absent mass is 1 − (shared token count)/n — exact
    * integers. Only CO-OCCURRING terms ever join (vocab-sized, never
    * corpus-sized); the 0-overlap edge case still emits (js = ln 2)
    * via the |sources|²-row broadcast pair spine.
    *
    * Determinism (q167 discipline): each shared term is one double
    * expression over exact-integer ratios (libm `ln`, shared with the
    * oracle), rounded to DECIMAL(30,12) the way Spark's own Cast does,
    * then summed exactly — partition-order independent; the absent
    * part is a fixed-shape double expression of exact counts. */
  def jsDivergence(docs: org.apache.spark.sql.DataFrame, sourceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val cnt = docs.select(col(sourceCol).as("src"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("src").agg(sum("c").as("n"))
    val withN = cnt.join(broadcast(tot), Seq("src"))
    val a = withN.select(col("src").as("src_a"), col("w"),
      col("c").as("ca"), col("n").as("na"))
    val b = withN.select(col("src").as("src_b"), col("w"),
      col("c").as("cb"), col("n").as("nb"))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    val term = (lit(0.5) * (pa * log(lit(2.0) * pa / (pa + pb))
        + pb * log(lit(2.0) * pb / (pa + pb))))
      .cast(org.apache.spark.sql.types.DecimalType(30, 12))
    val shared = a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).cast("long").as("n_shared_terms"),
        sum(term).as("__ssum"),
        sum("ca").as("__sca"), sum("cb").as("__scb"))
    val halfLn2 = lit(0.5) * log(lit(2.0))
    val pairs = tot.select(col("src").as("src_a"), col("n").as("__na"))
      .crossJoin(tot.select(col("src").as("src_b"), col("n").as("__nb")))
      .filter(col("src_a") < col("src_b"))
    pairs.join(broadcast(shared), Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_shared_terms"), lit(0L)).as("n_shared_terms"),
        (coalesce(col("__ssum").cast("double"), lit(0.0))
          + halfLn2 * (
            (col("__na") - coalesce(col("__sca"), lit(0L))).cast("double")
              / col("__na").cast("double")
            + (col("__nb") - coalesce(col("__scb"), lit(0L))).cast("double")
              / col("__nb").cast("double"))).as("js"))
  }

  /** Per-source Zipf rank-frequency slope: OLS fit of ln(count) on
    * ln(rank) over the top `topN` terms — the corpus-health readout
    * (natural text sits near −1; a slope collapsing toward 0 flags
    * templated/generated content, a steep one a degenerate
    * vocabulary) and a cheap per-source drift fingerprint between
    * snapshots.
    *
    * Scale shape: term counts aggregate map-side; the rank window is
    * PARTITIONED BY SOURCE (keyed shuffle, no global sort) and the
    * topN prune caps every later frame at |sources|·topN rows.
    * Determinism: ranks are integers from a (count desc, term asc)
    * tie-broken window; each OLS moment term (x, y, xy, x²) is one
    * libm-ln double rounded to DECIMAL(30,12) and summed exactly; the
    * final slope is a fixed-shape double expression of the four cast
    * sums. A source with a single ranked term has no slope (emitted
    * null, mirrored by the oracle's CASE). */
  def zipfSlope(docs: org.apache.spark.sql.DataFrame, sourceCol: String,
      textCol: String, topN: Int = 50): org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val cnt = docs.select(col(sourceCol).as("src"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("c"))
    val wdw = Window.partitionBy(col("src"))
      .orderBy(col("c").desc, col("w").asc)
    val ranked = cnt.withColumn("r", row_number().over(wdw))
      .filter(col("r") <= topN)
    val x = log(col("r").cast("double"))
    val y = log(col("c").cast("double"))
    val agg = ranked.groupBy("src").agg(
      count(lit(1)).cast("long").as("n_terms"),
      sum(x.cast(dec)).cast("double").as("__sx"),
      sum(y.cast(dec)).cast("double").as("__sy"),
      sum((x * y).cast(dec)).cast("double").as("__sxy"),
      sum((x * x).cast(dec)).cast("double").as("__sxx"))
    val n = col("n_terms").cast("double")
    val denom = n * col("__sxx") - col("__sx") * col("__sx")
    agg.select(col("src"), col("n_terms"),
      when(denom =!= lit(0.0),
        (n * col("__sxy") - col("__sx") * col("__sy")) / denom).as("slope"))
  }

  /** Heaps'-law vocabulary growth curve: after each document (in
    * doc-id order), the cumulative token count and cumulative DISTINCT
    * type count — the readout that sizes tokenizer vocabularies and
    * detects a crawl going stale (the type curve flattening while
    * tokens grow means new data is rehashing old vocabulary).
    *
    * Scale shape: a type counts ONCE at its first-occurrence doc
    * (term-keyed min-aggregate, map-side combined), so the cumulative
    * type curve is a prefix sum of per-doc new-type counts — and both
    * running sums use the two-level banded prefix-sum pattern
    * (in-band window keyed by floor(id/band) + a |bands|-row offset
    * table), never a global single-partition sort (the
    * q180/q181 discipline). All values exact BIGINTs. */
  def heapsCurve(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, band: Long = 100L): org.apache.spark.sql.DataFrame = {
    require(band >= 1, s"band must be positive, got $band")
    val base = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val first = docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(min(col(idCol)).as("__fd"))
    val newTypes = first.groupBy("__fd")
      .agg(count(lit(1)).cast("long").as("new_types"))
      .withColumnRenamed("__fd", idCol)
    val both = base.join(newTypes, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("__bk", floor(col(idCol) / band).cast("long"))
    val w = Window.partitionBy(col("__bk")).orderBy(col(idCol))
    val wb = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = both.groupBy("__bk")
      .agg(sum("n_tokens").as("__t"), sum("new_types").as("__y"))
      .withColumn("__toff", coalesce(sum(col("__t")).over(wb), lit(0L)))
      .withColumn("__yoff", coalesce(sum(col("__y")).over(wb), lit(0L)))
      .select(col("__bk"), col("__toff"), col("__yoff"))
    both
      .withColumn("__tin", sum(col("n_tokens")).over(w))
      .withColumn("__yin", sum(col("new_types")).over(w))
      .join(broadcast(offsets), Seq("__bk"))
      .select(col(idCol), col("n_tokens"), col("new_types"),
        (col("__toff") + col("__tin")).as("cum_tokens"),
        (col("__yoff") + col("__yin")).as("cum_types"))
  }

  /** Per-group rank normalization of a quality stat: `percent_rank`
    * within the group plus an `ntile` quartile — the calibration step
    * before cross-source threshold decisions (a raw score cut means
    * different things in different crawls; rank-normalized scores are
    * comparable by construction, the Rae et al. per-source quality
    * binning recipe).
    *
    * Two windows over ONE (group-keyed) shuffle: percent_rank orders
    * by VALUE ALONE so ties share a rank (the statistical meaning);
    * ntile orders by (value, id) so its row-splitting of ties is
    * deterministic — both exactly mirrored by the oracle. Keyed
    * partitions, no global sort; at 100 TB the knob is group count,
    * not corpus size. */
  def rankNormalize(docs: org.apache.spark.sql.DataFrame, idCol: String,
      groupCol: String, valCol: String,
      tiles: Int = 4): org.apache.spark.sql.DataFrame = {
    val wv = Window.partitionBy(col(groupCol)).orderBy(col(valCol))
    val wt = Window.partitionBy(col(groupCol))
      .orderBy(col(valCol), col(idCol))
    docs.select(col(idCol), col(groupCol), col(valCol),
      percent_rank().over(wv).as("pr"),
      ntile(tiles).over(wt).cast("long").as("tier"))
  }

  /** Population Stability Index of a numeric doc stat per group
    * against a designated reference group — THE production drift
    * gate for pipeline stats (industry rule of thumb: < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 broken): deciles of the REFERENCE
    * distribution become the bins, and PSI = Σ (q−p)·ln(q/p) over
    * the per-bin mass ratios. Complements the token-level distances
    * (TVD q179, JS q185) with the numeric-feature angle.
    *
    * Empty-bin handling is add-one smoothing on COUNTS
    * (p = (c+1)/(n+bins)) — deterministic, engine-portable, and
    * bounded, unlike the eps-floor hack; the reference group's own
    * PSI is exactly 0 (q = p term-for-term, ln 1 = 0).
    *
    * Scale shape: one grouped exact-percentile pass over the
    * reference (bounded by value cardinality, the q176 note), ONE
    * 9-double edge row broadcast onto the scan for bin assignment
    * (strict `x > edge` fold), then (group, bin)-keyed counts with a
    * |groups|·bins broadcast spine. Determinism: per-bin terms are
    * libm-ln doubles of exact-integer ratios, decimal-rounded and
    * summed exactly (q167 discipline). */
  def psiDrift(docs: org.apache.spark.sql.DataFrame, groupCol: String,
      valCol: String, refGroup: String,
      bins: Int = 10): org.apache.spark.sql.DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val x = col(valCol).cast("double")
    val pcts = (1 until bins).map(i => i.toDouble / bins)
    // a missing reference group must FAIL, not report "no drift":
    // with zero ref rows the edges are null, every bin degenerates,
    // and the inner ref join would silently empty the result — the
    // worst failure mode a production drift alarm can have
    val edges = docs.filter(col(groupCol) === refGroup)
      .agg(percentile(x, array(pcts.map(lit): _*)).as("__e0"),
        count(lit(1)).as("__rn"))
      .select(when(col("__rn") === 0L,
        raise_error(lit(s"psiDrift: reference group '$refGroup' has no rows"))
          .cast("array<double>"))
        .otherwise(col("__e0")).as("__edges"))
    val binned = docs.crossJoin(broadcast(edges))
      .select(col(groupCol).as("__grp"),
        (lit(1) + size(filter(col("__edges"), e => x > e))).as("__bin"))
    val counts = binned.groupBy("__grp", "__bin").agg(count(lit(1)).as("__c"))
    val ss = docs.sparkSession
    import ss.implicits._
    val binSpine = (1 to bins).map(_.toLong).toDF("__bin")
    val spine = docs.select(col(groupCol).as("__grp")).distinct()
      .crossJoin(broadcast(binSpine))
    val cc = spine.join(counts, Seq("__grp", "__bin"), "left")
      .select(col("__grp"), col("__bin"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val totals = cc.groupBy("__grp").agg(sum("__c").as("__n"))
    val mass = cc.join(broadcast(totals), Seq("__grp"))
      .select(col("__grp"), col("__bin"),
        ((col("__c") + lit(1)).cast("double") /
          (col("__n") + lit(bins)).cast("double")).as("__m"))
    val ref = mass.filter(col("__grp") === refGroup)
      .select(col("__bin"), col("__m").as("__p"))
    val term = ((col("__m") - col("__p")) * log(col("__m") / col("__p")))
      .cast(dec)
    mass.join(broadcast(ref), Seq("__bin"))
      .groupBy("__grp")
      .agg(sum(term).cast("double").as("psi"))
      .select(col("__grp").as(groupCol), col("psi"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every word k-gram, slide a
    * w-window over consecutive hashes, keep each window's MINIMUM —
    * the selection whose guarantee (any shared run of ≥ w+k−1 words
    * leaves at least one shared fingerprint VALUE) gives bounded-gap
    * plagiarism/overlap detection at a w-fold storage discount over
    * full k-gram sets. Complements [[fingerprint]] (whole-doc exact)
    * and the minhash family (set-similarity estimate) with
    * position-robust substring evidence.
    *
    * Output: (id, n_grams, n_fingerprints, fingerprints) with the
    * DISTINCT selected 60-bit hashes sorted — join-ready for
    * cross-doc overlap mining. Docs shorter than k words emit zero
    * grams and an empty set; docs with fewer than w windows winnow
    * their single all-grams window.
    *
    * Scale shape: the whole selection — gram build, 60-bit hash,
    * w-window minima, distinct fold — runs inside the native
    * [[graft.functions.WinnowFingerprints]] kernel, ONE row at a
    * time: a zero-shuffle scan rider (the q167 shape), vs the
    * explode→window→collect_set composition whose interpreted
    * HOF gram build alone cost 3.8 s at sf0.1.
    * Determinism: the md5-60bit shingle hash family ([[Dedup]]'s,
    * engine-portable) and min-of-window selection — the MOSS
    * rightmost-tie rule picks POSITIONS, not values, so a
    * value-keyed fingerprint set needs no tie-break at all. */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int = 4,
      w: Int = 4): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got k=$k w=$w")
    val st = graft.functions.WinnowFingerprints.column(col(textCol), k, w)
    docs.select(col(idCol), st.as("__wf"))
      .select(col(idCol),
        col("__wf.n_grams").as("n_grams"),
        size(col("__wf.fingerprints")).cast("long").as("n_fingerprints"),
        col("__wf.fingerprints").as("fingerprints"))
  }

  /** Flesch reading ease + Flesch-Kincaid grade per document — the
    * classic readability features every quality-classifier feature
    * set carries (beside length/punct/stopword ratios): text too hard
    * OR too easy for its register is a quality signal the simpler
    * ratios miss.
    *
    * Heuristic counts, pinned for engine portability: sentences =
    * runs of [.!?] (floored at 1 — a fragment is one sentence);
    * syllables = runs of [aeiouy] in the lowercased text, floored at
    * the word count (every word has ≥ 1 syllable; the per-word floor
    * is folded into one doc-level `greatest` so the whole operator
    * stays a narrow regexp map with NO per-token HOF). Both engines
    * replay the same regex counts, and the two scores are single IEEE
    * expressions of exact longs — bit-deterministic.
    *
    * Scale shape: a pure per-row map riding the scan (the q17
    * text-stats shape) — zero shuffle, zero state. */
  def readability(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val words = tokenCount(col(textCol))
    val sents = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val syll = greatest(
      size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0)))
        .cast("long"),
      words)
    val wps = words.cast("double") / sents.cast("double")
    val spw = syll.cast("double") / words.cast("double")
    docs.select(col(idCol),
      words.as("n_words"), sents.as("n_sents"), syll.as("n_syll"),
      (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch"),
      (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"))
  }

  /** Moving-average type-token ratio (Covington & McFall 2010) — the
    * length-robust lexical diversity feature: plain TTR decays with
    * document length, so a raw distinct-ratio quality cut silently
    * biases against long documents; MATTR averages the TTR of every
    * width-`w` sliding token window instead. Docs with ≤ w tokens
    * fall back to plain TTR (one window of width n).
    *
    * Scale shape: the numerator (summed per-window distinct counts)
    * is the native O(n) sliding kernel [[graft.functions.MattrSum]] —
    * a zero-shuffle scan rider; the HOF formulation would re-slice
    * and re-dedup every window (the WordShingles tax). Determinism:
    * the gate-facing columns are exact longs plus ONE IEEE division
    * (mattr = sum / (windows · width)). */
  def mattr(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, w: Int = 20): org.apache.spark.sql.DataFrame = {
    require(w >= 1, s"window width must be positive, got $w")
    val n = tokenCount(col(textCol))
    val sumCol = graft.functions.MattrSum.column(col(textCol), w)
    docs.select(col(idCol), n.as("n_tokens"), sumCol.as("mattr_sum"))
      .withColumn("n_windows",
        greatest(col("n_tokens") - w + 1, lit(1L)))
      .withColumn("width", least(col("n_tokens"), lit(w.toLong)))
      .withColumn("mattr", col("mattr_sum").cast("double") /
        (col("n_windows") * col("width")).cast("double"))
  }

  /** Mutual information between source and token identity, with the
    * full entropy decomposition (H(S), H(T), H(S,T), MI, NMI) — the
    * information-theoretic "how source-specific is the vocabulary"
    * headline: MI ≈ 0 means sources share one distribution (dedup the
    * sources, not the docs); NMI → 1 means each source speaks its own
    * language (mixture weights dominate model behavior). The scalar
    * counterpart of the pairwise JS matrix (q185) and per-source TVD
    * (q179): one number instead of |S|² — the one a dashboard tracks.
    *
    * Determinism: every probability is a ratio of exact longs; each
    * p·ln(p...) term is decimal-rounded before the exact sum (the
    * q167/q191 libm-ln discipline). MI is summed DIRECTLY (not
    * H(S)+H(T)−H(S,T), which cancels catastrophically near
    * independence); the entropies are emitted alongside.
    *
    * Scale shape: ONE (source, term)-keyed count (map-side combined,
    * vocab·|sources|-bounded); the term-marginal join keys on the
    * term (vocab-sized), source marginals and the total broadcast. */
  def sourceTermMi(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 12)
    val c = docs.select(col(groupCol).as("__s"),
        explode(tokens(col(textCol))).as("__t"))
      .groupBy("__s", "__t").agg(count(lit(1)).as("__c"))
    val ns = c.groupBy("__s").agg(sum("__c").as("__ns"))
    val nt = c.groupBy("__t").agg(sum("__c").as("__nt"))
    val tot = c.agg(sum("__c").as("__n"))
    def nD(cn: String) = col(cn).cast("double")
    val joint = c.join(nt, Seq("__t")).join(broadcast(ns), Seq("__s"))
      .crossJoin(broadcast(tot))
    val miTerm = ((nD("__c") / nD("__n")) *
      log((nD("__c") * nD("__n")) / (nD("__ns") * nD("__nt")))).cast(dec)
    val hjTerm = (-(nD("__c") / nD("__n")) * log(nD("__c") / nD("__n")))
      .cast(dec)
    val a = joint.agg(
      first(col("__n")).as("n_tokens"),
      countDistinct(col("__s")).as("n_sources"),
      countDistinct(col("__t")).as("n_terms"),
      sum(miTerm).cast("double").as("mi"),
      sum(hjTerm).cast("double").as("h_joint"))
    val hs = ns.crossJoin(broadcast(tot))
      .agg(sum((-(nD("__ns") / nD("__n")) * log(nD("__ns") / nD("__n")))
        .cast(dec)).cast("double").as("h_source"))
    val ht = nt.crossJoin(broadcast(tot))
      .agg(sum((-(nD("__nt") / nD("__n")) * log(nD("__nt") / nD("__n")))
        .cast(dec)).cast("double").as("h_term"))
    a.crossJoin(broadcast(hs)).crossJoin(broadcast(ht))
      .select(col("n_tokens"), col("n_sources"), col("n_terms"),
        col("h_source"), col("h_term"), col("h_joint"), col("mi"),
        when(least(col("h_source"), col("h_term")) > 0.0,
          col("mi") / least(col("h_source"), col("h_term"))).as("nmi"))
  }

  /** Gini coefficient of the token-frequency distribution — the
    * vocabulary-concentration headline beside Zipf's slope (q186: the
    * tail's SHAPE) and the coverage curve (q181: the head's budget):
    * one number in [0, 1) for how unequally token mass is spread
    * over the vocabulary. A corpus whose Gini jumps between snapshots
    * grew a boilerplate head or an OCR-noise tail. Computed exactly
    * from the rank form G = (2·Σᵢ rᵢcᵢ − (n+1)·Σc)/(n·Σc) with ranks
    * ascending by count: ties carry the tie group's midrank (the
    * [[Stats.avgRank2]] construction — permuting equal values never
    * changes the sum, so midranks make the fold value-deterministic),
    * every term stays in exact DECIMAL(38,0), and the output is ONE
    * IEEE division.
    *
    * Scale shape: vocab-sized term counts (map-side combined), then a
    * count-VALUE-keyed aggregate (≤ |distinct counts| rows — tens,
    * the q196 note) carrying the banded rank pass; nothing
    * corpus-global. */
  def tokenGini(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val tc = docs.select(explode(tokens(col(textCol))).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__c"))
    val ranked = Stats.avgRank2(tc.select(col("__c")), "__c",
      Stats.bitBand(col("__c")))
    val m = ranked.agg(
      sum(col("cnt")).as("n_terms"),
      sum(col("__c").cast(dec) * col("cnt")).as("__s"),
      sum(col("__c").cast(dec) * col("cnt") * col("rank2")).as("__n2"))
    m.select(col("n_terms"), col("__s").cast("long").as("n_tokens"),
      ((col("__n2") - (col("n_terms") + 1L).cast(dec) * col("__s"))
        .cast("double") /
        (col("n_terms").cast(dec) * col("__s")).cast("double")).as("gini"))
  }

  /** Cross-doc overlap mining over winnowing fingerprints — the
    * consumer [[winnowFingerprints]] promises: pairs of documents
    * sharing at least `minShared` selected fingerprint VALUES, i.e.
    * position-robust evidence of a shared run of ≥ w+k−1 words per
    * fingerprint (the MOSS guarantee). Complements the minhash family:
    * LSH pairs estimate SET similarity of all shingles; winnow pairs
    * certify shared SUBSTRING runs at a w-fold candidate discount.
    * Emits (id_a, id_b, shared, overlap) with overlap = shared /
    * min(|fp_a|, |fp_b|) — the containment-style score, exact-integer
    * ratio.
    *
    * Scale shape: a postings join on the fingerprint value — shuffle
    * carries (fingerprint, id), candidate volume Σ df² per
    * fingerprint; `maxDf` drops boilerplate fingerprints (df >
    * maxDf) BEFORE the self-join, the q178 df-cap discipline — at
    * web scale a hot fingerprint is stop-boilerplate, not evidence.
    * The exploded postings persist for the duration of the call (the
    * df count, both join sides — four consumers otherwise re-run the
    * winnow kernel over every document) and the pair result is
    * eagerly materialized inside before release (the q170
    * loan-escape discipline). */
  def winnowPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 4, w: Int = 4, minShared: Long = 2,
      maxDf: Int = 64,
      checkpointDir: Option[String] = None): org.apache.spark.sql.DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1 and maxDf >= 2, got $minShared, $maxDf")
    val base = winnowFingerprints(docs, idCol, textCol, k, w)
    val fp = base.select(col(idCol).as("__id"),
      col("n_fingerprints").as("__nfp"),
      explode(col("fingerprints")).as("__fp")).persist()
    try {
      val keep = fp.groupBy("__fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select(col("__fp"))
      val pruned = fp.join(keep, Seq("__fp"))
      val a = pruned.select(col("__fp"), col("__id").as("id_a"),
        col("__nfp").as("__na"))
      val b = pruned.select(col("__fp"), col("__id").as("id_b"),
        col("__nfp").as("__nb"))
      val pairsDf = a.join(b, Seq("__fp")).filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("shared"),
          first(col("__na")).as("__na"), first(col("__nb")).as("__nb"))
        .filter(col("shared") >= minShared)
        .select(col("id_a"), col("id_b"), col("shared"),
          (col("shared").cast("double") /
            least(col("__na"), col("__nb")).cast("double")).as("overlap"))
      checkpointDir match {
        case Some(dir) => Lineage.withCheckpointDir(
          pairsDf.sparkSession.sparkContext, dir)(
          pairsDf.checkpoint(eager = true))
        case None => pairsDf.localCheckpoint(true)
      }
    } finally fp.unpersist(blocking = false)
  }

  /** Cross-group quantile normalization of an integral doc stat: each
    * row's value is replaced by the POOLED distribution's value at
    * the row's within-group quantile — the batch-effect removal that
    * makes a stat comparable across sources whose scales differ (the
    * microarray-era quantile normalization, here for per-source
    * feature drift). Complements [[rankNormalize]] (q188): that maps
    * to uniform [0,1]; this maps BACK onto the pooled empirical
    * distribution so downstream absolute thresholds keep working.
    *
    * Mapping, exactly: within-group rank r by (value, id) of n_g rows
    * targets pooled position q = ⌈r·N/n_g⌉ ∈ [1, N]; q_norm = the
    * q-th smallest pooled value by the same (value, id) total order.
    * The r·N product runs in DECIMAL(38,0) with exact integral
    * div/mod for the ceiling — no 2^63 wrap at any corpus size (the
    * pmiPairs lesson) and no decimal-rounding ceiling hazard.
    *
    * Scale shape: NO global-sort window. Pooled positions come from
    * the two-level banded prefix sum (the [[vocabCoverage]] shape):
    * rank within a value-magnitude band (bands partition the value
    * order, so cross-band ties are impossible), plus broadcast
    * per-band offsets; the per-group rank decomposes the same way on
    * (group, band) so one giant source can't pin a reducer. The final
    * position lookup is an equi-join on q. Values must be
    * non-negative integers (doc stats are counts; shift upstream if
    * not). */
  def quantileNormalize(docs: org.apache.spark.sql.DataFrame,
      idCol: String, groupCol: String,
      valCol: String): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(idCol), col(groupCol),
        col(valCol).cast("long").as("__v"))
      .withColumn("__bk", when(col("__v") < 0,
          raise_error(concat(lit("quantileNormalize: negative value for "),
            col(idCol).cast("string"))).cast("long"))
        .otherwise(length(bin(col("__v"))).cast("long")))
    // pooled positions: band rank + band offsets (ascending value)
    val wp = Window.partitionBy(col("__bk"))
      .orderBy(col("__v"), col(idCol))
    val wOff = Window.orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pOff = base.groupBy("__bk").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__bk"), col("__off"))
    val pooled = base
      .withColumn("__rk", row_number().over(wp).cast("long"))
      .join(broadcast(pOff), Seq("__bk"))
      .select((col("__off") + col("__rk")).as("__pos"),
        col("__v").as("q_norm"))
    // within-group ranks, same banded decomposition on (group, band)
    val wg = Window.partitionBy(col(groupCol), col("__bk"))
      .orderBy(col("__v"), col(idCol))
    val wgOff = Window.partitionBy(col(groupCol)).orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val gOff = base.groupBy(col(groupCol), col("__bk"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wgOff), lit(0L)))
      .select(col(groupCol), col("__bk"), col("__off"))
    val sizes = base.groupBy(col(groupCol)).agg(count(lit(1)).as("__ng"))
    val total = base.agg(count(lit(1)).as("__N"))
    val ranked = base
      .withColumn("__grk", row_number().over(wg).cast("long"))
      .join(broadcast(gOff), Seq(groupCol, "__bk"))
      .join(broadcast(sizes), Seq(groupCol))
      .crossJoin(broadcast(total))
      .withColumn("__r", col("__off") + col("__grk"))
      .withColumn("__prod",
        col("__r").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
          col("__N"))
      .withColumn("__pos",
        expr("__prod div __ng") +
          when(expr("__prod % __ng") > 0, 1L).otherwise(0L))
      .select(col(idCol), col(groupCol), col("__v").as(valCol),
        col("__pos"))
    ranked.join(pooled, Seq("__pos"))
      .select(col(idCol), col(groupCol), col(valCol), col("q_norm"))
  }

  /** Per-document character-class mix: counts and fractions of latin
    * letters, digits, and whitespace, plus the remainder bucket and
    * the dominant class — the script-profile features a multilingual
    * pipeline routes on BEFORE language-ID (langid's marker vote only
    * makes sense on letter-dominated text; a 90%-digit "document" is
    * a table dump, an other-dominated one is non-latin script or
    * binary junk, and both take different cleaning paths).
    *
    * Counts via the regexp-strip-length trick (one regexp_replace per
    * class — the [[readability]] discipline: ASCII classes only, so
    * Java regex and RE2 agree); fractions are single IEEE divisions
    * of exact longs; `dominant` breaks ties by the fixed
    * latin > digit > space > other precedence both engines replay.
    * Empty docs emit zero counts and null fractions/dominant.
    *
    * Scale shape: a pure per-row map riding the scan — zero shuffle
    * (the q17 text-stats shape). */
  def scriptMix(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val n = length(t).cast("long")
    def stripped(cls: String): Column =
      (n - length(regexp_replace(t, cls, ""))).cast("long")
    val latin = stripped("[A-Za-z]")
    val digit = stripped("[0-9]")
    val space = stripped("[ \\t\\n\\r]")
    val other = n - latin - digit - space
    def frac(c: Column): Column = when(n > 0, c.cast("double") / n.cast("double"))
    docs.select(col(idCol), n.as("n_chars_total"),
      latin.as("n_latin"), digit.as("n_digit"),
      space.as("n_space"), other.as("n_other"),
      frac(latin).as("latin_frac"), frac(digit).as("digit_frac"),
      frac(space).as("space_frac"), frac(other).as("other_frac"),
      when(n > 0,
        when(latin >= digit && latin >= space && latin >= other, "latin")
          .when(digit >= space && digit >= other, "digit")
          .when(space >= other, "space")
          .otherwise("other")).as("dominant"))
  }
}
