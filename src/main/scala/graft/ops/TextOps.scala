package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (engine extension —
  * BASELINE.json north star): language ID, quality scoring, token
  * counting, document fingerprinting. All pure column expressions (no
  * UDFs), embarrassingly parallel, shuffle-free.
  */
object TextOps {

  /** Whitespace token count. Null/empty/blank text → 0 (Spark's
    * `size(null)` is −1, which would silently corrupt downstream
    * arithmetic like the packing prefix sum). */
  def tokenCount(text: Column): Column =
    when(coalesce(length(trim(text)), lit(0)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword count estimate: letter-runs, digit-runs, and single
    * non-space punctuation — the classic GPT-2-style pre-tokenizer shape
    * (`[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]`, counted by the native one-pass
    * [[org.apache.spark.sql.graft.TextCharStats]]; the SQL twin keeps the
    * RE2-portable regex form). Counts pieces, not learned merges. */
  def subwordCount(text: Column): Column =
    org.apache.spark.sql.graft.MinHashShim.charStatsCol(text).getField("n_subwords")

  /** Stopword hit ratio for a language's marker words: fraction of tokens
    * that are in `markers` (lower-cased exact match). */
  def stopwordRatio(text: Column, markers: Seq[String]): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val hits = org.apache.spark.sql.graft.MinHashShim.markerHitsCol(toks, markers)
    when(size(toks) > 0, hits.cast("double") / size(toks)).otherwise(0.0)
  }

  /** Tiny trigram/stopword language-ID heuristic: argmax over per-language
    * marker-word ratios; "und" (undetermined) when no marker hits. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "una"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
  )

  /** Lower-cased whitespace tokens — compute ONCE per row (a separate
    * projection; regex tokenization is the dominant per-row cost) and feed
    * [[languageIdFromTokens]], instead of re-splitting per language. */
  def languageTokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  def languageIdFromTokens(toks: Column): Column = {
    val n = size(toks)
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val hits = org.apache.spark.sql.graft.MinHashShim.markerHitsCol(toks, markers)
      struct(when(n > 0, hits.cast("double") / n).otherwise(0.0).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  def languageId(text: Column): Column = languageIdFromTokens(languageTokens(text))

  /** Quality-scoring feature bundle (struct): n_chars, n_tokens,
    * mean token length, punctuation ratio, digit ratio, uppercase ratio,
    * stopword ratio (en), max single-token length. */
  def qualityFeatures(text: Column): Column = {
    val n = length(text).cast("double")
    val toks = split(trim(text), "\\s+")
    // one native pass counts the punct/digit/upper classes (the ASCII
    // punct set of the former regexp_replace form, backslash excluded)
    val stats = org.apache.spark.sql.graft.MinHashShim.charStatsCol(text)
    def ratio(cnt: Column): Column =
      when(n > 0, cnt.cast("double") / n).otherwise(0.0)
    struct(
      length(text).as("n_chars"),
      tokenCount(text).as("n_tokens"),
      when(size(toks) > 0,
        aggregate(toks, lit(0), (a, t) => a + length(t)).cast("double") / size(toks))
        .otherwise(0.0).as("mean_token_len"),
      ratio(stats.getField("n_punct")).as("punct_ratio"),
      ratio(stats.getField("n_digit")).as("digit_ratio"),
      ratio(stats.getField("n_upper")).as("upper_ratio"),
      stopwordRatio(text, LangMarkers("en")).as("stopword_ratio_en"),
      coalesce(array_max(transform(toks, t => length(t))), lit(0)).as("max_token_len"))
  }

  /** Scalar quality score in [0,1]: penalize too-short/too-long docs, high
    * punctuation/digit density, missing stopwords — the C4/Gopher-style
    * heuristic family, condensed. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenScore = least(f.getField("n_tokens").cast("double") / 20.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - f.getField("punct_ratio") * 4)
    val digitPenalty = greatest(lit(0.0), lit(1.0) - f.getField("digit_ratio") * 4)
    val stopBonus = least(f.getField("stopword_ratio_en") * 5, lit(1.0))
    round((lenScore * 0.4 + punctPenalty * 0.2 + digitPenalty * 0.2 + stopBonus * 0.2), 6)
  }

  /** Gopher document-quality rule suite (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Appendix A — public method; the same rule family ships in
    * Dolma/RefinedWeb curation). Unlike [[qualityScore]]'s single
    * condensed scalar, this emits the named PER-RULE flags a curation
    * pipeline filters and audits on:
    *
    *  - `ok_word_count`:     minWords ≤ #words ≤ maxWords (paper: 50..100k)
    *  - `ok_mean_word_len`:  3 ≤ mean word length ≤ 10
    *  - `ok_symbol_ratio`:   (#'#' + #'...' + #'…') / #words ≤ 0.1
    *  - `ok_bullet_lines`:   ≤ 90% of non-blank lines start with a bullet
    *  - `ok_ellipsis_lines`: ≤ 30% of non-blank lines end with an ellipsis
    *  - `ok_alpha_words`:    ≥ 80% of words contain an alphabetic char
    *  - `ok_stopwords`:      ≥ 2 of the 8 required stopwords appear
    *  - `pass`: conjunction of all seven.
    *
    * Pure per-row native HOF column (struct) — no shuffle, no state,
    * codegen-friendly, applies unchanged to batch and streaming frames.
    * Flags compare UNROUNDED exact-rational ratios (integer counts over
    * integer counts, identical IEEE division in any engine), so the
    * decision is engine-portable; the reported ratio columns are rounded
    * for display only. Zero-word/zero-line docs take ratio 0 and fail
    * only the word-count rule. */
  def gopherRules(text: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column = {
    val toks = filter(split(trim(text), "\\s+"), t => length(t) > 0)
    val nW = size(toks)
    val nWd = nW.cast("double")
    def overWords(c: Column): Column =
      when(nW > 0, c.cast("double") / nWd).otherwise(0.0)
    val meanLen =
      overWords(aggregate(toks, lit(0), (a, t) => a + length(t)))
    val nHash = length(text) - length(replace(text, lit("#"), lit("")))
    val nDots =
      (length(text) - length(replace(text, lit("..."), lit("")))) / 3
    val nUniEll = length(text) - length(replace(text, lit("…"), lit("")))
    val symbolRatio = overWords(nHash + nDots + nUniEll)
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val nL = size(lines)
    def overLines(c: Column): Column =
      when(nL > 0, c.cast("double") / nL.cast("double")).otherwise(0.0)
    val bulletRatio = overLines(size(filter(lines, l =>
      substring(ltrim(l), 1, 1).isin("-", "*", "•"))))
    val ellipsisRatio = overLines(size(filter(lines, l =>
      rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))))
    val alphaRatio =
      overWords(size(filter(toks, t => t.rlike("[A-Za-z]"))))
    val lowToks = transform(toks, t => lower(t))
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = size(filter(array(required.map(lit): _*),
      w => array_contains(lowToks, w)))
    val okWc = nW >= minWords && nW <= maxWords
    val okMl = meanLen >= 3.0 && meanLen <= 10.0
    val okSym = symbolRatio <= 0.1
    val okBul = bulletRatio <= 0.9
    val okEll = ellipsisRatio <= 0.3
    val okAlpha = alphaRatio >= 0.8
    val okStop = nStop >= 2
    struct(
      nW.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletRatio, 6).as("bullet_ratio"),
      round(ellipsisRatio, 6).as("ellipsis_ratio"),
      round(alphaRatio, 6).as("alpha_word_ratio"),
      nStop.as("n_req_stopwords"),
      okWc.as("ok_word_count"), okMl.as("ok_mean_word_len"),
      okSym.as("ok_symbol_ratio"), okBul.as("ok_bullet_lines"),
      okEll.as("ok_ellipsis_lines"), okAlpha.as("ok_alpha_words"),
      okStop.as("ok_stopwords"),
      (okWc && okMl && okSym && okBul && okEll && okAlpha && okStop)
        .as("pass"))
  }

  /** C4 line-level clean + page-level filter (Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning…", §2.2 — the heuristics
    * behind the C4 corpus, complementing [[gopherRules]]'s page-level
    * suite). C4 is a TRANSFORM as much as a filter: lines are kept only
    * when they (a) end in terminal punctuation (`.` `!` `?` `"`),
    * (b) carry ≥ `minWordsPerLine` whitespace words (paper: 5 — later
    * than the 3-word draft), and (c) don't mention "javascript"
    * (case-insensitive — the cookie/JS-warning boilerplate marker); the
    * page is then dropped when it contained "lorem ipsum", a curly
    * brace (code), or the CLEANED text has fewer than `minSentences`
    * sentences (terminal-punctuation runs).
    *
    * Emits struct(cleaned_text, n_lines, n_lines_kept, n_sentences,
    * has_lorem_ipsum, has_curly_brace, ok_sentences, pass) — pure
    * per-row HOF column: no shuffle, no state, applies unchanged to
    * batch and streaming frames. Sentence counting is a `[.!?]+` run
    * count over the cleaned text (exact integer, engine-portable).
    * The bad-words list is policy, not mechanism — pass the caller's
    * list through [[gopherRules]]-style marker filters or a broadcast
    * blocklist join; none ships here. */
  def c4Clean(text: Column, minWordsPerLine: Int = 5,
      minSentences: Int = 3): Column = {
    val lines = split(text, "\n")
    val kept = filter(lines, l => {
      val t = trim(l)
      val words = filter(split(t, "\\s+"), w => length(w) > 0)
      substring(t, -1, 1).isin(".", "!", "?", "\"") &&
        size(words) >= minWordsPerLine &&
        !lower(t).contains("javascript")
    })
    val cleaned = array_join(kept, "\n")
    val nSentences = size(regexp_extract_all(cleaned, lit("[.!?]+"), lit(0)))
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasBrace = text.contains("{")
    val okSent = nSentences >= minSentences
    struct(
      cleaned.as("cleaned_text"),
      size(lines).as("n_lines"),
      size(kept).as("n_lines_kept"),
      nSentences.as("n_sentences"),
      hasLorem.as("has_lorem_ipsum"),
      hasBrace.as("has_curly_brace"),
      okSent.as("ok_sentences"),
      (!hasLorem && !hasBrace && okSent).as("pass"))
  }

  /** Bad-words blocklist filter — the C4 stage this module's [[c4Clean]]
    * deliberately leaves out (Raffel 2020 §2.2 drops any page containing
    * a word from a public blocklist; the list itself is corpus policy,
    * so it's a parameter here). Counts lower-cased, punctuation-stripped
    * whitespace tokens present in `words`; `pass` = zero hits.
    *
    * Row-local: Catalyst's OptimizeIn rewrites the membership test into
    * a hashed InSet, so the per-row cost is O(tokens) regardless of
    * blocklist size — no shuffle, applies to streaming ingest as-is.
    * For blocklists too large to inline as a literal (≫10⁵ entries),
    * explode tokens and broadcast-join the list instead. */
  def wordlistHits(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty, "empty blocklist")
    val w = words.map(_.toLowerCase)
    val toks = filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
    val stripped = transform(toks, t =>
      regexp_replace(t, "^[^a-z0-9]+|[^a-z0-9]+$", ""))
    val hits = size(filter(stripped, t => t.isin(w: _*)))
    struct(hits.as("n_hits"), (hits === 0).as("pass"))
  }

  /** Salt key for the masking RNG stream (independent of the dropout
    * stream at the same seed — same mechanism as Robustness.U2Salt). */
  private val MaskSalt: Long = 905157L

  /** Deterministic token-level text augmentation for robustness
    * training: word DROPOUT (Iyyer et al. 2015 — each token kept with
    * prob 1−dropRate) and BERT-style token MASKING (Devlin et al. 2019 —
    * each token replaced by `maskToken` with prob maskRate, independent
    * stream). Draws come from the engine's portable hash RNG keyed on
    * (doc id, token position) — reproducible across engines,
    * partitionings and retries, and exactly replayable in SQL (the
    * R1–R5 degradation stance; keys must be non-negative). Pure
    * row-local array expressions — no shuffle, no UDF, streams as-is.
    * Returns a struct (n_tokens, dropped_text, n_kept, masked_text,
    * n_masked); n_masked counts `maskToken` occurrences in the output,
    * so pre-existing literal mask tokens in the input count too. */
  def tokenAugment(id: Column, text: Column, dropRate: Double,
      maskRate: Double, seed: Long, maskToken: String = "<mask>"): Column = {
    require(dropRate >= 0.0 && dropRate <= 1.0, "dropRate in [0, 1]")
    require(maskRate >= 0.0 && maskRate <= 1.0, "maskRate in [0, 1]")
    val toks = filter(split(trim(text), "\\s+"), t => length(t) > 0)
    val dropped = filter(transform(toks, (t, i) =>
      when(Robustness.seededUniform(seed, id, i) >= dropRate, t)),
      x => x.isNotNull)
    val masked = transform(toks, (t, i) =>
      when(Robustness.seededUniform(seed, id, i, lit(MaskSalt)) < maskRate,
        lit(maskToken)).otherwise(t))
    struct(
      size(toks).cast("long").as("n_tokens"),
      array_join(dropped, " ").as("dropped_text"),
      size(dropped).cast("long").as("n_kept"),
      array_join(masked, " ").as("masked_text"),
      size(filter(masked, t => t === maskToken)).cast("long").as("n_masked"))
  }

  /** Deflate compression ratio of the UTF-8 text at zlib level `level` —
    * the cheap repetitiveness signal (near-0 = template/boilerplate farm,
    * near-or-above-1 = high-entropy junk; natural prose sits ~0.3–0.6).
    * Pure per-row native expression
    * ([[org.apache.spark.sql.graft.DeflateRatio]]): no shuffle, O(chunk)
    * memory, streams as-is. Deterministic per zlib build (the JDK's own),
    * hence spec-verified, not DuckDB-oracled. */
  def compressionRatio(text: Column, level: Int = 6): Column =
    org.apache.spark.sql.graft.MinHashShim.deflateRatioCol(text, level)

  /** Rolling document fingerprint over whitespace tokens: a Rabin–Karp
    * style left fold h' = (A·h + B + hash(token)) mod 2^31, scrambled —
    * order-sensitive, unlike a bag-of-words hash. Mod-M arithmetic never
    * overflows (ANSI-safe) and is engine-portable ([[IntHash]]), which is
    * what lets the text_fingerprint query carry a DuckDB oracle. */
  def rollingFingerprint(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    IntHash.scramble(aggregate(toks, lit(0L), (acc, t) =>
      pmod(lit(IntHash.A) * acc + lit(IntHash.B) + IntHash.stringHash(t), lit(IntHash.M))))
  }

  /** DuckDB twin of [[rollingFingerprint]]. */
  def rollingFingerprintSql(text: String): String = {
    val toks = s"regexp_split_to_array(trim($text), '\\s+')"
    val th = IntHash.stringHashSql("tok")
    IntHash.scrambleSql(
      s"list_reduce(list_concat([CAST(0 AS BIGINT)], list_transform($toks, tok -> $th)), " +
        s"(a, b) -> (CAST(${IntHash.A} AS BIGINT) * a + ${IntHash.B} + b) % ${IntHash.M})")
  }

  /** Gopher/C4-style repetition signals (struct):
    *  - `dup_line_ratio`: 1 − distinct/total over non-blank lines;
    *  - `top_word_ratio`: occurrences of the most frequent token / tokens
    *    (computed as the longest equal-run of the SORTED token array — one
    *    O(n log n) array_sort + one fold, no per-token scans);
    *  - `dup_2gram_ratio`: 1 − distinct/total over word 2-grams (with
    *    multiplicity — repetition is exactly what dedup'd shingles hide).
    * Tokens are bound once via the single-element-transform let (captured
    * expressions inside HOF lambdas re-evaluate per element). */
  def repetitionStats(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => length(trim(l)) > 0)
    val dupLine = when(size(lines) > 0,
      lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines))
      .otherwise(0.0)
    val nTok = tokenCount(text)
    val inner = element_at(transform(array(split(trim(text), "\\s+")), toks => {
      val n = size(toks)
      val g2 = transform(sequence(lit(1), n - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))
      val best = aggregate(array_sort(toks),
        struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
        (acc, t) => {
          val run = when(t === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1))
          struct(t.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best"))
      struct(
        when(n > 1, lit(1.0) - size(array_distinct(g2)).cast("double") / size(g2))
          .otherwise(0.0).as("dup_2gram_ratio"),
        best.as("top_run"))
    }), 1)
    struct(
      dupLine.as("dup_line_ratio"),
      when(nTok > 0, inner.getField("top_run").cast("double") / nTok)
        .otherwise(0.0).as("top_word_ratio"),
      inner.getField("dup_2gram_ratio").as("dup_2gram_ratio"))
  }

  /** PII redaction patterns — RE2-portable (no lookarounds), so the DuckDB
    * twin applies the identical regexes. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val LongNumRe = "[0-9]{7,}"

  /** PII scrub: URLs → `<URL>`, emails → `<EMAIL>`, 7+-digit runs →
    * `<NUM>` (ids/phones). URL first (it may contain both of the others),
    * digits last (the placeholders are digit-free). Pure regexp_replace —
    * narrow, codegen'd, shuffle-free. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      LongNumRe, "<NUM>")

  /** Pre-redaction PII hit counts (struct: n_emails, n_urls, n_longnums). */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).as("n_emails"),
    size(regexp_extract_all(text, lit(UrlRe), lit(0))).as("n_urls"),
    size(regexp_extract_all(text, lit(LongNumRe), lit(0))).as("n_longnums"))

  /** Per-document top-k TF-IDF terms (smooth idf, sklearn-style:
    * `idf = ln((1+N)/(1+df)) + 1`, score = tf·idf).
    *
    * Shape for 100 TB: one shuffle for (doc, term) counts (map-side
    * combined), document frequencies aggregated from those counts and
    * broadcast back (vocabulary-sized), then per-doc top-k through a
    * WindowGroupLimit-prunable rank window partitioned by doc. Ties break
    * by term string. Returns (id, term, tf, score, rank). */
  def tfIdfTopTerms(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = df.count()
    val termCounts = df
      .select(col(id), explode(split(trim(text), "\\s+")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = termCounts.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log((lit(1.0) + nDocs) / (lit(1.0) + col("df"))) + 1.0)
    val w = Window.partitionBy(col(id))
      .orderBy(col("score").desc, col("term").asc)
    termCounts.join(broadcast(docFreq), Seq("term"))
      .withColumn("score", col("tf") * col("idf"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(id), col("term"), col("tf"), col("score"), col("rank"))
  }

  /** Unigram language-model fluency score — the CCNet/Gopher-style
    * "perplexity under a reference LM" quality signal, with the LM being
    * a Laplace-smoothed unigram model: `logp(tok) = ln((count(tok) + 1) /
    * (total + |V|))`, per-doc score = mean token log-probability, plus
    * `ppl = exp(−avg_logp)`. Here the model is self-trained on the same
    * corpus (in-domain fluency); scoring against an external LM table is
    * the identical join.
    *
    * Shape for 100 TB: one shuffle for token counts (map-side combined),
    * TWO driver scalars (total, |V|), then one token-keyed join of the
    * exploded corpus against the logprob table — deliberately NOT forced
    * broadcast (web-scale vocabularies are cluster-sized; AQE broadcasts
    * when small) — and one per-doc aggregation. Measured tradeoff
    * (2M docs, SCALE.md "Probe measurements"): pre-collapsing to
    * distinct (doc, token) pairs ADDS a same-sized shuffle and ran 2.3×
    * slower here; that pair variant only wins when per-doc token
    * repetition is Zipf-heavy AND the vocabulary is too big to
    * broadcast. Returns (id, n_tokens, avg_logp, ppl); zero-token docs
    * drop out. */
  def lmScore(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(id), explode(split(trim(text), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt"), count(lit(1))).head()
    val denom = (totals.getLong(0) + totals.getLong(1)).toDouble
    val logp = counts.select(col("token"),
      log((col("cnt") + 1.0) / lit(denom)).as("logp"))
    toks.join(logp, "token")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"), avg("logp").as("avg_logp"))
      .withColumn("ppl", exp(-col("avg_logp")))
  }

  /** Bigram-LM fluency — [[lmScore]]'s context-aware upgrade: per-doc
    * mean log-probability and perplexity under a self-trained add-1
    * bigram model, p(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V), with V the
    * unigram vocabulary size. Word-salad that sails through a unigram
    * model (every word common, orders scrambled) scores poorly here —
    * the standard cheap fluency filter before a real LM.
    *
    * Shape: the corpus collapses to the distinct-bigram count table
    * (map-side combined; prefix counts re-aggregate from that same
    * table, never the corpus), V is one distinct-count scalar, and
    * scoring is one bigram-keyed join back (AQE picks broadcast when
    * the model fits). Native non-distinct [[org.apache.spark.sql.graft.
    * WordShingles]] does the bigram explode — one tokenization per doc.
    * Docs with < 2 tokens have no bigrams and are omitted (no evidence,
    * same contract as [[dsirWeights]]). Exact DuckDB twin
    * `text_bigram_lm`. */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    // train AND score both read the exploded bigram table: pin it so
    // the corpus is tokenized once, not once per consumer (r13). The
    // count table is NOT pinned: its two consumers re-aggregate the
    // pinned bi (cheap reduce) and a second barrier measured +0.2 s on
    // the cold single-run path (text_ppl_buckets) for no warm gain.
    val bi = df.select(col(id),
      explode(org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(text, 2))
        .as("bg"))
      .localCheckpoint(false)
    val counts = bi.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val pref = counts.groupBy("w1").agg(sum("cnt").as("pcnt"))
    val vocabSize = df
      .select(explode(filter(split(trim(text), "\\s+"),
        t => length(t) > 0)).as("t"))
      .agg(count_distinct(col("t"))).head().getLong(0)
    val logp = counts.join(pref, "w1")
      .select(col("bg"),
        log((col("cnt") + 1.0) / (col("pcnt") + lit(vocabSize.toDouble)))
          .as("logp"))
    bi.join(logp, "bg")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), avg("logp").as("avg_logp"))
      .withColumn("ppl", exp(-col("avg_logp")))
  }

  /** Canonical URL normalization — the URL-keyed dedup prerequisite
    * (crawl pipelines dedup by canonical URL before ever fetching):
    * lowercase scheme+host, strip the fragment and default ports
    * (http:80 / https:443), drop tracking parameters (`utm_*`,
    * `fbclid`, `gclid`), sort the surviving query parameters, and
    * normalize an empty path to `/`. Inputs without a `://` scheme pass
    * through trimmed-only (not a URL — garbage-in must stay greppable,
    * not get mangled). Pure RE2-portable projections — no UDF, streams
    * as-is, exact DuckDB twin (`text_url_normalize`). */
  def normalizeUrl(url: Column): Column = {
    val u = trim(url)
    val noFrag = regexp_replace(u, "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = regexp_extract(rest, "^([^/?]*)", 1)
    val afterHost = regexp_replace(rest, "^[^/?]*", "")
    val host = lower(regexp_extract(hostPort, "^([^:]*)", 1))
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val keepPort = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path = regexp_extract(afterHost, "^([^?]*)", 1)
    val query = when(afterHost.contains("?"),
      regexp_replace(afterHost, "^[^?]*\\?", "")).otherwise(lit(""))
    val params = filter(split(query, "&"), p => length(p) > 0 &&
      !lower(p).rlike("^(utm_[^=]*|fbclid|gclid)="))
    val sortedQ = array_join(array_sort(params), "&")
    val pathN = when(path === "", lit("/")).otherwise(path)
    when(scheme === "", u).otherwise(concat(
      scheme, lit("://"), host, keepPort, pathN,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ))))
  }

  /** Per-document n-gram NOVELTY against the rest of the corpus: the
    * fraction of a doc's distinct n-grams that occur in NO other
    * document (corpus document frequency 1) — the cheap memorization /
    * boilerplate signal: near-0 means the doc is assembled from
    * corpus-common n-grams (template, near-dup residue), near-1 means
    * genuinely novel text. Complements [[Dedup.substringDuplicates]]
    * (which finds the shared spans; this scores docs by how little of
    * them is shared).
    *
    * Shape: one distinct-(doc, gram) explode → ONE map-side-combined
    * doc-frequency count over grams → one gram-keyed join back + per-doc
    * aggregation. The shuffle carries gram hashes-of-strings, never
    * documents. Docs with no n-grams (< n tokens) are omitted (no
    * evidence). */
  def ngramNovelty(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, n: Int = 3): org.apache.spark.sql.DataFrame = {
    val grams = df.select(col(id),
      explode(Dedup.shingles(text, n)).as("__g"))
    val docFreq = grams.groupBy("__g").agg(count(lit(1)).as("__df"))
    grams.join(docFreq, "__g")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        avg((col("__df") === 1).cast("double")).as("novel_ratio"))
  }

  /** Interpolated Kneser–Ney bigram LM (Kneser & Ney 1995; the
    * interpolated fixed-discount form of Chen & Goodman 1999) — the
    * smoothing family CCNet-class perplexity filters actually run
    * (KenLM's default), upgrading [[bigramLmScore]]'s add-1:
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁•)
    *            + D·N₁₊(w₁•)/c(w₁•) · N₁₊(•w₂)/N₁₊(••)
    *
    * where N₁₊ counts DISTINCT continuations/histories — the KN insight
    * that a word's backoff mass should track how many contexts it
    * completes, not its raw frequency ("San Francisco" makes
    * "Francisco" frequent but a terrible novel-context guess).
    *
    * Same shape as [[bigramLmScore]]: the corpus collapses to the
    * distinct-bigram count table; the left/right N₁₊ tables and c(w₁•)
    * re-aggregate from THAT table (never the corpus); N₁₊(••) is one
    * bounded count action; scoring is one bigram-keyed join back.
    * Self-scoring (fit == score corpus), so every scored bigram has
    * c ≥ 1 and the zero-count branch never fires — held-out scoring
    * composes the same tables with an explicit unseen rule. Docs with
    * < 2 tokens are omitted (no evidence). Exact DuckDB twin
    * `text_kneser_ney`. */
  def bigramKneserNeyScore(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount in (0, 1)")
    // same two pins as [[bigramLmScore]] (r13): ONE corpus tokenization
    // feeds train + score; the count table is read by FOUR consumers
    // (left/right N₁₊ re-aggregates, the N₁₊(••) count, the scoring
    // join) and the nTypes action below materializes it
    val bi = df.select(col(id),
      explode(org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(text, 2))
        .as("bg"))
      .localCheckpoint(false)
    val counts = bi.groupBy("bg").agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .localCheckpoint(false)
    val left = counts.groupBy("w1")
      .agg(sum("cnt").as("c1"), count(lit(1)).as("nl"))
    val right = counts.groupBy("w2").agg(count(lit(1)).as("nr"))
    val nTypes = counts.count().toDouble // N1+(••): bounded model scalar
    val logp = counts.join(left, "w1").join(right, "w2")
      .select(col("bg"), log(
        greatest(col("cnt") - lit(discount), lit(0.0)) / col("c1") +
          (lit(discount) * col("nl") / col("c1")) *
            (col("nr") / lit(nTypes))).as("logp"))
    bi.join(logp, "bg")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"), avg("logp").as("avg_logp"))
      .withColumn("ppl", exp(-col("avg_logp")))
  }

  /** CCNet-style perplexity tiering (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets…"): score every doc
    * with the add-1 bigram LM ([[bigramLmScore]]), then label
    * head/middle/tail by the corpus's own perplexity TERCILES — the
    * standard quality-tiering step before mixing (train mostly on head,
    * sample middle, drop or inspect tail). Perplexities are rounded to
    * 4 dp before the tercile fit so the fences are ulp-robust across
    * engines (the [[Stats.fitQuantileBins]] treatment); the scored
    * frame is persisted because the fence fit and the output scan would
    * otherwise evaluate the LM join lineage twice. `sketchK > 0` fits
    * the terciles from a mergeable KLL sketch instead of the
    * value-buffering exact percentile — the 100 TB path
    * ([[Stats.fitQuantiles]]). Generalize to other
    * k / an external reference LM by composing [[bigramLmScore]] with
    * [[Stats.fitQuantileBins]] directly. */
  def perplexityBuckets(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, sketchK: Int = 0): org.apache.spark.sql.DataFrame = {
    val scored = bigramLmScore(df, id, text)
      .withColumn("ppl_r", round(col("ppl"), 4)).persist()
    val bounds = Stats.fitQuantileBins(scored, col("ppl_r"), 3, sketchK = sketchK)
    val bucket = Stats.applyQuantileBins(col("ppl_r"), bounds)
    scored.withColumn("ppl_bucket",
      when(bucket === 0, "head").when(bucket === 1, "middle")
        .otherwise("tail"))
  }

  /** Unicode normalization (default NFKC — folds ligatures, full-width
    * ASCII, compatibility forms; the standard tokenizer-pipeline
    * prerequisite). Pure per-row native expression
    * ([[org.apache.spark.sql.graft.UnicodeNormalize]]) with an
    * already-normalized fast path; JVM-deterministic, spec-verified
    * (DuckDB exposes NFC only). Apply BEFORE [[normalizeText]] /
    * hashing so "ﬁne" and "fine" share a dedup key. */
  def unicodeNormalize(text: Column, form: String = "NFKC"): Column =
    org.apache.spark.sql.graft.MinHashShim.unicodeNormalizeCol(text, form)

  /** Canonical text normalization for dedup/matching keys: lower-case,
    * strip ASCII punctuation, collapse whitespace runs, trim. Pure
    * codegen'd projections (RE2-portable regexes — the DuckDB twin
    * applies the identical pattern). Normalize BEFORE hashing for
    * near-dup keys; keep the raw text for display. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[!\"#$%&'()*+,\\-./:;<=>?@\\[\\]^_`{|}~]", " "),
      "\\s+", " "))

  /** Deterministic corpus shuffle: a stable pseudo-random training order
    * as a pure sort key — `IntHash.mix(seed, id)` — reproducible across
    * engines, retries, and cluster sizes (same contract as the sampling
    * triad). Use as `df.orderBy(shuffleKey(...))` for a global order, or
    * `repartitionByRange(n, shuffleKey(...))` to write shuffled shards
    * without a driver-side sort. */
  def shuffleKey(idCol: Column, seed: Long): Column =
    IntHash.mix(lit(seed), Seq(idCol))

  /** Corpus vocabulary builder: global token frequencies with document
    * frequencies, thresholded at `minCount` and cut to the `topN` most
    * frequent (ties broken by token string — deterministic across
    * partitionings).
    *
    * Shape for 100 TB: ONE shuffle on token for the (tf, df) aggregation —
    * `count` is map-side combined and the distinct-doc count is Spark's
    * two-phase partial-distinct expand, never a per-token row collect;
    * the `topN` cut is TakeOrdered (per-partition top-k + driver merge),
    * not a global sort. Returns (token, tf, df_docs). */
  def vocabulary(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      minCount: Long, topN: Int): org.apache.spark.sql.DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    df.select(id.as("__id"), explode(split(trim(text), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("__id")).as("df_docs"))
      .where(col("tf") >= minCount)
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topN)
  }

  /** Zipf rank–frequency fit (Zipf 1949; the classic corpus-health
    * diagnostic): least-squares of ln(tf) on ln(rank) over the top
    * `nRanks` vocabulary entries — natural language sits near slope −1;
    * a much flatter or steeper tail flags template-heavy, synthetic, or
    * boilerplate-dominated corpora before they reach training. Returns
    * one row (n_ranks, slope, intercept, r2).
    *
    * Scale shape: the corpus-sized work is [[vocabulary]]'s single
    * token-keyed aggregation + TakeOrdered top-N; the regression runs
    * over nRanks points (bounded, one tiny window + one aggregate).
    * The fit uses CENTERED sums (Σ(x−x̄)(y−ȳ) / Σ(x−x̄)²), not raw
    * moments — same cancellation-avoidance rationale as
    * [[graft.ops.Pca]] two-pass covariance. */
  def zipfFit(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      nRanks: Int): org.apache.spark.sql.DataFrame = {
    require(nRanks >= 3, "nRanks must be >= 3")
    // rank window over the nRanks-row vocabulary cut — bounded by design
    val w = Window.orderBy(col("tf").desc, col("token").asc)
    val pts = vocabulary(df, id, text, minCount = 1L, topN = nRanks)
      .withColumn("rank", row_number().over(w))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("tf").cast("double")).as("y"))
    val m = pts.agg(count(lit(1)).as("n"), avg("x").as("mx"), avg("y").as("my"))
      .head()
    val (n, mx, my) = (m.getLong(0), m.getDouble(1), m.getDouble(2))
    pts.agg(
        sum((col("x") - mx) * (col("y") - my)).as("sxy"),
        sum((col("x") - mx) * (col("x") - mx)).as("sxx"),
        sum((col("y") - my) * (col("y") - my)).as("syy"))
      .select(lit(n).as("n_ranks"),
        (col("sxy") / col("sxx")).as("slope"),
        (lit(my) - col("sxy") / col("sxx") * lit(mx)).as("intercept"),
        (col("sxy") * col("sxy") / (col("sxx") * col("syy"))).as("r2"))
  }

  /** Padding-efficiency audit for fixed-shape training batches: assign
    * each document the smallest sequence length in `seqLens` that holds
    * its whitespace token count (documents longer than the largest are
    * TRUNCATED to it — the standard fixed-shape contract), then report
    * per bucket how many pad tokens that shape costs:
    * (seq_len, n_docs, sum_tokens = tokens actually kept,
    * pad_tokens = n_docs·seq_len − sum_tokens, efficiency = kept/slot).
    * The batch-shape tuning table behind bucketed batching: if one
    * bucket carries most documents at 40 % efficiency, its edge is
    * mis-sized.
    *
    * All bucket logic is exact integer comparison against the literal
    * edge list (NO log2/ceil — a float log at an exact power-of-two
    * boundary rounds differently across engines); the only division is
    * the final per-bucket efficiency. One groupBy on a handful of
    * distinct seq_lens — map-side combined, no other shuffle. */
  def paddingEfficiency(df: org.apache.spark.sql.DataFrame, text: Column,
      seqLens: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(seqLens.nonEmpty && seqLens.forall(_ >= 1), "seqLens must be >= 1")
    val edges = seqLens.distinct.sorted
    val n = tokenCount(text).cast("long")
    val bucket = edges.init.foldRight(lit(edges.last.toLong)) { (e, rest) =>
      when(n <= e, lit(e.toLong)).otherwise(rest)
    }
    df.select(bucket.as("seq_len"), least(n, bucket).as("__kept"))
      .groupBy("seq_len")
      .agg(count(lit(1)).as("n_docs"), sum("__kept").as("sum_tokens"))
      .select(col("seq_len"), col("n_docs"), col("sum_tokens"),
        (col("seq_len") * col("n_docs") - col("sum_tokens")).as("pad_tokens"),
        (col("sum_tokens").cast("double") /
          (col("seq_len") * col("n_docs"))).as("efficiency"))
  }

  /** Heaps'-law fit (Heaps 1978; the companion dial to [[zipfFit]]):
    * vocabulary growth V(N) ≈ K·N^β, measured at `nCheckpoints`
    * equal-width id thresholds and fitted by centered least squares of
    * ln V on ln N. Natural corpora sit at β ≈ 0.4–0.6; β near 0 means
    * the vocabulary has saturated (templates, bounded generators), β
    * near 1 means near-unbounded novelty (noise, hash dumps, OCR junk).
    * Returns (n_checkpoints, beta, ln_k, r2).
    *
    * Scale shape: TWO corpus-sized aggregations, both map-side combined —
    * (1) per-token first-appearance doc id (min over the exploded token
    * stream), then V per checkpoint = nCheckpoints conditional counts in
    * ONE pass over the vocabulary-sized table; (2) N per checkpoint =
    * nCheckpoints conditional sums over per-doc token counts (narrow).
    * No prefix-distinct pass per checkpoint — the first-appearance trick
    * turns cumulative-distinct into a plain aggregate. The tiny min/max
    * id probe is one 2-scalar collect. */
  def heapsFit(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      nCheckpoints: Int = 10): org.apache.spark.sql.DataFrame = {
    require(nCheckpoints >= 3, "nCheckpoints must be >= 3")
    val spark = df.sparkSession
    import spark.implicits._
    val bounds = df.agg(min(id).cast("long"), max(id).cast("long")).head()
    require(!bounds.isNullAt(0), "corpus is empty")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    // integer thresholds: lo + ceil(span·c/nCheckpoints) via exact
    // integer arithmetic (no float boundary flips), last == hi
    val thresholds = (1 to nCheckpoints)
      .map(c => lo + ((hi - lo) * c.toLong + nCheckpoints - 1) / nCheckpoints)
    val toks = df.select(id.cast("long").as("__id"),
        explode(split(trim(text), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    val firstSeen = toks.groupBy("token").agg(min("__id").as("first_id"))
    val vCols = thresholds.map(t =>
      count(when(col("first_id") <= t, 1)).as(s"v$t"))
    val vRow = firstSeen.agg(vCols.head, vCols.tail: _*).head()
    val counted = df.select(id.cast("long").as("__id"),
      tokenCount(text).cast("long").as("__n"))
    val nCols = thresholds.map(t =>
      sum(when(col("__id") <= t, col("__n"))).as(s"n$t"))
    val nRow = counted.agg(nCols.head, nCols.tail: _*).head()
    val pts = thresholds.indices.map(i =>
      (math.log(nRow.getLong(i).toDouble), math.log(vRow.getLong(i).toDouble)))
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val sxy = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val syy = pts.map { case (_, y) => (y - my) * (y - my) }.sum
    val beta = sxy / sxx
    Seq((nCheckpoints.toLong, beta, my - beta * mx, sxy * sxy / (sxx * syy)))
      .toDF("n_checkpoints", "beta", "ln_k", "r2")
  }

  /** Unseen-vocabulary estimate: Chao1 richness (Chao 1984, "Nonparametric
    * estimation of the number of classes in a population") +
    * Good–Turing unseen probability mass (Good 1953) from the frequency-
    * of-frequencies table — how much vocabulary the corpus has NOT seen
    * yet, the forward-looking complement of [[heapsFit]]'s growth fit:
    *   V_chao1 = V + f1·(f1 − 1) / (2·(f2 + 1))   (bias-corrected form,
    *             defined even when f2 = 0)
    *   P_unseen = f1 / N                           (Good–Turing mass)
    * A corpus whose V_chao1 ≈ V has saturated its domain; P_unseen is
    * the probability the NEXT token is novel — the token-budget dial for
    * "will more data buy new vocabulary".
    *
    * Scale shape: one token-keyed count (map-side combined) + one
    * 4-scalar aggregate over the vocabulary-sized table. Returns one row
    * (n_tokens, vocab, f1, f2, v_chao1, p_unseen). */
  def chao1(df: org.apache.spark.sql.DataFrame, text: Column): org.apache.spark.sql.DataFrame = {
    df.select(explode(
        org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(text, 1)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        count(when(col("c") === 1, 1)).as("f1"),
        count(when(col("c") === 2, 1)).as("f2"))
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        (col("vocab") + (col("f1") * (col("f1") - 1)).cast("double") /
          ((col("f2") + 1) * 2)).as("v_chao1"),
        (col("f1").cast("double") / col("n_tokens")).as("p_unseen"))
  }

  /** PMI collocation mining (Church & Hanks 1990, "Word Association
    * Norms, Mutual Information, and Lexicography"): top-K adjacent word
    * pairs by pointwise mutual information
    * ln((c_ab/T) / ((c_a/U)·(c_b/U))), gated at `minCount` co-occurrences
    * (raw PMI over-rewards hapax pairs — the count gate is the standard
    * remedy). The multiword-expression / tokenizer-vocabulary dial:
    * high-PMI pairs are the phrases worth single tokens.
    *
    * Scale shape: one bigram-keyed count + one unigram-keyed count (both
    * map-side combined), two token-keyed joins of the (already
    * minCount-filtered) bigram table against the vocabulary-sized
    * unigram table, TakeOrdered top-K. Returns
    * (token_a, token_b, n_pair, pmi). */
  def pmiPairs(df: org.apache.spark.sql.DataFrame, text: Column,
      minCount: Long, topK: Int): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be >= 1")
    val uni = df.select(explode(
        org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(text, 1)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persist()
    val biAll = df.select(explode(
        org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(text, 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n_pair"))
      .persist()
    // totals over the UNFILTERED tables (p(ab) and p(a) are corpus
    // probabilities, not filtered-table ones) — two driver scalars
    val t = biAll.agg(sum("n_pair")).head().getLong(0).toDouble
    val u = uni.agg(sum("c")).head().getLong(0).toDouble
    val bi = biAll.where(col("n_pair") >= minCount)
    bi.withColumn("token_a", split(col("g"), " ").getItem(0))
      .withColumn("token_b", split(col("g"), " ").getItem(1))
      .join(uni.select(col("t").as("token_a"), col("c").as("__ca")), Seq("token_a"))
      .join(uni.select(col("t").as("token_b"), col("c").as("__cb")), Seq("token_b"))
      .select(col("token_a"), col("token_b"), col("n_pair"),
        log((col("n_pair") / lit(t)) /
          ((col("__ca") / lit(u)) * (col("__cb") / lit(u)))).as("pmi"))
      .orderBy(col("pmi").desc, col("token_a").asc, col("token_b").asc)
      .limit(topK)
  }

  /** Distinct-n n-gram diversity (Li et al. 2016's "distinct-1/-2"
    * generalized to a corpus audit): per n, total word n-grams across the
    * corpus, distinct n-grams, and their ratio — the standard lexical-
    * diversity dial. Natural corpora sit well below 1 at n = 1 (Zipf
    * head) and climb with n; a LOW distinct-3 flags template/boilerplate
    * or decoding-loop synthetic text before it reaches training.
    *
    * Scale shape: one scan + one n-gram-keyed shuffle per requested n
    * (the distinct count is Spark's two-phase partial-distinct — no
    * per-gram row collect); n-grams come from the native codegen'd
    * shingle expression in its MULTISET form (`shinglesAllCol`,
    * distinct = false — [[Dedup.shingles]] dedups per doc for MinHash,
    * which would undercount totals here). For approximate counts at
    * 100 TB compose with [[Stats.buildHllSketches]] instead. Returns
    * one row per n: (n, total_ngrams, distinct_ngrams, distinct_ratio). */
  def distinctNgramStats(df: org.apache.spark.sql.DataFrame, text: Column,
      ns: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must all be >= 1")
    // NOTE (r13): a one-scan melt (every n's grams tagged with n, one
    // (n)-grouped count/countDistinct) was probed and REJECTED — the
    // struct tag + the grouped distinct's Expand over Σ|grams| rows cost
    // 2.3x the three narrow per-n pipelines at sf0.1 (0.29 s → 0.68 s).
    // Per-n scans stay: each is a cheap projection feeding an ungrouped
    // partial-distinct aggregate.
    ns.distinct.sorted.map { n =>
      df.select(explode(
          org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(text, n)).as("g"))
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("g")).as("distinct_ngrams"))
        .select(lit(n).cast("int").as("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          (col("distinct_ngrams").cast("double") / col("total_ngrams"))
            .as("distinct_ratio"))
    }.reduce(_ unionAll _)
  }

  /** Training-sequence packing (concat-then-chunk): in global `orderCols`
    * order, documents are conceptually concatenated and cut every
    * `budgetTokens` tokens; each doc gets the sequence (`bin`) and
    * in-sequence `offset` where it STARTS (long docs simply span bins).
    * The cumulative token position is
    * [[graft.ops.SlidingWindows.withRunningTotal]] — the distributed
    * prefix sum, so packing a 100 TB corpus is one range exchange, no
    * single-partition stage, and the assignment is a pure projection on
    * top. Adds `n_tokens`, `bin`, `offset`. */
  def packSequences(df: org.apache.spark.sql.DataFrame, text: Column,
      orderCols: Seq[Column], budgetTokens: Int): org.apache.spark.sql.DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    val counted = df.withColumn("n_tokens", tokenCount(text).cast("long"))
    SlidingWindows.withRunningTotal(counted, orderCols, col("n_tokens"), "__rt")
      .withColumn("bin", floor((col("__rt") - col("n_tokens")) / budgetTokens).cast("long"))
      .withColumn("offset", pmod(col("__rt") - col("n_tokens"), lit(budgetTokens.toLong)))
      .drop("__rt")
  }

  /** WHOLE-DOCUMENT greedy packing — the SFT/instruction-tuning layout
    * where documents must never be truncated or split: docs are taken in
    * `orderCols` order and appended to the current bin while they fit;
    * the first doc that would overflow opens a new bin (docs longer than
    * `budgetTokens` get a bin of their own, overflowing it alone;
    * zero-token docs never open bins). Unlike [[packSequences]]/
    * [[packSequencesSplit]] this leaves real per-bin slack — that waste
    * is the price of unsplit documents, and bin fill is auditable from
    * the output (max offset+n_tokens per bin).
    *
    * Scale shape: greedy assignment is inherently sequential, so the
    * corpus is cut into contiguous CHUNKS of `budgetTokens·chunkBins`
    * tokens by the ONE distributed prefix sum
    * ([[SlidingWindows.withRunningTotal]] — no single-reducer window),
    * and each chunk is packed exactly and independently on executors
    * (`flatMapGroups`, the sanctioned per-group imperative form). Bins
    * never cross chunks: waste vs the global sequential greedy is at
    * most one partial bin per chunk, and with `chunkBins` at its default
    * a ≤ 2²²-token corpus is ONE chunk — bit-exact global greedy (the
    * oracle face). Bin ids are globally unique and monotone
    * (chunk · (2·chunkBins + 2) + local) but not dense across chunks.
    * `id` must be a non-null numeric column. Adds (n_tokens, bin,
    * offset). */
  def packSequencesWhole(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, orderCols: Seq[Column], budgetTokens: Int,
      chunkBins: Int = 1 << 14): org.apache.spark.sql.DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    require(chunkBins >= 1, "chunkBins must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val counted = df.withColumn("n_tokens", tokenCount(text).cast("long"))
    val withRt = SlidingWindows.withRunningTotal(
      counted, orderCols, col("n_tokens"), "__rt")
    val chunkTokens = budgetTokens.toLong * chunkBins
    val maxBins = 2L * chunkBins + 2
    val budget = budgetTokens.toLong
    val assign = withRt.select(col(id).cast("long").as("_id"),
        col("__rt").as("_rt"), col("n_tokens").as("_n"),
        floor((col("__rt") - col("n_tokens")) / chunkTokens).cast("long")
          .as("_chunk"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._4)
      .flatMapGroups { (chunk: Long, it: Iterator[(Long, Long, Long, Long)]) =>
        // deterministic in-chunk order: prefix-sum position, id on the
        // zero-token ties (a 0-token doc shares __rt with its neighbor)
        val rows = it.toArray.sortBy(r => (r._2, r._1))
        var bin = 0L
        var fill = 0L
        rows.iterator.map { case (docId, _, n, _) =>
          // n > 0: a zero-token doc always "fits" — even in a bin an
          // oversize doc has already overflowed (fill > budget)
          if (n > 0 && fill + n > budget && fill > 0) { bin += 1; fill = 0 }
          require(bin < maxBins - 1,
            s"chunk $chunk exceeded the $maxBins-bin stride — impossible " +
              "under greedy (bins hold >= 1 doc or > budget/2 tokens); " +
              "data or arithmetic corruption")
          val off = fill
          fill += n
          (docId, chunk * maxBins + bin, off)
        }
      }
      .toDF(s"__${id}_a", "bin", "offset")
    withRt.drop("__rt")
      .join(assign, col(id).cast("long") === col(s"__${id}_a"))
      .drop(s"__${id}_a")
  }

  /** [[packSequences]] with BOUNDARY SPLITTING — the physical layout a
    * trainer actually consumes: documents crossing a `budgetTokens`
    * boundary are cut into per-bin pieces, so every bin is exactly full
    * (except the corpus tail) and every emitted piece lies inside one
    * training sequence.
    *
    * Doc with global token interval `[rt−n, rt)` spans bins
    * `floor((rt−n)/B) .. floor((rt−1)/B)`; the piece in bin `b` covers
    * `[max(bB, rt−n), min((b+1)B, rt))`. Same scale shape as
    * [[packSequences]] — the distributed prefix sum, then a NARROW
    * per-row `sequence + explode` whose fan-out is output-sized (total
    * pieces ≤ docs + corpus_tokens/B). Empty docs (n_tokens = 0) emit a
    * zero-length piece at their position so no document disappears.
    *
    * Adds `n_tokens`, `bin`, `offset` (piece start within the bin),
    * `piece_len`, `token_start` (piece start within the doc). */
  def packSequencesSplit(df: org.apache.spark.sql.DataFrame, text: Column,
      orderCols: Seq[Column], budgetTokens: Int): org.apache.spark.sql.DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    val b = lit(budgetTokens.toLong)
    val counted = df.withColumn("n_tokens", tokenCount(text).cast("long"))
    SlidingWindows.withRunningTotal(counted, orderCols, col("n_tokens"), "__rt")
      .withColumn("__start", col("__rt") - col("n_tokens"))
      // bins this doc touches; greatest(rt-1, start) keeps empty docs on
      // their own single (zero-length) piece instead of sequence(x, x-1)
      .withColumn("bin",
        explode(sequence(floor(col("__start") / b),
          floor(greatest(col("__rt") - 1, col("__start")) / b))))
      .withColumn("__pstart", greatest(col("bin") * b, col("__start")))
      .withColumn("__pend", least((col("bin") + 1) * b, col("__rt")))
      .withColumn("offset", col("__pstart") - col("bin") * b)
      .withColumn("piece_len", col("__pend") - col("__pstart"))
      .withColumn("token_start", col("__pstart") - col("__start"))
      .drop("__rt", "__start", "__pstart", "__pend")
  }

  /** Per-group sequence packing — [[packSequences]] with an independent
    * bin space per `group` (pack within language/domain, the usual
    * curriculum layout). Shape: ONE range exchange with the group as the
    * LEADING order key (groups stay contiguous, so the single global
    * prefix sum serves every group), then each group's start offset —
    * `min(rt − n_tokens)` per group, a tiny broadcast — rebases the
    * running total to a per-group prefix. No per-group windows, no
    * second exchange. Adds `n_tokens`, `bin`, `offset` (bins numbered
    * independently per group). */
  def packSequencesByGroup(df: org.apache.spark.sql.DataFrame, group: String,
      text: Column, orderCols: Seq[Column], budgetTokens: Int): org.apache.spark.sql.DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    val counted = df.withColumn("n_tokens", tokenCount(text).cast("long"))
    val rt = SlidingWindows.withRunningTotal(counted,
      col(group) +: orderCols, col("n_tokens"), "__rt")
    val starts = rt.groupBy(col(group))
      .agg(min(col("__rt") - col("n_tokens")).as("__g0"))
    rt.join(broadcast(starts), Seq(group))
      .withColumn("__p", col("__rt") - col("n_tokens") - col("__g0"))
      .withColumn("bin", floor(col("__p") / budgetTokens).cast("long"))
      .withColumn("offset", pmod(col("__p"), lit(budgetTokens.toLong)))
      .drop("__rt", "__g0", "__p")
  }

  /** Greedy per-group token-budget selection — the data-mixing primitive
    * that fills each domain's slot in a training mix: within every
    * `group`, keep documents in `score`-DESCENDING order (ties broken by
    * ascending `id` — deterministic across engines) while the cumulative
    * whitespace-token count stays ≤ `budgetTokens` (inclusive: the
    * document that lands exactly on the budget is kept; the one that
    * would cross it is the first dropped, along with everything below
    * it).
    *
    * Distributed shape: the cumulative count is ONE global distributed
    * prefix sum ([[SlidingWindows.withRunningTotal]] — range exchange +
    * per-partition offsets) over (group, −score, id) order, rebased
    * per group by a tiny broadcast of group-start offsets (the
    * [[packSequencesByGroup]] mechanism). No per-group single-reducer
    * window: a domain with billions of documents still sorts in
    * parallel range partitions. Scores must be non-null and non-NaN
    * (NaN breaks the total order the greedy semantics need).
    *
    * Returns the kept rows plus (n_tokens, cum_tokens). */
  def selectByTokenBudget(df: org.apache.spark.sql.DataFrame, group: String,
      score: Column, id: Column, text: Column,
      budgetTokens: Long): org.apache.spark.sql.DataFrame = {
    require(budgetTokens >= 1, "budgetTokens must be >= 1")
    val counted = df.withColumn("n_tokens", tokenCount(text).cast("long"))
    val rt = SlidingWindows.withRunningTotal(counted,
      Seq(col(group), -score, id), col("n_tokens"), "__rt")
    val starts = rt.groupBy(col(group))
      .agg(min(col("__rt") - col("n_tokens")).as("__g0"))
    rt.join(broadcast(starts), Seq(group))
      .withColumn("cum_tokens", col("__rt") - col("__g0"))
      .where(col("cum_tokens") <= budgetTokens)
      .drop("__rt", "__g0")
  }

  /** Pairwise n-gram-set Jaccard similarity BETWEEN groups (sources,
    * domains, languages, snapshot dates …) — the corpus-level overlap
    * matrix that answers "how much does domain A's content overlap
    * domain B's?" before mixing them. `n = 1` compares vocabularies;
    * larger `n` compares phrase inventories (more discriminating).
    *
    * Shape: the corpus collapses to distinct (group, shingle) pairs first
    * (native distinct [[Dedup.shingles]] in-row before the explode, then
    * ONE distinct shuffle — the pair table is bounded by Σ per-group
    * shingle vocabulary, not corpus size); intersections come from the
    * pair table's self-join on shingle (each shingle contributes at most
    * |groups|²/2 pairs, so the join output is vocab × G² worst-case — G
    * is small by construction for a grouping column); set sizes ride the
    * SAME pair table as a per-group window count, so the whole op is TWO
    * corpus passes (the self-join's two sides) and nothing else rescans
    * the input.
    * Group pairs with an empty intersection are absent from the output
    * (their Jaccard is 0). For thousands of groups, switch to MinHash
    * signatures per group ([[Dedup]]) — this is the exact form.
    *
    * Returns (group_a, group_b, n_a, n_b, n_inter, jaccard), a < b. */
  def groupJaccard(df: org.apache.spark.sql.DataFrame, group: Column,
      text: Column, n: Int = 1): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be >= 1")
    // per-group set size as a window over the distinct pair table — one
    // extra exchange of the (tiny) vocab table instead of a third and
    // fourth corpus-scanning aggregation subtree (Spark does not share
    // common subtrees, so `sizes` as a separate agg re-scanned the input)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val gt = df.select(group.as("g"),
        explode(Dedup.shingles(text, n)).as("tok")).distinct()
      .withColumn("n", count(lit(1)).over(wg))
    gt.as("a")
      .join(gt.as("b"),
        col("a.tok") === col("b.tok") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("group_a"), col("b.g").as("group_b"))
      .agg(first(col("a.n")).as("n_a"), first(col("b.n")).as("n_b"),
        count(lit(1)).as("n_inter"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        (col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** One-call corpus data card — the summary table a curation pipeline
    * publishes with every snapshot: size, token statistics, vocabulary,
    * exact-duplicate rate, and the `group` (language/source/domain)
    * distribution entropy. Returns a skinny (metric, value) frame so
    * downstream dashboards/diffs are schema-stable as metrics grow.
    *
    * Shape: ONE corpus scan. The text is projected once into a skinny
    * cached frame (token count, md5, char length, group, lower-cased
    * token array — the text itself is dropped), then the three
    * aggregations — (1) the wide per-doc stats, (2) the distinct-count
    * over exploded tokens (vocab), (3) the per-`group` counts feeding
    * the entropy — all read the cache instead of re-scanning and
    * re-tokenizing the corpus (pre-fusion this was three full scans and
    * the bench's 4th-slowest line). The cache is the projection, not the
    * corpus: ~tokens+40 bytes per doc, partition-local, and at 100 TB
    * the same plan holds with `StorageLevel.DISK_ONLY` or by writing the
    * projection to a scratch table — the projection is what every
    * downstream pass wants anyway. Exact percentile is the sf-scale
    * choice; swap `percentile` for `approx_percentile` at extreme scale
    * (same contract as [[Stats.outlierStats]]'s documented path). */
  def corpusReport(df: org.apache.spark.sql.DataFrame, id: Column,
      text: Column, group: Column): org.apache.spark.sql.DataFrame = {
    val perDoc = df.select(
      tokenCount(text).cast("long").as("__nt"),
      md5(text).as("__h"),
      coalesce(length(text), lit(0)).cast("long").as("__nc"),
      group.as("__g"),
      filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
        .as("__toks"))
      .persist()
    val base = perDoc.agg(
      count(lit(1)).cast("double").as("n_docs"),
      sum("__nt").cast("double").as("n_tokens"),
      avg("__nt").as("avg_tokens"),
      percentile(col("__nt"), lit(0.5)).as("p50_tokens"),
      (lit(1.0) - count_distinct(col("__h")).cast("double") / count(lit(1)))
        .as("exact_dup_rate"),
      avg((col("__nt") === 0).cast("double")).as("empty_rate"),
      avg("__nc").as("avg_chars"))
    val vocab = perDoc.select(explode(col("__toks")).as("t"))
      .agg(count_distinct(col("t")).cast("double").as("vocab_size"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val entropy = perDoc.groupBy(col("__g").as("g")).agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") / sum("n").over(wAll))
      .agg(sum(-col("p") * log(col("p"))).as("group_entropy"))
    // unpivot via map-explode: ONE evaluation of the aggregation subtree
    // per source (a per-metric select-union would re-run the corpus scan
    // once per metric — Spark does not share common subtrees)
    def skinny(src: org.apache.spark.sql.DataFrame,
        metrics: Seq[String]): org.apache.spark.sql.DataFrame =
      src.select(explode(map(metrics.flatMap(m =>
          Seq(lit(m), col(m).cast("double"))): _*))
        .as(Seq("metric", "value")))
    skinny(base, Seq("n_docs", "n_tokens", "avg_tokens", "p50_tokens",
        "exact_dup_rate", "empty_rate", "avg_chars"))
      .unionByName(skinny(vocab, Seq("vocab_size")))
      .unionByName(skinny(entropy, Seq("group_entropy")))
  }

  /** One mergeable corpus-stats snapshot row per (ingest batch, group) —
    * the incremental form of [[corpusReport]] for corpora that grow by
    * appends: each batch is scanned ONCE at ingest, and the corpus-wide
    * data card is re-derived from the bounded snapshot table
    * ([[corpusStatsReport]]) without ever rescanning history. At 100 TB
    * the snapshot table is |batches|·|groups| rows of counters + compact
    * sketches — dashboard-sized.
    *
    * Exact fields (counts, token/char sums, empties) merge losslessly;
    * cross-batch DISTINCT facts (dup rate, vocabulary) can't be merged
    * exactly from per-batch scalars by information-theoretic necessity,
    * so they ride mergeable sketches: a DataSketches HLL per batch over
    * doc md5s / lower-cased tokens, and a KLL over per-doc token counts
    * for quantiles. */
  def corpusStatsSnapshot(df: org.apache.spark.sql.DataFrame, text: Column,
      group: Column, batchId: Long, lgConfigK: Int = 12,
      kllK: Int = 200): org.apache.spark.sql.DataFrame = {
    val shim = org.apache.spark.sql.graft.SketchShim
    // NO persist here, deliberately: a snapshot scans one bounded INGEST
    // BATCH, and this op runs once per batch forever (foreachBatch) — a
    // per-call cache would accumulate across micro-batches with nobody
    // positioned to unpersist it. Two scans of the arriving batch is the
    // leak-free trade (corpusReport, a one-shot over the whole corpus,
    // keeps its cache).
    val perDoc = df.select(group.as("g"), md5(text).as("__h"),
      tokenCount(text).cast("long").as("__nt"),
      coalesce(length(text), lit(0)).cast("long").as("__nc"),
      filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
        .as("__toks"))
    val base = perDoc.groupBy("g").agg(
      count(lit(1)).as("n_docs"),
      sum("__nt").as("n_tokens"),
      sum("__nc").as("n_chars"),
      sum((col("__nt") === 0).cast("long")).as("n_empty"),
      hll_sketch_agg(col("__h"), lit(lgConfigK)).as("doc_hll"),
      shim.kllAgg(col("__nt").cast("double"), kllK).as("nt_kll"))
    val vocab = perDoc.select(col("g"), explode(col("__toks")).as("t"))
      .groupBy("g").agg(hll_sketch_agg(col("t"), lit(lgConfigK)).as("vocab_hll"))
    base.join(vocab, Seq("g"), "left").withColumn("batch_id", lit(batchId))
  }

  /** Corpus-wide data card from the snapshot table — same skinny
    * (metric, value) contract as [[corpusReport]]. Exact metrics carry
    * the same names (bit-equal to a whole-corpus [[corpusReport]] run —
    * spec-pinned); sketch-backed metrics carry an `_est` suffix
    * (deterministic per input, but DataSketches-determined, so
    * spec-bounded rather than DuckDB-oracled — the HLL-rollup stance).
    * Two aggregations over the BOUNDED snapshot table, never the raw
    * corpus. */
  def corpusStatsReport(snapshots: org.apache.spark.sql.DataFrame,
      kllK: Int = 200): org.apache.spark.sql.DataFrame = {
    val shim = org.apache.spark.sql.graft.SketchShim
    val g = snapshots.agg(
      sum("n_docs").cast("double").as("n_docs"),
      sum("n_tokens").cast("double").as("n_tokens"),
      (sum("n_tokens") / sum("n_docs")).as("avg_tokens"),
      (sum("n_chars") / sum("n_docs")).as("avg_chars"),
      (sum("n_empty") / sum("n_docs").cast("double")).as("empty_rate"),
      (lit(1.0) - hll_sketch_estimate(hll_union_agg(col("doc_hll"), lit(false)))
        / sum("n_docs")).as("exact_dup_rate_est"),
      hll_sketch_estimate(hll_union_agg(col("vocab_hll"), lit(false)))
        .cast("double").as("vocab_size_est"),
      shim.kllQuantile(shim.kllMerge(col("nt_kll"), kllK), lit(0.5))
        .as("p50_tokens_est"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val entropy = snapshots.groupBy("g").agg(sum("n_docs").as("n"))
      .withColumn("p", col("n") / sum("n").over(wAll))
      .agg(sum(-col("p") * log(col("p"))).as("group_entropy"))
    def skinny(src: org.apache.spark.sql.DataFrame,
        metrics: Seq[String]): org.apache.spark.sql.DataFrame =
      src.select(explode(map(metrics.flatMap(m =>
          Seq(lit(m), col(m).cast("double"))): _*))
        .as(Seq("metric", "value")))
    skinny(g, Seq("n_docs", "n_tokens", "avg_tokens", "avg_chars",
        "empty_rate", "exact_dup_rate_est", "vocab_size_est",
        "p50_tokens_est"))
      .unionByName(skinny(entropy, Seq("group_entropy")))
  }

  /** RAG-style document chunking: whitespace tokens cut into windows of
    * `chunkSize` tokens every `stride` tokens (overlapping when
    * `stride < chunkSize`); the tail chunk is truncated, empty documents
    * produce no chunks. Emits one row per chunk:
    * `(…doc cols…, chunk_idx, chunk_tokens, chunk_text)`.
    *
    * Narrow, shuffle-free: tokenize + `posexplode` over the in-row start
    * sequence — each task chunks its own documents, so the op scales with
    * input splits. A 100 TB corpus fans out to ≈ n/stride× rows, which is
    * the output's intrinsic size, not an intermediate blow-up: Spark
    * pipelines the explode straight into the downstream consumer (or
    * parquet writer) without materializing per-doc state.
    */
  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling" —
    * public method): score every document by the log-likelihood ratio of
    * its hashed word-n-gram features under the TARGET distribution
    * (rows where `isTarget`) vs the RAW distribution (the remaining
    * rows), with add-`alpha` smoothing over `numBuckets` hash buckets:
    *
    *   weight(d) = Σ_{g ∈ grams(d)} [ ln (t_b(g)+α)/(T+αB)
    *                                − ln (r_b(g)+α)/(R+αB) ]
    *
    * High-weight documents look like the target corpus; feed the weights
    * to [[Stats.weightedSample]] (Efraimidis–Spirakis) for the actual
    * resampling step.
    *
    * Distributed shape for 100 TB: TWO corpus passes, both narrow until
    * a bounded aggregation. Pass 1 explodes n-grams to (bucket, side)
    * counts — map-side combined into ≤ `numBuckets` rows (the feature
    * distribution is a MODEL, tiny by construction). Pass 2 re-explodes
    * and broadcast-joins the bucket→log-ratio table (numBuckets rows),
    * then sums per document — one shuffle keyed by doc id. Nothing
    * materializes the exploded grams; at extreme scale run pass 1 on a
    * sample via `fitFraction` (the distributions converge long before
    * full coverage — the published method does exactly this): a
    * DETERMINISTIC per-document hash sample ([[Robustness.seededUniform]]
    * on the doc id, the [[Stats.stratifiedSample]] mechanism — stable
    * across partitioning/cluster size and engine-portable), applied to
    * the DISTRIBUTION pass only. Every document is still scored in pass
    * 2; with `fitFraction = 1.0` (default) the result is bit-identical
    * to the unsampled form.
    *
    * Hashing is [[IntHash.stringHash]] (engine-portable), so the whole
    * computation has an exact DuckDB twin. Documents with fewer than `n`
    * tokens have no features and are omitted (no evidence → no weight).
    * Returns (id, n_grams, weight). */
  def dsirWeights(df: DataFrame, id: String, text: Column, isTarget: Column,
      n: Int = 2, numBuckets: Int = 8192, alpha: Double = 1.0,
      fitFraction: Double = 1.0, fitSeed: Long = 11L): DataFrame = {
    require(n >= 1 && numBuckets >= 2, "need n >= 1 and numBuckets >= 2")
    require(fitFraction > 0.0 && fitFraction <= 1.0, "fitFraction in (0, 1]")
    // NON-distinct n-grams — DSIR features are occurrence counts: "a b
    // a b" has three bigram occurrences, two distinct. The native
    // WordShingles(distinct = false) splits each document once; the HOF
    // slice-per-gram form re-walked the token array through the
    // interpreted lambda evaluator (measured 4.1 s → 0.6 s warm on the
    // sf0.1 corpus).
    val grams = df.select(col(id), isTarget.as("__t"),
        explode(org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(text, n))
          .as("__g"))
      .select(col(id), col("__t"),
        pmod(IntHash.stringHash(col("__g")), lit(numBuckets)).as("__b"))
    // sampled pass 1: the gram subtree re-evaluates under the doc filter
    // (narrow — the filter pushes to the scan), pass 2 keeps every doc
    val fitGrams =
      if (fitFraction >= 1.0) grams
      else grams.where(Robustness.seededUniform(fitSeed, col(id)) < fitFraction)
    // DENSIFIED over the full bucket domain (numBuckets rows — bounded):
    // under a sampled fit, a scored gram can land in a bucket the sample
    // never saw; the scoring join must then apply the smoothed zero-count
    // ratio (exactly [[dsirScorer]]'s unseen fallback), not silently drop
    // the gram (an inner join on a sparse model table did just that).
    // Zero rows change neither total, and with fitFraction = 1 every
    // scored bucket is fitted, so the dense form is result-identical.
    val spark = df.sparkSession
    val dist = spark.range(numBuckets).select(col("id").as("__b"))
      .join(fitGrams.groupBy("__b").agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("__rc")), Seq("__b"), "left")
      .na.fill(0L, Seq("__tc", "__rc"))
    // totals via a whole-frame window over the DIST table — bounded by
    // numBuckets, so the unpartitioned window is a ≤8k-row pass, and the
    // dist subtree (a full corpus scan + explode) is computed ONCE; a
    // separate agg + crossJoin re-evaluated it per reference
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val ratios = dist.select(col("__b"),
      (log((col("__tc") + lit(alpha)) /
          (sum("__tc").over(wAll) + lit(alpha * numBuckets))) -
       log((col("__rc") + lit(alpha)) /
          (sum("__rc").over(wAll) + lit(alpha * numBuckets))))
        .as("__lr"))
    grams.join(broadcast(ratios), Seq("__b"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"), sum(col("__lr")).as("weight"))
  }

  /** Train-once / score-forever form of [[dsirWeights]]: fit the hashed
    * n-gram distributions on a batch corpus, collect the bucket →
    * log-ratio model (≤ `numBuckets` rows — it is a MODEL, bounded by
    * construction), and return a scoring COLUMN builder. The returned
    * column is a stateless per-row projection (native shingles → literal
    * map lookups → in-row sum), so it applies unchanged to batch frames
    * AND Structured Streaming frames — no join, no state store, exactly
    * how a production pipeline ships a selection model to its ingest
    * stream. Buckets unseen at fit time fall back to the smoothed
    * zero-count ratio; docs with no n-grams score 0.0 (no evidence —
    * [[dsirWeights]] omits such docs instead).
    *
    * `fitFraction < 1` fits the distributions on a deterministic hash
    * sample of the corpus (keyed by [[IntHash.stringHash]] of the text —
    * the scorer has no id column; content-keyed sampling is stable
    * across partitioning and re-runs). The returned scoring column is
    * unaffected in shape — only the fitted counts change. */
  def dsirScorer(corpus: DataFrame, text: Column, isTarget: Column,
      n: Int = 2, numBuckets: Int = 8192,
      alpha: Double = 1.0, fitFraction: Double = 1.0,
      fitSeed: Long = 11L): Column => Column = {
    require(n >= 1 && numBuckets >= 2, "need n >= 1 and numBuckets >= 2")
    require(fitFraction > 0.0 && fitFraction <= 1.0, "fitFraction in (0, 1]")
    val fitCorpus =
      if (fitFraction >= 1.0) corpus
      else corpus.where(
        Robustness.seededUniform(fitSeed, IntHash.stringHash(text)) < fitFraction)
    val dist = fitCorpus.select(isTarget.as("__t"),
        explode(org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(text, n))
          .as("__g"))
      .select(col("__t"),
        pmod(IntHash.stringHash(col("__g")), lit(numBuckets)).as("__b"))
      .groupBy("__b").agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("__tc"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("__rc"))
      .collect() // bounded: <= numBuckets rows
    val tTot = dist.map(_.getLong(1)).sum.toDouble + alpha * numBuckets
    val rTot = dist.map(_.getLong(2)).sum.toDouble + alpha * numBuckets
    def lr(tc: Long, rc: Long): Double =
      math.log((tc + alpha) / tTot) - math.log((rc + alpha) / rTot)
    val model: Map[Long, Double] =
      dist.map(r => r.getLong(0) -> lr(r.getLong(1), r.getLong(2))).toMap
    val unseen = lr(0L, 0L)
    val modelCol = typedLit(model)
    textCol => aggregate(
      transform(
        org.apache.spark.sql.graft.MinHashShim.shinglesAllCol(textCol, n),
        g => coalesce(
          element_at(modelCol, pmod(IntHash.stringHash(g), lit(numBuckets))),
          lit(unseen))),
      lit(0.0), _ + _)
  }

  def chunkDocuments(df: org.apache.spark.sql.DataFrame, text: Column,
      chunkSize: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1 && stride >= 1, "chunkSize and stride must be >= 1")
    val toks = filter(split(trim(text), "\\s+"), t => length(t) > 0)
    val nChunks = ceil(size(col("__toks")) / lit(stride.toDouble)).cast("int")
    df.withColumn("__toks", toks)
      // explode of an EMPTY array (not sequence(0,-1), which counts DOWN)
      // so zero-token documents drop out instead of emitting ghost chunks
      .withColumn("chunk_idx", explode(when(nChunks > 0,
        sequence(lit(0), nChunks - 1)).otherwise(array().cast("array<int>"))))
      .withColumn("__chunk",
        slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkSize)))
      .withColumn("chunk_tokens", size(col("__chunk")).cast("long"))
      .withColumn("chunk_text", array_join(col("__chunk"), " "))
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .drop("__toks", "__chunk")
  }

  // ---------------------------------------------------------------------
  // Byte-pair encoding (Sennrich, Haddow & Birch 2016, "Neural Machine
  // Translation of Rare Words with Subword Units") — the expensive half
  // of tokenizer fitting, re-expressed for Spark.

  /** Initial BPE symbol sequence of a word: its characters plus the
    * end-of-word marker as a trailing symbol (the paper's formulation —
    * the marker lets merges distinguish word-final from word-internal
    * subwords). */
  private[graft] def bpeInitSyms(w: String): Array[String] =
    w.toCharArray.map(_.toString) :+ "</w>"

  /** One merge rule applied to one word, left-to-right non-overlapping
    * (`a b a b` with rule (a,b) → `ab ab`; `a a a` with (a,a) → `aa a`). */
  private[graft] def bpeMergeWord(syms: Array[String], a: String,
      b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** UTF-8 byte-order comparison on (a, b) pairs — the tie-break must
    * match Spark's string ordering (binary UTF-8), not Java's UTF-16
    * `compareTo`, so the driver regime is bit-compatible with the
    * distributed `orderBy`. */
  private def utf8PairLess(x: (String, String), y: (String, String)): Boolean = {
    def less(a: String, b: String): Int = {
      val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val c = (ab(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      ab.length - bb.length
    }
    val c = less(x._1, y._1)
    if (c != 0) c < 0 else less(x._2, y._2) < 0
  }

  /** Distinct words under which [[bpeTrain]] merges on the driver
    * ([[LocalRegime]]). */
  private val LocalBpeWords = 1 << 18

  /** BPE merge-rule training: learn the first `nMerges` merge rules from
    * a corpus. Returns the ordered rule list — the MODEL, driver-sized
    * like IVF centroids or the DSIR bucket table (a tokenizer is ~30k
    * rules; each is two short strings).
    *
    * Scale shape: the corpus collapses FIRST to the distinct-word
    * frequency table (ONE map-side-combined corpus-sized shuffle — even
    * 100 TB of text holds ~10⁷–10⁸ distinct words), and every merge
    * iteration then touches only that bounded table: count adjacent
    * symbol pairs weighted by word frequency, take the most frequent
    * pair — ties to the lexicographically (UTF-8) smallest, a
    * determinism contract the textbook algorithm leaves unspecified —
    * merge it in every word, repeat.
    *
    * Two regimes like connectedComponents/trainIvfCentroids: word
    * tables within `LocalBpeWords` (2^18 words, probed by
    * [[LocalRegime.collectAtMost]], no count job)
    * run the identical loop on the driver — at test scale each
    * distributed iteration costs a fixed scheduling floor that would
    * dwarf the arithmetic. Larger tables iterate distributed: explode
    * pairs → map-side-combined sum → 1-row collect, then a narrow
    * mapPartitions merge pass (the per-word merge is genuinely
    * imperative — left-to-right with skip — same justification as the
    * Multimodal decode), with periodic localCheckpoint so lineage
    * doesn't grow by one mapPartitions per rule. Local == distributed
    * merge-for-merge (parity spec). */
  def bpeTrain(df: DataFrame, text: Column, nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 0, "nMerges must be >= 0")
    val spark = df.sparkSession
    val words = df
      .select(explode(filter(split(trim(text), "\\s+"), t => length(t) > 0)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .persist()
    try LocalRegime.collectAtMost(words, LocalBpeWords) match {
      case Some(probe) =>
        bpeTrainLocal(probe.map(r => (r.getString(0), r.getLong(1))), nMerges)
      case None =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val symSchema = StructType(Seq(
          StructField("freq", LongType, nullable = false),
          StructField("syms", ArrayType(StringType, containsNull = false))))
        val enc = org.apache.spark.sql.Encoders.row(symSchema)
        var cur = words
          .select(col("freq"),
            concat(split(col("w"), ""), array(lit("</w>"))).as("syms"))
          .localCheckpoint(true)
        val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var k = 0
        var exhausted = false
        while (k < nMerges && !exhausted) {
          val top = cur
            .select(col("freq"), explode(when(size(col("syms")) >= 2,
                transform(sequence(lit(0), size(col("syms")) - 2),
                  i => struct(element_at(col("syms"), i + 1).as("a"),
                    element_at(col("syms"), i + 2).as("b"))))
              .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
            .groupBy("p").agg(sum("freq").as("n"))
            .orderBy(col("n").desc, col("p").asc)
            .limit(1).collect()
          if (top.isEmpty) exhausted = true
          else {
            val p = top(0).getStruct(0)
            val (a, b) = (p.getString(0), p.getString(1))
            merges += ((a, b))
            cur = cur.mapPartitions { rows =>
              rows.map { r =>
                Row(r.getLong(0),
                  bpeMergeWord(r.getSeq[String](1).toArray, a, b).toSeq)
              }
            }(enc)
            // flat lineage: without this the plan grows one mapPartitions
            // (and its closure) per learned rule
            if ((merges.length % 8) == 0) cur = cur.localCheckpoint(true)
            k += 1
          }
        }
        merges.toSeq
    } finally words.unpersist()
  }

  /** Driver regime of [[bpeTrain]]: the identical count → argmax →
    * merge loop over the collected word table. */
  private def bpeTrainLocal(words: Array[(String, Long)],
      nMerges: Int): Seq[(String, String)] = {
    var tbl: Array[(Array[String], Long)] =
      words.map { case (w, f) => (bpeInitSyms(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var k = 0
    var exhausted = false
    while (k < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      tbl.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { kv =>
          if (best == null || kv._2 > best._2 ||
            (kv._2 == best._2 && utf8PairLess(kv._1, best._1))) best = kv
        }
        val (a, b) = best._1
        merges += ((a, b))
        tbl = tbl.map { case (s, f) => (bpeMergeWord(s, a, b), f) }
      }
      k += 1
    }
    merges.toSeq
  }

  /** Apply a learned BPE rule list: tokenize each document into subword
    * units (rules applied per word, in training order). The rule list
    * rides in the closure — a broadcast-sized model projection exactly
    * like [[dsirScorer]], so this applies to batch or streaming frames
    * with no join and no state. Appends `out` (array of subword tokens)
    * and `out_n` (count). Narrow; the per-word rule loop is imperative
    * (same mapPartitions justification as [[bpeTrain]]'s merge pass). */
  def bpeEncode(df: DataFrame, text: Column, merges: Seq[(String, String)],
      out: String = "bpe_tokens"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val withTxt = df.withColumn("__bpe_txt", text)
    val idx = withTxt.schema.fieldIndex("__bpe_txt")
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField(out, ArrayType(StringType, containsNull = false)),
      StructField(out + "_n", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val rules = merges.toArray
    withTxt.mapPartitions { rows =>
      rows.map { r =>
        val t = r.getString(idx)
        val toks: Array[String] =
          if (t == null) Array.empty
          else t.trim.split("\\s+").filter(_.nonEmpty).flatMap { w =>
            var syms = bpeInitSyms(w)
            var j = 0
            while (j < rules.length) {
              syms = bpeMergeWord(syms, rules(j)._1, rules(j)._2)
              j += 1
            }
            syms
          }
        Row.fromSeq(r.toSeq.dropRight(1) ++ Seq(toks.toSeq, toks.length.toLong))
      }
    }(enc)
  }

  /** DuckDB twin of [[bpeEncode]] for a FITTED merge list (the
    * literal-replay oracle pattern): returns an expression over `wordSql`
    * (one whitespace-free word) yielding the encoded symbol sequence as a
    * `chr(31)`-delimited string, each symbol rendered `␟sym␟`.
    *
    * Replay is exact because both sides are the same algorithm: the
    * symbol list is a string with every token wrapped in U+001F markers,
    * and each learned rule (a, b) is one `replace(s, '␟a␟␟b␟', '␟ab␟')` —
    * DuckDB's `replace` is left-to-right non-overlapping, which is
    * [[bpeMergeWord]]'s contract, and the marker wrapping makes a token-
    * boundary-safe needle ('␟a␟␟b␟' can't match inside a longer symbol,
    * and adjacent matches share no characters). One pass per rule is a
    * fixpoint: a merge produces a NEW symbol, so it can't create fresh
    * (a, b) adjacencies for its own rule. Token count of the result =
    * `(length(s) − length(replace(s, chr(31), ''))) // 2`.
    *
    * Symbols must not contain U+001F (true of any whitespace-split corpus
    * word — enforced loudly). */
  def bpeEncodeSqlExpr(wordSql: String, merges: Seq[(String, String)]): String = {
    require(merges.forall { case (a, b) => !a.contains('\u001f') && !b.contains('\u001f') },
      "BPE symbols must not contain the U+001F delimiter")
    val S = "chr(31)"
    def strLit(s: String) = "'" + s.replace("'", "''") + "'"
    def wrap(tok: String) = s"$S || ${strLit(tok)} || $S"
    val init = s"$S || array_to_string(string_split($wordSql, ''), $S || $S)" +
      s" || $S || $S || '</w>' || $S"
    merges.foldLeft(init) { case (e, (a, b)) =>
      s"replace($e, ${wrap(a)} || ${wrap(b)}, ${wrap(a + b)})"
    }
  }

  /** Canary contamination scan (Carlini et al. 2019, "The Secret Sharer"):
    * exact-substring occurrence counts for a list of planted canary
    * strings — the memorization-audit complement of [[redactPii]] (did a
    * secret/canary survive curation?) and the positive control for
    * decontamination (a canary that SHOULD have been removed).
    *
    * Occurrences are counted with the length-difference trick
    * `(len(t) − len(replace(t, c, ''))) / len(c)` — `replace` is
    * left-to-right non-overlapping in both engines, so counts are
    * engine-portable. Every canary appears in the output even with zero
    * hits (an audit table that silently drops clean canaries can't prove
    * absence). Per-row cost O(canaries · |text|), fully row-local;
    * the k-row aggregate is map-side combined. Canary lists beyond
    * `maxCanaries` should be sharded across scans (each scan broadcasts
    * its list inside the plan) — refused loudly. */
  def canaryScan(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      canaries: Seq[String], maxCanaries: Int = 1000): org.apache.spark.sql.DataFrame = {
    require(canaries.nonEmpty, "empty canary list")
    require(canaries.size <= maxCanaries,
      s"canaryScan: ${canaries.size} canaries > $maxCanaries — shard the list across scans")
    require(canaries.forall(_.nonEmpty), "empty-string canary")
    require(canaries.distinct.size == canaries.size, "duplicate canaries")
    val hits = explode(array(canaries.map { c =>
      val n = (length(text) - length(expr_replace(text, c))) / lit(c.length)
      struct(lit(c).as("canary"), n.cast("long").as("n"))
    }: _*)).as("hit")
    df.select(id.as("_id"), hits)
      .groupBy(col("hit.canary").as("canary"))
      .agg(
        sum(col("hit.n")).as("n_hits"),
        count(when(col("hit.n") > 0, lit(1))).as("n_docs"),
        min(when(col("hit.n") > 0, col("_id"))).as("first_doc"))
  }

  /** Literal (non-regex) remove-all: Spark's `replace` SQL function. */
  private def expr_replace(text: Column, needle: String): Column =
    call_function("replace", text, lit(needle), lit(""))

  /** Tokenizer-vocabulary coverage: fit the top-`vocabSize` lower-cased
    * whitespace tokens by (frequency desc, token asc) over the corpus,
    * then score each document's out-of-vocabulary token count and rate —
    * the coverage diagnostic run before committing to a tokenizer vocab
    * (high OOV = the vocab was fit on a different distribution).
    *
    * Two passes: ONE map-side-combined token count fits the vocab (driver
    * collect is bounded by `vocabSize`, refused loudly past 2^16), then
    * scoring is a pure row-local projection — the vocab ships inside the
    * plan as a hashed InSet (Catalyst OptimizeIn), O(tokens)/row
    * regardless of vocab size, streams as-is. */
  def oovRate(df: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      vocabSize: Int): org.apache.spark.sql.DataFrame = {
    require(vocabSize > 0 && vocabSize <= 65536,
      s"oovRate: vocabSize $vocabSize outside (0, 65536]")
    val toks = filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)
    val vocab = df.select(explode(toks).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(vocabSize)
      .collect().map(_.getString(0)).toSeq
    val oov = size(filter(toks, t => !t.isin(vocab: _*)))
    df.select(
      id.as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      oov.cast("long").as("n_oov"),
      round(when(size(toks) > 0, oov.cast("double") / size(toks))
        .otherwise(lit(0.0)), 6).as("oov_rate"))
  }

  /** Tokenizer fertility audit (Ács 2019; Rust et al. 2021, "How Good is
    * Your Tokenizer?"): per-group subwords-per-word (fertility) and
    * bytes-per-subword for a FITTED BPE merge list — the standard
    * cross-lingual tokenizer-equity report (a vocab trained on English
    * fragments other languages into many more pieces, inflating their
    * effective sequence length and training cost; fertility per language
    * is the dial).
    *
    * One [[bpeEncode]] scan + one map-side-combined aggregation; all
    * summed facts are integers (word counts, subword counts, UTF-8
    * bytes), so the group totals are exact and the two released ratios
    * are single divisions of exact counts — engine-portable. */
  def tokenizerFertility(df: DataFrame, text: Column,
      merges: Seq[(String, String)], group: String): DataFrame = {
    val enc = bpeEncode(df, text, merges)
    enc.groupBy(col(group))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(text)).cast("long").as("n_words"),
        sum(col("bpe_tokens_n")).cast("long").as("n_subwords"),
        sum(octet_length(text).cast("long")).cast("long").as("n_bytes"))
      .select(col(group), col("n_docs"), col("n_words"), col("n_subwords"),
        col("n_bytes"),
        when(col("n_words") > 0, round(col("n_subwords").cast("double")
          / col("n_words").cast("double"), 6)).as("fertility"),
        when(col("n_subwords") > 0, round(col("n_bytes").cast("double")
          / col("n_subwords").cast("double"), 6)).as("bytes_per_subword"))
  }

  /** Flesch Reading Ease + Flesch–Kincaid grade level (Flesch 1948,
    * "A new readability yardstick"; Kincaid et al. 1975) — the classic
    * document-difficulty features, used in curation as a "textbook
    * quality" signal alongside [[qualityScore]] (too-hard AND too-easy
    * both correlate with junk in web corpora).
    *
    * Dictionary-free deterministic recipe, engine-portable (the same
    * three counts any SQL engine reproduces):
    *  - words: non-empty whitespace tokens;
    *  - sentences: `[.!?]+` runs, floored at 1 for any doc with words
    *    (headlines / fragments count as one sentence);
    *  - syllables per word: vowel-group runs `[aeiouy]+` of the
    *    lower-cased word, minus one for a silent trailing 'e'
    *    (`[^aeiouy]e$`), floored at 1.
    *
    * FRE = 206.835 − 1.015·(W/S) − 84.6·(Syl/W);
    * FK  = 0.39·(W/S) + 11.8·(Syl/W) − 15.59.
    *
    * Pure per-row native HOF projection (struct) — no shuffle, no state,
    * streams as-is. Word-free docs take null scores (not 0 — a 0 FRE is
    * a meaningful "very hard" reading, absence must stay distinct).
    * Scores are rounded to 4 dp for display; the counts are exact. */
  def readability(text: Column): Column = {
    val toks = filter(split(trim(text), "\\s+"), t => length(t) > 0)
    val nW = size(toks)
    val sentenceRuns = size(regexp_extract_all(text, lit("[.!?]+"), lit(0)))
    val nS = when(nW > 0, greatest(lit(1), sentenceRuns)).otherwise(lit(0))
    val syl = aggregate(toks, lit(0L), (acc, t) => {
      val lw = lower(t)
      val groups = size(regexp_extract_all(lw, lit("[aeiouy]+"), lit(0)))
      val silentE = when(lw.rlike("[^aeiouy]e$"), lit(1)).otherwise(lit(0))
      acc + greatest(lit(1), groups - silentE).cast("long")
    })
    val wps = nW.cast("double") / nS.cast("double")
    val spw = syl.cast("double") / nW.cast("double")
    val fre = lit(206.835) - lit(1.015) * wps - lit(84.6) * spw
    val fk = lit(0.39) * wps + lit(11.8) * spw - lit(15.59)
    struct(
      nW.cast("long").as("n_words"),
      nS.cast("long").as("n_sentences"),
      when(nW > 0, syl).otherwise(lit(0L)).as("n_syllables"),
      when(nW > 0, round(fre, 4)).as("fre"),
      when(nW > 0, round(fk, 4)).as("fk_grade"))
  }

  /** Unicode-script character mix — the routing signal upstream of
    * [[languageId]] (a stopword heuristic can only decide among
    * languages of one script; the script split routes Cyrillic/CJK/
    * Arabic text to their own pipelines and flags mixed-script docs, a
    * spam/obfuscation signature). Counted per EXPLICIT codepoint range
    * (`\x{…}` escapes parse identically in Java regex and RE2 — no
    * dependence on the engines' Unicode-table versions):
    * Latin (ASCII letters + Latin-1/Extended A-B), Cyrillic, Greek,
    * Arabic, Hebrew, CJK unified, Kana, Hangul, digits, whitespace;
    * `other` is the remainder. `dominant` = the max-count SCRIPT class
    * (count ties resolve to the alphabetically-LAST name — the
    * struct-max convention [[languageIdFromTokens]] already uses;
    * "none" when no script char appears). Pure row-local projection
    * (one regex pass per class), streams as-is. */
  def scriptMix(text: Column): Column = {
    val n = coalesce(length(text), lit(0))
    def cnt(pattern: String): Column =
      n - coalesce(length(regexp_replace(text, pattern, "")), lit(0))
    val classes: Seq[(String, String)] = Seq(
      "arabic" -> "[\\x{0600}-\\x{06FF}]",
      "cjk" -> "[\\x{4E00}-\\x{9FFF}]",
      "cyrillic" -> "[\\x{0400}-\\x{04FF}]",
      "greek" -> "[\\x{0370}-\\x{03FF}]",
      "hangul" -> "[\\x{AC00}-\\x{D7AF}]",
      "hebrew" -> "[\\x{0590}-\\x{05FF}]",
      "kana" -> "[\\x{3040}-\\x{30FF}]",
      "latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]")
    val counted = classes.map { case (name, p) => name -> cnt(p) }
    val nDigit = cnt("[0-9]")
    val nSpace = cnt("\\s")
    val scriptTotal = counted.map(_._2).reduce(_ + _)
    val best = array_max(array(counted.map { case (name, c) =>
      struct(c.as("n"), lit(name).as("s")) }: _*))
    val fields =
      Seq(n.cast("long").as("n_chars")) ++
      counted.map { case (name, c) => c.cast("long").as(name) } ++
      Seq(nDigit.cast("long").as("digit"), nSpace.cast("long").as("space"),
        (n - scriptTotal - nDigit - nSpace).cast("long").as("other"),
        when(best.getField("n") > 0, best.getField("s"))
          .otherwise(lit("none")).as("dominant"))
    struct(fields: _*)
  }

  /** HTML boilerplate strip — the pre-C4 stage for raw web crawl text:
    * drops `<tag …>` runs (each replaced by one space so adjacent words
    * don't fuse), decodes the six core entities (`&amp;` LAST — a
    * double-decode would turn `&amp;lt;` into `<`), collapses
    * whitespace, trims. Returns a struct (n_tags, text_clean); rows with
    * n_tags = 0 pass through unchanged modulo whitespace collapse. Pure
    * row-local regex/replace chain — portable (RE2-safe patterns),
    * streams as-is. */
  def stripHtml(text: Column): Column = {
    val nTags = size(regexp_extract_all(text, lit("<[^>]*>"), lit(0)))
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (from, to)) =>
      call_function("replace", c, lit(from), lit(to))
    }
    val clean = trim(regexp_replace(decoded, "\\s+", " "))
    struct(
      when(nTags >= 0, nTags).otherwise(lit(0)).cast("long").as("n_tags"),
      clean.as("text_clean"))
  }

  /** Outlink extraction from raw HTML — the web-graph edge builder
    * upstream of [[normalizeUrl]] (dedup keys) and [[Graph]] (PageRank /
    * HITS / k-core quality signals): every `href="…"` attribute value,
    * in document order. Row-local regex, streams as-is. */
  def extractLinks(text: Column): Column =
    regexp_extract_all(text, lit("href=\"([^\"]*)\""), lit(1))

  /** Fenced-code-block stats — the code/prose router for mixed corpora
    * (code wants different dedup grain, quality rules, and tokenizer
    * than prose): count ``` fences, characters inside them (fences
    * included), and the code fraction of the doc. `(?s)`-dotall +
    * non-greedy — both Java regex and RE2 parse the pattern identically;
    * an odd dangling fence is NOT a block (the regex needs the closing
    * fence) and is reported via `dangling_fence`. Row-local, streams
    * as-is. */
  def codeFenceStats(text: Column): Column = {
    val blocks = regexp_extract_all(text, lit("(?s)```.*?```"), lit(0))
    val nBlocks = coalesce(size(blocks), lit(0))
    val nB = when(nBlocks > 0, nBlocks).otherwise(lit(0))
    val codeChars = coalesce(
      aggregate(blocks, lit(0L), (a, b) => a + length(b)), lit(0L))
    val nFences = size(regexp_extract_all(text, lit("```"), lit(0)))
    val n = coalesce(length(text), lit(0))
    struct(
      nB.cast("long").as("n_blocks"),
      codeChars.as("code_chars"),
      when(n > 0, round(codeChars.cast("double") / n.cast("double"), 6))
        .otherwise(lit(0.0)).as("code_frac"),
      (when(nFences > 0, nFences).otherwise(lit(0)) - nB * 2 > 0)
        .as("dangling_fence"))
  }

  /** Per-document token Shannon entropy (nats) — the information-density
    * quality signal the repetition/compression features don't capture
    * (keyboard mash and boilerplate both have LOW token entropy at
    * normal dup-line ratios): H = −Σ_t p_t·ln(p_t) over the doc's token
    * distribution, plus the normalized form H/ln(n_distinct) ∈ [0, 1]
    * (1 = uniform usage; single-token docs → 0 by convention).
    *
    * Scale shape: ZERO shuffle — the counts are per-DOC, so they never
    * need an exchange: sort the token array in-row, run-length encode
    * via the run-start positions, and fold Σc·ln(c) over the run
    * lengths (H = ln(n) − Σc·ln(c)/n). The explode→groupBy(id, term)
    * form shuffled the distinct-pair stream twice (~550M rows at 20M
    * docs — 148.8 s, vs row-local O(L log L) per doc); this is a pure
    * projection that streams as-is. Zero-token docs are dropped (their
    * entropy is undefined), matching the exploded form.
    * Returns (id, n_tokens, n_distinct, entropy, entropy_norm). */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column): org.apache.spark.sql.DataFrame = {
    val toks = filter(split(lower(trim(text)), "\\s+"), t => t =!= lit(""))
    // each intermediate array is STAGED as a column: higher-order
    // functions are interpreted without common-subexpression
    // elimination, so inlining srt/starts/bounds into every consumer
    // re-sorts and re-filters PER ELEMENT ACCESS — combinatorial per-row
    // blowup (measured: the inlined form ran 31 cores for 20+ min at
    // 20M docs; staged, seconds). CollapseProject keeps non-cheap
    // multiply-referenced aliases staged.
    val srt = col("__srt")
    val n = size(srt)
    val starts = col("__starts")
    val bounds = col("__bounds")
    val h = log(n.cast("double")) -
      aggregate(col("__counts"), lit(0.0),
        (a, c) => a + c.cast("double") * log(c.cast("double"))) /
        n.cast("double")
    df.where(coalesce(size(toks), lit(0)) > 0)
      .select(col(id), array_sort(toks).as("__srt"))
      // 1-based run-start positions; the n > 0 filter above keeps
      // sequence(1, n) ascending
      .withColumn("__starts", filter(sequence(lit(1), n),
        i => i === 1 || element_at(srt, i) =!= element_at(srt, i - 1)))
      .withColumn("__bounds", concat(starts, array(n + 1)))
      .withColumn("__counts", transform(sequence(lit(1), size(starts)),
        j => element_at(bounds, j + 1) - element_at(bounds, j)))
      .select(col(id),
        n.cast("long").as("n_tokens"),
        size(starts).cast("long").as("n_distinct"),
        round(h, 6).as("entropy"),
        when(size(starts) > 1,
          round(h / log(size(starts).cast("double")), 6))
          .otherwise(lit(0.0)).as("entropy_norm"))
  }

  /** Length-sorted batch packing — the dynamic-batching prep step for
    * SFT/eval serving: documents sorted by token length (desc, id tie)
    * within a shard form fixed-`batchSize` batches, so each batch pads
    * to its own max length instead of the corpus max. Emits per doc the
    * batch id, the batch's pad-to length, and the doc's padding waste —
    * Σ pad_tokens over a batch is exactly the compute the sort saved
    * vs. arrival-order batching.
    *
    * Scale shape: the sort is a window WITHIN `shard` (a source/split/
    * bucket column — at 100 TB sorting is per-shard by construction, the
    * standard practice; a truly global sort would serialize). Two
    * windows on the same shard exchange: rank, then per-(shard, batch)
    * max. Returns df + (n_tokens, batch_id, pad_to, pad_tokens). */
  def lengthSortedBatches(df: org.apache.spark.sql.DataFrame, id: String,
      text: Column, shard: Column, batchSize: Int): org.apache.spark.sql.DataFrame = {
    require(batchSize >= 1, "batchSize must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val counted = df.withColumn("n_tokens", tokenCount(text).cast("long"))
      .withColumn("__shard", shard)
    val rank = row_number().over(
      Window.partitionBy(col("__shard"))
        .orderBy(col("n_tokens").desc, col(id).asc))
    val withBatch = counted.withColumn("batch_id",
      floor((rank - 1).cast("long") / batchSize).cast("long"))
    val wb = Window.partitionBy(col("__shard"), col("batch_id"))
    withBatch
      .withColumn("pad_to", max("n_tokens").over(wb))
      .withColumn("pad_tokens", col("pad_to") - col("n_tokens"))
      .drop("__shard")
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore & Lewis
    * 2010, "Intelligent Selection of Language Model Training Data"): per
    * doc, mean token log-probability under an IN-DOMAIN add-1 unigram LM
    * minus the same under the OUT-domain LM — positive scores mark
    * general-pool docs that look like the target domain. The classic
    * cheap domain-selection filter before training a real classifier.
    *
    * Both LMs smooth add-1 over the JOINT corpus vocabulary (V shared),
    * so their log-probs are comparable and no token is OOV to either.
    *
    * Scale shape: ONE tokenize pass; both models\' counts come from the
    * same token aggregation (in/out conditional sums — adding a model
    * adds a column, not a scan); one scalar totals row; one token-keyed
    * join back (AQE broadcasts the vocab when it fits) and one per-doc
    * aggregation. Returns (id, n_tokens, avg_logp_in, avg_logp_out,
    * ml_score); zero-token docs drop out. */
  def crossEntropyDiff(df: DataFrame, id: String, text: Column,
      inDomain: Column): DataFrame = {
    val toks = df
      .select(col(id), inDomain.as("__in"),
        explode(split(trim(text), "\\s+")).as("token"))
      .where(length(col("token")) > 0)
    val counts = toks.groupBy("token").agg(
      sum(when(col("__in"), 1L).otherwise(0L)).as("c_in"),
      sum(when(!col("__in"), 1L).otherwise(0L)).as("c_out"))
    val t = counts.agg(sum("c_in"), sum("c_out"), count(lit(1))).head()
    val (nIn, nOut, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    require(nIn > 0 && nOut > 0,
      "crossEntropyDiff: both domains need at least one token")
    val logp = counts.select(col("token"),
      log((col("c_in") + 1.0) / lit((nIn + v).toDouble)).as("__lp_in"),
      log((col("c_out") + 1.0) / lit((nOut + v).toDouble)).as("__lp_out"))
    toks.join(logp, "token")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        avg("__lp_in").as("avg_logp_in"),
        avg("__lp_out").as("avg_logp_out"))
      .withColumn("ml_score", col("avg_logp_in") - col("avg_logp_out"))
  }

  /** Deterministic WordPiece vocabulary fit (the BERT tokenizer family —
    * Wu et al. 2016; Devlin et al. 2019): top-`topWords` whole words by
    * (count desc, word asc) plus every character with corpus count ≥
    * `minCharCount` in both start ("c") and continuation ("##c") form.
    * Real deployments bring a pretrained vocab; this fit exists so the
    * encode is self-contained and replayable. Characters BELOW the
    * count floor are deliberately left out of the vocab, so rare-glyph
    * words exercise the [UNK] path. One word-count aggregation + one
    * bounded char rollup; the collect is ≤ topWords + |alphabet| rows. */
  def wordpieceVocabFit(df: DataFrame, text: Column, topWords: Int,
      minCharCount: Long): Seq[String] = {
    require(topWords >= 0 && topWords <= 65536, "topWords in [0, 65536]")
    val words = df
      .select(explode(split(trim(text), "\\s+")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds both the top-word and char rollups
    val top = words.orderBy(col("cnt").desc, col("w")).limit(topWords)
      .collect().map(_.getString(0)).toSeq
    val chars = words
      .select(explode(split(col("w"), "")).as("c"), col("cnt"))
      .where(length(col("c")) > 0)
      .groupBy("c").agg(sum("cnt").as("n"))
      .where(col("n") >= minCharCount)
      .orderBy("c")
      .collect().map(_.getString(0)).toSeq
    (top ++ chars ++ chars.map("##" + _)).distinct
  }

  /** Greedy longest-match-first WordPiece encode (the HuggingFace
    * WordpieceTokenizer contract): per word, repeatedly take the longest
    * vocab piece matching at the cursor ("##"-prefixed after the first);
    * if any position has NO match the WHOLE word becomes `unk` (one
    * token). Appends (wp_tokens, wp_n_tokens, wp_unk) to each row. Pure
    * per-partition map — the vocab rides the closure, no join, no
    * shuffle; streams as-is. */
  def wordpieceEncode(df: DataFrame, text: Column, vocab: Seq[String],
      unk: String = "[UNK]"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vocabSet = vocab.toSet
    val maxLen = if (vocab.isEmpty) 1 else vocab.map(_.length).max
    val withTxt = df.withColumn("__wp_txt", text)
    val idx = withTxt.schema.fieldIndex("__wp_txt")
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("wp_tokens", ArrayType(StringType, containsNull = false)),
      StructField("wp_n_words", LongType, nullable = false),
      StructField("wp_n_tokens", LongType, nullable = false),
      StructField("wp_n_unk_words", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    def encodeWord(w: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var start = 0
      while (start < w.length) {
        // longest candidate first; cap by the longest vocab entry
        var end = math.min(w.length, start + maxLen)
        var found: String = null
        while (found == null && end > start) {
          val sub = (if (start > 0) "##" else "") + w.substring(start, end)
          if (vocabSet(sub)) found = sub else end -= 1
        }
        if (found == null) return Array(unk)
        out += found
        start = end
      }
      out.toArray
    }
    withTxt.mapPartitions { rows =>
      rows.map { r =>
        val t = r.getString(idx)
        val ws: Array[String] =
          if (t == null) Array.empty
          else t.trim.split("\\s+").filter(_.nonEmpty)
        val encs = ws.map(encodeWord) // encode each word exactly once
        val toks = encs.flatten
        val nUnk = encs.count(e => e.length == 1 && e(0) == unk)
        Row.fromSeq(r.toSeq.dropRight(1) ++
          Seq[Any](toks, ws.length.toLong, toks.length.toLong, nUnk.toLong))
      }
    }(enc)
  }

  /** DuckDB twin of [[wordpieceEncode]] aggregated per doc: the fitted
    * vocab rides a literal VALUES table and the greedy cursor walk is
    * UNROLLED into one left-join stage per character position (a piece
    * consumes ≥ 1 char, so `maxWordLen` stages always finish) — the
    * unigramScoreSql discipline. Distinct words encode once; per-doc
    * counts come from joining the word list back. `docsSql` must yield
    * (doc_id, text). */
  def wordpieceEncodeSql(docsSql: String, vocab: Seq[String], unk: String,
      maxWordLen: Int): String = {
    require(maxWordLen >= 1 && maxWordLen <= 64, "maxWordLen in [1, 64]")
    def strLit(s: String) = "'" + s.replace("'", "''") + "'"
    val vocabVals = vocab.map { p =>
      val cont = p.startsWith("##")
      val raw = if (cont) p.drop(2) else p
      s"(${strLit(raw)}, $cont)"
    }.mkString(",\n|    ")
    val stages = (1 to maxWordLen).map { i =>
      val prev = s"st${i - 1}"
      s"""c$i AS (
         |  SELECT s.w, s.pos, s.ntok, s.unk, s.fin, v.raw,
         |    row_number() OVER (PARTITION BY s.w
         |      ORDER BY length(v.raw) DESC) AS rn
         |  FROM (SELECT *, (pos >= length(w) OR unk) AS fin FROM $prev) s
         |  LEFT JOIN vocab v
         |    ON NOT s.fin AND v.cont = (s.pos > 0)
         |      AND substr(s.w, s.pos + 1, length(v.raw)) = v.raw),
         |st$i AS (
         |  SELECT w,
         |    CASE WHEN fin THEN pos WHEN raw IS NULL THEN length(w)
         |      ELSE pos + length(raw) END AS pos,
         |    CASE WHEN fin THEN ntok WHEN raw IS NULL THEN 1
         |      ELSE ntok + 1 END AS ntok,
         |    CASE WHEN fin THEN unk ELSE raw IS NULL END AS unk
         |  FROM c$i WHERE rn = 1)""".stripMargin
    }.mkString(",\n|")
    s"""WITH vocab(raw, cont) AS (VALUES
       |    $vocabVals),
       |d AS ($docsSql),
       |words AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      x -> x <> '')) AS w
       |  FROM d),
       |wtab AS (SELECT DISTINCT w FROM words),
       |st0 AS (SELECT w, 0 AS pos, 0 AS ntok, false AS unk FROM wtab),
       |$stages,
       |res AS (SELECT w, ntok, unk FROM st$maxWordLen)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_unk_words
       |FROM words JOIN res USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }
}
