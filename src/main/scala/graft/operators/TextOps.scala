package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text-analysis operators for LLM training-data pipelines (builder
  * brief: language-ID, quality scoring, token counting, fingerprinting)
  * over the `documents` table. The reference treats payloads as opaque
  * bytes (kinesis.go:34); these are the content-aware operators a data
  * engine layered on that ingest path needs. All are pure Catalyst
  * expression pipelines (codegen'd, no UDFs) so they scale linearly and
  * partition-parallel at 100 TB.
  */
object TextOps {

  // Regex patterns shared with the DuckDB oracles (RE2) — restricted
  // to the common-behavior subset: literal classes, \s, \b,
  // alternation. Since r13 the alpha, BPE-ish, stopword and
  // punctuation counts run the native single-pass counters in
  // NativeTextCounts instead of the regex engine; their regex
  // spellings live in the oracles (and NativeTextCounts documents the
  // equivalence), so the hash gate re-proves it at every scale.
  private val WS = "\\s+"

  private val langMarkers = Seq(
    "en" -> "\\b(the|a|of|and|is)\\b",
    "es" -> "\\b(el|la|de|que|y)\\b",
    "fr" -> "\\b(le|les|des|et|un)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "zh" -> "(的|是|在)")

  /** Rename (idCol, textCol) → the canonical (doc_id, text) the
    * operator bodies use, so every public operator works on ANY corpus.
    */
  private def normalized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))

  // The Gopher quality-filter stopword set (Rae et al. 2021, §A1.1):
  // a document must contain at least two of these to pass.
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Token counting: whitespace tokens, alpha tokens, BPE-ish regex
    * tokens, average token length. Public df-in/df-out operator.
    */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    // Native single-pass counters (CharClassCount) instead of
    // size(regexp_extract_all(...)): the regex engine materialized
    // every match as a string just to count it — the whole cost of
    // this corpus-linear scan (r13, measured; NativeTextCounts has
    // the exact-equivalence argument, and the DuckDB oracle keeps the
    // regex spelling so the hash gate re-proves it at every scale).
    // The BPE-ish alternation [A-Za-z]+|[0-9]+|[^A-Za-z0-9\s] is the
    // sum of its three disjoint classes.
    normalized(docs, idCol, textCol)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), WS)).as("ws_tokens"),
        expr("char_class_count(text, 'alpha_runs')").as("alpha_tokens"),
        (expr("char_class_count(text, 'alpha_runs')") +
          expr("char_class_count(text, 'digit_runs')") +
          expr("char_class_count(text, 'punct_chars')")).as("bpe_tokens"),
        length(col("text")).as("n_chars_calc"))
      .withColumn("avg_token_len",
        round(col("n_chars_calc").cast("double") / col("ws_tokens"), 3))
  }

  /** Quality scoring: length / stopword / punctuation heuristics — the
    * standard pre-training corpus filters. Public df-in/df-out operator.
    */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    // Native counters for the two regex hot paths (see [[tokenStats]]
    // and NativeTextCounts): stop_hits' \b(...)\b alternation is a
    // whole-word count over maximal \w runs (WordListCount), and
    // punct_hits' negated class is a code-point class count.
    normalized(docs, idCol, textCol)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), WS)).as("n_words"),
        expr("word_list_count(lower(text), " +
          "array('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))")
          .as("stop_hits"),
        expr("char_class_count(text, 'punct_chars')").as("punct_hits"),
        length(col("text")).as("n_chars_calc"))
      .withColumn("stop_ratio", round(col("stop_hits").cast("double") / col("n_words"), 4))
      .withColumn("punct_ratio", round(col("punct_hits").cast("double") / col("n_chars_calc"), 4))
      .withColumn("quality_pass",
        col("n_words") >= 5 && col("n_words") <= 1000 && col("punct_ratio") < 0.1)
      .select("doc_id", "n_words", "stop_hits", "punct_hits", "stop_ratio",
        "punct_ratio", "quality_pass")
  }

  /** Language identification via marker-word n-gram counts with a
    * deterministic argmax (ties resolve in en>es>fr>de>zh order).
    * Public df-in/df-out operator: APPENDS `c_<lang>` counts and
    * `pred_lang` to the input, passing every input column through —
    * callers keep their own id/metadata columns without a re-join.
    */
  def languageId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    graft.functions.GraftExtensions.register(docs.sparkSession)
    // The four alphabetic marker sets are whole-word counts (native
    // WordListCount ≡ their \b(...)\b regexes — see NativeTextCounts);
    // zh's single-CJK-char alternation has no \b and keeps the regex.
    val withCounts = langMarkers.foldLeft(docs) { case (df, (lg, pat)) =>
      df.withColumn(s"c_$lg",
        if (lg == "zh") size(regexp_extract_all(lower(col(textCol)), lit(pat), lit(0)))
        else {
          val words = pat.stripPrefix("\\b(").stripSuffix(")\\b")
            .split('|').map(w => s"'$w'").mkString(", ")
          expr(s"word_list_count(lower(`$textCol`), array($words))")
        })
    }
    withCounts
      .withColumn("pred_lang",
        when(col("c_en") >= col("c_es") && col("c_en") >= col("c_fr") &&
          col("c_en") >= col("c_de") && col("c_en") >= col("c_zh"), "en")
          .when(col("c_es") >= col("c_fr") && col("c_es") >= col("c_de") &&
            col("c_es") >= col("c_zh"), "es")
          .when(col("c_fr") >= col("c_de") && col("c_fr") >= col("c_zh"), "fr")
          .when(col("c_de") >= col("c_zh"), "de")
          .otherwise("zh"))
  }

  /** Document fingerprinting: rolling word-shingle hashes, winnowed to
    * a min-hash fingerprint + distinct-shingle cardinality. Public
    * df-in/df-out operator.
    *
    * `hashExpr` is the per-shingle hash, a SQL expression over `sh`:
    * the default `xxhash64(sh)` is the production fast path (LongType
    * fingerprint); `md5(sh)` gives a hex-string fingerprint computable
    * identically by DuckDB — what the registered t04 query uses so the
    * driver's hash gate checks the whole pipeline end-to-end.
    */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", hashExpr: String = "xxhash64(sh)"): DataFrame =
    normalized(docs, idCol, textCol)
      .select(col("doc_id"), split(trim(lower(col("text"))), WS).as("tokens"))
      .filter(size(col("tokens")) >= 3)
      .withColumn("shingles", array_distinct(expr(
        "transform(sequence(1, size(tokens)-2), i -> " +
          "concat_ws(' ', element_at(tokens,i), element_at(tokens,i+1), element_at(tokens,i+2)))")))
      .select(col("doc_id"),
        expr(s"array_min(transform(shingles, sh -> $hashExpr))").as("fingerprint"),
        size(col("shingles")).as("n_shingles"))

  /** TF-IDF top terms per document — keyword extraction, the signal a
    * training-data pipeline uses for topic tagging and near-boilerplate
    * screening. Two map-side-combinable aggregates (term frequency per
    * (doc, token); document frequency per token), one shuffled join on
    * the token, and a per-doc window over at most vocabulary-per-doc
    * rows — no all-pairs anything, linear at any corpus size. The idf
    * is rounded to 6 decimals BEFORE the tf product so the score is
    * reproducible across engines (ln differs across libm
    * implementations only in the last ulp; df takes few distinct
    * values, so a 1e-6 grid collision is essentially impossible).
    * Output: (doc_id, tok, tf, df, score, rnk), top `k` per doc.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftExtensions.register(docs.sparkSession)
    val base = normalized(docs, idCol, textCol)
    // native byte-scan tokenizer over the PRE-LOWERED text ≡ the
    // oracle's regexp_extract_all(lower(text), '[a-z]+') + length > 3
    // filter, exactly: lower() first is load-bearing, not
    // belt-and-braces — a handful of non-ASCII letters lowercase INTO
    // ASCII (U+212A KELVIN → 'k'; U+0130 → 'i' + combining dot), so
    // scanning the raw bytes would delimit where the regex pipeline
    // continues a token (r13 review finding; AlphaTokens' scaladoc
    // carries the full argument and the spec pins the KELVIN case).
    // The regex engine was the tokenization's whole cost, as with the
    // r13 counter expressions.
    val toks = base
      .select(col("doc_id"),
        explode(expr("alpha_tokens(lower(text), 4)")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df counts the docs where the term OCCURS (tf > 0 — every tf row
    // by construction, so the value is unchanged). The tf reference is
    // load-bearing (r16): with the former count(lit(1)), per-branch
    // column pruning dropped `tf` from THIS branch's aggregate, making
    // the two tf subtrees non-identical — AQE could not reuse the
    // exchange and the corpus tokenize + (doc_id, tok) aggregate ran
    // TWICE per call (two separate ShuffleQueryStages in the executed
    // plan). Referencing tf keeps both branches on the byte-identical
    // subtree → one tokenize, one exchange, ReusedExchange for the
    // second consumer. The two-level aggregate (not a count window
    // over tok) stays: it is the skew-safe df shape — map-side
    // combine, no single hot-token window partition at corpus scale.
    val dfTab = tf.groupBy("tok")
      .agg(count(when(col("tf") > 0, lit(1))).as("df"))
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    tf.join(dfTab, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", round(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
      .withColumn("score", round(col("tf").cast("double") * col("idf"), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))))
      .filter(col("rnk") <= k)
      .select("doc_id", "tok", "tf", "df", "score", "rnk")
  }

  /** Unigram surprisal scoring — the language-model-perplexity quality
    * filter (CCNet-style) reduced to a self-estimated unigram model:
    * each document's average per-token surprisal −ln p(tok) under the
    * corpus's own token distribution. Low scores = made of very common
    * tokens (boilerplate); high scores = rare-token soup (noise).
    *
    * Cross-engine exactness: per-token surprisal is snapped to integer
    * MICRO-NATS (round(−ln p · 1e6) as a long) before the per-doc sum —
    * libm `ln` implementations differ in the last ulp and
    * double-summation order differs between engines, but integer sums
    * are exact, and the final (sum / n) / 1e6 is the same IEEE
    * operation sequence in both engines. Plan shape: two map-side
    * combinable aggregates (token counts; one scalar total), a
    * broadcast join of the tiny vocabulary onto the token stream, one
    * per-doc aggregate — linear, no windows, 100 TB-safe (a 1M-term
    * vocabulary is still broadcast-size).
    */
  def surprisalScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = normalized(docs, idCol, textCol)
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), WS)).as("tok"))
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = toks.agg(count(lit(1)).as("n_total"))
    val st = cnt.crossJoin(broadcast(total))
      .withColumn("st", expr(
        "CAST(round(-ln(cnt / CAST(n_total AS DOUBLE)) * 1000000) AS BIGINT)"))
      .select("tok", "st")
    toks.join(broadcast(st), "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("st").as("sum_st"))
      .withColumn("avg_surprisal",
        col("sum_st").cast("double") / col("n_toks") / lit(1000000.0))
      .select("doc_id", "n_toks", "sum_st", "avg_surprisal")
  }

  /** Repetition / boilerplate scoring: top-token ratio (most frequent
    * token's share) and type-token ratio per document — the signals a
    * training-data pipeline uses to drop degenerate repetitive docs.
    * Two-level aggregation, no window over the token stream. Public
    * df-in/df-out operator.
    */
  def repetitionScore(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    normalized(docs, idCol, textCol)
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), WS)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("max_c"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(col("max_c") / col("n_tokens"), 4).as("top_tok_ratio"),
        round(col("n_distinct") / col("n_tokens").cast("double"), 4).as("ttr"))

  /** Heuristic PII redaction — the scrub pass a training pipeline runs
    * before text ever reaches tokenization: emails, IPv4 addresses and
    * phone-like digit runs are replaced with typed placeholder tags,
    * and per-category match counts are kept so the pipeline can audit
    * redaction volume per source. A heuristic screen, not a compliance
    * guarantee — the patterns are the standard high-precision ones and
    * deliberately simple enough to behave identically under Java regex
    * and RE2 (no backreferences, no lookaround).
    *
    * Replacement order matters and is fixed: emails first (their local
    * parts contain digit runs), then IPv4 (dotted quads would
    * otherwise be half-eaten by the phone pattern), then phones.
    * Counts are measured on the RAW text per category.
    *
    * A pure codegen'd per-row map — zero shuffles, embarrassingly
    * parallel at any corpus size.
    *
    * Output: (doc_id, clean, n_emails, n_ips, n_phones).
    */
  def redactPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
    val phone = "\\+?\\d[\\d -]{7,}\\d"
    docs.select(col(idCol).as("doc_id"),
      regexp_replace(regexp_replace(regexp_replace(col(textCol),
        email, "<EMAIL>"), ipv4, "<IP>"), phone, "<PHONE>").as("clean"),
      regexp_count(col(textCol), lit(email)).cast("int").as("n_emails"),
      regexp_count(col(textCol), lit(ipv4)).cast("int").as("n_ips"),
      regexp_count(col(textCol), lit(phone)).cast("int").as("n_phones"))
  }

  // Registered queries are the public operators applied to the
  // `documents` test table (plus the gate's total-order sort, which a
  // library operator does not impose).
  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1 — the
    * published pre-training repetition/format filter): word-count
    * bounds, mean word length 3–10, symbol-to-word ratio (# and …),
    * bullet-line and ellipsis-line fractions, alphabetic-word fraction,
    * and the two-stopword floor. Output is one row per doc with every
    * signal exposed (so a pipeline can tune thresholds) plus the
    * conjunction `gopher_pass`. Pure higher-order-function expression
    * pipeline — single scan, codegen'd, no UDFs, no shuffle.
    */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val stops = GopherStops.map(s => s"'$s'").mkString(", ")
    val hashCnt = length(col("text")) -
      length(replace(col("text"), lit("#"), lit("")))
    // "..." count: the length delta is always a multiple of 3, so the
    // double division and the int cast are both exact.
    val ellCnt = ((length(col("text")) -
      length(replace(col("text"), lit("..."), lit("")))) / lit(3)).cast("int")
    normalized(docs, idCol, textCol)
      .select(col("doc_id"),
        split(trim(col("text")), WS).as("words"),
        split(col("text"), "\n").as("lines"),
        (hashCnt + ellCnt).as("n_symbols"))
      .select(
        col("doc_id"),
        size(col("words")).as("n_words"),
        expr("aggregate(words, 0L, (a, w) -> a + length(w))").as("__wlen"),
        size(expr("filter(words, w -> w rlike '[A-Za-z]')")).as("__alpha"),
        col("n_symbols"),
        size(col("lines")).as("n_lines"),
        size(expr("filter(lines, l -> ltrim(l) like '- %' or ltrim(l) like '* %')"))
          .as("__bullet"),
        size(expr("filter(lines, l -> rtrim(l) like '%...')")).as("__ell"),
        size(expr(s"filter(array($stops), sw -> array_contains(words, sw))"))
          .as("stop_count"))
      .withColumn("mean_word_len",
        round(col("__wlen").cast("double") / col("n_words"), 4))
      .withColumn("alpha_frac",
        round(col("__alpha").cast("double") / col("n_words"), 4))
      .withColumn("symbol_ratio",
        round(col("n_symbols").cast("double") / col("n_words"), 4))
      .withColumn("bullet_frac",
        round(col("__bullet").cast("double") / col("n_lines"), 4))
      .withColumn("ellipsis_frac",
        round(col("__ell").cast("double") / col("n_lines"), 4))
      .withColumn("gopher_pass",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_frac") < 0.9 && col("ellipsis_frac") < 0.3 &&
          col("alpha_frac") >= 0.8 && col("stop_count") >= 2)
      .select("doc_id", "n_words", "mean_word_len", "alpha_frac",
        "symbol_ratio", "n_lines", "bullet_frac", "ellipsis_frac",
        "stop_count", "gopher_pass")
  }

  /** Inverted-index build: token → document frequency + a bounded
    * posting sample (the `k` smallest doc ids, comma-joined). The
    * search/decontamination index shape, built scale-right: df is a
    * map-side-combinable count, and the postings are truncated to `k`
    * per token BEFORE any list materializes — a streaming row_number
    * window, never `collect_list` over an unbounded group, so a token
    * appearing in every document of a 100 TB corpus still costs O(k)
    * memory. One exploded-token shuffle feeds both aggregates; the
    * final join is co-partitioned on the token.
    */
  def invertedIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 10, minDf: Long = 3L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = normalized(docs, idCol, textCol)
      .select(col("doc_id"),
        explode(array_distinct(split(trim(lower(col("text"))), WS))).as("tok"))
    val dfCnt = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val heads = toks
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("tok").orderBy("doc_id")))
      .filter(col("__rn") <= k)
      .groupBy("tok")
      .agg(sort_array(collect_list(col("doc_id"))).as("__p"))
      .select(col("tok"),
        array_join(expr("transform(__p, x -> cast(x as string))"), ",")
          .as("postings"))
    dfCnt.join(heads, "tok").filter(col("df") >= minDf)
      .select("tok", "df", "postings")
  }

  /** Vocabulary typo-pair detection (the SymSpell/FastSS deletion-
    * variant scheme): token pairs at edit distance ≤ 1, the corpus-
    * cleaning primitive behind typo normalization and OCR-noise
    * screens. If ed(a, b) ≤ 1 then the sets {a} ∪ deletions(a) and
    * {b} ∪ deletions(b) intersect (delete the inserted char / either
    * substituted position), so candidates come from ONE equi-join on
    * the variant string and the exact `levenshtein` verify only prunes
    * collisions (e.g. transpositions at distance 2) — blocking is
    * LOSSLESS. Scale shape: the vocabulary is sublinear in corpus size
    * (Heaps' law) and variants are vocab × (len+1) short strings, so
    * the whole pipeline is two hash aggregates and one narrow
    * equi-join — the corpus itself is touched once, for term counts.
    * Tokens longer than `maxLen` are excluded (runaway concatenations
    * would fan out variants for no lexical value).
    *
    * Output: (tok_a, tok_b, tf_a, tf_b, dist) with dist ≤ 1; the term
    * frequencies are the typo signal (typos rare, corrections common).
    */
  def typoPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxLen: Int = 24): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val vocab = normalized(docs, idCol, textCol)
      .select(explode(split(trim(lower(col("text"))), WS)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .filter(length(col("tok")).between(1, maxLen))
    val vars = vocab.select(col("tok"), col("tf"), explode(expr(
      """array_distinct(concat(array(tok),
           transform(sequence(1, length(tok)), i ->
             concat(substring(tok, 1, i - 1),
                    substring(tok, i + 1, length(tok) - i)))))""")).as("v"))
    vars.as("a").join(vars.as("b"),
        col("a.v") === col("b.v") && col("a.tok") < col("b.tok"))
      .select(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"),
        col("a.tf").as("tf_a"), col("b.tf").as("tf_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")))
      .filter(col("dist") <= 1)
  }

  /** Adjacent token-pair frequencies — the statistic a BPE/WordPiece
    * trainer computes each merge round (most frequent adjacent symbol
    * pair), also the bigram table for phrase mining and collocation
    * scoring. Pairs are generated IN-ROW by zipping the token array
    * against itself shifted by one (`zip_with` over two `slice`s — a
    * plain codegen expression, linear in corpus tokens, empty for
    * single-token docs), so the only wide operations are the
    * map-side-combinable pair count and the top-k
    * (TakeOrderedAndProject — never a global sort). Ties at the k
    * boundary are broken by pair text, keeping the cut total-ordered.
    *
    * Output: (pair, n) — the k most frequent pairs.
    */
  def adjacentPairCounts(docs: DataFrame, textCol: String = "text",
      k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    docs
      .withColumn("__toks", split(trim(lower(col(textCol))), WS))
      .select(explode(expr(
        """zip_with(slice(__toks, 1, size(__toks) - 1),
                    slice(__toks, 2, size(__toks) - 1),
                    (a, b) -> concat(a, ' ', b))""")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(k)
  }

  /** Bigram surprisal scoring — [[surprisalScore]] upgraded from a
    * unigram to a bigram self-estimated model: each document's average
    * conditional surprisal −ln p(w₂|w₁) = ln c(w₁·) − ln c(w₁w₂) under
    * the corpus's own bigram distribution. The sharper LM-quality
    * filter: unigram scoring can't see scrambled word order, bigram
    * scoring penalizes it (every unseen-context transition is
    * max-surprisal), which is exactly the degenerate-interleaving
    * signal a training pipeline screens for.
    *
    * Context counts c(w₁·) are derived FROM the bigram table (a second
    * tiny aggregate over it), not a rescan of the corpus; the model
    * joins back onto the per-doc bigram stream by pair string. Same
    * integer micro-nat snapping as t07: both log terms snap to the
    * 1e-6 grid separately, the difference and per-doc sum are exact
    * longs, and the closing two divisions are identical IEEE ops in
    * any engine. Docs with fewer than 2 tokens have no bigrams and
    * drop out.
    *
    * Scale shape (re-planned in r13 — VERDICT item 3 flagged t13 as
    * the text family's steepest sf1 scaler at 5.4×): the model join
    * is HINTED broadcast. The static planner can't size a
    * twice-aggregated subtree, so un-hinted it sort-merge-joins —
    * shuffling every bigram OCCURRENCE (corpus-scale, the t13 probe
    * measured 3.1× end-to-end on that one exchange at sf1) to meet a
    * model that is bigram-TYPE-scale: Heaps-law sublinear, the same
    * vocabulary-sized-table bound as the t10/t11 vocab broadcasts.
    * The hint keeps the per-occurrence stream zero-exchange into its
    * final partial agg. For a corpus whose bigram-type table outgrows
    * executor memory, drop the hint and take the shuffle — the
    * occurrence side is then 100× the type side anyway.
    *
    * Output: (doc_id, n_bigrams, sum_st, avg_surprisal).
    */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pairs = normalized(docs, idCol, textCol)
      .withColumn("__toks", split(trim(lower(col("text"))), WS))
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(__toks, 1, size(__toks) - 1),
                    slice(__toks, 2, size(__toks) - 1),
                    (a, b) -> concat(a, ' ', b))""")).as("pr"))
    // (r16 probe, kept OUT: routing BOTH consumers through one
    // (pr, doc_id) pre-aggregate would tokenize once instead of twice,
    // but it REPLACES the second tokenize — a zero-exchange map stage —
    // with a full shuffle of the per-doc bigram relation plus a second
    // exchange into the doc aggregate; measured 1.78 → 2.04 s at sf0.1
    // (OrderCostProbe@059cb1a, interleaved best-of-3). The two-pass shape
    // keeps the occurrence stream exchange-free end to end: pass 1
    // partial-aggs into the vocabulary-sized model, pass 2 joins the
    // broadcast model and partial-aggs by doc — tokenize is cheap CPU,
    // shuffles are the scarce resource, here AND at 100 TB.)
    val pc = pairs.groupBy("pr").agg(count(lit(1)).as("cp"))
    val cc = pc.withColumn("w1", substring_index(col("pr"), " ", 1))
      .groupBy("w1").agg(sum("cp").as("cw"))
    val model = pc.withColumn("w1", substring_index(col("pr"), " ", 1))
      .join(cc, "w1")
      .withColumn("st", expr(
        """CAST(round(ln(cw) * 1000000) AS BIGINT)
           - CAST(round(ln(cp) * 1000000) AS BIGINT)"""))
      .select("pr", "st")
    pairs.join(broadcast(model), "pr")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("st").as("sum_st"))
      .withColumn("avg_surprisal",
        col("sum_st").cast("double") / col("n_bigrams") / lit(1000000.0))
      .select("doc_id", "n_bigrams", "sum_st", "avg_surprisal")
  }

  /** N-gram novelty scoring: per document, the fraction of its
    * distinct n-grams that appear NOWHERE else in the corpus (df = 1)
    * — high novelty marks genuinely original text, low novelty marks
    * template/boilerplate recombination, and the score is the standard
    * cheap memorization-risk proxy (a doc whose grams all recur is
    * compressible; one full of unique grams isn't). Shares the dedup
    * family's n-gram generator (in-row distinct grams, 64-bit hashes —
    * the registered query reuses the cached shingle artifact), so the
    * cost is one df aggregate + one co-partitioned join-back on the
    * gram hash; the ratio is a single IEEE division of exact longs.
    *
    * Output: (doc_id, n_grams, n_novel, novelty) — docs shorter than
    * n tokens have no grams and are absent.
    */
  def ngramNovelty(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    noveltyOf(Dedup.ngramHashesOf(normalized(docs, idCol, textCol), n))

  private[operators] def noveltyOf(ex: DataFrame): DataFrame = {
    val dfTab = ex.groupBy("h").agg(count(lit(1)).as("df"))
    ex.join(dfTab, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own
    * top-`vocabK` token vocabulary (the [[zipfTop]] head): the
    * fraction of a document's token OCCURRENCES a `vocabK`-entry
    * tokenizer would map to UNK — [[zipfTop]] answers "how big must
    * the vocabulary be", this answers "which documents does a given
    * size fail on" (high-OOV docs are the rare-token tail a small
    * vocabulary garbles; also the standard per-doc domain-shift
    * signal against a FIXED external vocab, which callers can pass by
    * building `vocab` themselves upstream).
    *
    * Scale shape: the vocabulary is ≤ `vocabK` rows — TakeOrdered off
    * the token counts, then BROADCAST to the token stream; the rest
    * is one explode into one map-side-combinable per-doc aggregate.
    * The corpus is scanned twice (vocab build, scoring) and shuffled
    * at token-count granularity once; at ingest the vocab is a cached
    * artifact and scoring is a single scan. The rate is one IEEE
    * division of exact longs.
    *
    * Output: (doc_id, n_toks, n_oov, oov_rate).
    */
  def oovRate(docs: DataFrame, vocabK: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(vocabK >= 1, s"vocabK must be >= 1, got $vocabK")
    val toks = normalized(docs, idCol, textCol)
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), WS)).as("tok"))
    val vocab = zipfTop(docs, vocabK, idCol, textCol)
      .select(col("tok"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_toks").cast("double"))
  }

  /** Zipf / vocabulary-coverage curve: the k most frequent tokens with
    * rank, count, and CUMULATIVE corpus share — the statistic behind
    * tokenizer-vocabulary sizing ("how many types cover 95% of
    * tokens") and Zipf-fit sanity checks on a new corpus. The running
    * sum is a single-partition window, but over the TOP-K ROWS ONLY
    * (the limit runs first, as TakeOrderedAndProject) — bounded by
    * construction, never by vocabulary or corpus size; the corpus
    * itself flows through one map-side-combinable count. The share
    * division is one IEEE op on exact longs (engine-identical).
    *
    * Output: (rnk, tok, cnt, cum_cnt, cum_share), rank ties broken by
    * token text.
    */
  def zipfTop(docs: DataFrame, k: Int = 100, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.orderBy(desc("cnt"), col("tok"))
    val cnt = normalized(docs, idCol, textCol)
      .select(explode(split(trim(lower(col("text"))), WS)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = cnt.agg(sum("cnt").as("n_total"))
    cnt.orderBy(desc("cnt"), col("tok")).limit(k)
      .withColumn("rnk", row_number().over(w))
      .withColumn("cum_cnt",
        sum("cnt").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .crossJoin(broadcast(total))
      .withColumn("cum_share",
        col("cum_cnt").cast("double") / col("n_total").cast("double"))
      .select("rnk", "tok", "cnt", "cum_cnt", "cum_share")
  }

  // Registered per-document projections sort the RAW scan and project
  // AFTER the sort (r16): a global orderBy over the projection makes
  // RangePartitioning's bounds-sampling pass execute the whole
  // projection once BEFORE the shuffle executes it again — the heavy
  // per-row work (native counters, regex, shingling) ran twice per
  // query (t08 measured 1.2 s → 0.57 s at sf0.1, OrderCostProbe@059cb1a).
  // Same rows, same total order: the ops are row-wise and
  // order-preserving, doc_id is unique.
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t01_text_tokens" -> ((s, dir) =>
      tokenStats(documents(s, dir).orderBy("doc_id"))),

    "t02_text_quality" -> ((s, dir) =>
      qualityScore(documents(s, dir).orderBy("doc_id"))),

    "t03_text_langid" -> ((s, dir) =>
      languageId(documents(s, dir).orderBy("doc_id")) // pass-through keeps doc_id/lang: one scan
        .withColumn("lang_match", col("pred_lang") === col("lang"))
        .select("doc_id", "lang", "pred_lang", "lang_match",
          "c_en", "c_es", "c_fr", "c_de", "c_zh")),

    "t04_text_fingerprint" -> ((s, dir) =>
      fingerprint(documents(s, dir).orderBy("doc_id"), hashExpr = "md5(sh)")),

    "t05_text_repetition" -> ((s, dir) =>
      repetitionScore(documents(s, dir)).orderBy("doc_id")),

    "t06_text_tfidf" -> ((s, dir) =>
      tfidfTopTerms(documents(s, dir), k = 3).orderBy("doc_id", "rnk")),

    "t07_text_surprisal" -> ((s, dir) =>
      surprisalScore(documents(s, dir)).orderBy("doc_id")),

    // The corpus is digit-free word salad, so deterministic PII is
    // injected into every third document IN THE QUERY (mirrored in the
    // oracle): one email, one phone, one IPv4 — exercising all three
    // patterns, the replacement order, and the untouched pass-through.
    "t08_pii_redact" -> ((s, dir) => {
      val injected = documents(s, dir).orderBy("doc_id").withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@example.com or +1 555 123 4567 at 10.0.0."),
            pmod(col("doc_id"), lit(256)).cast("string")))
          .otherwise(col("text")))
      redactPii(injected) // sorted below the injection (see queries note)
    }),

    // The corpus is single-line digit-free word salad, so the line- and
    // symbol-shaped Gopher signals are exercised by injecting bullets,
    // ellipsis lines, and # runs into slices of the corpus IN THE QUERY
    // (mirrored CASE-for-CASE in the oracle; branch order matters for
    // doc_ids divisible by several moduli). The untouched docs exercise
    // the word-count / word-length / stopword rules on real data.
    "t09_gopher_rules" -> ((s, dir) => {
      val injected = documents(s, dir).orderBy("doc_id").withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"),
            lit("\n- bullet one\n- bullet two\n* bullet three")))
          .when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit("\nto be continued...\nand then...")))
          .when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" ## ## ## ## ## ##")))
          .otherwise(col("text")))
      gopherRules(injected) // sorted below the injection (see queries note)
    }),

    "t10_inverted_index" -> ((s, dir) =>
      invertedIndex(documents(s, dir), k = 10, minDf = 3L).orderBy("tok")),

    // The corpus vocabulary has no natural 1-edit pairs (verified), so
    // three deletion-typos of real vocabulary words are injected into
    // every 25th document IN THE QUERY (mirrored in the oracle). The
    // oracle computes the ALL-PAIRS levenshtein relation over the
    // vocabulary, so the hash-matched gate also proves the deletion-
    // variant blocking is lossless.
    "t11_typo_pairs" -> ((s, dir) => {
      val injected = documents(s, dir).withColumn("text",
        when(pmod(col("doc_id"), lit(25)) === 0,
          concat(col("text"), lit(" batc strea filte")))
          .otherwise(col("text")))
      typoPairs(injected).orderBy("tok_a", "tok_b")
    }),

    // Top-20 adjacent token pairs over the corpus — the BPE merge-round
    // statistic via [[adjacentPairCounts]].
    "t12_adjacent_pairs" -> ((s, dir) =>
      adjacentPairCounts(documents(s, dir), k = 20)),

    // Bigram LM cross-entropy per document via [[bigramSurprisal]].
    "t13_bigram_surprisal" -> ((s, dir) =>
      bigramSurprisal(documents(s, dir)).orderBy("doc_id")),

    // Vocabulary coverage curve via [[zipfTop]] — the top-100 tokens'
    // cumulative corpus share.
    "t14_zipf_coverage" -> ((s, dir) =>
      zipfTop(documents(s, dir), k = 100).orderBy("rnk")),

    // N-gram novelty via [[ngramNovelty]], reusing the dedup family's
    // cached shingle artifact (same 3-gram hashes d03/d06 block on).
    "t15_ngram_novelty" -> ((s, dir) =>
      noveltyOf(Dedup.shingleHashes(s, dir)).orderBy("doc_id")),

    // OOV rate against the fixture corpus's top-10 tokens (the
    // fixture vocabulary is small, so k=10 leaves a real OOV tail).
    "t16_oov_rate" -> ((s, dir) =>
      oovRate(documents(s, dir), vocabK = 10).orderBy("doc_id"))
  )

  def oracles: Map[String, String] = Map(
    "t01_text_tokens" ->
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INTEGER) AS alpha_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens,
         CAST(length(text) AS INTEGER) AS n_chars_calc,
         ROUND(CAST(length(text) AS DOUBLE) / len(string_split_regex(trim(text), '\s+')), 3) AS avg_token_len
         FROM documents ORDER BY doc_id""",

    "t02_text_quality" ->
      """SELECT doc_id, n_words, stop_hits, punct_hits,
         ROUND(CAST(stop_hits AS DOUBLE) / n_words, 4) AS stop_ratio,
         ROUND(CAST(punct_hits AS DOUBLE) / n_chars_calc, 4) AS punct_ratio,
         (n_words >= 5 AND n_words <= 1000
          AND ROUND(CAST(punct_hits AS DOUBLE) / n_chars_calc, 4) < 0.1) AS quality_pass
         FROM (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_words,
             CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b')) AS INTEGER) AS stop_hits,
             CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INTEGER) AS punct_hits,
             CAST(length(text) AS INTEGER) AS n_chars_calc
           FROM documents) x
         ORDER BY doc_id""",

    "t03_text_langid" ->
      """SELECT doc_id, lang, pred_lang, pred_lang = lang AS lang_match,
         c_en, c_es, c_fr, c_de, c_zh FROM (
           SELECT doc_id, lang, c_en, c_es, c_fr, c_de, c_zh,
             CASE
               WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de AND c_en >= c_zh THEN 'en'
               WHEN c_es >= c_fr AND c_es >= c_de AND c_es >= c_zh THEN 'es'
               WHEN c_fr >= c_de AND c_fr >= c_zh THEN 'fr'
               WHEN c_de >= c_zh THEN 'de'
               ELSE 'zh' END AS pred_lang
           FROM (
             SELECT doc_id, lang,
               CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|is)\b')) AS INTEGER) AS c_en,
               CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y)\b')) AS INTEGER) AS c_es,
               CAST(len(regexp_extract_all(lower(text), '\b(le|les|des|et|un)\b')) AS INTEGER) AS c_fr,
               CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS INTEGER) AS c_de,
               CAST(len(regexp_extract_all(lower(text), '(的|是|在)')) AS INTEGER) AS c_zh
             FROM documents) y) z
         ORDER BY doc_id""",

    "t05_text_repetition" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
         agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                        CAST(COUNT(*) AS BIGINT) AS n_distinct,
                        MAX(c) AS max_c
                 FROM cnt GROUP BY doc_id)
         SELECT doc_id, n_tokens, n_distinct,
           ROUND(max_c / n_tokens, 4) AS top_tok_ratio,
           ROUND(n_distinct / CAST(n_tokens AS DOUBLE), 4) AS ttr
         FROM agg ORDER BY doc_id""",

    // idf is rounded to 6 decimals before the tf product in BOTH
    // engines — see tfidfTopTerms's scaladoc for why that makes the
    // score cross-engine exact.
    "t06_text_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
           FROM documents),
         ft AS (SELECT doc_id, tok, COUNT(*) AS tf
                FROM toks WHERE length(tok) > 3 GROUP BY 1, 2),
         dfx AS (SELECT tok, COUNT(*) AS df FROM ft GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, ft.tok, tf, df,
                  ROUND(CAST(tf AS DOUBLE) *
                        ROUND(ln((n_docs + 1.0) / (df + 1.0)), 6), 4) AS score
                FROM ft JOIN dfx ON ft.tok = dfx.tok, n),
         rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok) AS rnk FROM sc)
         SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           score, CAST(rnk AS INTEGER) AS rnk
         FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""",

    "t04_text_fingerprint" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tokens
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tokens)-2),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingles
           FROM docs WHERE len(tokens) >= 3)
         SELECT doc_id,
           list_min(list_transform(shingles, s -> md5(s))) AS fingerprint,
           CAST(len(shingles) AS INTEGER) AS n_shingles
         FROM sh ORDER BY doc_id""",

    // per-token surprisal snapped to integer micro-nats before the
    // per-doc sum — see surprisalScore's scaladoc for why that makes
    // the average cross-engine exact
    "t07_text_surprisal" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         cnt AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_total FROM toks),
         st AS (SELECT tok,
                  CAST(round(-ln(cnt / CAST(n_total AS DOUBLE)) * 1000000) AS BIGINT) AS st
                FROM cnt, n)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(st) AS BIGINT) AS sum_st,
           CAST(SUM(st) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_surprisal
         FROM toks JOIN st USING (tok)
         GROUP BY doc_id ORDER BY doc_id""",

    "t08_pii_redact" ->
      """WITH inj AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1 555 123 4567 at 10.0.0.'
                    || CAST(doc_id % 256 AS VARCHAR)
             ELSE text END AS text
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS clean,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ips,
           CAST(len(regexp_extract_all(text,
             '\+?\d[\d -]{7,}\d')) AS INTEGER) AS n_phones
         FROM inj ORDER BY doc_id""",

    // Injection CASE mirrors the Spark query branch-for-branch; chr(10)
    // is the same \n Spark's lit embeds.
    "t09_gopher_rules" ->
      """WITH inj AS (
           SELECT doc_id,
             CASE
               WHEN doc_id % 3 = 0 THEN text || chr(10) || '- bullet one'
                 || chr(10) || '- bullet two' || chr(10) || '* bullet three'
               WHEN doc_id % 5 = 0 THEN text || chr(10) || 'to be continued...'
                 || chr(10) || 'and then...'
               WHEN doc_id % 7 = 0 THEN text || ' ## ## ## ## ## ##'
               ELSE text END AS text
           FROM documents),
         base AS (
           SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS words,
             string_split(text, chr(10)) AS lines,
             (length(text) - length(replace(text, '#', '')))
               + CAST((length(text) - length(replace(text, '...', ''))) / 3
                   AS INTEGER) AS n_symbols
           FROM inj),
         m AS (
           SELECT doc_id,
             CAST(len(words) AS INTEGER) AS n_words,
             list_aggregate(list_transform(words, w -> length(w)), 'sum')
               AS wlen,
             CAST(len(list_filter(words,
               w -> regexp_matches(w, '[A-Za-z]'))) AS INTEGER) AS alpha,
             n_symbols,
             CAST(len(lines) AS INTEGER) AS n_lines,
             CAST(len(list_filter(lines, l -> ltrim(l) LIKE '- %'
               OR ltrim(l) LIKE '* %')) AS INTEGER) AS bullet,
             CAST(len(list_filter(lines,
               l -> rtrim(l) LIKE '%...')) AS INTEGER) AS ell,
             CAST(len(list_filter(
               ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
               sw -> list_contains(words, sw))) AS INTEGER) AS stop_count
           FROM base),
         r AS (
           SELECT doc_id, n_words,
             ROUND(CAST(wlen AS DOUBLE) / n_words, 4) AS mean_word_len,
             ROUND(CAST(alpha AS DOUBLE) / n_words, 4) AS alpha_frac,
             ROUND(CAST(n_symbols AS DOUBLE) / n_words, 4) AS symbol_ratio,
             n_lines,
             ROUND(CAST(bullet AS DOUBLE) / n_lines, 4) AS bullet_frac,
             ROUND(CAST(ell AS DOUBLE) / n_lines, 4) AS ellipsis_frac,
             stop_count
           FROM m)
         SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio,
           n_lines, bullet_frac, ellipsis_frac, stop_count,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio < 0.1
            AND bullet_frac < 0.9 AND ellipsis_frac < 0.3
            AND alpha_frac >= 0.8 AND stop_count >= 2) AS gopher_pass
         FROM r ORDER BY doc_id""",

    "t10_inverted_index" ->
      """WITH toks AS (
           SELECT DISTINCT doc_id, tok FROM (
             SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
             FROM documents) x),
         dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
                 FROM toks GROUP BY tok),
         heads AS (
           SELECT tok, string_agg(CAST(doc_id AS VARCHAR), ','
                    ORDER BY doc_id) AS postings
           FROM (SELECT tok, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
                 FROM toks) y
           WHERE rn <= 10 GROUP BY tok)
         SELECT dfc.tok, dfc.df, heads.postings
         FROM dfc JOIN heads ON dfc.tok = heads.tok
         WHERE df >= 3 ORDER BY dfc.tok""",

    // ALL-PAIRS ground truth (no blocking): matching the Spark result
    // proves the deletion-variant candidate join loses nothing.
    "t11_typo_pairs" ->
      """WITH inj AS (
           SELECT CASE WHEN doc_id % 25 = 0
                  THEN text || ' batc strea filte' ELSE text END AS text
           FROM documents),
         toks AS (SELECT unnest(string_split_regex(trim(lower(text)),
                    '\s+')) AS tok FROM inj),
         vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks
                   GROUP BY tok
                   HAVING length(tok) BETWEEN 1 AND 24)
         SELECT a.tok AS tok_a, b.tok AS tok_b, a.tf AS tf_a, b.tf AS tf_b,
           CAST(levenshtein(a.tok, b.tok) AS INTEGER) AS dist
         FROM vocab a JOIN vocab b ON a.tok < b.tok
         WHERE levenshtein(a.tok, b.tok) <= 1
         ORDER BY tok_a, tok_b""",

    // 1-based list indexing; range(2, len+1) is empty for one-token
    // docs, matching the Spark zip_with-of-slices generator.
    "t12_adjacent_pairs" ->
      """WITH t AS (
           SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         p AS (
           SELECT unnest(list_transform(range(2, len(toks) + 1),
             i -> toks[i - 1] || ' ' || toks[i])) AS pair
           FROM t)
         SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
         FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",

    // Same micro-nat grid as t07: ln c(w1·) and ln c(w1w2) snap to the
    // 1e-6 grid separately; sums are exact longs.
    "t13_bigram_surprisal" ->
      """WITH t AS (
           SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents),
         p AS (
           SELECT doc_id, unnest(list_transform(range(2, len(toks) + 1),
             i -> toks[i - 1] || ' ' || toks[i])) AS pr
           FROM t),
         pc AS (SELECT pr, COUNT(*) AS cp FROM p GROUP BY pr),
         cc AS (SELECT split_part(pr, ' ', 1) AS w1, SUM(cp) AS cw
                FROM pc GROUP BY 1),
         m AS (SELECT pr, CAST(round(ln(cw) * 1000000) AS BIGINT)
                 - CAST(round(ln(cp) * 1000000) AS BIGINT) AS st
               FROM pc JOIN cc ON split_part(pc.pr, ' ', 1) = cc.w1),
         d AS (SELECT p.doc_id, m.st FROM p JOIN m ON p.pr = m.pr)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(st) AS BIGINT) AS sum_st,
           CAST(SUM(st) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_surprisal
         FROM d GROUP BY doc_id ORDER BY doc_id""",

    // Exact-long cumulative counts; the one division is a single IEEE
    // op on identical operands.
    "t14_zipf_coverage" ->
      """WITH t AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM t GROUP BY tok),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM c),
         k AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 100),
         r AS (SELECT tok, cnt,
                 CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INTEGER) AS rnk,
                 CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
               FROM k)
         SELECT rnk, tok, cnt, cum_cnt,
           CAST(cum_cnt AS DOUBLE) / CAST(n_total AS DOUBLE) AS cum_share
         FROM r CROSS JOIN tot ORDER BY rnk""",

    // df over gram STRINGS — hash-matching the Spark side's 64-bit
    // gram hashes also re-proves the hash family collision-free on
    // this corpus (the d03 gate's argument).
    "t15_ngram_novelty" ->
      """WITH docs AS (
           SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS tokens
           FROM documents),
         sh AS (
           SELECT doc_id, list_distinct(list_transform(
             generate_series(1, len(tokens) - 2),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
             AS shingles
           FROM docs WHERE len(tokens) >= 3),
         ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         df AS (SELECT s, COUNT(*) AS df FROM ex GROUP BY s)
         SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS novelty
         FROM ex e JOIN df ON e.s = df.s
         GROUP BY e.doc_id ORDER BY e.doc_id""",

    // Vocabulary = t14's top-k head (same count-desc, token tiebreak);
    // the rate is one IEEE division of exact longs.
    "t16_oov_rate" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)),
             '\s+')) AS tok
           FROM documents),
         cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
         vocab AS (SELECT tok FROM cnt ORDER BY cnt DESC, tok LIMIT 10)
         SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
         FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
         GROUP BY t.doc_id ORDER BY t.doc_id"""
  )
}
