package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (north-star
  * extensions; BASELINE.json). All pure Column expressions — whole-stage
  * codegen end to end, narrow (no shuffle), so they stream over 100 TB of
  * documents at scan speed with filters/pruning pushed to Parquet.
  */
object TextOps {

  /** Whitespace tokenization. `split` on \s+ after trim — the baseline
    * tokenizer; see `bpeishTokenCount` for the regex-piece variant. */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(tokens(text)))

  /** BPE-ish token estimate: counts regex pieces (word fragments of ≤4
    * chars, numbers, punctuation) the way byte-pair tokenizers tend to cut —
    * a deterministic, dependency-free stand-in for a real BPE vocab. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]"), lit(0)))

  /** English-ish stopwords used by the quality heuristics. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on",
    "for", "with", "as", "at", "by", "be", "this", "that", "are", "was")

  /** Quality-score feature block (length / punctuation / stopword ratios) —
    * the standard pre-training quality filters. Returns a struct column.
    * Hot-loop discipline: stopword counting is a native set-probe
    * expression and summed token length is `length(concat_ws("", toks))`
    * — no interpreted per-token lambdas (those cost ~2 ms/doc for this
    * stack). */
  def qualityFeatures(text: Column): Column = {
    val toks = tokens(text)
    val nTok = when(length(trim(text)) === 0, 0).otherwise(size(toks))
    val nChars = length(text)
    val nPunct = length(text) - length(regexp_replace(text,
      "[!-/:-@\\[-`{-~]", ""))
    val nStop = graft.expressions.TextExpressions.countInSet(
      toks, Stopwords, lowercase = true)
    val meanWordLen = when(nTok === 0, 0.0)
      .otherwise(length(concat_ws("", toks)).cast("double") / nTok)
    struct(
      nChars.as("n_chars"),
      nTok.as("n_tokens"),
      (nPunct.cast("double") / greatest(nChars, lit(1))).as("punct_ratio"),
      (nStop.cast("double") / greatest(nTok, lit(1))).as("stopword_ratio"),
      meanWordLen.as("mean_word_len"))
  }

  /** Composite quality score in [0,1]: fraction of passed filters (length in
    * range, low punctuation, has stopwords, sane word length) — the
    * Gopher-rules shape. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val checks = Seq(
      f("n_tokens") >= 10 && f("n_tokens") <= 100000,
      f("punct_ratio") <= 0.2,
      f("stopword_ratio") >= 0.01,
      f("mean_word_len") >= 2 && f("mean_word_len") <= 12)
    checks.map(c => when(c, 1.0).otherwise(0.0))
      .reduce(_ + _) / checks.length.toDouble
  }

  /** Canonical text normalization (the C4/CCNet cleanup pass, and the
    * named form of the ASCII-projection idiom the replayable-hash
    * operators inline): strip control characters, optionally project
    * to printable ASCII, collapse whitespace runs to single spaces,
    * trim, lowercase. Pure codegen'd regexp chain — RE2-portable
    * patterns so an external engine replays the output verbatim. */
  def normalize(text: Column, asciiOnly: Boolean = true,
      lowercase: Boolean = true): Column = {
    val noCtl = regexp_replace(text, "[\\x00-\\x08\\x0e-\\x1f\\x7f]", "")
    val projected =
      if (asciiOnly) regexp_replace(noCtl, "[^\\x20-\\x7e\\s]", "")
      else noCtl
    val collapsed = trim(regexp_replace(projected, "\\s+", " "))
    if (lowercase) lower(collapsed) else collapsed
  }

  /** Unicode NFC canonical composition (UAX #15) — the codepoint-level
    * complement to [[normalize]]'s byte-level cleanup. Decomposed
    * sequences (`e` + U+0301) and their composed forms (U+00E9) are
    * different bytes but the same text; NFC makes them identical BEFORE
    * any fingerprint, so exact dedup, content-hash splits and vocab
    * fits stop treating encoding variants as distinct documents. Native
    * codegen'd expression ([[graft.expressions.NfcNormalizeExpr]]),
    * zero exchanges; replayable externally (DuckDB `nfc_normalize`). */
  def nfcNormalize(text: Column): Column =
    graft.expressions.TextExpressions.nfcNormalize(text)

  /** HTML → text extraction — the WET/boilerplate-strip stage that
    * precedes every other text operator when the corpus is a web crawl
    * (Common Crawl WARC→WET, C4 §2.1, RefinedWeb §3.1). A pure narrow
    * RE2-portable chain (no lookaround, non-greedy spans only), so it
    * runs in whole-stage codegen AND replays verbatim in an external
    * SQL engine:
    *
    *  1. drop `<script>`/`<style>` ELEMENTS whole (their text is code,
    *     not content) and `<!-- -->` comments;
    *  2. strip remaining tags to a space (word boundaries survive
    *     `<p>foo</p><p>bar</p>`) — a tag must open with a letter, `/`,
    *     or `!` (`</?[A-Za-z]` / `<!`), so prose like `x < 5 and y > 2`
    *     is NOT a tag and survives;
    *  3. decode the five XML entities + `&nbsp;` — `&amp;` LAST, the
    *     single-pass order that leaves double-escaped text
    *     (`&amp;lt;`) correctly one-level decoded;
    *  4. collapse whitespace and trim.
    *
    * Malformed fragments degrade safely: an unclosed `<script` with no
    * terminator keeps its (unextractable) tail, an unclosed `<` with no
    * `>` survives as literal text — both are what grep-based WET
    * extractors do. */
  def extractHtmlText(html: Column): Column = {
    val noScript =
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[/!]?[A-Za-z][^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from),
        lit(to)) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Gopher-style document filter (Rae et al., arXiv:2112.11446, table
    * A1 adapted to this engine's signals): the named per-rule booleans
    * AND their conjunction, so downstream can both filter (`keep`) and
    * audit per-rule rejection rates — the form curation reports need.
    * One narrow pass composing [[qualityFeatures]] +
    * [[repetitionSignals]]. */
  def gopherFilter(text: Column): Column = {
    val f = qualityFeatures(text)
    val r = repetitionSignals(text)
    val rules = Seq(
      "ok_n_tokens" ->
        (f("n_tokens") >= 10 && f("n_tokens") <= 100000),
      "ok_mean_word_len" ->
        (f("mean_word_len") >= 2 && f("mean_word_len") <= 12),
      "ok_stopwords" -> (f("stopword_ratio") >= 0.01),
      "ok_punct" -> (f("punct_ratio") <= 0.2),
      "ok_top_bigram" -> (r("top_bigram_frac") <= 0.2),
      "ok_dup_trigram" -> (r("dup_trigram_frac") <= 0.3))
    struct(rules.map { case (n, c) => c.as(n) } :+
      rules.map(_._2).reduce(_ && _).as("keep"): _*)
  }

  /** Language-ID by stopword-set voting: score each candidate language by
    * the fraction of tokens in its tiny stopword set; pick the argmax,
    * 'und' when nothing matches. An n-gram-free heuristic that is pure
    * Catalyst (a real model would be a broadcast n-gram table join). */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "有", "他"))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val n = greatest(size(toks), lit(1)).cast("double")
    val scored = LangStopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(
        (graft.expressions.TextExpressions.countInSet(toks, sw)
          .cast("double") / n).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best("score") > 0.0, best("lang")).otherwise("und")
  }

  /** PMI collocation mining (Church & Hanks 1990 pointwise mutual
    * information — the classic "strong collocations" corpus-analysis
    * table, and the association score behind phrase-vocab induction à
    * la word2vec's phrase pass): for every bigram with occurrence
    * count ≥ `minCount`,
    * `pmi = log2( (c_ab/N_bigrams) / ((c_a/N_tokens)·(c_b/N_tokens)) )`.
    * Token and bigram counts are exact integers from two
    * partial-aggregatable aggs; both count tables are VOCAB-bounded and
    * localCheckpointed, so the corpus-total scalars derive from the
    * checkpointed counts (no extra corpus scans) and broadcast. The
    * only FP steps are two divisions and one ln-ratio, written as
    * ln(x)/ln(2) IDENTICALLY in the oracle with the round-6
    * discipline (the q96 bigram-LM precedent). */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
      minCount: Long = 3): DataFrame = {
    val big = graft.ops.Sketch.wordNgrams(docs, idCol, textCol, 2,
      distinct = false)
    val uni = graft.ops.Sketch.wordNgrams(docs, idCol, textCol, 1,
      distinct = false)
    val cab = big.groupBy("gram").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint(true)
    val cw = uni.groupBy(col("gram").as("w"))
      .agg(count(lit(1)).as("c_w")).localCheckpoint(true)
    val totals = cab.agg(sum(col("c_ab")).as("n_big"))
      .crossJoin(cw.agg(sum(col("c_w")).as("n_tok")))
    val pairs = cab.filter(col("c_ab") >= minCount)
      .withColumn("w_a", split(col("gram"), " ").getItem(0))
      .withColumn("w_b", split(col("gram"), " ").getItem(1))
    pairs
      .join(cw.select(col("w").as("w_a"), col("c_w").as("c_a")),
        Seq("w_a"))
      .join(cw.select(col("w").as("w_b"), col("c_w").as("c_b")),
        Seq("w_b"))
      .crossJoin(broadcast(totals))
      .select(col("w_a"), col("w_b"), col("c_ab"), col("c_a"),
        col("c_b"),
        round(
          log((col("c_ab").cast("double") / col("n_big")) /
            ((col("c_a").cast("double") / col("n_tok")) *
              (col("c_b").cast("double") / col("n_tok")))) /
            log(lit(2.0)), 6).as("pmi"))
  }

  /** Markdown fenced-code extraction (The Stack / StarCoder data-prep
    * stage 0 for code corpora): ```lang … ``` blocks → (language tag,
    * body) via two passes of the SAME RE2-portable pattern —
    * `(?s)` dot-matches-newline + a non-greedy body, no lookaround —
    * so Spark's codegen'd regexp and an external engine extract
    * identical spans. Group 1 = the (possibly empty) info tag, group
    * 2 = the body up to the closing fence. Pure narrow projections;
    * zip + posexplode downstream turns the parallel arrays into one
    * row per fence. */
  val FenceRe = "(?s)```([a-zA-Z0-9]*)\\n(.*?)```"

  def codeFenceLangs(md: Column): Column =
    regexp_extract_all(md, lit(FenceRe), lit(1))

  def codeFenceBodies(md: Column): Column =
    regexp_extract_all(md, lit(FenceRe), lit(2))

  /** TRAINED character-n-gram language profiles (Cavnar–Trenkle 1994
    * "N-Gram-Based Text Categorization" — the rank-order-profile family
    * behind textcat/langdetect), the FITTED complement to the
    * fixed-stopword heuristic [[langId]]: profiles come from the
    * corpus's own labeled slice instead of a hand list, so scripts and
    * domains the hand list never saw still classify. Per language: the
    * `profileK` char n-grams with the highest DOCUMENT frequency
    * (distinct grams per doc — the native shingle expression's set
    * semantics; df-ranking is the dedup-robust variant of raw
    * occurrence ranking), ranked 1..K with the (df desc, gram asc)
    * exact-tie rule. Profiles are MODEL-sized (≤ langs·profileK rows):
    * the per-lang rank window runs over vocab-bounded counts, never
    * corpus-bounded rows, and the result broadcasts at apply time. */
  def fitLangProfiles(corpus: DataFrame, textCol: String,
      langCol: String, n: Int = 3, profileK: Int = 50,
      prefix: Int = 120): DataFrame = {
    val grams = corpus.select(col(langCol).as("lang"),
      explode(graft.expressions.TextExpressions.charShingles(
        lower(substring(col(textCol), 1, prefix)), n)).as("gram"))
    val counts = grams.groupBy("lang", "gram")
      .agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("df").desc, col("gram").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= profileK)
      .select("lang", "gram", "rank")
  }

  /** Classify by rank-profile distance against [[fitLangProfiles]]
    * output: score(doc, lang) = Σ over the doc's distinct grams of the
    * gram's profile rank, with absent grams costing `profileK + 1`
    * (the rank-SUM form of Cavnar–Trenkle's out-of-place measure — the
    * doc side needs only its gram SET, so the whole apply is one
    * narrow gram explode, a broadcast profile join, and two
    * partial-aggregatable aggs). Prediction = argmin score with the
    * lang-asc exact-tie rule, computed as `min(struct(score, lang))` —
    * map-side combinable, no window, no shuffle beyond the one
    * (doc, lang) agg exchange. Returns (id, pred_lang, score). */
  def rankLangId(docs: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame, n: Int = 3, profileK: Int = 50,
      prefix: Int = 120): DataFrame = {
    // Materialize the model-sized profile table ONCE (localCheckpoint,
    // the operator-internal idiom — no CacheManager entry): both the
    // lang list and the rank join broadcast from it, and without the
    // checkpoint each broadcast would re-run the whole fit subtree.
    val prof = profiles.localCheckpoint(true)
    val docGrams = docs.select(col(idCol),
      explode(graft.expressions.TextExpressions.charShingles(
        lower(substring(col(textCol), 1, prefix)), n)).as("gram"))
    val langs = prof.select("lang").distinct()
    val scored = docGrams.crossJoin(broadcast(langs))
      .join(broadcast(prof), Seq("lang", "gram"), "left")
      .groupBy(col(idCol), col("lang"))
      .agg(sum(coalesce(col("rank"), lit(profileK + 1))).as("score"))
    scored.groupBy(col(idCol))
      .agg(min(struct(col("score"), col("lang"))).as("best"))
      .select(col(idCol), col("best.lang").as("pred_lang"),
        col("best.score").as("score"))
  }

  /** C4-style bad-word page gate (Raffel et al. 2020 §2.2 — any page
    * containing a blocklisted token is removed whole): count of
    * blocklisted tokens, case-folded, duplicates counted, via the
    * native set-probe expression (one hash-set lookup per token —
    * never a |blocklist|-long Or-chain per element). Keep rule
    * downstream: `blockedWordCount(...) === 0`. The real C4 list is
    * ~400 words; the probe cost is independent of list size. */
  def blockedWordCount(text: Column, blocklist: Seq[String]): Column =
    graft.expressions.TextExpressions.countInSet(tokens(text),
      blocklist, lowercase = true)

  /** PII redaction (the C4/Dolma corpus-scrub pass): emails, IPv4
    * addresses and international-format phone numbers are replaced with
    * typed placeholder tokens. A chain of three `regexp_replace`s — pure
    * codegen, narrow, streams at scan speed. Patterns avoid
    * backreferences/lookaround so they run identically under Java regex
    * and RE2 (engine-portable; the q87 oracle replays them in DuckDB).
    * Order matters: emails first (they contain dotted digit runs an IP
    * pattern could clip), then IPs, then phones. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  // Each digit after the first is preceded by AT MOST ONE separator and
  // the total run is bounded (7–15 digits, the E.164 envelope) — the
  // earlier greedy [0-9 -]{6,} absorbed unrelated space-separated digit
  // groups trailing a phone number into one over-wide match.
  val PhoneRe = "\\+[0-9](?:[ -]?[0-9]){6,14}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Document fingerprint: 64-bit FNV-1a-style rolling hash over the
    * whitespace-normalized, lowercased text — deterministic content id for
    * exact-dup detection that survives whitespace/case jitter. Uses
    * xxhash64 (codegen'd, seed-stable) over the normalized form. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * min-sampling scheme): sorted distinct window-minima of a k-codepoint
    * polynomial rolling hash (base 257 mod 1e9+7 — SQL-replayable, unlike
    * xxhash64). Docs sharing a substring of ≥ k+w−1 codepoints share at
    * least one fingerprint; an inverted (fp → doc) index over these is the
    * standard partial-overlap/plagiarism detector. No normalization is
    * applied — callers choose (winnowing is usually run on raw or
    * lightly-normalized text so positions stay meaningful). */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 16): Column =
    graft.expressions.TextExpressions.winnowFingerprints(text, k, w)

  /** Character n-gram shingles (default 3) for Jaccard/MinHash pipelines.
    * Normalization stays in codegen'd Column land; the sliding window is a
    * native expression (see CharShingleExpr — the composable
    * transform+substr form is O(len²) with interpreted lambdas). */
  def charShingles(text: Column, n: Int = 3): Column =
    graft.expressions.TextExpressions.charShingles(
      regexp_replace(lower(trim(text)), "\\s+", " "), n)

  /** Character n-gram shingles as sorted distinct xxhash64 hashes — same
    * normalization as `charShingles`, but the shingle strings are never
    * materialized (native expression hashes each byte window in place).
    * Preferred form for MinHash/Jaccard pipelines: hashing is the only
    * thing those ever do with a shingle. */
  def charShingleHashes(text: Column, n: Int = 3): Column =
    graft.expressions.TextExpressions.charShingleHashes(
      regexp_replace(lower(trim(text)), "\\s+", " "), n)

  /** Sentence segmentation (the unit stage for sentence-level dedup /
    * per-sentence filtering): a terminator `[.!?]` followed by
    * whitespace ends a sentence. RE2 has no lookbehind, so the
    * engine-portable form is the MARKER trick — rewrite
    * `([.!?])\s+` → `$1`, split on the marker — which keeps the
    * whole chain in codegen and replays verbatim in any RE2 engine
    * (the q117/q133 portability rule). Returns the raw split array;
    * callers trim/filter per their unit semantics. */
  def sentenceSplit(text: Column): Column =
    split(regexp_replace(text, "([.!?])\\s+", "$1"), "")

  /** Character-distribution quality signals: per-doc char entropy in
    * bits + unique-char count (low entropy flags repeated-character
    * gibberish, high flags base64/binary blobs — the char-level filter
    * dimension next to [[repetitionSignals]]'s word-level ones). One
    * narrow native pass ([[graft.expressions.CharStatsExpr]]), zero
    * exchanges. */
  def charStats(text: Column): Column =
    graft.expressions.TextExpressions.charStats(text)

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    * top-bigram fraction (occurrence share of the most frequent word
    * bigram) and duplicate-trigram fraction (occurrence mass of trigrams
    * seen more than once). High values flag boilerplate/spam documents in
    * pre-training corpora. One narrow native pass per n (no token
    * shuffle); case-folded tokens. Returns a struct column. */
  def repetitionSignals(text: Column): Column = {
    val bi = graft.expressions.TextExpressions.wordNgramStats(lower(text), 2)
    val tri = graft.expressions.TextExpressions.wordNgramStats(lower(text), 3)
    struct(
      when(bi("total") > 0,
        bi("max_cnt").cast("double") / bi("total"))
        .otherwise(0.0).as("top_bigram_frac"),
      when(tri("total") > 0,
        tri("dup_cnt").cast("double") / tri("total"))
        .otherwise(0.0).as("dup_trigram_frac"))
  }

  /** tf–idf term weighting over a corpus: per-(doc, term) term frequency,
    * document frequency, and tf·ln(N/df). Term = case-folded whitespace
    * token. The document count is folded in as a broadcast scalar
    * (`countDistinct` aggregate — no driver action), df via one shuffle
    * on term; both aggregations carry map-side partial combines, so the
    * wire traffic is per-(doc,term)/per-term counts, not tokens. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = terms.agg(
      countDistinct(col(idCol)).cast("double").as("__n_docs"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (col("tf") * log(col("__n_docs") / col("df"))).as("tfidf"))
  }

  /** Class-based tf-idf cluster labeling (Grootendorst 2022 "BERTopic",
    * arXiv 2203.05794 §2.3 — the data-map recipe: cluster the corpus in
    * embedding space, then name each cluster by its most CHARACTERISTIC
    * terms, not its most frequent): W(t,c) = tf(t,c) · ln(1 + A/f(t))
    * with f(t) the term's corpus-wide count and A the average tokens
    * per (non-empty) cluster. Emits the `topN` terms per cluster by
    * (round-6 score DESC, term ASC) — rank runs on the ROUNDED score so
    * cross-engine ulp noise can't reorder (the q222 rule).
    *
    * Plan: tokens collapse to per-(cluster,term) counts with map-side
    * partial combines before anything shuffles; f(t)/A derive from that
    * collapsed table (one more term-keyed exchange + a broadcast
    * scalar); the rank window partitions by cluster with ≤|vocab| rows
    * per partition — bounded by construction, never corpus-sized. */
  def clusterTopTerms(docs: DataFrame, idCol: String, textCol: String,
      assign: DataFrame, aIdCol: String, clusterCol: String,
      topN: Int = 5): DataFrame = {
    val joined = docs.join(
      assign.select(col(aIdCol).as(idCol), col(clusterCol)), idCol)
    val terms = joined
      .filter(length(trim(col(textCol))) > 0)
      .select(col(clusterCol),
        explode(tokens(lower(col(textCol)))).as("term"))
    val tfc = terms.groupBy(col(clusterCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val ft = tfc.groupBy("term").agg(sum("tf").as("ft"))
    val avg = tfc.agg((sum("tf").cast("double") /
      countDistinct(col(clusterCol)).cast("double")).as("__avg"))
    val scored = tfc.join(ft, "term")
      .crossJoin(broadcast(avg))
      .select(col(clusterCol), col("term"), col("tf"), col("ft"),
        round(col("tf").cast("double") *
          log(lit(1.0) + col("__avg") / col("ft").cast("double")), 6)
          .as("score"))
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(clusterCol))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rnk") <= topN)
      .select(col(clusterCol), col("rnk"), col("term"), col("tf"),
        col("ft"), col("score"))
  }

  /** In-engine document embeddings: random projection of the tf-idf
    * vector (Achlioptas, JCSS 2003 — ±1 projections preserve inner
    * products in expectation; the sparse-JL idiom). vec_d(doc) =
    * Σ_terms tfidf(doc,term)·sign(term,d), with signs the md5-parity
    * of "term:d" — engine-replayable (the HyperplaneReplay discipline)
    * and a pure function of the term, so the sign table is a
    * VOCAB-sized broadcast dimension table computed once, never an
    * md5 per (doc,term,dim).
    *
    * This closes the loop between the text and embedding stacks: the
    * output feeds the cosine / ANN / SemDeDup operators without any
    * external embedding model. One extra broadcast join + `dims` sum
    * aggregates over the tf-idf frame. */
  def tfidfEmbed(docs: DataFrame, idCol: String, textCol: String,
      dims: Int = 16): DataFrame = {
    val ti = tfIdf(docs, idCol, textCol)
    val signCols = (0 until dims).map { d =>
      (when(ascii(substring(md5(concat(col("term"), lit(s":$d"))),
        1, 1)) % 2 === 0, 1.0).otherwise(-1.0)).as(s"__s$d")
    }
    val signs = ti.select(col("term")).distinct()
      .select(col("term") +: signCols: _*)
    val aggs = (0 until dims).map(d =>
      round(sum(col("tfidf") * col(s"__s$d")), 6).as(s"v$d"))
    ti.join(broadcast(signs), Seq("term"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** BM25 term weighting (the Lucene/Okapi scoring retrieval and
    * data-selection pipelines rank with; reduces to tf-idf as k1→∞,
    * b=0): idf = ln(1 + (N−df+0.5)/(df+0.5)), score = idf ·
    * tf·(k1+1)/(tf + k1·(1−b+b·len/avgLen)). Same two-aggregation
    * shuffle profile as [[tfIdf]] (per-(doc,term) counts, per-term df)
    * plus a per-doc length frame joined back on the doc id; N and
    * avgLen ride in one broadcast scalar row. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val lens = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), tokenCount(col(textCol)).cast("double")
        .as("dl"))
    val terms = docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val corpus = lens.agg(count(lit(1)).cast("double").as("__n_docs"),
      avg(col("dl")).as("__avg_dl"))
    tf.join(df, "term")
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(corpus))
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (log(lit(1.0) + (col("__n_docs") - col("df") + 0.5) /
            (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("__avg_dl"))))
          .as("bm25"))
  }

  /** BM25 retrieval: score every document against a free-text query
    * (sum of its [[bm25]] weights over the query's distinct terms) and
    * return the top-`k` by (round-6 score desc, id asc). The term
    * filter sits below the weight joins, so Catalyst prunes the
    * inverted-index build down to the query's terms — the plan never
    * materializes weights for non-query vocabulary. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      query: String, k: Int, k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    val qt = query.trim.toLowerCase.split("\\s+")
      .filter(_.nonEmpty).distinct.toSeq
    require(qt.nonEmpty, "bm25Search needs a non-empty query")
    bm25(docs, idCol, textCol, k1, b)
      .filter(col("term").isin(qt: _*))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"),
        round(sum(col("bm25")), 6).as("score"))
      .orderBy(desc("score"), asc(idCol)).limit(k)
  }

  /** Corpus-fit bigram language-model scoring — the CCNet/KenLM
    * perplexity-filter idiom with the LM fit in-engine: add-k smoothed
    * transition probability p(w2|w1) = (c(w1 w2)+k)/(c(w1)+k·V) from
    * `train`'s token stream, and each `score` doc gets the MEAN log
    * probability of its transitions (low = gibberish / vocabulary
    * soup / wrong-language — the classic quality cut). Docs with fewer
    * than two tokens have no transitions and are absent.
    *
    * Distributed shape: one posexplode of tokens (narrow) → lead()
    * window per doc (one doc-keyed exchange — bigrams materialize
    * WITHOUT an interpreted per-element lambda) → corpus counts via two
    * map-side-partial aggregations (V falls out of the unigram agg) →
    * count joins (AQE picks broadcast while vocab tables fit; the
    * bigram join degrades gracefully to shuffle at 100 TB) → per-doc
    * mean. Unseen transitions smooth to k/(c(w1)+k·V) via left joins. */
  def bigramLogProb(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, k: Double = 0.5): DataFrame = {
    def transitions(df: DataFrame): DataFrame = {
      val toksOf = df.filter(tokenCount(col(textCol)) >= 2)
        .select(col(idCol), posexplode(tokens(lower(col(textCol))))
          .as(Seq("idx", "w1")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("idx"))
      toksOf.withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
    }
    val trainTr = transitions(train)
    val bigramCounts = trainTr.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_bg"))
    val unigramCounts = trainTr.groupBy("w1")
      .agg(count(lit(1)).as("c_w1"))
    val vocab = unigramCounts.agg(
      count(lit(1)).cast("double").as("__v"))
    transitions(score)
      .join(bigramCounts, Seq("w1", "w2"), "left")
      .join(unigramCounts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        log((coalesce(col("c_bg"), lit(0L)) + lit(k)) /
          (coalesce(col("c_w1"), lit(0L)) + lit(k) * col("__v")))
          .as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_transitions"),
        avg(col("lp")).as("avg_logprob"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney, ICASSP'95;
    * Chen & Goodman, 1999) — the KenLM-grade upgrade over
    * [[bigramLogProb]]'s add-k smoothing, fit IN-ENGINE from the same
    * transition stream:
    *
    *   P(w2|w1) = max(c(w1w2)−δ,0)/c(w1)
    *            + δ·N1+(w1·)/c(w1) · P_cont(w2)
    *
    * with the continuation distribution P_cont(w2) ∝ N1+(·w2) — how
    * many CONTEXTS a word completes, not how often it occurs (the
    * "San Francisco" correction: "francisco" is frequent but follows
    * only one word, so its continuation mass is tiny). P_cont gets
    * add-γ smoothing over V+1 types so OOV words keep finite mass;
    * an unseen context backs off to P_cont alone.
    *
    * Everything is counting: the bigram-count table yields c(w1),
    * N1+(w1·) (rows per w1), N1+(·w2) (rows per w2) and N1+(··) (total
    * rows) in two B-bounded aggregations; scoring is two
    * vocab-cardinality joins + one broadcast scalar frame. */
  def knBigramLogProb(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, delta: Double = 0.75, gamma: Double = 0.5)
      : DataFrame = {
    def transitions(df: DataFrame): DataFrame = {
      val toksOf = df.filter(tokenCount(col(textCol)) >= 2)
        .select(col(idCol), posexplode(tokens(lower(col(textCol))))
          .as(Seq("idx", "w1")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("idx"))
      toksOf.withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
    }
    val bc = transitions(train).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_bg"))
      .localCheckpoint(true) // feeds 3 aggregations + the score join
    val uc = bc.groupBy("w1")
      .agg(sum("c_bg").as("c_w1"), count(lit(1)).as("n1p_w1"))
    val rc = bc.groupBy("w2").agg(count(lit(1)).as("n1p_r"))
    val tot = bc.agg(count(lit(1)).cast("double").as("__n1p_tot"))
      .crossJoin(uc.agg(count(lit(1)).cast("double").as("__v")))
    val pcont = (coalesce(col("n1p_r"), lit(0L)) + lit(gamma)) /
      (col("__n1p_tot") + lit(gamma) * (col("__v") + lit(1.0)))
    // explicit coalesce: greatest() null semantics differ across
    // engines, so the unseen-pair zero must not rely on them
    val p = when(col("c_w1").isNull, pcont)
      .otherwise(
        greatest(coalesce(col("c_bg"), lit(0L)) - lit(delta),
          lit(0.0)) / col("c_w1") +
          lit(delta) * col("n1p_w1") / col("c_w1") * pcont)
    transitions(score)
      .join(bc.select(col("w1"), col("w2"), col("c_bg")),
        Seq("w1", "w2"), "left")
      .join(uc, Seq("w1"), "left")
      .join(rc, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol), log(p).as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_transitions"),
        avg(col("lp")).as("avg_logprob"))
  }

  /** Interpolated Kneser–Ney TRIGRAM scoring (Chen & Goodman 1999
    * §3.3, the order-3 KenLM form — [[knBigramLogProb]] is the order-2
    * row; real perplexity filters run 3–5):
    *
    *   P(w3|w1w2) = max(c(w1w2w3)−δ3,0)/c(w1w2)
    *              + δ3·N1+(w1w2·)/c(w1w2) · P_KN(w3|w2)
    *
    * with the LOWER order built from CONTINUATION types, not raw
    * counts (the Kneser–Ney correction applied at every level):
    *
    *   P_KN(w3|w2) = max(N1+(·w2w3)−δ2,0)/N1+(·w2·)
    *               + δ2·N1+(w2·)/N1+(·w2·) · P_cont(w3)
    *
    * where N1+(·w2w3) = distinct left-contexts of the (w2,w3) pair,
    * N1+(·w2·) = trigram types with middle w2 (their sum), and
    * N1+(w2·) = distinct continuations of w2 — ALL read off the
    * trigram TYPE table with two vocab-bounded aggregations. P_cont is
    * [[knBigramLogProb]]'s add-γ-floored bigram-type continuation
    * (OOV keeps finite mass). Unseen (w1,w2) context backs off to
    * P_KN(w3|w2); unseen w2 middle backs off to P_cont alone.
    *
    * Everything above the two ln-free probability chains is exact
    * integer counting; the count tables are vocab-bounded and
    * localCheckpointed (each feeds several aggregations + the score
    * joins), and the scoring pass is one narrow transition window +
    * five broadcast-or-vocab-sized joins + one doc-keyed agg. */
  def knTrigramLogProb(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String, delta3: Double = 0.75, delta2: Double = 0.75,
      gamma: Double = 0.5): DataFrame = {
    def transitions3(df: DataFrame): DataFrame = {
      val toksOf = df.filter(tokenCount(col(textCol)) >= 3)
        .select(col(idCol), posexplode(tokens(lower(col(textCol))))
          .as(Seq("idx", "w1")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("idx"))
      toksOf.withColumn("w2", lead(col("w1"), 1).over(w))
        .withColumn("w3", lead(col("w1"), 2).over(w))
        .filter(col("w3").isNotNull)
    }
    def transitions2(df: DataFrame): DataFrame = {
      val toksOf = df.filter(tokenCount(col(textCol)) >= 2)
        .select(col(idCol), posexplode(tokens(lower(col(textCol))))
          .as(Seq("idx", "w1")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol)).orderBy(col("idx"))
      toksOf.withColumn("w2", lead(col("w1"), 1).over(w))
        .filter(col("w2").isNotNull)
    }
    val tc = transitions3(train).groupBy("w1", "w2", "w3")
      .agg(count(lit(1)).as("c_tg"))
      .localCheckpoint(true) // feeds 3 aggs + the score join
    val cc = tc.groupBy("w1", "w2")
      .agg(sum("c_tg").as("c_ctx"), count(lit(1)).as("n1p_ctx"))
    val mid = tc.groupBy("w2", "w3").agg(count(lit(1)).as("n1p_mr"))
      .localCheckpoint(true) // feeds the per-middle stats + score join
    val midStats = mid.groupBy("w2")
      .agg(count(lit(1)).as("nw3_after"), sum("n1p_mr").as("n1p_mid"))
    val bg = transitions2(train).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_bg"))
      .localCheckpoint(true) // bigram types: P_cont + V
    val rc = bg.groupBy("w2").agg(count(lit(1)).as("n1p_r"))
    val tot = bg.agg(count(lit(1)).cast("double").as("__n1p_tot"))
      .crossJoin(
        bg.select("w1").distinct()
          .agg(count(lit(1)).cast("double").as("__v")))
    val pcont = (coalesce(col("n1p_r"), lit(0L)) + lit(gamma)) /
      (col("__n1p_tot") + lit(gamma) * (col("__v") + lit(1.0)))
    val p2 = when(col("n1p_mid").isNull, pcont)
      .otherwise(
        greatest(coalesce(col("n1p_mr"), lit(0L)) - lit(delta2),
          lit(0.0)) / col("n1p_mid") +
          lit(delta2) * col("nw3_after") / col("n1p_mid") * pcont)
    val p3 = when(col("c_ctx").isNull, p2)
      .otherwise(
        greatest(coalesce(col("c_tg"), lit(0L)) - lit(delta3),
          lit(0.0)) / col("c_ctx") +
          lit(delta3) * col("n1p_ctx") / col("c_ctx") * p2)
    transitions3(score)
      .join(tc, Seq("w1", "w2", "w3"), "left")
      .join(cc, Seq("w1", "w2"), "left")
      .join(mid, Seq("w2", "w3"), "left")
      .join(midStats, Seq("w2"), "left")
      .join(rc.select(col("w2").as("w3"), col("n1p_r")), Seq("w3"),
        "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol), log(p3).as("lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_transitions"),
        avg(col("lp")).as("avg_logprob"))
  }

  /** Multinomial Naive Bayes classifier, fit IN-ENGINE — the closed-form
    * cousin of the fastText-style quality/language classifiers corpus
    * pipelines train (CCNet, the GPT-3 quality filter): one groupBy over
    * (label, term) IS the fit; no SGD, no iterations, trivially
    * distributed.
    *
    * Fit (train): log p(label) from doc counts; log p(term|label) =
    * log((c(label,term)+k) / (c(label)+k·V)), V = |train vocabulary|,
    * add-k smoothing. Predict (score): argmax over labels of
    * log p(label) + Σ_t c(doc,t)·log p(t|label) — terms outside the
    * train vocabulary are ignored, in-vocab terms unseen under a label
    * smooth to k/(c(label)+k·V). Docs with zero in-vocab tokens fall
    * back to the prior argmax.
    *
    * Scale shape: the model IS two small relations (per-label totals ⋈
    * priors ⋈ V broadcast; (label,term) likelihoods an equi-join on the
    * term — AQE broadcasts while vocab fits). The corpus side is one
    * narrow explode + two joins + one (doc,label)-keyed aggregation;
    * nothing driver-side. Ties and cross-engine FP-sum jitter are
    * handled by rounding scores to 6 before the argmax and breaking
    * ties on the label.
    *
    * Returns (id, pred_label, score) — score rounded to 6. */
  def naiveBayesClassify(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String, labelCol: String,
      k: Double = 1.0): DataFrame = {
    def toks(df: DataFrame, keep: Column, as: String): DataFrame =
      df.select(keep.as(as),
          explode(tokens(lower(col(textCol)))).as("term"))
        .filter(col("term") =!= "")
    val trainTok = toks(train, col(labelCol), "label")
    val termCounts = trainTok.groupBy("label", "term")
      .agg(count(lit(1)).as("c_lt"))
    val labelTotals = termCounts.groupBy("label")
      .agg(sum("c_lt").as("c_l"))
    val vocabV = termCounts.select("term").distinct()
      .agg(count(lit(1)).cast("double").as("__v"))
    val priors = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val total = priors.agg(sum("n_docs").cast("double").as("__n"))
    val labelInfo = priors
      .join(labelTotals, Seq("label"), "left")
      .crossJoin(broadcast(vocabV)).crossJoin(broadcast(total))
      .select(col("label"),
        coalesce(col("c_l"), lit(0L)).as("c_l"), col("__v"),
        log(col("n_docs") / col("__n")).as("logprior"))
    val docTok = toks(score, col(idCol), "id")
      .groupBy("id", "term").agg(count(lit(1)).as("c_dt"))
      .join(termCounts.select("term").distinct(), Seq("term"),
        "left_semi") // OOV terms carry no evidence under any label
    val evidence = docTok
      .crossJoin(broadcast(labelInfo))
      .join(termCounts, Seq("label", "term"), "left")
      .select(col("id"), col("label"),
        (col("c_dt") * log((coalesce(col("c_lt"), lit(0L)) + lit(k)) /
          (col("c_l") + lit(k) * col("__v")))).as("ev"))
      .groupBy("id", "label").agg(sum("ev").as("ev"))
    // prior-only base guarantees every doc × label is scored even when
    // the doc has no in-vocab token
    val scored = score.select(col(idCol).as("id")).distinct()
      .crossJoin(broadcast(labelInfo.select("label", "logprior")))
      .join(evidence, Seq("id", "label"), "left")
      .select(col("id"), col("label"),
        round(col("logprior") + coalesce(col("ev"), lit(0.0)), 6)
          .as("score"))
    // per-doc argmax as a hash aggregate (min_by over the
    // (-score, label) order = score DESC, label ASC) — partial-agged
    // and sort-free where the row_number window form sorted every
    // (doc × label) row at the exchange
    scored.groupBy("id")
      .agg(min_by(struct(col("label"), col("score")),
        struct(-col("score"), col("label"))).as("__b"))
      .select(col("id"), col("__b.label").as("pred_label"),
        col("__b.score").as("score"))
  }

  /** Train-vs-benchmark decontamination: training docs sharing any
    * case-folded word n-gram with an evaluation corpus (the n-gram
    * overlap check every serious pretraining pipeline runs before
    * training so eval answers don't leak into the train set; published
    * pipelines use n of 8-13 words — parameterized here).
    *
    * Returns (id, n_matched) for CONTAMINATED docs only — n_matched =
    * distinct eval n-grams seen in the doc. Callers drop them with an
    * `anti` join (or audit first; the flag table is small).
    *
    * Scale shape: benchmarks are MBs while the train corpus is TBs, so
    * the distinct eval-gram set is collected into a BROADCAST hash
    * relation and the train side streams through a narrow explode +
    * broadcast hash join — no shuffle of the corpus, one tiny
    * final aggregation on the (rare) matching doc ids. N-grams travel
    * as the same 64-bit shingle hashes the dedup family uses (collision
    * odds negligible; set semantics per doc via wordShingleHashes'
    * sorted-distinct output). */
  def contaminationMatches(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val evalGrams = eval.select(
      explode(graft.expressions.TextExpressions.wordShingleHashes(
        lower(col(textCol)), n)).as("g"))
      .distinct()
    train.select(col(idCol).as("id"),
        explode(graft.expressions.TextExpressions.wordShingleHashes(
          lower(col(textCol)), n)).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_matched")) // grams are distinct per doc
  }

  /** Good–Turing frequency-class smoothing (Good 1953; the
    * frequency-of-frequencies table behind Katz backoff and the
    * held-out mass estimate N₁/N — the corpus-statistics complement to
    * the q110 Kneser–Ney discounts): for each observed count r, the
    * adjusted count r* = (r+1)·N_{r+1}/N_r, where N_r is how many
    * distinct terms occur exactly r times.
    *
    * Two partial-aggregatable counts (term → r, then r → N_r; the
    * second input is ≤ |vocab| rows) and ONE self-join on r+1 — the
    * whole smoothing table costs less than the vocabulary count it
    * starts from. r* is null where N_{r+1} = 0 (the high-r gaps the
    * textbook method leaves to regression smoothing — Simple
    * Good–Turing fits log N_r ~ log r there; deliberately not hidden).
    *
    * Returns (r, n_r, r_star), one row per occupied frequency class. */
  def goodTuringClasses(tokens: DataFrame, termCol: String): DataFrame = {
    val nr = tokens.groupBy(col(termCol))
      .agg(count(lit(1)).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n_r"))
      .localCheckpoint(true)
    nr.join(nr.select((col("r") - 1).as("r"), col("n_r").as("__nn")),
        Seq("r"), "left")
      .select(col("r"), col("n_r"),
        round((col("r") + 1).cast("double") * col("__nn") / col("n_r"),
          6).as("r_star"))
  }

  /** Feature-hashed text embedding (Weinberger et al. 2009's hashing
    * trick; the fastText bag-of-features shape without a trained
    * table) — the IN-ENGINE bridge from the text world to the vector
    * world: every whitespace token hashes to one of `dim` buckets with
    * a ±1 sign, per-document bucket sums L2-normalize into a unit
    * vector the ANN / dedup / linalg operators consume directly. No
    * model, no vocabulary, no training pass — the embedding of 100 TB
    * of text is ONE narrow token scan plus two partial-aggregatable
    * exchanges ((doc, dim) sums, then per-doc norms), output ≤
    * |docs|·dim rows as the house EAV `(idCol, dim, val)` (6 dp).
    *
    * `family`: "xxhash" (default — codegen'd xxhash64, the production
    * hash) or "md5" (the engine-portable replayable family: bucket =
    * first 4 hex digits of md5(token:seed) mod dim, sign = parity of
    * the 5th — the q15/q124 digit-walk discipline, so an external
    * engine replays the whole embedding bit-for-bit). Everything
    * downstream of the (bucket, sign) columns is identical production
    * code. Signed sums are small-integer-valued doubles (exact,
    * order-invariant), so the only FP steps are one sqrt and one
    * rounded division. Empty documents yield no rows. */
  def hashedEmbedding(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64, seed: Long = 7, family: String = "xxhash")
      : DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val toks = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val hashed = family match {
      case "xxhash" =>
        // bucket from the low bits, sign from an independent bit well
        // above them (pmod keeps negatives in range)
        val h = xxhash64(lit(seed), col("__tok"))
        toks.select(col(idCol),
          pmod(h, lit(dim.toLong)).as("__d"),
          when(pmod(shiftright(h, 32), lit(2L)) === 0L, 1.0)
            .otherwise(-1.0).as("__sgn"))
      case "md5" =>
        val md = md5(concat(col("__tok"), lit(":" + seed)).cast("binary"))
        toks.select(col(idCol),
          pmod(conv(substring(md, 1, 4), 16, 10).cast("long"),
            lit(dim.toLong)).as("__d"),
          when(substring(md, 5, 1).isin(
            "0", "2", "4", "6", "8", "a", "c", "e"), 1.0)
            .otherwise(-1.0).as("__sgn"))
      case other =>
        throw new IllegalArgumentException(
          s"hashedEmbedding family must be xxhash|md5: $other")
    }
    val sums = hashed.groupBy(col(idCol), col("__d"))
      .agg(sum(col("__sgn")).as("__v"))
      .localCheckpoint(true)
    val norms = sums.groupBy(col(idCol))
      .agg(sqrt(sum(col("__v") * col("__v"))).as("__n"))
      // a document whose per-dim signed sums all cancel to 0 has no
      // direction to normalize — it vanishes like an empty document
      // (the alternative is 0/0 = NaN rows poisoning downstream
      // cosine/k-means stages)
      .filter(col("__n") > 0.0)
    sums.join(norms, Seq(idCol))
      .select(col(idCol), col("__d").cast("int").as("dim"),
        round(col("__v") / col("__n"), 6).as("val"))
  }
}
