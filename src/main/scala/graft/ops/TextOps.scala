package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines over a `documents`-shaped
  * table (`doc_id`, `text`, `lang`, `source`, `n_chars`) — tokenization,
  * shingling, language-ID heuristics, quality scoring, fingerprinting.
  *
  * Built from codegen'd built-ins (`split`, higher-order
  * `transform`/`filter`, `md5`) plus a handful of native Catalyst
  * expressions for the hash-heavy inner loops
  * ([[graft.functions.WinnowFps60]], simhash/minhash) — never UDFs — so
  * per-document work is one scan-side map with no shuffle until an
  * (optional) aggregation: embarrassingly parallel at 100 TB.
  *
  * Capability owed by the north star (SURVEY.md §2.8); the reference itself
  * has only the whitespace tokenizer of its WordCount demo
  * (/root/reference/README.md:84-86).
  */
object TextOps {

  /** Whitespace tokens of `text` (the reference demo's tokenizer,
    * README.md:84-85, as a column expression).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-grams (space-joined) WITH multiplicity — repetition signals
    * need duplicates kept. Docs shorter than n yield empty. Native
    * [[graft.functions.WordNgrams]] expression (one straightline eval per
    * document; the built-ins twin [[ngramsFromTokensHof]] is the
    * spec-asserted stock-Spark fallback).
    */
  def ngramsFromTokens(tk: Column, n: Int): Column =
    graft.functions.GraftFunctions.word_ngrams(tk, n, distinct = false)

  /** Built-ins-only twin of [[ngramsFromTokens]] (no custom expressions).
    *
    * IMPORTANT for callers: pass a *bound token column* (a projected
    * `tokens(...)` column), not an inline `split(...)` expression — the
    * lambda references the token array n+2 times, and an inline expression
    * would be re-evaluated (re-splitting the text) at every reference,
    * and again for every consumer the optimizer inlines this into.
    */
  def ngramsFromTokensHof(tk: Column, n: Int): Column = {
    require(n >= 1)
    val idx = sequence(lit(0), size(tk) - n) // inclusive
    val joined = transform(idx, i =>
      concat_ws(" ", (0 until n).map(o => element_at(tk, i + o + 1)): _*))
    when(size(tk) >= n, joined)
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingles (space-joined, DISTINCT), the MinHash/Jaccard
    * unit. Docs shorter than n yield empty. Native expression, as
    * [[ngramsFromTokens]].
    */
  def shinglesFromTokens(tk: Column, n: Int = 3): Column =
    graft.functions.GraftFunctions.word_ngrams(tk, n, distinct = true)

  def shingles(text: Column, n: Int = 3): Column = shinglesFromTokens(tokens(text), n)

  /** Per-document token statistics: whitespace tokens, regex (BPE-ish)
    * tokens `\w+|[^\w\s]`, distinct count, mean token length.
    */
  def withTokenStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // Backtick-quoted column reference, never interpolation into parsed
    // SQL text (the StatsOps rule): a dotted/quoted/hostile column name
    // must resolve as an identifier, not splice into the expression.
    val text = ColNames.quotedCol(textCol)
    val tk = tokens(text)
    docs
      .withColumn("n_tokens", size(tk))
      .withColumn("n_unique_tokens", size(array_distinct(tk)))
      .withColumn("n_regex_tokens",
        // regexp_count, not size(regexp_extract_all(...)): counting must
        // not materialize every match string (measured 9.7s → ~1s at sf0.1).
        regexp_count(text, lit("\\w+|[^\\w\\s]")))
  }

  /** Stopword lists for the language-ID heuristic: tiny, deterministic,
    * SQL-expressible (so an external oracle can recompute the prediction).
    */
  val StopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "de" -> Seq("der", "die", "und", "von", "das", "ist"),
    "es" -> Seq("el", "los", "y", "que", "es", "una"),
    "fr" -> Seq("le", "les", "et", "que", "est", "une"),
    "zh" -> Seq("de5", "shi4", "le5", "he2", "zai4", "you3"))

  private def hits(tk: Column, words: Seq[String]): Column =
    size(filter(tk, t => t.isin(words: _*)))

  /** Content-based language-ID heuristic: count stopword hits per language,
    * predict the argmax (ties break in [[StopwordsByLang]] order, zero hits
    * → "und" for undetermined). Adds `pred_lang` + per-language hit counts.
    */
  def withLangId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tk = tokens(col(textCol))
    val withHits = StopwordsByLang.foldLeft(docs) { case (df, (lang, words)) =>
      df.withColumn(s"hits_$lang", hits(tk, words))
    }
    val langs = StopwordsByLang.map(_._1)
    // argmax with first-wins tie-break: lang L wins iff its hits are > 0 and
    // >= every later lang and > every earlier lang (earlier already chosen).
    val pred = langs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), elseCol) =>
      val h = col(s"hits_$lang")
      val beatsRest = langs.zipWithIndex.collect {
        case (other, j) if j > i => h >= col(s"hits_$other")
      }.foldLeft(h > 0)(_ && _)
      when(beatsRest, lit(lang)).otherwise(elseCol)
    }
    withHits.withColumn("pred_lang", pred)
  }

  /** Quality score in [0,1]: length saturation + lexical diversity +
    * non-stopword density. Deterministic double arithmetic (all terms are
    * ratios of small ints — exactly reproducible in any engine).
    */
  def withQualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tk = tokens(col(textCol))
    val nTok = size(tk).cast("double")
    val nUniq = size(array_distinct(tk)).cast("double")
    val enStops = StopwordsByLang.head._2
    val nStop = hits(tk, enStops).cast("double")
    docs
      .withColumn("uniq_ratio", round(nUniq / nTok, 6))
      .withColumn("stop_ratio", round(nStop / nTok, 6))
      .withColumn("quality_score",
        round(least(nTok / lit(100.0), lit(1.0)) * 0.4
          + (nUniq / nTok) * 0.4
          + (lit(1.0) - nStop / nTok) * 0.2, 6))
  }

  /** Gopher-style rule-based quality filter (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training Gopher",
    * App. A1.1): hard document-level keep/drop rules, each surfaced as
    * its own boolean column so a pipeline can report WHICH rule dropped
    * a document (the operational difference from the blended
    * [[withQualityScore]] — rules are auditable, scores are rankable):
    *
    *  - `rule_word_count`: token count ∈ [minWords, maxWords]
    *  - `rule_mean_word_len`: mean token length ∈ [minMeanWordLen, max…]
    *  - `rule_symbol_ratio`: (`#` + `...` occurrences) / tokens ≤ max
    *  - `rule_ellipsis_lines`: fraction of lines ending in `...` ≤ max
    *  - `rule_alpha_words`: fraction of tokens containing a letter ≥ min
    *  - `rule_stopwords`: ≥ minStopwordHits DISTINCT common English
    *    stopwords present (Gopher's "2 of the/be/to/of/and/that/have/with")
    *  - `keep`: conjunction of all rules
    *
    * Pure per-row map over codegen'd built-ins — no shuffle, no model;
    * every term is a ratio of small ints (IEEE-exact in any engine), so
    * the rule booleans are value-exact against the DuckDB oracle even at
    * the thresholds.
    */
  def withGopherRules(docs: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxEllipsisLineRatio: Double = 0.3,
      minAlphaWordRatio: Double = 0.8, minStopwordHits: Int = 2): DataFrame = {
    val tk = tokens(col(textCol))
    val nTok = size(tk)
    val meanLen = aggregate(transform(tk, t => length(t)), lit(0), (a, x) => a + x)
      .cast("double") / nTok.cast("double")
    val nHash = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val nEllipsis = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / 3
    val symbolRatio = (nHash + nEllipsis).cast("double") / nTok.cast("double")
    val lines = split(col(textCol), "\n")
    val ellipsisLineRatio =
      size(filter(lines, l => l.endsWith("..."))).cast("double") /
        size(lines).cast("double")
    val alphaRatio = size(filter(tk, t => t.rlike("[a-zA-Z]"))).cast("double") /
      nTok.cast("double")
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = size(array_intersect(array_distinct(tk),
      array(gopherStops.map(lit): _*)))
    docs
      .withColumn("n_tokens", nTok)
      .withColumn("rule_word_count", nTok >= minWords && nTok <= maxWords)
      .withColumn("rule_mean_word_len",
        meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen)
      .withColumn("rule_symbol_ratio", symbolRatio <= maxSymbolRatio)
      .withColumn("rule_ellipsis_lines", ellipsisLineRatio <= maxEllipsisLineRatio)
      .withColumn("rule_alpha_words", alphaRatio >= minAlphaWordRatio)
      .withColumn("rule_stopwords", stopHits >= minStopwordHits)
      .withColumn("keep",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_symbol_ratio") && col("rule_ellipsis_lines") &&
          col("rule_alpha_words") && col("rule_stopwords"))
  }

  /** C4's line-level cleaning rules (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text Transformer",
    * §2.2) — the OTHER famous hard-rule filter, and the one
    * [[withGopherRules]] can't express: Gopher keeps or drops whole
    * documents, C4 first EDITS them line by line:
    *
    *  - a line survives only if it ends in a terminal punctuation mark
    *    (`.`, `!`, `?`, `"`), has at least `minWordsPerLine` words, and
    *    does not contain the word "javascript" (case-insensitive);
    *  - the document survives only if at least `minSentences` lines
    *    remain AND the original text contains neither "lorem ipsum"
    *    (case-insensitive) nor a curly brace `{` (code markers).
    *
    * Output columns: `n_lines`, `n_kept_lines`, `clean_text` (the kept
    * lines re-joined with newlines — empty when none survive), and
    * `keep`. Pure per-row codegen'd HOFs (split → filter → array_join):
    * no shuffle, no model, trivially linear at any corpus scale; the
    * C4 span-dedup step lives separately in the substring-dedup family
    * ([[substringDedup]]), matching how the paper pipelines them.
    */
  def withC4Rules(docs: DataFrame, textCol: String = "text",
      minWordsPerLine: Int = 5, minSentences: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n")
    // Word count ignores empty tokens so runs of spaces on real crawl
    // text don't inflate it (split alone would count them as words).
    val kept = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, " "), w => w =!= "")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    docs
      .withColumn("n_lines", size(lines))
      .withColumn("_kept", kept)
      .withColumn("n_kept_lines", size(col("_kept")))
      .withColumn("clean_text", array_join(col("_kept"), "\n"))
      .withColumn("keep",
        col("n_kept_lines") >= minSentences &&
          !lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{"))
      .drop("_kept")
  }

  /** Gopher-style repetition signals per document: the mass fraction of
    * the most frequent unigram and bigram — high values flag boilerplate /
    * degenerate machine text that near-dup passes miss (the doc repeats
    * ITSELF, not another doc).
    *
    * Shape at scale: explode + two-level groupBy, shuffled on
    * (doc_id, gram) — linear in corpus token count with map-side partial
    * aggregation, and immune to long documents (a per-doc
    * distinct×tokens nested-loop alternative would go quadratic on
    * 100k-token docs).
    *
    * Returns (doc_id, n_tokens, top_unigram_ratio, top_bigram_ratio);
    * bigram ratio is NULL for docs with <2 tokens.
    */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
    def topMass(grams: Column) = {
      base.select(col("doc_id"), explode(grams).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(sum("n").as("total"), max("n").as("top"))
    }
    val uni = topMass(col("tk"))
      .select(col("doc_id"), col("total").as("n_tokens"),
        round(col("top").cast("double") / col("total").cast("double"), 6)
          .as("top_unigram_ratio"))
    val bi = topMass(ngramsFromTokens(col("tk"), 2))
      .select(col("doc_id"),
        round(col("top").cast("double") / col("total").cast("double"), 6)
          .as("top_bigram_ratio"))
    uni.join(bi, Seq("doc_id"), "left")
  }

  /** Document fingerprint: lexicographic min of md5 over word-3-gram
    * shingles — a deterministic, engine-independent stand-in for a rolling
    * (winnowing-style) hash; identical texts ⇒ identical fingerprints, and
    * near-identical texts collide with probability ~ shingle overlap.
    */
  def withFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fingerprint",
      array_min(transform(shingles(col(textCol)), s => md5(s))))

  /** Text cleaning for training-data prep: strip markup-ish tags, redact
    * emails, mask digit runs, collapse whitespace — stacked
    * `regexp_replace` (codegen'd, per-row, no UDF). Patterns deliberately
    * stay in the Java∩RE2 common dialect (no backrefs/lookaround) so the
    * DuckDB oracle applies the identical regexes.
    */
  def cleanText(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("clean",
      trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        col(textCol),
        "<[^>]*>", " "),
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\d+", "<NUM>"),
        "\\s+", " ")))

  /** PII scrub for training-data prep (the C4/Dolma/FineWeb release
    * step): URLs, emails, IPv4 addresses, and phone-shaped numbers each
    * replaced by a typed placeholder, with a per-class occurrence count
    * so a pipeline reports scrub volume without a second pass. Classes
    * apply in a FIXED order — URL, email, IPv4, phone — and each class
    * is counted on the text AFTER the previous classes were redacted, so
    * an address inside a URL counts once as the URL, never twice.
    *
    * Emits `pii_redacted` plus `n_pii_urls` / `n_pii_emails` /
    * `n_pii_ipv4` / `n_pii_phones`. The IPv4 octets are anchored to
    * 0-255 (ADVICE r15 — a bare `\d{1,3}` would also redact
    * version-like strings such as `1.2.3.400`); dotted quads of VALID
    * octets that aren't addresses (e.g. a `1.2.3.4` release tag) still
    * match — indistinguishable without context, and over-redaction is
    * the safe side for a PII scrub. The phone pattern is deliberately
    * narrow (`+CC NNN-NNNN` international-lite); a production deployment
    * swaps patterns, not plumbing. Patterns stay in the Java∩RE2 common
    * dialect (no backrefs/lookaround) so the DuckDB oracle applies the
    * identical regexes.
    *
    * Shape at 100 TB: a per-row codegen'd `regexp_replace` /
    * `regexp_extract_all` chain — no UDF, no shuffle, no state; Spark's
    * subexpression elimination shares each intermediate redaction stage
    * between its count and the next stage's input.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val stages = Seq( // (count column, pattern, placeholder)
      ("n_pii_urls", "https?://[^ \\t\\n]+", "<URL>"),
      ("n_pii_emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      // Octet = 0-255, with zero-padded forms (001, 010) accepted — a
      // real address written with leading zeros must still redact
      // (under-redaction is the unsafe side); >255 values stay version
      // strings, not addresses.
      ("n_pii_ipv4", "\\b((25[0-5]|2[0-4]\\d|1\\d\\d|0\\d{1,2}|[1-9]?\\d)\\.){3}" +
        "(25[0-5]|2[0-4]\\d|1\\d\\d|0\\d{1,2}|[1-9]?\\d)\\b", "<IP>"),
      ("n_pii_phones", "\\+\\d{1,2}[ -]\\d{3}[ -]\\d{4}", "<PHONE>"))
    val (out, counted) = stages.foldLeft((col(textCol), docs)) {
      case ((txt, df), (cnt, pat, tok)) =>
        (regexp_replace(txt, pat, tok),
          df.withColumn(cnt, size(regexp_extract_all(txt, lit(pat), lit(0)))))
    }
    counted.withColumn("pii_redacted", out)
  }

  /** Split each document's token sequence into training-window chunks of
    * at most `maxTokens` tokens, consecutive chunks overlapping by
    * `overlap` tokens — the context-window packing precursor every LLM
    * pipeline runs between curation and sequence packing (long documents
    * must become model-sized pieces WITHOUT losing cross-boundary context,
    * hence the overlap).
    *
    * Emits one row per (document, chunk): the id columns plus
    * `chunk_idx` (0-based), `start_tok` (0-based token offset),
    * `chunk_tokens` (token count — `maxTokens` except possibly the last),
    * and `chunk_text` (space-rejoined tokens).
    *
    * Chunk count for an `n`-token document is 1 when `n <= maxTokens`,
    * else `ceil((n - maxTokens) / stride) + 1` with
    * `stride = maxTokens - overlap` — every token is covered and the
    * final chunk ends exactly at the document's last token.
    *
    * Shape at 100 TB: pure per-row map + bounded 1→N explode (no shuffle,
    * no state, no skew — a 100k-token outlier document emits ~100k/stride
    * rows from its own partition). Stays inside whole-stage codegen:
    * `sequence`/`slice`/`array_join` over an already-split token array.
    */
  def chunkByTokenBudget(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
      idCols: Seq[String] = Seq("doc_id"), textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, s"chunkByTokenBudget: maxTokens=$maxTokens must be > 0")
    require(overlap >= 0 && overlap < maxTokens,
      s"chunkByTokenBudget: overlap=$overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    val text = ColNames.quotedCol(textCol)
    val ids = idCols.map(ColNames.quotedCol)
    val nChunks =
      when(col("_n") <= maxTokens, lit(1))
        .otherwise(expr(s"(_n - $maxTokens + ${stride - 1}) div $stride") + 1)
    docs
      .select(ids :+ tokens(text).as("_tk"): _*)
      .withColumn("_n", size(col("_tk")))
      // SQL `div` yields bigint; chunk ordinals are int by contract.
      .withColumn("chunk_idx",
        explode(sequence(lit(0), (nChunks - 1).cast("int"))))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("_chunk", slice(col("_tk"), col("start_tok") + 1, lit(maxTokens)))
      .withColumn("chunk_tokens", size(col("_chunk")))
      .withColumn("chunk_text", array_join(col("_chunk"), " "))
      .drop("_tk", "_n", "_chunk")
  }

  /** Winnowing fingerprints (the MOSS rolling-hash scheme): hash every
    * word-`k`-gram shingle, slide a window of `w` consecutive hashes, keep
    * each window's minimum, dedupe. Any run of ≥ k+w-1 shared tokens
    * between two documents is guaranteed to share a fingerprint, at
    * ~2/(w+1) selection density — the standard plagiarism/near-dup
    * fingerprint set, vs. [[withFingerprint]]'s single global min.
    *
    * Computed by the native [[graft.functions.WinnowFps60]] expression —
    * one straightline eval per document. The equivalent built-ins-only
    * formulation ([[winnowFingerprintsHof]]) measured ~2 ms/doc
    * interpreted (HOFs don't codegen) and is kept as the spec-asserted
    * cross-check + stock-Spark fallback. The hash is the 60-bit md5
    * prefix so DuckDB reproduces it exactly. Documents with fewer than
    * k+w-1 tokens get an empty fingerprint set.
    */
  def winnowFingerprints(docs: DataFrame, textCol: String = "text",
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"winnowFingerprints: k=$k w=$w must be positive")
    docs.withColumn("winnow_fps",
      graft.functions.GraftFunctions.winnow_fps60(tokens(col(textCol)), k, w))
  }

  /** Built-ins-only winnowing twin of [[winnowFingerprints]] (no custom
    * expressions — runs on any stock Spark cluster); spec-asserted equal
    * to the native path on real documents.
    */
  def winnowFingerprintsHof(docs: DataFrame, textCol: String = "text",
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"winnowFingerprintsHof: k=$k w=$w must be positive")
    // TWO let-bindings via single-element transform, one per reused
    // array: the token array (ngramsFromTokensHof's own documented
    // bound-column requirement — inline split() would re-tokenize the
    // text at every one of its k+2 references) and the hash array (an
    // inlined md5 pipeline re-hashes per window reference — measured 50×
    // slower at sf0.1). HOFs evaluate interpreted with no CSE, so the
    // binding IS the optimization.
    docs.withColumn("winnow_fps", element_at(
      transform(array(tokens(col(textCol))), tk => {
        // POSITIONAL shingles (ngramsFromTokensHof, not the distinct-ed
        // shingles()): winnowing's window slides over the token sequence,
        // so repeated shingles must keep their positions.
        val hashes = transform(ngramsFromTokensHof(tk, k),
          s => SamplingOps.md5Prefix60(s))
        element_at(
          transform(array(hashes), h =>
            when(size(h) >= w,
              array_distinct(transform(sequence(lit(1), size(h) - w + 1),
                i => array_min(slice(h, i, lit(w))))))
            .otherwise(array().cast("array<long>"))), 1)
      }), 1))
  }

  /** Byte-level BPE merge-table TRAINING over a corpus — the learn side of
    * the bundled-inference tokenizer family ([[graft.functions.Bpe]]):
    * "train the tokenizer on your corpus" instead of shipping a fixed
    * table. Classic word-type BPE (the Sennrich scheme): the corpus
    * collapses to its WORD VOCABULARY with frequencies in ONE corpus pass
    * (whitespace tokens — the project-wide `string_split(text, ' ')`
    * contract), and every training step runs on the vocab-bounded frame:
    * count adjacent token pairs weighted by word frequency (overlapping
    * adjacencies all count — 'aaa' contributes (a,a) twice), pick the
    * most frequent (ties broken by the pair string ascending — total
    * order, replayable), merge it everywhere, repeat.
    *
    * Token state is a delimited hex string `||t1||t2||…||`: tokens are
    * uppercase hex over the word's UTF-8 bytes, `||`-joined and
    * `||`-bounded, so applying merge (L, R) is ONE `replace` of
    * `|L||R|` with `|LR|` — alignment-safe (a match must span whole
    * tokens; the double delimiter keeps consecutive pair occurrences
    * replaceable because neighbours only share one bar each) and greedy
    * left-to-right on overlaps, the standard BPE apply. Step k re-derives
    * tokenization from the persisted base vocab via the k-replace chain
    * (O(numMerges²) vocab-sized map work, no iterative checkpoint chain);
    * the one driver read per step is the 1-row argmax — the same
    * model-fit pattern as the IVF centroid loop.
    *
    * 100 TB posture: the corpus is touched exactly once (word-count
    * groupBy, map-side combined; `sampleFraction` hash-samples DOCUMENTS
    * before it when even one pass is too dear); training itself is
    * vocabulary-sized. Returns up to `numMerges` `(left, right, count)`
    * hex-token merges in rank order — fewer only when the vocabulary
    * exhausts its adjacent pairs first.
    */
  /** Intra-document dedup (the CCNet-style cleanup near-dup passes can't
    * express — the doc repeats ITSELF): collapse runs of consecutive
    * duplicate tokens to one occurrence, and drop repeated LINES keeping
    * each line's first occurrence in order. Pure per-row map over
    * indexed higher-order filters; both array reuses ride the
    * one-element-transform binding so the split runs once per document,
    * not once per element. Adds:
    *
    *  - `n_tokens`, `text_runs_collapsed`, `n_runs_collapsed`
    *  - `n_lines`, `text_lines_deduped`, `n_dup_lines_removed`
    */
  def dedupIntraDoc(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = ColNames.quotedCol(textCol)
    // element_at(tk, greatest(i, 1)): SQL OR does not short-circuit, so
    // the previous-element read must stay in-range even when the i = 0
    // branch already decides (ANSI element_at(…, 0) throws).
    val collapsed = element_at(transform(array(tokens(text)), tk =>
      filter(tk, (x, i) =>
        (i === 0) || (x =!= element_at(tk, greatest(i, lit(1)))))), 1)
    val keptLines = element_at(transform(array(split(text, "\n")), ln =>
      filter(ln, (x, i) => array_position(ln, x) === i.cast("long") + 1L)), 1)
    docs
      .withColumn("n_tokens", size(tokens(text)))
      .withColumn("text_runs_collapsed", array_join(collapsed, " "))
      .withColumn("n_runs_collapsed", size(tokens(text)) - size(collapsed))
      .withColumn("n_lines", size(split(text, "\n")))
      .withColumn("text_lines_deduped", array_join(keptLines, "\n"))
      .withColumn("n_dup_lines_removed",
        size(split(text, "\n")) - size(keptLines))
  }

  /** Tokenize the corpus with a TRAINED merge table — the serve side of
    * [[trainBpeMerges]] ("train the tokenizer on your corpus, then price
    * the corpus in its own subword units"). Word-TYPE application: the
    * merge chain runs once over the word VOCABULARY (vocab-bounded map
    * work, the same alignment-safe `|L||R|` → `|LR|` delimited replaces
    * as training), and documents price via an equi-join of their word
    * occurrences against the tokenized vocab — corpus-linear, no
    * per-occurrence re-derivation. The vocab side is Heaps-law-bounded
    * but NOT broadcast by fiat (a 100 TB corpus's vocabulary can exceed
    * executor memory); the word equi-join shuffles linearly and AQE may
    * still broadcast a small vocab at runtime.
    *
    * Returns one row per document: (idCol, n_words, n_tokens).
    */
  def bpeTrainedTokenCounts(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = docs.select(explode(tokens(col(textCol))).as("w")).distinct()
    val toks0 = concat(lit("||"),
      array_join(regexp_extract_all(hex(encode(col("w"), "UTF-8")),
        lit("(..)"), lit(1)), "||"),
      lit("||"))
    val tokCol = merges.foldLeft(toks0) { case (c, (l, r)) =>
      replace(c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
    val vocab = words.select(col("w"),
      size(filter(split(tokCol, "\\|+"), x => length(x) > 0)).as("nt"))
    docs.select(ColNames.quotedCol(idCol), explode(tokens(col(textCol))).as("w"))
      .join(vocab, "w")
      .groupBy(ColNames.quotedCol(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).cast("bigint").as("n_tokens"))
  }

  def trainBpeMerges(docs: DataFrame, numMerges: Int,
      textCol: String = "text", sampleFraction: Double = 1.0): Seq[(String, String, Long)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(sampleFraction > 0 && sampleFraction <= 1.0)
    val base0 = if (sampleFraction >= 1.0) docs
      else docs.filter(SamplingOps.hashSampleFlag(md5(col(textCol)),
        modulus = 1000000, keep = math.max(1, (sampleFraction * 1e6).toInt),
        salt = "bpe"))
    val words = base0.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("toks0", concat(lit("||"),
        array_join(regexp_extract_all(hex(encode(col("w"), "UTF-8")), lit("(..)"), lit(1)),
          "||"),
        lit("||")))
      .select("toks0", "cnt")
    // Manual persist (the Caching contract inlined): the result here is a
    // driver-side MODEL, not a DataFrame, so withCached's eager-checkpoint
    // shape doesn't apply — the finally still guarantees release.
    words.persist()
    try {
      val merges = Seq.newBuilder[(String, String, Long)]
      var learned = List.empty[(String, String)]
      var exhausted = false
      while (!exhausted && learned.size < numMerges) {
        val tokCol = learned.reverse.foldLeft(col("toks0")) { case (c, (l, r)) =>
          replace(c, lit(s"|$l||$r|"), lit(s"|$l$r|"))
        }
        val tArr = filter(split(tokCol, "\\|+"), x => length(x) > 0)
        val pairs = when(size(tArr) >= 2,
          transform(sequence(lit(1), size(tArr) - 1),
            i => concat(element_at(tArr, i), lit(" "), element_at(tArr, i + 1))))
          .otherwise(array().cast("array<string>"))
        val best = words.select(explode(pairs).as("pr"), col("cnt"))
          .groupBy("pr").agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("pr").asc)
          .limit(1).collect().headOption
        best match {
          case Some(row) =>
            val Array(l, r) = row.getString(0).split(" ", 2)
            merges += ((l, r, row.getLong(1)))
            learned = (l, r) :: learned
          case None => exhausted = true
        }
      }
      merges.result()
    } finally words.unpersist(blocking = false)
  }

  /** Cross-document PARAGRAPH-level exact dedup (the RefinedWeb/FineWeb
    * cleanup between whole-document dedup and substring dedup: boilerplate
    * paragraphs — nav bars, license blocks, cookie banners — repeat across
    * documents that are NOT duplicates of each other). Keep-first-global
    * semantics: each distinct paragraph survives exactly once, in its
    * earliest occurrence ordered by (`idCol`, paragraph position); every
    * later copy — same doc or any other — is dropped. Deterministic and
    * partitioning-independent by construction.
    *
    * Input: one row per document with `parasCol: array<string>` (the
    * caller picks the paragraph boundary — `split(text, "\n\n")` for real
    * corpora). Returns one row per document:
    * (`idCol`, `n_paras`, `n_kept`, `text_deduped`) where `text_deduped`
    * re-joins the kept paragraphs with `\n` in original order ("" when
    * every paragraph was a later copy).
    *
    * Shape at 100 TB: one explode into ONE min-aggregate over the
    * paragraph's md5 fingerprint — NOT a rank window, and no join back
    * either: the winning occurrence's (id, position, text) rides the
    * min(struct) itself, so a boilerplate paragraph repeated across half
    * the corpus costs one map-side partial row per task instead of a
    * single-task sort of every copy, and the survivors regroup by
    * document directly (per-doc collected list bounded by document
    * length). `n_paras` reads off the input arrays; dropped-everything
    * docs fill from the left join on the doc spine. No driver-side work,
    * no broadcast of anything corpus-sized.
    */
  def dedupParagraphsAcrossDocs(docs: DataFrame, idCol: String = "doc_id",
      parasCol: String = "paras"): DataFrame = {
    val id = ColNames.quotedCol(idCol)
    // A NULL paragraph would get a null fingerprint and form its own
    // silent group — fail loudly instead, the withHashSplit null-key
    // stance (the grouping key is evaluated for every occurrence).
    val ex = docs.select(id,
      posexplode(ColNames.quotedCol(parasCol)).as(Seq("para_idx", "para")))
      .withColumn("fp", when(col("para").isNotNull, md5(col("para")))
        .otherwise(raise_error(lit("dedupParagraphsAcrossDocs: null paragraph " +
          "element — paragraph arrays must not contain nulls")).cast("string")))
    val winners = ex.groupBy("fp")
      .agg(min(struct(id, col("para_idx"), col("para"))).as("_w"))
      .select(col("_w").getField(idCol).as(idCol),
        col("_w.para_idx").as("para_idx"), col("_w.para").as("para"))
    val kept = winners.groupBy(id)
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("para_idx"), col("para")))),
          x => x("para")), "\n").as("text_deduped"))
    docs
      .select(id, when(ColNames.quotedCol(parasCol).isNotNull,
          size(ColNames.quotedCol(parasCol)).cast("long"))
        .otherwise(raise_error(lit("dedupParagraphsAcrossDocs: null paragraph " +
          "array — every document must carry a (possibly empty) array"))
          .cast("long")).as("n_paras"))
      .join(kept, Seq(idCol), "left")
      .na.fill(0L, Seq("n_kept"))
      .withColumn("text_deduped", coalesce(col("text_deduped"), lit("")))
      .select(id, col("n_paras"), col("n_kept"), col("text_deduped"))
  }

  /** Distinct paragraph fingerprints of a paragraph-array frame — the
    * persistable reference state [[dedupParagraphsAgainstRef]] consumes
    * (write it as parquet next to the corpus; a later batch reads it
    * back). One column: `fp` (md5 of the paragraph text).
    */
  def paragraphFingerprints(docs: DataFrame,
      parasCol: String = "paras"): DataFrame = docs
    .select(explode(ColNames.quotedCol(parasCol)).as("para"))
    .select(md5(col("para")).as("fp"))
    .distinct()

  /** EPOCH APPEND for the paragraph-fingerprint reference state — the
    * set-only sibling of [[DedupOps.appendToRefIndex]]: fold a batch's
    * paragraph fingerprints into `refFps` WITHOUT re-distincting the
    * corpus-sized state. The state side is Bloom-gated map-side against
    * the batch's fingerprints (no false negatives, so the anti-join
    * verdict is exact) and then anti-joined to keep only the genuinely
    * NEW fingerprints, which a plain union appends — as a set,
    * identical to `refFps.union(paragraphFingerprints(batch))
    * .distinct()` given already-distinct state, at batch-plus-gated
    * cost instead of a corpus-wide distinct shuffle per epoch.
    * `bloomBits <= 0` disables the gate (full anti-join); the filter is
    * sized for bloomBits/10 fingerprints (k = 7), so the 2²²-bit default
    * (512 KiB) holds ~400k batch fingerprints under 1% fp. The gated
    * path RUNS A SPARK JOB inside this call: the batch's fingerprints
    * feed both the Bloom aggregate and the anti-join's left side, so
    * they are pinned once (batch-sized) instead of re-fingerprinting
    * the batch per consumer.
    */
  def appendParagraphFingerprints(refFps: DataFrame, batch: DataFrame,
      parasCol: String = "paras", bloomBits: Int = 1 << 22): DataFrame = {
    val newFps0 = paragraphFingerprints(batch, parasCol)
    val newFps =
      if (bloomBits <= 0) newFps0 else Caching.materialize(newFps0)
    val refSide =
      if (bloomBits <= 0) refFps.select(col("fp"))
      else DedupOps.bloomGateAgainst(refFps.select(col("fp")),
        DedupOps.fp60(col("fp")), newFps, DedupOps.fp60(col("fp")), bloomBits)
    refFps.select(col("fp"))
      .unionByName(newFps.join(refSide, Seq("fp"), "left_anti"))
  }

  /** INCREMENTAL paragraph dedup — the continuous-crawl shape of
    * [[dedupParagraphsAcrossDocs]]: a new batch dedups against the
    * paragraph-fingerprint state of everything already ingested
    * ([[paragraphFingerprints]]) AND keep-first within itself. A batch
    * paragraph survives iff its fingerprint is absent from `refFps` and
    * it is the batch's first occurrence.
    *
    * Returns one row per batch document: (`idCol`, `n_paras`, `n_kept`,
    * `n_ref_hits`, `text_deduped`) — `n_ref_hits` counts the paragraphs
    * the reference already had (the incremental-dedup audit number).
    *
    * Shape at 100 TB: cost scales with the BATCH, never the reference —
    * the reference side is gated MAP-SIDE by a Bloom filter of the
    * batch's fingerprints before it shuffles
    * ([[DedupOps.bloomGateAgainst]], result-identical by
    * no-false-negatives; `bloomBits` sizes it for bloomBits/10
    * fingerprints at k = 7, so the 2²²-bit default holds ~400k under
    * 1% fp), so the fp equi-join moves reference rows only
    * for fingerprints the batch might actually contain. Keep-first
    * within the batch is the same skew-safe min-aggregate as the
    * symmetric op.
    */
  def dedupParagraphsAgainstRef(batch: DataFrame, refFps: DataFrame,
      idCol: String = "doc_id", parasCol: String = "paras",
      bloomBits: Int = 1 << 22): DataFrame = {
    val id = ColNames.quotedCol(idCol)
    val ex = batch.select(id,
      posexplode(ColNames.quotedCol(parasCol)).as(Seq("para_idx", "para")))
      .withColumn("fp", when(col("para").isNotNull, md5(col("para")))
        .otherwise(raise_error(lit("dedupParagraphsAgainstRef: null paragraph " +
          "element — paragraph arrays must not contain nulls")).cast("string")))
    Caching.withCached(ex) {
      // The Bloom filter keys on BIGINT — gate on the fingerprint's
      // 60-bit hex prefix (injective enough for a gate; the JOIN on the
      // full fp still decides membership, so any prefix collision only
      // costs a gated-through row, never a wrong verdict).
      val gatedRef = DedupOps.bloomGateAgainst(
          refFps.select(col("fp")), DedupOps.fp60(col("fp")),
          ex.select("fp"), DedupOps.fp60(col("fp")), bloomBits)
        .distinct()
        .withColumn("_ref", lit(true))
      val firsts = ex.groupBy("fp")
        .agg(min(struct(id, col("para_idx"))).as("_first"))
      val perDoc = ex.join(firsts, "fp")
        .join(gatedRef, Seq("fp"), "left")
        .withColumn("keep", col("_ref").isNull &&
          struct(id, col("para_idx")) === col("_first"))
        .groupBy(id)
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("_ref").isNotNull, 1L).otherwise(0L)).as("n_ref_hits"),
          array_join(transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("para_idx"), col("para"))))),
            x => x("para")), "\n").as("text_deduped"))
      // Left-join onto the BATCH DOC SPINE — posexplode emits no rows for
      // an empty paragraph array, so without the spine such documents
      // would silently vanish from the output, violating the one-row-per-
      // batch-document contract. Same null-ARRAY stance as the symmetric
      // [[dedupParagraphsAcrossDocs]]: fail loudly, never a silent group.
      batch
        .select(id, when(ColNames.quotedCol(parasCol).isNotNull,
            size(ColNames.quotedCol(parasCol)).cast("long"))
          .otherwise(raise_error(lit("dedupParagraphsAgainstRef: null " +
            "paragraph array — every document must carry a (possibly " +
            "empty) array")).cast("long")).as("n_paras"))
        .join(perDoc, Seq(idCol), "left")
        .na.fill(0L, Seq("n_kept", "n_ref_hits"))
        .withColumn("text_deduped", coalesce(col("text_deduped"), lit("")))
        .select(id, col("n_paras"), col("n_kept"), col("n_ref_hits"),
          col("text_deduped"))
    }
  }

  /** Does position `pos` (1-based) fall under any length-`n` span
    * starting at a position in `starts`? The ONE boundary definition
    * shared by [[dedupSubstringsAcrossDocs]] and
    * [[graft.ops.CurationOps.decontaminateSpans]] — a fix to the span
    * edge math lands in both rewrites.
    */
  private[graft] def spanCovers(starts: Column, pos: Column, n: Int): Column =
    exists(starts, p => p <= pos && pos < p + n)

  /** Exact-substring dedup with span REMOVAL (the rewrite half of
    * Lee et al. 2021 that [[crossDocDupSpans]] only measures): drop every
    * token that lies only under REDUNDANT copies of a duplicated n-gram,
    * keeping the globally-first occurrence of each distinct gram intact.
    *
    * Semantics (deterministic, partitioning-independent): a gram is
    * "duplicated" when it occurs in ≥ `minDocs` distinct documents; its
    * single KEPT occurrence is the earliest by (`idCol`, position); a
    * token position is removed iff it is covered by at least one
    * duplicated-gram occurrence and by NO kept occurrence — so first
    * copies survive verbatim (their tokens sit under a kept span), later
    * copies lose exactly their duplicated spans, and unique text is
    * never touched. The rewrite re-joins surviving tokens with spaces.
    *
    * Returns (`idCol`, `n_tokens`, `n_removed`, `text_dedup`).
    *
    * Shape at 100 TB: ONE gram-fingerprint aggregation (distinct-doc
    * count and the min(struct) keep-first winner ride the same shuffle,
    * map-side combinable — the dedupParagraphsAcrossDocs skew rationale)
    * plus one occurrence⋈dup-set equi-join; the per-doc span lists are
    * bounded by document length and the final rewrite is a per-row
    * higher-order filter — work per document is O(len · dup-starts) with
    * no cross-document state.
    */
  def dedupSubstringsAcrossDocs(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"dedupSubstringsAcrossDocs: n=$n must be >= 1")
    // minDocs = 1 means "every occurring gram counts as duplicated" —
    // degenerate for curation (it erases everything but first
    // occurrences) but exactly the SATURATED semantics a fully
    // replicated corpus induces, which is what ScaleProbe's
    // substring-dedup oracle replays on the base corpus.
    require(minDocs >= 1, s"dedupSubstringsAcrossDocs: minDocs=$minDocs must be >= 1")
    val id = ColNames.quotedCol(idCol)
    val tk = docs.select(id, tokens(ColNames.quotedCol(textCol)).as("tk"))
    val grams = tk
      .select(id, posexplode(ngramsFromTokens(col("tk"), n))
        .as(Seq("pos0", "gram")))
      .select(id, (col("pos0") + 1).as("pos"), md5(col("gram")).as("fp"))
    Caching.withCached(tk, grams) {
      // ONE 1-row pricing read over the cached per-doc token frame
      // (r21) feeding two plan decisions below: the gram volume (sizes
      // the per-doc aggregation's parallelism) and, when the id column
      // is integral, the (max grams/doc, min id, max id) bounds that
      // license the PACKED keep-first key.
      val idIntegral = tk.schema.find(_.name == idCol).map(_.dataType).exists {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
      val gramsPerDoc = greatest(size(col("tk")) - (n - 1), lit(0)).cast("long")
      val statsAggs = Seq(coalesce(sum(gramsPerDoc), lit(0L)).as("_vol"),
        coalesce(max(gramsPerDoc), lit(0L)).as("_mxpos")) ++
        (if (idIntegral) Seq(min(id.cast("long")).as("_mnid"),
          max(id.cast("long")).as("_mxid")) else Nil)
      val stats = tk.agg(statsAggs.head, statsAggs.tail: _*).head()
      val gramVol = stats.getLong(0)
      val maxPos = stats.getLong(1)
      // PACKED KEEP-FIRST KEY (r21 — VERDICT r20 #5: the keep-first
      // min(struct(id, pos)) was the registry's largest remaining
      // spill, ~2 GB per Sort at sf10 ×2 aggregates): a struct-typed
      // aggregation buffer is not hash-aggregable, so Spark planned
      // Sort + SortAggregate over the full gram stream at BOTH the
      // partial and final levels. When the priced bounds allow —
      // non-negative integral ids with id ≤ Long.Max >> posBits —
      // the winner key packs into ONE LONG (id << posBits | pos),
      // whose numeric order IS the (id, pos) lexicographic order, and
      // the aggregate runs as a spill-free hash aggregate. Fallback:
      // the exact struct min, unchanged, for exotic id ranges.
      val posBits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxPos))
      val usePacked = idIntegral && !stats.isNullAt(2) &&
        stats.getLong(2) >= 0L && posBits < 62 &&
        stats.getLong(3) <= (Long.MaxValue >> posBits)
      val firstKey: Column =
        if (usePacked)
          shiftleft(id.cast("long"), posBits).bitwiseOR(col("pos").cast("long"))
        else struct(id, col("pos"))
      // VOLUME-SIZED fingerprint partitioning, established ONCE (r21):
      // the dup-set aggregate AND the occurrence⋈dup-set join both key
      // on fp, so one explicit repartition of the cached gram frame at
      // gram-volume-sized parallelism serves both (the aggregate's and
      // the join's distribution are then already satisfied — within one
      // execution the exchange is planned once and REUSED), bounding
      // the final aggregate's hash map per task as the corpus grows
      // (PlanMetrics at sf10: the AQE-reducer-count final aggregate
      // spilled 2.8 GB).
      val gramsByFp = DedupOps.explodedJoinPartitions(docs.sparkSession, gramVol)
        .map(p => grams.repartition(p, col("fp"))).getOrElse(grams)
      // Dup-set membership AND the keep-first winner in one aggregation
      // pass over the gram frame (min over all occurrences of a
      // fingerprint equals min over its dup occurrences — same rows).
      val dupFirsts = gramsByFp.groupBy("fp")
        .agg(countDistinct(id).as("nd"), min(firstKey).as("_first"))
        .filter(col("nd") >= minDocs)
        .select("fp", "_first")
      // SHUFFLED-HASH attach (the jaccard verify rationale): the default
      // SMJ SORTS the full gram stream by its md5 fingerprint to attach
      // two small columns (PlanMetrics at sf10: 2.3 GB of sort spill);
      // the dup-set build side is duplicated-fingerprint-sized and
      // co-partitioned with the probe, so the hash attach adds no
      // exchange and no sort.
      val occ = gramsByFp.join(dupFirsts.hint("shuffle_hash"), "fp")
        .withColumn("kept", firstKey === col("_first"))
        .select(id, col("pos"), col("kept"))
      // VOLUME-SIZED per-doc aggregation (r21 — the other half of the
      // spill fix): the collect_list object-hash aggregate falls back
      // to sort-based past its per-partition group budget, so its
      // spill scales with bytes per task; repartitioning the
      // occurrence stream by the DOC key at gram-volume-sized
      // parallelism (the jaccard incidence-agg treatment — the
      // aggregate's distribution is then already satisfied, so no
      // exchange is added, only the reducer count changes) bounds
      // every task's run by construction as the corpus grows. The
      // volume is an upper bound (occurrences ≤ grams): only ever too
      // many partitions, never too few.
      val occSized = DedupOps.explodedJoinPartitions(docs.sparkSession, gramVol)
        .map(p => occ.repartition(p, id)).getOrElse(occ)
      val perDoc = occSized.groupBy(id).agg(
        sort_array(collect_list(col("pos"))).as("dstarts"),
        sort_array(collect_list(when(col("kept"), col("pos")))).as("kstarts"))
      val empty = array().cast("array<int>")
      val withSpans = tk.join(perDoc, Seq(idCol), "left")
        .withColumn("dstarts", coalesce(col("dstarts"), empty))
        .withColumn("kstarts", coalesce(col("kstarts"), empty))
      val keptTk = filter(col("tk"), (_, i) =>
        !(spanCovers(col("dstarts"), i + 1, n) &&
          !spanCovers(col("kstarts"), i + 1, n)))
      withSpans
        .withColumn("n_tokens", size(col("tk")).cast("long"))
        .withColumn("_kept_tk", keptTk)
        .select(id, col("n_tokens"),
          (col("n_tokens") - size(col("_kept_tk"))).cast("long").as("n_removed"),
          array_join(col("_kept_tk"), " ").as("text_dedup"))
    }
  }

  /** Cross-document duplicated n-gram SPAN coverage (the statistic behind
    * exact-substring training-data dedup, Lee et al. 2021): how much of
    * each document is covered by a token n-gram that also appears in ≥
    * `minDocs` distinct documents. Returns one row per document:
    * (`idCol`, `n_tokens`, `n_dup_starts`, `dup_tokens`, `dup_frac`)
    * where `dup_tokens` is the exact size of the UNION of the length-`n`
    * token windows starting at duplicated-gram positions — computed
    * without interval folding: for starts sorted per doc, each start
    * contributes `min(n, next_start − start)` (the last contributes `n`),
    * which is precisely the merged-interval length.
    *
    * Shape at 100 TB: gram fingerprints (md5) shuffle twice — once for
    * the distinct-doc count, once for the occurrence⋈dup-set equi-join
    * (the dup set is corpus-sized, so it is NOT broadcast); the coverage
    * window partitions by document (bounded by doc length). Per-doc
    * derived frames are persisted for their two consumers and released
    * via the [[Caching]] contract.
    */
  def crossDocDupSpans(docs: DataFrame, n: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, s"crossDocDupSpans: n=$n must be >= 1")
    require(minDocs >= 2, s"crossDocDupSpans: minDocs=$minDocs must be >= 2")
    val id = ColNames.quotedCol(idCol)
    val tk = docs.select(id, tokens(ColNames.quotedCol(textCol)).as("tk"))
    val grams = tk
      .select(id, posexplode(ngramsFromTokens(col("tk"), n))
        .as(Seq("pos0", "gram")))
      .select(id, (col("pos0") + 1).as("pos"), md5(col("gram")).as("fp"))
    Caching.withCached(tk, grams) {
      val dup = grams.groupBy("fp")
        .agg(countDistinct(id).as("nd"))
        .filter(col("nd") >= minDocs)
        .select("fp")
      val w = Window.partitionBy(id).orderBy(col("pos"))
      val starts = grams.join(dup, "fp")
        .withColumn("nxt", lead(col("pos"), 1).over(w))
        .groupBy(id)
        .agg(count(lit(1)).as("n_dup_starts"),
          sum(least(lit(n.toLong),
            coalesce((col("nxt") - col("pos")).cast("long"), lit(n.toLong))))
            .as("dup_tokens"))
      tk.select(id, size(col("tk")).cast("long").as("n_tokens"))
        .join(starts, Seq(idCol), "left")
        .na.fill(0L, Seq("n_dup_starts", "dup_tokens"))
        .withColumn("dup_frac",
          round(col("dup_tokens").cast("double") / col("n_tokens"), 6))
    }
  }

  /** Okapi BM25 top-k retrieval (Robertson & Zaragoza 2009) — the
    * "search your own corpus" operator a curation pipeline reaches for
    * when hunting contamination sources, mining topical subsets, or
    * spot-checking what a filter kept: for each query (a bag of terms),
    * the k highest-scoring documents under
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with the
    * Lucene idf `ln(1 + (N − df + 0.5)/(df + 0.5))`.
    *
    * Shape at 100 TB: one tokenize+explode pass collapsed immediately to
    * per-(doc, term) counts (map-side partial agg — the x08 tf-idf
    * lesson); the corpus-sized stream is then SEMI-JOINED to the
    * broadcast query terms before anything else, so df counting and
    * scoring touch only matching postings (query-sized · df, never
    * corpus · vocabulary); per-doc length dl is a shuffle-free per-row
    * projection of the raw text, and N and avgdl ride a broadcast 1-row
    * aggregate (no driver constant); the final top-k per query is the bounded-heap
    * [[graft.plans.GraftPlans.topKPerKey]] plan, not a window sort.
    *
    * Determinism: each term's contribution is cast to decimal(38,12)
    * before the per-(query, doc) sum (the s07 order-independent-sum
    * idiom), the visible score is round(·, 6), and ranking orders by
    * (rounded score desc, doc_id) — a total order both engines replay
    * exactly (`log` ≡ DuckDB `ln` on identical doubles, the x08 idiom).
    *
    * Query TERMS are deduplicated per query (BM25's standard bag-of-terms
    * saturation already lives in the tf normalization; double-counting a
    * repeated query word would just scale its idf).
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, String)], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queries.nonEmpty, "bm25TopK: no queries given")
    val spark = docs.sparkSession
    val qterms = broadcast(spark.createDataFrame(
      queries.flatMap { case (qid, qt) =>
        qt.split(" ").filter(_.nonEmpty).distinct.map(term => (qid, term))
      }).toDF("query_id", "term"))
    val id = col(idCol)
    val tokc = docs
      .select(id, explode(tokens(col(textCol))).as("term"))
      .groupBy(id, col("term")).agg(count(lit(1)).as("tf"))
    // dl = Σ tf is by construction the doc's token count — computed
    // shuffle-free from the raw text instead of a corpus-sized
    // explode+groupBy over the token stream. The SAME narrow (id, dl)
    // frame also feeds nd/avgdl (r22: stats previously re-tokenized the
    // corpus a third time for avg(size(tokens)); one row per doc either
    // way and avg over identical ints is identical, so the fold is
    // value-exact) — cached, it costs one projection pass total.
    val dl = docs.select(id, size(tokens(col(textCol))).cast("long").as("dl"))
    Caching.withCached(tokc, dl) {
      // Only postings of query terms survive past this line.
      val tfq = tokc.join(qterms.select("term").distinct(), Seq("term"), "left_semi")
      val dfc = tfq.groupBy("term").agg(count(lit(1)).as("dfc"))
      val stats = dl.agg(count(lit(1)).as("nd"), avg(col("dl")).as("avgdl"))
      val contrib =
        log(lit(1.0) + (col("nd") - col("dfc") + lit(0.5)) / (col("dfc") + lit(0.5))) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
      val scored = tfq
        .join(qterms, "term")
        .join(dfc, "term")
        .join(dl, idCol)
        .crossJoin(broadcast(stats))
        .withColumn("c", contrib.cast("decimal(38,12)"))
        .groupBy(col("query_id"), id)
        .agg(round(sum(col("c")).cast("double"), 6).as("score"))
      graft.plans.GraftPlans.topKPerKey(scored,
        keys = Seq("query_id"),
        orderBy = Seq(("score", false), (idCol, true)), k = k)
    }
  }
}
