package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines:
  * tokenization, counting, quality scoring, language ID, fingerprinting.
  *
  * No UDFs and no shuffles anywhere. Most functions compose
  * `org.apache.spark.sql.functions` builtins and run inside whole-stage
  * codegen; [[fingerprint]] delegates to a native single-pass expression
  * ([[graft.expressions.GramHashExpressions]]) whose `doGenCode` emits a
  * static call into a shared kernel, so it stays inside whole-stage
  * codegen too. These are the per-document primitives a 100 TB training-data
  * pipeline maps over its corpus; grouping/joins happen in the callers
  * (see `graft.ext.Dedup`).
  */
object text {

  /** Lower-cased word tokens (runs of non-word chars delimit; empties
    * dropped). A deliberately simple, deterministic tokenizer — the same
    * role base-R string ops played inside the reference's `transFUN` hook
    * (`R/ffsql.R:186`).
    *
    * Word chars are `\p{L}\p{N}_` (Unicode letters/digits), not Java's
    * ASCII-only `\w` — "über" is one token, not "ber". The explicit class is
    * also RE2-compatible, so differential oracles match byte-for-byte.
    *
    * Production path is the native one-pass kernel
    * ([[graft.expressions.Tokens]]) — the composable
    * `array_remove(split(lower(c), "[^\\p{L}\\p{N}_]+"), "")` form paid
    * the Java regex engine per document (one 27 s-CPU stage of the BM25/
    * hybrid faces; optimization round 19, guide §4). Byte parity with
    * the composed form is locked by `TokensSpec` (shared lowercase
    * kernel, code-point category classes) and by every tokens-consuming
    * SQL oracle, which still replays the regex formulation.
    */
  def tokens(c: Column): Column =
    graft.expressions.Tokens.nativeTokens(c)

  /** The composable regex formulation [[tokens]] replaced — kept as the
    * differential-test oracle (`TokensSpec` asserts byte equality on
    * every edge family plus random unicode).
    */
  private[graft] def tokensComposed(c: Column): Column =
    array_remove(split(lower(c), "[^\\p{L}\\p{N}_]+"), "")

  /** One-pass char-class statistics struct (`n_chars`, `n_tokens`,
    * `n_nonws`, `n_punct`, `n_digit`, `n_upper`, `n_subwords`) — the native
    * single-scan expression every count/ratio signal below derives from.
    * The composable formulation paid five separate regex passes per
    * document (the dominant cost of the quality queries); parity with
    * those exact Java-regex semantics is asserted in `TextSpec` and by the
    * unchanged DuckDB oracles. Catalyst's subexpression elimination
    * evaluates ONE stats struct per row no matter how many signals a
    * projection uses.
    */
  def textStats(c: Column): Column =
    graft.expressions.GramHashExpressions.charClassStats(c)

  /** Whitespace token count (0 for empty/blank). */
  def tokenCount(c: Column): Column = textStats(c).getField("n_tokens")

  /** Count of code points in scripts written WITHOUT word-separating
    * whitespace (Han, Hiragana, Katakana, Thai, Lao, Khmer, Myanmar — see
    * [[graft.expressions.GramHashRuntime.isUnspacedScript]]). A document
    * heavy in these scripts collapses to near-one "token" under every
    * whitespace tokenizer; this count is the routing signal.
    */
  def unspacedCount(c: Column): Column = textStats(c).getField("n_unspaced")

  /** Fraction of non-whitespace code points in unsegmented scripts — the
    * script-routing detector (0.0 on empty/blank text; null on null). A
    * pure-ASCII document scores 0, a pure-Han one ~1; mixed documents
    * score their unspaced share, so any routing threshold in (0, 1)
    * leaves spaced-script text on the word path.
    */
  def unspacedRatio(c: Column): Column = {
    val s = textStats(c)
    when(s.getField("n_nonws") === 0, lit(0.0))
      .otherwise(s.getField("n_unspaced").cast("double") /
        s.getField("n_nonws"))
  }

  /** SEGMENTATION-AWARE token count: each unspaced-script code point is
    * one token, maximal runs of other non-whitespace characters are one
    * token. Equals [[tokenCount]] exactly on spaced-script text; on
    * unsegmented text it counts content where the whitespace count says 1
    * — the honest denominator for token-budget and quality math on
    * multilingual crawl data. ("hello 世界" -> 3; a 500-ideograph
    * paragraph -> 500, not 1.)
    */
  def segTokenCount(c: Column): Column = textStats(c).getField("n_seg_tokens")

  /** Tokenizer-EXACT token array: greedy BPE encode under a frozen merge
    * list (native expression, [[graft.expressions.BpeRuntime]] contract).
    * Learn merges with [[graft.ext.Bpe.learnMerges]]. Where [[tokenCount]]
    * approximates by whitespace (2-3x off on code/CJK), this counts what a
    * real tokenizer would emit.
    */
  def bpeTokens(c: Column, merges: Seq[(String, String)]): Column =
    graft.expressions.BpeExpressions.bpeTokens(c, merges)

  /** Exact BPE token count under a frozen merge list — the counting twin
    * of [[bpeTokens]] (no array materialized).
    */
  def bpeTokenCount(c: Column, merges: Seq[(String, String)]): Column =
    graft.expressions.BpeExpressions.bpeTokenCount(c, merges)

  /** WordPiece token array under a frozen PIECE vocabulary (BERT-style
    * greedy longest-match with `##` continuations,
    * [[graft.expressions.WordPieceRuntime]] contract) — the second
    * tokenizer family: BPE vocabs ship as merge lists, WordPiece vocabs
    * as piece lists (`vocab.txt`), and both now plug into the same
    * token-denominated operators.
    */
  def wordpieceTokens(c: Column, vocab: Seq[String]): Column =
    graft.expressions.WordPieceExpressions.wordpieceTokens(c, vocab)

  /** Exact WordPiece token count — the counting twin of
    * [[wordpieceTokens]] (no array materialized).
    */
  def wordpieceTokenCount(c: Column, vocab: Seq[String]): Column =
    graft.expressions.WordPieceExpressions.wordpieceTokenCount(c, vocab)

  /** Unigram-LM token array under a frozen SCORED vocabulary
    * (SentencePiece-style Viterbi-optimal segmentation over integer
    * costs, [[graft.expressions.UnigramRuntime]] contract) — the third
    * tokenizer family: where BPE replays merges and WordPiece greedily
    * longest-matches, unigram picks the globally cheapest segmentation.
    */
  def unigramTokens(c: Column, vocab: Seq[(String, Long)],
      unk: String = "<unk>", unkCost: Long = 1L << 19): Column =
    graft.expressions.UnigramExpressions.unigramTokens(c, vocab, unk, unkCost)

  /** Exact unigram `struct<n_tokens, cost>` — count plus the total model
    * cost the Viterbi minimized (no array materialized).
    */
  def unigramStats(c: Column, vocab: Seq[(String, Long)],
      unk: String = "<unk>", unkCost: Long = 1L << 19): Column =
    graft.expressions.UnigramExpressions.unigramStats(c, vocab, unk, unkCost)

  /** Exact unigram token count — `unigramStats(...).n_tokens`, the
    * pluggable-counter shape the card/mixture/budget operators take.
    */
  def unigramTokenCount(c: Column, vocab: Seq[(String, Long)],
      unk: String = "<unk>", unkCost: Long = 1L << 19): Column =
    graft.expressions.UnigramExpressions.unigramStats(c, vocab, unk, unkCost)
      .getField("n_tokens")

  /** Distinct banned-phrase hits in ONE Aho-Corasick pass (case-sensitive
    * substring semantics — exactly SQL `contains`; O(|text|) however
    * large the blocklist, where per-phrase `contains` is
    * O(|phrases| * |text|)). `phraseHits(c, ps) === 0` is the keep gate;
    * the count doubles as a severity score.
    */
  def phraseHits(c: Column, phrases: Seq[String]): Column =
    graft.expressions.PhraseMatchExpressions.phraseHits(c, phrases)

  /** A BPE-ish subword count: word-piece granularity — letter runs, digit
    * runs, single punctuation — approximating tokenizer granularity without
    * a vocab (`\p{L}+|\p{N}+|[^\p{L}\p{N} ]` after whitespace collapse).
    * Deterministic; useful for token budget estimation.
    */
  def subwordCount(c: Column): Column = textStats(c).getField("n_subwords")

  def punctCount(c: Column): Column = textStats(c).getField("n_punct")

  private def ratioOf(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(num.cast("double") / den)

  def digitRatio(c: Column): Column = {
    val s = textStats(c)
    ratioOf(s.getField("n_digit"), s.getField("n_chars"))
  }

  def punctRatio(c: Column): Column = {
    val s = textStats(c)
    ratioOf(s.getField("n_punct"), s.getField("n_chars"))
  }

  def upperRatio(c: Column): Column = {
    val s = textStats(c)
    ratioOf(s.getField("n_upper"), s.getField("n_chars"))
  }

  def avgTokenLen(c: Column): Column = {
    val s = textStats(c)
    ratioOf(s.getField("n_nonws"), s.getField("n_tokens"))
  }

  /** Small stopword inventories for the n-gram-free language-ID heuristic.
    * Public common-word lists; intentionally tiny and deterministic.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
      "with", "are", "this", "not", "have", "from", "they", "which"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein",
      "eine", "als", "auch", "auf", "dem", "des", "im", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "des", "est", "dans", "pour", "que", "qui",
      "une", "sur", "pas", "avec", "par", "sont", "mais", "nous", "aux"),
    "es" -> Seq("el", "los", "las", "una", "por", "con", "para", "como", "mas",
      "pero", "sus", "este", "esta", "entre", "cuando", "muy", "sin", "sobre"),
    "it" -> Seq("il", "di", "che", "non", "per", "con", "sono", "della", "nel",
      "alla", "anche", "come", "questo", "gli", "dei", "delle", "essere", "più"))

  /** Count of DISTINCT stopwords of `lang` present in the document. */
  def stopwordHits(c: Column, lang: String): Column =
    size(array_intersect(array_distinct(tokens(c)),
      array(stopwords(lang).map(lit): _*)))

  /** Stopword ratio: distinct-stopword hits / distinct token count. */
  def stopwordRatio(c: Column, lang: String = "en"): Column = {
    val nd = size(array_distinct(tokens(c)))
    when(nd === 0, lit(0.0)).otherwise(stopwordHits(c, lang).cast("double") / nd)
  }

  /** Heuristic language ID over the stopword inventories: the language with
    * the most distinct stopword hits (ties broken by language code,
    * deterministic); "und" (undetermined) when nothing matches.
    *
    * Implementation: argmax via `array_max` over (score, lang) structs —
    * struct comparison is field-ordered, so this is a codegen'd argmax with
    * no UDF and no shuffle.
    */
  def langId(c: Column): Column = {
    val toks = array_distinct(tokens(c))
    val scored = stopwords.keys.toSeq.sorted.map { l =>
      struct(
        size(array_intersect(toks, array(stopwords(l).map(lit): _*))).as("s"),
        lit(l).as("l"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("s") <= 0, lit("und")).otherwise(best.getField("l"))
  }

  /** SCRIPT-AWARE [[langId]]: documents whose [[unspacedRatio]] exceeds
    * `routeAbove` are identified by SCRIPT instead of by stopwords (the
    * inventories are European — every CJK/Thai/Khmer document scored
    * "und" before this, r14 verdict #1's language-ID face). Heuristic
    * rules, deterministic: any Kana present -> "ja" (Kana is uniquely
    * Japanese; Japanese text mixes Kanji + Kana), else the dominant
    * unspaced script by code-point count with ties broken by the fixed
    * rule order — Han -> "zh", Thai -> "th", Lao -> "lo", Khmer -> "km",
    * Myanmar -> "my". Spaced-script text falls through to [[langId]]
    * unchanged, so the variant is a drop-in upgrade. (Korean needs no
    * script rule here: Hangul is spaced, and distinguishing it is a
    * stopword-inventory question, not a routing one.)
    */
  def langIdAware(c: Column, routeAbove: Double = 0.3): Column = {
    val s = graft.expressions.GramHashExpressions.scriptCounts(c)
    val scripted =
      when(s.getField("n_kana") > 0, "ja")
        .otherwise(
          // dominant script by count; ties resolve in this fixed order
          array_max(array(
            struct(s.getField("n_han").as("n"), lit(6).as("o"), lit("zh").as("l")),
            struct(s.getField("n_thai").as("n"), lit(5).as("o"), lit("th").as("l")),
            struct(s.getField("n_lao").as("n"), lit(4).as("o"), lit("lo").as("l")),
            struct(s.getField("n_khmer").as("n"), lit(3).as("o"), lit("km").as("l")),
            struct(s.getField("n_myanmar").as("n"), lit(2).as("o"), lit("my").as("l"))))
            .getField("l"))
    when(unspacedRatio(c) > routeAbove, scripted).otherwise(langId(c))
  }

  /** [[langId]]'s confidence margin: best stopword-hit score minus the
    * runner-up's — 0 means a coin-flip assignment, and a low-margin slice
    * is where the heuristic ID needs human (or model) review. Same
    * codegen'd shape as the argmax: a sorted literal-array of the five
    * scores, no UDF, no shuffle.
    */
  def langIdMargin(c: Column): Column = {
    val toks = array_distinct(tokens(c))
    val ss = stopwords.keys.toSeq.sorted.map { l =>
      size(array_intersect(toks, array(stopwords(l).map(lit): _*)))
    }
    val sorted = sort_array(array(ss: _*), asc = false)
    element_at(sorted, 1) - element_at(sorted, 2)
  }

  /** Composite quality score in [0,1]: rewards mid-length documents with
    * word-like structure and penalizes punctuation/digit soup. Weights are
    * arbitrary-but-fixed; the value is only meaningful as a ranking score.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(tokenCount(c).cast("double") / 100.0, lit(1.0))
    val wordShape = when(avgTokenLen(c).between(2.5, 9.0), 1.0).otherwise(0.3)
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(c) * 4.0)
    val digitPenalty = greatest(lit(0.0), lit(1.0) - digitRatio(c) * 4.0)
    val stop = least(stopwordRatio(c) * 4.0, lit(1.0))
    round(lenScore * 0.25 + wordShape * 0.2 + punctPenalty * 0.2 +
      digitPenalty * 0.15 + stop * 0.2, 6)
  }

  /** Rolling-hash document fingerprint: min hash over character k-grams of
    * the normalized text (lower-cased, whitespace collapsed). Two documents
    * sharing their minimal k-gram hash are near-identical candidates — this
    * is MinHash with one permutation, the cheapest content fingerprint that
    * survives small edits. Gram hashing runs in the native single-pass
    * expression ([[graft.expressions.GramHashExpressions]]) — the
    * `transform(...substr...)` formulation is interpreted and ~20x slower.
    */
  def fingerprint(c: Column, k: Int = 16): Column = {
    val norm = regexp_replace(lower(trim(c)), "\\s+", " ")
    array_min(graft.expressions.GramHashExpressions.charNgramHashSet(norm, k))
  }

  /** Unicode NFC normalization (canonical composition): "e" + combining
    * acute composes to "é", so visually identical text hashes/dedups
    * identically. Native expression, ASCII fast-path.
    */
  def normalizeNFC(c: Column): Column =
    graft.expressions.GramHashExpressions.nfcNormalize(c)

  /** Crude HTML strip for scraped corpora: tags -> space, the five
    * predefined entities decoded, whitespace recollapsed. Deliberately
    * regex-only (deterministic, codegen'd) — not an HTML parser.
    */
  def stripHtml(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    // &amp; must decode LAST: doing it first would double-unescape nested
    // entities ("&amp;lt;" means the literal text "&lt;", not "<")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&apos;" -> "'", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (acc, (e, ch)) =>
      regexp_replace(acc, e, ch)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Drop control characters except tab/newline (corpus hygiene). */
  def stripControl(c: Column): Column =
    regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")

  /** PII / link scrubbing for published training corpora. Patterns are
    * deliberately simple and RE2-compatible (no lookaround, no backrefs) so
    * the exact same regex serves as its own differential-test oracle in any
    * SQL engine — and so behavior is auditable: what you see is the whole
    * rule. Redaction order matters: URLs first (they may contain '@' and
    * would otherwise be half-eaten by the email pass).
    */
  val urlPattern = "https?://[^\\s]+"
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Number of matches of `pattern` in the document (codegen'd). */
  def matchCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  def redactUrls(c: Column, token: String = "<URL>"): Column =
    regexp_replace(c, urlPattern, token)

  def redactEmails(c: Column, token: String = "<EMAIL>"): Column =
    regexp_replace(c, emailPattern, token)

  /** URL-then-email redaction (see ordering note above). */
  def scrubPII(c: Column): Column = redactEmails(redactUrls(c))

  /** Query parameters that never change page identity (analytics noise) —
    * stripped by [[canonicalizeUrl]]. Interpolated into oracle SQL so the
    * engine and the oracle can never drift.
    */
  val urlTrackingParams = "utm_[A-Za-z0-9_]*|fbclid|gclid"

  /** URL canonicalization for crawl-level dedup (the CCNet/RefinedWeb
    * convention: pages are "the same" when their canonical URLs match):
    * scheme and host lowercased, default port for the scheme dropped,
    * leading `www.` dropped, fragment dropped, tracking query parameters
    * ([[urlTrackingParams]]) removed, a single trailing `/` on the path
    * dropped. Query parameter ORDER is preserved — this is normalization,
    * not semantic reordering. Non-URL strings (no `scheme://`) pass
    * through unchanged so the function is safe on dirty columns.
    *
    * Deliberately regex-only and RE2-compatible (no lookaround, no group
    * references in replacements — Java `$1` vs DuckDB `\1` would break
    * oracle parity), so the exact same patterns serve as their own
    * differential-test oracle in any SQL engine. Codegen'd end-to-end.
    */
  def canonicalizeUrl(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth0 = lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val auth = when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val host = regexp_replace(auth, "^www\\.", "")
    // path + query with the fragment cut off; empty for fragment-only URLs
    val rest = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/$", "")
    // "&"-prefix trick: prepending "&" makes EVERY param (including the
    // first) match the one global "&name=value" removal — no iteration
    // needed for runs of adjacent tracking params
    val query0 = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val query = regexp_replace(
      regexp_replace(concat(lit("&"), query0),
        s"&($urlTrackingParams)=[^&]*", ""),
      "^&", "")
    when(scheme === "", u).otherwise(concat(
      scheme, lit("://"), host, path,
      when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /** Lowercased host (authority minus any port) of a URL; `""` for
    * strings with no `scheme://`. Shares [[canonicalizeUrl]]'s regexes.
    */
  def hostOf(u: Column): Column =
    regexp_replace(
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
      ":[0-9]+$", "")

  /** True iff the URL's host or ANY parent domain (dot-suffix) appears in
    * `blocklist` — the standard crawl-filter semantics where blocking
    * `example.com` also blocks `cdn.sub.example.com`. Row-local: the
    * suffix set is built with `sequence`+`slice` and probed against the
    * blocklist as ONE array literal — zero shuffle, zero join, applied
    * map-side at any corpus size. For blocklists too large for a literal
    * (millions of domains), explode the suffixes and broadcast-anti-join
    * instead; the suffix-expansion trick is the same.
    */
  def domainBlocked(u: Column, blocklist: Seq[String]): Column = {
    require(blocklist.nonEmpty, "empty blocklist")
    val parts = split(hostOf(u), "\\.")
    val sufs = transform(sequence(lit(1), size(parts)),
      i => array_join(slice(parts, i, size(parts)), "."))
    arrays_overlap(sufs, lit(blocklist.toArray))
  }

  /** Quantized hashed-feature linear text classifier — the fastText
    * architecture (Joulin et al. 2016) at inference time: each token hashes
    * into one of `weights.length` buckets, the document score is the sum of
    * the bucket weights plus `bias`, and the decision is the score's sign.
    * `weights` is an exported, integer-quantized model (int weights are the
    * standard int8-quantization shape), so scoring is EXACT integer math —
    * no float drift, fully hash-oracle-able in any engine with md5.
    *
    * Scale: the model rides along as ONE array literal (a 2M-bucket int8
    * fastText head is ~2 MB — well under task-binary size), and the whole
    * score is a row-local codegen'd `transform`+`aggregate` fold: zero
    * shuffle, zero join, applied entirely map-side at any corpus size.
    * The bucket hash is the corpus-wide md5-prefix idiom (q56's split
    * hash), portable to the oracle via `CAST(concat('0x', ...) AS BIGINT)`.
    */
  def hashedLinearScore(c: Column, weights: Array[Int], bias: Long = 0L): Column = {
    require(weights.nonEmpty, "empty weight table")
    val toks = filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")
    def bucket(t: Column): Column =
      (conv(substring(md5(t), 1, 8), 16, 10).cast("long") % weights.length).cast("int")
    aggregate(
      transform(toks, t => element_at(lit(weights), bucket(t) + 1).cast("long")),
      lit(bias), (acc, w) => acc + w)
  }

  /** Intra-document repeated-segment REMOVAL (the fix for what
    * [[duplicateSegmentRatio]] only measures): split on `sep`, keep the
    * FIRST occurrence of each segment in document order, rejoin with
    * `joiner`. Kills generation loops and per-page boilerplate refrains
    * without any corpus-wide state — entirely row-local (`split` +
    * `array_distinct`, which preserves first-occurrence order, + rejoin),
    * zero shuffle, codegen'd; the corpus-wide counterpart is
    * [[graft.ext.Dedup.segmentDedup]].
    */
  def dropRepeatedSegments(
      c: Column, sep: String = "\\. ", joiner: String = ". "): Column =
    array_join(array_distinct(filter(split(c, sep), s => s =!= "")), joiner)

  /** C4-style line filtering: drop segments with fewer than `minWords`
    * whitespace words (menu items, nav crumbs, cookie banners), keep the
    * rest in document order, rejoin. Row-local nested-lambda projection —
    * zero shuffle, like [[dropRepeatedSegments]]; the two compose into the
    * standard "clean page text" pass.
    */
  def filterShortSegments(
      c: Column, minWords: Int = 3,
      sep: String = "\\. ", joiner: String = ". "): Column = {
    val segs = filter(split(c, sep), s => s =!= "")
    array_join(
      filter(segs, s => size(filter(split(s, " "), w => w =!= "")) >= minWords),
      joiner)
  }

  // Intra-document repetition signals (Gopher/C4-style quality rules).

  /** Fraction of repeated segments after splitting on `sep` (regex):
    * 1 - distinct/total; 0.0 for empty text. High values flag boilerplate
    * and generation loops.
    */
  def duplicateSegmentRatio(c: Column, sep: String = "\\. "): Column = {
    val segs = array_remove(split(c, sep), "")
    val n = size(segs)
    when(n === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(segs)).cast("double") / n)
  }

  /** Multiplicity of the most frequent token divided by token count; 0.0
    * for empty text. Native one-pass expression (ASCII-alnum tokenizer
    * shared with the shingling expressions).
    */
  def maxTokenRatio(c: Column): Column = {
    // numerator and denominator come from ONE pass of ONE tokenizer — a
    // mixed-tokenizer formulation yields >1 or divide-by-zero ratios on
    // text where the token sets differ (e.g. non-ASCII words)
    val stats = graft.expressions.GramHashExpressions.tokenMultiplicityStats(c)
    val n = stats.getField("n_tokens")
    when(n === 0, lit(0.0))
      .otherwise(stats.getField("max_multiplicity").cast("double") / n)
  }

  /** The five quality signals [[gopherReasons]] thresholds, as ONE struct
    * column so callers displaying signals next to the bitmask evaluate a
    * single expression tree (`n_tok`, `avg_len`, `dig_r`, `stop_hits`,
    * `max_share`). Every field is null iff the text is null.
    */
  def gopherSignals(c: Column): Column = struct(
    tokenCount(c).cast("long").as("n_tok"),
    avgTokenLen(c).as("avg_len"),
    digitRatio(c).as("dig_r"),
    greatest(stopwords.keys.toSeq.sorted.map(stopwordHits(c, _)): _*)
      .cast("long").as("stop_hits"),
    maxTokenRatio(c).as("max_share"))

  /** SCRIPT-AWARE [[gopherSignals]]: documents whose [[unspacedRatio]]
    * exceeds `routeAbove` get signals that measure content instead of
    * whitespace-tokenizer artifacts — same struct shape, so
    * [[gopherReasonsOf]] applies unchanged. On spaced-script text every
    * field is IDENTICAL to [[gopherSignals]] (the routing predicate is
    * false), so the variant is a drop-in upgrade for mixed corpora.
    *
    * Routed-document divergences (each a whitespace-count artifact fix):
    *   - `n_tok`: [[segTokenCount]] — a 500-ideograph paragraph counts
    *     500, where the whitespace count's 1 trips the min-tokens rule
    *     on documents with the MOST content.
    *   - `avg_len`: non-ws chars / seg tokens — ~1 for ideographic text
    *     by construction. Callers MUST script-adjust `minAvgLen` (the
    *     [2.5, 9] word-shape band is a Latin-script prior, meaningless
    *     for scripts where one code point is a word).
    *   - `max_share`: duplicate byte-`charN`-gram share
    *     (`1 - distinct grams / total grams`) — the whitespace
    *     tokenizer sees one giant token (share 1.0, everything flagged
    *     repetitive); gram-duplication measures actual repetition, same
    *     [0,1] higher-is-worse direction.
    *   - `stop_hits` is computed but the shipped inventories are
    *     European: routed docs generally score 0 — callers filtering
    *     multilingual corpora should drop rule 8 or extend
    *     [[stopwords]].
    */
  def gopherSignalsAware(
      c: Column, routeAbove: Double = 0.3, charN: Int = 5): Column = {
    val s = textStats(c)
    val routed = unspacedRatio(c) > routeAbove
    val norm = regexp_replace(lower(c), "\\s+", "")
    // byte count, not code points: charNgramHashSet windows BYTES, and a
    // char-based denominator undercounts multibyte text (distinct grams
    // would exceed "total" and the share go negative)
    val totalGrams = greatest(octet_length(norm) - (charN - 1), lit(1))
    val dupGramShare = lit(1.0) -
      size(graft.expressions.GramHashExpressions.charNgramHashSet(norm, charN))
        .cast("double") / totalGrams
    struct(
      when(routed, s.getField("n_seg_tokens").cast("long"))
        .otherwise(tokenCount(c).cast("long")).as("n_tok"),
      when(routed, ratioOf(s.getField("n_nonws"), s.getField("n_seg_tokens")))
        .otherwise(avgTokenLen(c)).as("avg_len"),
      digitRatio(c).as("dig_r"),
      greatest(stopwords.keys.toSeq.sorted.map(stopwordHits(c, _)): _*)
        .cast("long").as("stop_hits"),
      when(routed, round(dupGramShare, 6)).otherwise(maxTokenRatio(c))
        .as("max_share"))
  }

  /** Gopher-style document-quality rule bitmask (the document filters of
    * Rae et al. 2021, adapted to unpunctuated multilingual corpora: the
    * line/bullet/ellipsis rules need line structure this corpus lacks).
    * Bit SET = rule VIOLATED:
    *   1  token count outside [minTokens, maxTokens]
    *   2  mean token length outside [minAvgLen, maxAvgLen]
    *   4  digit-character ratio > maxDigitRatio
    *   8  fewer than minStopwords distinct stopwords in EVERY language
    *      inventory (multilingual analog of Gopher's English stop-set rule)
    *   16 most-frequent-token share > maxTokenShare (repetition)
    * A document passes the filter iff the bitmask is 0. NULL text violates
    * every rule (all bits set) — a quality filter must never pass a
    * document it could not inspect. Pure column composition over
    * [[gopherSignals]] — codegen'd, no shuffle, one pass.
    */
  def gopherReasonsOf(sig: Column,
      minTokens: Int = 20, maxTokens: Int = 100000,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      maxDigitRatio: Double = 0.2, minStopwords: Int = 2,
      maxTokenShare: Double = 0.2): Column = {
    val viol = Seq(
      sig.getField("n_tok") < minTokens || sig.getField("n_tok") > maxTokens,
      sig.getField("avg_len") < minAvgLen || sig.getField("avg_len") > maxAvgLen,
      sig.getField("dig_r") > maxDigitRatio,
      sig.getField("stop_hits") < minStopwords,
      sig.getField("max_share") > maxTokenShare)
    val allBits = (1L << viol.length) - 1
    val bits = viol.zipWithIndex.map { case (v, i) =>
      when(v, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    when(sig.getField("n_tok").isNull, lit(allBits)).otherwise(bits).cast("long")
  }

  /** [[gopherReasonsOf]] over [[gopherSignals]] of `c`. */
  def gopherReasons(c: Column,
      minTokens: Int = 20, maxTokens: Int = 100000,
      minAvgLen: Double = 3.0, maxAvgLen: Double = 10.0,
      maxDigitRatio: Double = 0.2, minStopwords: Int = 2,
      maxTokenShare: Double = 0.2): Column =
    gopherReasonsOf(gopherSignals(c), minTokens, maxTokens, minAvgLen,
      maxAvgLen, maxDigitRatio, minStopwords, maxTokenShare)

  /** Order-insensitive content fingerprint: hash of the sorted distinct
    * token set (bag-of-words identity).
    */
  def tokenSetFingerprint(c: Column): Column =
    xxhash64(concat_ws(" ", array_sort(array_distinct(tokens(c)))))

  /** Cross-engine-checkable variant of [[tokenSetFingerprint]]: MD5 hex of
    * the space-joined sorted distinct token set. The xxhash64 form is the
    * fast path (8-byte key, no string materialization); this one exists so a
    * differential oracle (any engine with `md5`) can reproduce the value
    * bit-for-bit — same philosophy as the reference's SQL-vs-SQL tests
    * (`R/ffsql.R:61-65`).
    */
  def tokenSetFingerprintHex(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(c)))))
}
