package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline surface (SURVEY §2.7):
  * tokenization, n-gram shingling, quality features, fingerprinting, and a
  * language-ID heuristic. All pure `functions._` compositions — codegen'd,
  * no UDFs — so they stay inside whole-stage codegen at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokenization (single-space split matches the fixture's
    * space-joined corpus). */
  def tokens(text: Column): Column = split(lower(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles (distinct), order-sensitive — the dedup unit for
    * MinHash/Jaccard near-dup detection. Empty array for docs shorter than
    * n tokens.
    *
    * PERF: `toks` must be an already-materialized array column (project
    * `tokens(text)` in a separate step first). Passing `tokens(text)`
    * directly inlines the split() into every per-element lambda — O(n²)
    * splits per row, a measured 10× slowdown at 5k docs. Catalyst's
    * CollapseProject keeps a two-step projection two-step because the
    * duplicated expression is non-cheap. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(ngramsFromTokens(toks, n))

  /** Convenience form over raw text — only for one-shot expressions where
    * the quadratic-split cost cannot bite (tiny arrays, tests). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Occurrences of any of `words` among the tokens (not deduped — a ratio
    * numerator, unlike array_intersect which would collapse repeats). */
  def wordHits(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(set, t)))
  }

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  /** Quality features: length-based and stopword-ratio heuristics used by
    * pretraining-data filters. All double arithmetic on exact integer
    * inputs — cross-engine deterministic. */
  def stopwordRatio(text: Column): Column =
    wordHits(text, EnglishStopwords).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  def meanTokenLength(text: Column): Column =
    (length(text) - tokenCount(text) + lit(1)).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Fraction of tokens containing at least one letter — the Gopher
    * "80% of words must have an alphabetic character" rule's signal
    * (filters digit/symbol soup that length rules miss). `toks` must be
    * a materialized array column (the [[shinglesFromTokens]] caveat). */
  def alphaWordRatio(toks: Column): Column =
    size(filter(toks, t => t.rlike("\\p{L}"))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** Symbol-to-word ratio over `#` and `...` occurrences — the Gopher
    * boilerplate/markup signal. Counts are non-overlapping regex matches,
    * identical across engines. */
  def symbolWordRatio(text: Column, nWords: Column): Column =
    (countMatches(text, "#") + countMatches(text, "\\.\\.\\."))
      .cast("double") / greatest(nWords, lit(1)).cast("double")

  /** Number of DISTINCT `words` present among the tokens (the Gopher
    * "contains at least 2 stop words" rule — presence, not frequency,
    * unlike [[wordHits]]). */
  def distinctWordHits(toks: Column, words: Seq[String]): Column =
    size(array_intersect(toks, array(words.map(lit): _*)))

  /** Deterministic document fingerprint: md5 of whitespace-normalized
    * lowercase text. Same value in any engine with md5 — the exact-dedup
    * group key. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** GPT-2-style pre-tokenizer pattern, ASCII-simplified: contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs.
    * Valid in both Java regex and RE2, so the count is oracle-checkable. */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token count: matches of [[BpePattern]] — the cheap proxy for
    * LLM token budgeting that a whitespace split underestimates. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Order-sensitive polynomial rolling hash over the token sequence
    * (Karp-Rabin): fold (acc*31 + h(token)) mod 1e9+7, h = first 8 md5
    * hex digits. Unlike the set-based [[fingerprint]], token REORDERING
    * changes this value. Bounded arithmetic — never overflows a long, so
    * ANSI mode is safe and any engine folds to the same value. */
  def rollingHash(toks: Column): Column = {
    val hashes = transform(toks,
      t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    aggregate(hashes, lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)
  }

  /** Stopword profiles per language for the n-gram-free language-ID
    * heuristic: score = hits of each language's marker words; predict the
    * argmax, 'und' (undetermined) when nothing hits. Real-world marker
    * sets; on synthetic single-vocabulary corpora the prediction is
    * honest-but-arbitrary. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "it", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "los", "las", "es", "que", "una", "por"),
    "fr" -> Seq("le", "la", "les", "est", "une", "que", "dans", "pour"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我"))

  def langId(text: Column): Column = {
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(wordHits(text, words).as("hits"), lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** PII patterns, kept valid in BOTH Java regex and RE2 (no lookaround,
    * no backrefs) so redaction is oracle-checkable and portable to RE2-
    * based scrubbers. Ordered: emails first (an email contains digit runs
    * a later pass must not re-tag), then URLs, then separator-formatted
    * identifiers (SSN 3-2-4, US phone 3-3-4 with `-`/`.`/space
    * separators and optional area-code parens), then contiguous long
    * digit runs (account numbers, unformatted phones). */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^ \\t\\n]+" -> "<URL>",
    "[0-9]{3}-[0-9]{2}-[0-9]{4}" -> "<SSN>",
    "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}" -> "<PHONE>",
    "[0-9]{6,}" -> "<NUM>")

  /** All URL spans in `text` — the PiiPatterns `<URL>` regex (Java∩RE2),
    * so extraction and redaction agree on what a URL is. */
  def urls(text: Column): Column =
    regexp_extract_all(text, lit(PiiPatterns.find(_._2 == "<URL>").get._1),
      lit(0))

  /** Hostname of a URL: the authority up to the first `/`, `:`, `?`, or
    * `#` — scheme-independent, no parser dependency (a web-corpus
    * pipeline groups crawl docs by this for per-domain stats/filters). */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^[A-Za-z]+://([^/:?#]+)", 1)

  /** Redact PII spans with typed placeholder tags — the standard
    * pretraining-corpus scrubbing pass. Pure per-row projection:
    * pipelines over any row count with zero shuffle. */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Count of matches of `re` (for scrub audit stats). */
  def countMatches(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0)))

  /** Strip HTML/XML markup: every tag replaced by a space, whitespace
    * renormalized. The crawl-pipeline first pass (boilerplate removal
    * and entity decoding are separate, later concerns — a full parser
    * is deliberately out of scope). Pure per-row projection; the regex
    * is RE2-safe (no lookaround, no backrefs). */
  def stripHtml(text: Column): Column =
    trim(regexp_replace(regexp_replace(text, "<[^>]*>", " "), "\\s+", " "))

  /** Adjacent word bigrams (with repeats — frequency-analysis unit, unlike
    * the distinct [[shinglesFromTokens]]). `toks` must be a materialized
    * array column (same O(n²) re-evaluation caveat). */
  def bigramsFromTokens(toks: Column): Column = ngramsFromTokens(toks, 2)

  /** Word n-grams WITH repeats (frequency-analysis unit — the
    * [[shinglesFromTokens]] shape without the distinct; generalizes
    * [[bigramsFromTokens]]). `toks` must be materialized (same caveat). */
  def ngramsFromTokens(toks: Column, n: Int): Column =
    filter(
      transform(toks, (_, i) => when(
        i <= size(toks) - n,
        concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*))),
      x => x.isNotNull)

  /** Fixed-size token chunks of a token array (1-based slices, space
    * re-joined) — the line-proxy unit for repetition signals on text
    * without newlines. A non-empty token array yields ⌈len/k⌉ chunks;
    * empty yields none. */
  def chunksFromTokens(toks: Column, k: Int): Column =
    when(size(toks) > 0,
      transform(
        sequence(lit(0),
          ceil(size(toks) / lit(k.toDouble)).cast("int") - 1),
        i => array_join(slice(toks, i * k + 1, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Shannon entropy (bits/char) over the character distribution — the
    * classic gibberish/boilerplate quality signal: low for repeated
    * filler, high for random noise; natural text sits in between.
    * Computed as log2(n) - (Σ cnt·log2(cnt))/n over per-char counts, so
    * the only floating-point steps are log2/divide on exact integers.
    *
    * PERF: O(distinct·len) per row — the inner filter re-splits the text
    * once per distinct character. Fine as an inline filter on short
    * fields; for corpus-scale per-doc scoring use the linear
    * explode → per-(doc, char) count → fold formulation (see the
    * text_char_entropy query — measured 4× faster at sf0.1). */
  def charEntropy(text: Column): Column = {
    val counts = transform(
      array_distinct(split(text, "")),
      ch => size(filter(split(text, ""), c => c === ch)).cast("double"))
    val n = length(text).cast("double")
    when(length(text) === 0, lit(0.0)).otherwise(
      log2(n) - aggregate(counts, lit(0.0),
        (acc, c) => acc + c * log2(c)) / n)
  }
}
