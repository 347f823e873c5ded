package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale corpus pipelines: all pure
  * `org.apache.spark.sql.functions` compositions (codegen'd, no UDFs), so
  * they stay inside whole-stage codegen and scale linearly over a 100 TB
  * documents table. */
object TextFunctions {

  /** Lowercased, punctuation-stripped, whitespace-normalized text. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Whitespace word tokens of the normalized text. */
  def words(text: Column): Column = split(normalized(text), " ")

  /** Positional word-k-grams of a pre-split ARRAY<STRING> column via the
    * codegen'd [[WordKGrams]] expression — the corpus-scale shingle
    * builder: one fused pass per row, no shuffle, no interpreted HOF.
    * `posexplode(wordKGrams(words(text), k))` is the canonical shingle-row
    * shape (see `Dedup.posShingleRows`). */
  def wordKGrams(arr: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      WordKGrams(org.apache.spark.sql.graft.ColumnBridge.expression(arr), k))

  /** Word k-shingles as space-joined strings (the MinHash/Jaccard unit) —
    * DISTINCT-set HOF form kept only for per-row set semantics in specs.
    * Documents with fewer than k words yield an EMPTY array (complete
    * shingles only), agreeing with the relational `Dedup.shingleRows` so
    * the two forms are interchangeable without changing Jaccard
    * denominators for short docs. NOTE: higher-order functions evaluate
    * interpreted and re-evaluate `words(text)` per index; for corpus-scale
    * shingling use [[wordKGrams]] instead. */
  def wordShingles(text: Column, k: Int): Column = {
    val ws = words(text)
    // guard, not greatest(...,1): sequence(1, 0) would count DOWN to [1, 0]
    when(size(ws) < k, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(
          sequence(lit(1), size(ws) - (k - 1)),
          i => concat_ws(" ", slice(ws, i, lit(k))))))
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(split(trim(text), "\\s+"))

  /** BPE-ish subword token count: alpha runs, digit runs, single
    * punctuation marks — a deterministic proxy for tokenizer budgeting. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Per-language stopword marker sets for the n-gram language heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une"),
    "zh" -> Seq("de0", "shi4", "le0", "zai4", "he2", "you3", "wo3"))

  /** Count of tokens that appear in a marker list. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(words(text), w => w.isin(markers.map(lit(_)): _*)))

  /** Language-ID by marker-hit argmax; ties resolve in [[langMarkers]]
    * order, zero hits ⇒ 'und'. Expressed as nested when/greatest so the
    * DuckDB oracle can state the identical CASE chain. */
  def langId(text: Column): Column = {
    val hits = langMarkers.map { case (l, m) => l -> markerHits(text, m) }
    val top = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("und"): Column) { case ((l, h), els) =>
      when(h > 0 && h === top, lit(l)).otherwise(els)
    }
  }

  /** Heuristic quality facets: word count, mean word length, punctuation
    * ratio, stopword ratio — and a composite score. All integer-derived
    * double divisions, so oracle-exact. */
  def nWords(text: Column): Column = size(words(text))
  def avgWordLen(text: Column): Column =
    length(regexp_replace(normalized(text), " ", "")).cast("double") / nWords(text)
  def punctRatio(text: Column): Column =
    length(regexp_replace(lower(text), "[a-z0-9\\s]", "")).cast("double") / length(text)
  def stopwordRatio(text: Column): Column =
    markerHits(text, langMarkers.toMap.apply("en")).cast("double") / nWords(text)

  /** Intra-document repetition: fraction of word-k-grams that are repeats
    * of an earlier gram in the same document (the Gopher-style repetition
    * facet — boilerplate loops and stutter score high). 0 for docs too
    * short to form a k-gram. Codegen throughout ([[wordKGrams]] +
    * `array_distinct`), no shuffle. */
  def repetitionRatio(text: Column, k: Int = 3): Column = {
    val grams = wordKGrams(words(text), k)
    val n = size(grams)
    when(n === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double") / n)
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with low
    * punctuation and a sane stopword rate. Same algebra in the oracle. */
  def qualityScore(text: Column): Column =
    least(nWords(text).cast("double") / 100.0, lit(1.0)) * 0.5 +
      (lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))) * 0.3 +
      least(stopwordRatio(text) * 10.0, lit(1.0)) * 0.2

  /** Structural PII patterns for corpus scrubbing, in application order
    * (emails before URLs before digit runs: an address inside a URL is
    * redacted as the more specific form first). Shared with the DuckDB
    * oracle — every pattern is valid in both Java regex and RE2 (no
    * lookaround, no backreferences). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://\\S+" -> "<URL>",
    "[0-9]{7,}" -> "<NUM>")

  /** Word-boundary-anchored alternation for a redaction denylist. Terms are
    * restricted to word characters and spaces: regex metacharacters in a
    * term would change the pattern's meaning, and the two engines' escape
    * syntaxes differ (Java's \Q…\E has no RE2 equivalent), so the
    * restriction is what keeps oracle parity honest. */
  def denylistPattern(terms: Seq[String]): String = {
    require(terms.forall(_.matches("[A-Za-z0-9 ]+")),
      s"denylist terms must be word characters/spaces only, got $terms")
    terms.mkString("\\b(", "|", ")\\b")
  }

  /** Redact structural PII (emails, URLs, long digit runs) and a term
    * denylist from text — the privacy-scrub stage of a training-data
    * pipeline. A chain of codegen'd `regexp_replace`s (replace-all is
    * Spark's default, matching the oracle's 'g' flag); linear per row, no
    * shuffle, no UDF. */
  def scrubPii(text: Column, denylist: Seq[String] = Nil): Column = {
    val all = piiPatterns ++
      (if (denylist.isEmpty) Nil else Seq(denylistPattern(denylist) -> "<TERM>"))
    all.foldLeft(text) { case (c, (pat, repl)) => regexp_replace(c, pat, repl) }
  }

  /** How many redactions [[scrubPii]] would make — counted per pattern on
    * the ORIGINAL text (a match consumed by an earlier pattern in the
    * replace chain still counts once here; same convention in the oracle). */
  def redactionCount(text: Column, denylist: Seq[String] = Nil): Column = {
    val all = piiPatterns.map(_._1) ++
      (if (denylist.isEmpty) Nil else Seq(denylistPattern(denylist)))
    all.map(p => size(regexp_extract_all(text, lit(p), lit(0))))
      .reduce(_ + _).cast("int")
  }

  /** Order-insensitive document fingerprint: md5 of the sorted distinct
    * word set — catches shuffled/reordered copies that exact-text dedup
    * misses. */
  def fingerprint(text: Column): Column =
    // sort_array, NOT array_sort: the latter is a higher-order function
    // whose default comparator lambda evaluates interpreted per comparison;
    // sort_array sorts with the native type ordering (same ascending result
    // on a null-free string array) without leaving codegen
    md5(concat_ws(" ", sort_array(array_distinct(words(text)))))

  /** MinHash signature (ARRAY<BIGINT> of `numHashes` values) of a shingle
    * array via the codegen'd [[MinhashSignature]] kernel; null for an empty
    * array. `minhashSignature(wordKGrams(words(text), k), n)` is one
    * document's signature in one fused pass — no shingle rows, no
    * aggregate (see `Dedup.minhashSignatures`). */
  def minhashSignature(grams: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(MinhashSignature(
      org.apache.spark.sql.graft.ColumnBridge.expression(grams), numHashes))

  /** The `bands` LSH band keys of a signature array via the codegen'd
    * [[MinhashBandKeys]] kernel: band j's key equals
    * `xxhash64(concat_ws(",", <its values> cast string))`. */
  def minhashBandKeys(sig: Column, bands: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(MinhashBandKeys(
      org.apache.spark.sql.graft.ColumnBridge.expression(sig), bands))
}
