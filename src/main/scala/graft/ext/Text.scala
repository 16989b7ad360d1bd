package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: normalization,
  * tokenization, k-gram shingles, stopword/quality scoring, n-gram
  * language ID, and document fingerprints. Everything is built from
  * codegen'd built-ins + higher-order array functions — no UDFs, no
  * per-row JVM closures — so the whole surface stays inside whole-stage
  * codegen and scales linearly with input.
  */
object Text {

  /** lower + trim + collapse internal whitespace — the canonical form all
    * dedup/fingerprint ops key on.
    */
  def normalize(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Whitespace tokens of the trimmed text (lowercased for set ops). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokensNorm(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** BPE-style pre-tokenization (GPT-2-family regex, minus the trailing
    * lookahead that RE2 engines reject): contractions, space-prefixed
    * letter/digit runs, punctuation runs, whitespace runs. This is the
    * unit real tokenizers count before merges — the whitespace tokenizer
    * above undercounts punctuation-heavy text.
    */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def tokensBpe(c: Column): Column = regexp_extract_all(c, lit(bpePattern), lit(0))

  def nTokensBpe(c: Column): Column = size(tokensBpe(c)).cast("bigint")

  /** Distinct word k-gram shingles (space-joined) from a MATERIALIZED
    * token-array column. Texts with fewer than k tokens yield an empty
    * array.
    *
    * Callers must project the token array to a real column first
    * (`df.withColumn("ws", tokensNorm(...))`): passing `tokensNorm(text)`
    * inline would re-run the regex split for every element_at access
    * inside the lambda (~3×shingle-count splits per row — measured 6×
    * slower end-to-end), because Catalyst does not CSE subtrees into
    * higher-order-function lambdas.
    */
  def shinglesFromTokens(ws: Column, k: Int): Column = {
    val n = size(ws)
    val mk = (i: Column) =>
      concat_ws(" ", (0 until k).map(j => element_at(ws, i + lit(j))): _*)
    array_distinct(
      when(n >= k, transform(sequence(lit(1), n - lit(k - 1)), mk))
        .otherwise(array()))
  }

  /** Convenience form for single-use contexts (tests, tiny frames). */
  def shingles(c: Column, k: Int): Column = shinglesFromTokens(tokensNorm(c), k)

  /** MD5 fingerprint of the normalized text — the exact-dedup key (md5 is
    * engine-independent, unlike murmur/xxhash).
    */
  def fingerprintMd5(c: Column): Column = md5(normalize(c))

  /** Count of `words` members among the tokens (higher-order filter —
    * no explode, no shuffle).
    */
  def wordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(_.asInstanceOf[Any]): _*))).cast("bigint")

  val stopwordsEn = Seq("the", "of", "and", "to", "in", "is", "it", "that", "for", "on")
  val stopwordsDe = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
  val stopwordsFr = Seq("le", "la", "les", "et", "est", "pas", "pour", "dans", "que", "une")
  val stopwordsEs = Seq("el", "los", "las", "y", "es", "no", "por", "para", "con", "una")

  /** CJK character count — the zh signal (no whitespace tokenization). */
  def cjkCount(c: Column): Column =
    length(regexp_replace(c, "[^\\u4e00-\\u9fff]", "")).cast("bigint")

  /** Deterministic stopword-vote language ID with a fixed tie-break
    * priority (zh by script, then en ≥ de ≥ fr ≥ es, 'und' when all
    * scores are zero). Heuristic by design — the point is a scalable,
    * deterministic n-gram-style classifier, not a model.
    *
    * `toks` should be a MATERIALIZED tokensNorm column: each vote is an
    * independent expression tree, so an inline `tokensNorm(text)` would
    * re-split per language list.
    */
  def langIdFromTokens(toks: Column, raw: Column): Column = {
    val (en, de, fr, es) = (
      wordCount(toks, stopwordsEn), wordCount(toks, stopwordsDe),
      wordCount(toks, stopwordsFr), wordCount(toks, stopwordsEs))
    val zh = cjkCount(raw)
    when(zh > 0, "zh")
      .when(en === 0 && de === 0 && fr === 0 && es === 0, "und")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  def langId(c: Column): Column = langIdFromTokens(tokensNorm(c), c)

  /** Composite quality score in [0,1]: stopword density + lexical
    * diversity (type/token ratio) + length saturation. All three terms are
    * exact integer ratios → deterministic across engines. Same
    * materialized-tokens contract as [[langIdFromTokens]].
    */
  def qualityScoreFromTokens(toks: Column): Column = {
    val n = size(toks).cast("double")
    val stop = wordCount(toks, stopwordsEn).cast("double") / n
    val ttr = size(array_distinct(toks)).cast("double") / n
    val lenSat = least(lit(1.0), n / lit(100.0))
    stop * 0.4 + ttr * 0.3 + lenSat * 0.3
  }

  /** Engine-independent 32-bit token hash: the first 8 hex digits of
    * md5(token), parsed as an integer. md5 hashes the UTF-8 bytes
    * identically in Spark and DuckDB (unlike xxhash64/murmur3, whose bit
    * patterns are engine-internal), so every fingerprint built on this is
    * oracle-checkable end to end.
    */
  def tokenHash32(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** Engine-independent 64-bit token hash: the first 16 hex digits of
    * md5(token) reinterpreted as a SIGNED long (negative toBase = signed
    * two's-complement parse, Hive `conv` semantics). Used by SimHash so
    * the whole sketch — votes, chunk blocking, hamming distances — can be
    * recomputed bit-exactly by the DuckDB oracle.
    */
  def tokenHash64(t: Column): Column =
    conv(substring(md5(t), 1, 16), 16, -10).cast("long")

  /** Polynomial rolling hash of the token stream (base-31 mod 1e9+7),
    * computed with the `aggregate` higher-order function — an
    * order-sensitive fingerprint (unlike md5-of-whole-text it can be
    * windowed/extended incrementally). Token hashes come from
    * [[tokenHash32]], so the whole number is reproducible outside Spark
    * (q42's DuckDB oracle re-derives it with list_reduce). The modulus
    * keeps every intermediate product < 2^35, safe under ANSI overflow
    * checking.
    */
  def rollingHash(toks: Column): Column = {
    val mod = lit(1000000007L)
    aggregate(
      toks,
      lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(tokenHash32(t), mod), mod))
  }
}
