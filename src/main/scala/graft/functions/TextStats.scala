package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface:
  * tokenization, token counting, quality scoring, language-ID heuristic,
  * document fingerprinting. All pure built-ins (codegen'd, no UDFs) so
  * they run at full scan speed over a 100 TB documents table.
  */
object TextStats {

  /** Whitespace-collapsed, lower-cased canonical form (dedup key). */
  def normalize(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalize(text), " ")

  def nTokens(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: letter runs, digit runs, and any other
    * non-space symbol each count as one token. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Characters excluding whitespace. */
  def nCharsNoSpace(text: Column): Column =
    length(regexp_replace(text, "\\s+", ""))

  /** Count of ASCII punctuation characters. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]-]", ""))

  val stopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "in", "and", "is")

  /** Fraction of tokens that are stopwords (over a precomputed token
    * array — tokenize ONCE per row, then derive; re-running the regex
    * pipeline per metric multiplies scan cost). */
  def stopwordRatioOf(toks: Column): Column = {
    val hits = size(filter(toks, t => t.isin(stopwords: _*)))
    hits.cast("double") / size(toks)
  }

  def stopwordRatio(text: Column): Column = stopwordRatioOf(tokens(text))

  /** Heuristic quality score in [0,1]: length credit × non-stopword
    * density (the length/stopword-ratio style scoring used by web-scale
    * corpus filters). */
  def qualityScoreOf(toks: Column): Column =
    least(lit(1.0), size(toks) / lit(100.0)) * (lit(1.0) - stopwordRatioOf(toks))

  /** Language-ID heuristic: English function-word density. A real
    * pipeline extends the wordlists per language; the testdata corpus is
    * synthetic English-vocab word salad, so the interesting output is
    * the deterministic decision boundary. */
  def langGuessOf(toks: Column): Column =
    when(stopwordRatioOf(toks) >= 0.05, "en").otherwise("unknown")

  /** Stable document fingerprint (content hash of the canonical form). */
  def fingerprint(text: Column): Column = md5(normalize(text))
}
