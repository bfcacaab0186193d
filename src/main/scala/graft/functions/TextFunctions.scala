package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline operators:
  * tokenization, shingling, fingerprinting, quality scoring, token-count
  * estimation, and a stopword-scoring language-ID heuristic. All pure
  * column expressions (codegen'd) — no UDFs, safe at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(c: Column): Column = split(c, " ")

  /** Word n-gram shingles joined with '_' — the unit for near-dup
    * detection (n-gram Jaccard, MinHash). Deterministic; empty array for
    * texts shorter than n words.
    */
  def shingles(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(1), size(words) - lit(n - 1)),
        i => concat_ws("_", slice(words, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Document fingerprint: md5 of lowercased text (identical hex in
    * Spark and DuckDB).
    */
  def fingerprint(c: Column): Column = md5(lower(c))

  /** BPE-ish token-count estimate: ~4 chars per token. */
  def tokenEstimate(c: Column): Column =
    ceil(length(c) / lit(4.0)).cast("long")

  /** Ratio of stopword tokens to all tokens. */
  def stopwordRatio(words: Column, stops: Seq[String]): Column =
    size(filter(words, w => w.isin(stops: _*))).cast("double") / size(words)

  /** Logistic quality score from word count: favors docs near/above
    * `mid` words. Deterministic arithmetic, mirrors 1/(1+exp(-(n-mid)/scale)).
    */
  def qualityScore(nWords: Column, mid: Double = 20.0, scale: Double = 10.0): Column =
    lit(1.0) / (lit(1.0) + exp((nWords.cast("double") - lit(mid)) / lit(-scale)))

  /** Small per-language stopword lists for the language-ID heuristic. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Stopword-scoring language ID: argmax of per-language stopword hits
    * (ties broken by language code order, 'und' = undetermined when no
    * hits). A real deployment would swap in char-n-gram profiles; the
    * operator shape (pure column expression over tokens) is the point.
    */
  def langId(words: Column): Column = {
    val scores = langStopwords.map { case (lang, stops) =>
      lang -> size(filter(words, w => w.isin(stops: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight nests "when" left-to-right: the first language (in list
    // order) that reaches the max score wins ties.
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(best > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }
}
