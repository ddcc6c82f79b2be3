package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, quality metrics, fingerprinting, language ID.
  * All are composed from codegen'd built-ins (no UDFs in hot paths) so they
  * stay inside whole-stage codegen and scale with partition parallelism.
  */
object Text {

  /** Whitespace tokenization (trim first — trailing separators otherwise
    * produce empty trailing tokens). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Collapse runs of whitespace; canonical form for fingerprinting. */
  def normalizeWs(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Content fingerprint: md5 of the lower-cased whitespace-normalized
    * text. Deterministic across engines (md5 is standard), so exact-dup
    * detection can run as a plain group-by on this value. */
  def md5Fingerprint(c: Column): Column = md5(lower(normalizeWs(c)))

  /** Token n-gram shingles (distinct not applied — callers decide).
    * `shingles(col, 3)` on "a b c d" → ["a b c", "b c d"]. Native
    * expression: tokenize + shingle in one codegen'd pass (the
    * `transform`+`slice` composition is interpreted per element and was a
    * bench hotspot). */
  def shingles(c: Column, n: Int): Column = NativeExprs.tokenShingles(c, n)

  /** Character n-gram shingles over the normalized text. */
  /** One-pass native char-n-gram profile (n_grams/min/max) — see
    * [[CharGramStats]] for why the composable charShingles form must
    * not feed multiple consuming aggregates. */
  def charGramStats(c: Column, n: Int): Column =
    Native.call("char_gram_stats", CharGramStats, "stats", CharGramStats.schema,
      Seq(n))(c)

  def charShingles(c: Column, n: Int): Column = {
    val s = lower(normalizeWs(c))
    when(length(s) >= n,
      transform(
        sequence(lit(0), length(s) - n),
        i => s.substr(i + 1, lit(n))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Punctuation ratio: chars that are not [a-z0-9 ] after lower-casing. */
  def punctRatio(c: Column): Column = {
    val s = lower(c)
    val stripped = regexp_replace(s, "[a-z0-9 ]", "")
    (length(stripped).cast(DoubleType) /
      greatest(length(s), lit(1)).cast(DoubleType))
  }

  /** Mean token length — short-token text is usually noise. */
  def meanTokenLen(c: Column): Column = {
    val t = tokens(c)
    (length(concat_ws("", t)).cast(DoubleType) /
      greatest(size(t), lit(1)).cast(DoubleType))
  }

  /** Stopword ratio over a given stopword list. */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column = {
    val t = tokens(c)
    val hits = size(filter(t, w => w.isin(stopwords.map(lit(_)): _*)))
    hits.cast(DoubleType) / greatest(size(t), lit(1)).cast(DoubleType)
  }

  /** Composite quality score in [0,1] (heuristic: length band, low punct,
    * healthy stopword presence — the usual pre-training filters). */
  def qualityScore(c: Column): Column = {
    val lenScore = when(length(c).between(50, 20000), 1.0).otherwise(0.3)
    val punctScore = when(punctRatio(c) < 0.2, 1.0).otherwise(0.4)
    val stopScore =
      when(stopwordRatio(c, defaultStopwords).between(0.01, 0.7), 1.0)
        .otherwise(0.5)
    ((lenScore + punctScore + stopScore) / 3.0).cast(DoubleType)
  }

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from")

  /** Language-ID marker lexicons (tiny, deterministic — n-gram-profile
    * heuristics in the spirit of published langid approaches; real
    * deployments swap in fuller profiles). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with", "for"),
    "es" -> Seq("el", "la", "los", "las", "y", "de", "que", "en", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "dans", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Marker-based language ID: argmax of marker-token hits; ties and
    * no-hits fall back to "und". Pure column expressions — codegen'd,
    * shuffle-free, trivially data-parallel. */
  def langId(c: Column): Column = {
    val t = tokens(lower(c))
    val scores = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        size(filter(t, w => w.isin(markers.map(lit(_)): _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }
}
