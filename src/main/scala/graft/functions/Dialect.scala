package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** DuckDB-dialect compatibility shims.
  *
  * The reference executes arbitrary DuckDB SQL (reference tools.py:58-65,
  * templates.py:99-121); the one DuckDB-specific function its plans use is
  * `try_strptime(str, fmt)` with C-strptime patterns (reference
  * prompt.txt:24-30, 36-41). Spark's native equivalent is
  * `try_to_timestamp(str, fmt)` with java.time patterns, so the shim is a
  * strptime→DateTimeFormatter pattern translation done once, at analysis,
  * over a literal format. Both the DataFrame-API form ([[tryStrptime]]) and
  * the SQL function build the same codegen'd `try_to_timestamp` expression:
  * the flagship plan parses every input date through it, so it is the
  * plan's hottest expression and must stay a native one.
  */
object Dialect {

  /** Translate a C-strptime format (`%m/%d/%Y`) to a java.time
    * DateTimeFormatter pattern (`MM/dd/yyyy`). Literal letters are quoted so
    * they are not interpreted as pattern fields. */
  def strptimeToJava(fmt: String): String = {
    val map = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'I' -> "hh", 'M' -> "mm", 'S' -> "ss",
      'f' -> "SSSSSS", 'j' -> "DDD", 'b' -> "MMM", 'B' -> "MMMM",
      'a' -> "EEE", 'A' -> "EEEE", 'p' -> "a", 'Z' -> "zzz", 'z' -> "xx",
      'G' -> "YYYY", 'V' -> "ww", 'u' -> "e")
    val out = new StringBuilder
    var i = 0
    var inQuote = false
    def closeQuote(): Unit = if (inQuote) { out += '\''; inQuote = false }
    def openQuote(): Unit = if (!inQuote) { out += '\''; inQuote = true }
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        val d = fmt.charAt(i + 1)
        if (d == '%') { openQuote(); out += '%' }
        else map.get(d) match {
          case Some(p) => closeQuote(); out ++= p
          case None    => throw new IllegalArgumentException(
            s"unsupported strptime field %$d in '$fmt'")
        }
        i += 2
      } else {
        if (c.isLetter) { openQuote(); out += c }
        else if (c == '\'') { openQuote(); out ++= "''" }
        else { closeQuote(); out += c }
        i += 1
      }
    }
    closeQuote()
    out.result()
  }

  /** DataFrame-API `try_strptime`: null on parse failure, identical
    * semantics to DuckDB's (reference prompt.txt:26-27). Codegen'd — it is
    * the built-in `try_to_timestamp` with a translated literal pattern. */
  def tryStrptime(c: Column, strptimeFmt: String): Column =
    try_to_timestamp(c, lit(strptimeToJava(strptimeFmt)))

  import org.apache.spark.sql.catalyst.expressions.{Expression, Literal,
    TryToTimestampExpressionBuilder}

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Number, _) => v.intValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
      v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  private def litBool(e: Expression, what: String): Boolean = e match {
    case Literal(v: java.lang.Boolean, _) => v.booleanValue()
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  /** Native-expression builders, shared by the per-session registration
    * ([[registerAll]]) and the config-driven [[GraftExtensions]] path. */
  private[functions] val nativeBuilders
      : Seq[(String, Seq[Expression] => Expression)] = Seq(
    // the pattern is translated once, here, not per row
    "try_strptime" ->
      ((es: Seq[Expression]) => {
        require(es.size == 2, s"try_strptime takes (str, fmt), got ${es.size} arguments")
        TryToTimestampExpressionBuilder.build("try_strptime",
          Seq(es.head, Literal(strptimeToJava(litStr(es(1), "try_strptime fmt")))))
      }),
    "token_shingles" ->
      ((es: Seq[Expression]) =>
        TokenShingles(es.head, litInt(es(1), "token_shingles n"))),
    "minhash_sig" ->
      ((es: Seq[Expression]) =>
        MinHashSig(es.head, litInt(es(1), "minhash_sig k"))),
    "simhash64" -> ((es: Seq[Expression]) => SimHash64(es.head)),
    "dot_product" -> ((es: Seq[Expression]) => DotProductF(es.head, es(1))),
    "cosine_sim" -> ((es: Seq[Expression]) => CosineSimF(es.head, es(1))),
    "rolling_min_hash" ->
      ((es: Seq[Expression]) =>
        RollingMinHash(es.head, litInt(es(1), "rolling_min_hash k"))),
    "minhash_sig_portable" ->
      ((es: Seq[Expression]) =>
        MinHashSigPortable(es.head, litInt(es(1), "minhash_sig_portable k"))),
    "cdc_cuts" ->
      ((es: Seq[Expression]) =>
        CdcCuts(es.head, litInt(es(1), "cdc_cuts w"),
          litInt(es(2), "cdc_cuts maskBits"))),
    // media codec surface — the full multimodal pipeline callable from
    // plan SQL: encode fixtures, decode stats/rasters, hash bands
    "encode_image_from_text" ->
      ((es: Seq[Expression]) =>
        EncodeImageFromText(es.head,
          litStr(es(1), "encode_image_from_text format"),
          litInt(es(2), "encode_image_from_text width"),
          litInt(es(3), "encode_image_from_text height"))),
    "image_stats" -> ((es: Seq[Expression]) => ImageStats(es.head)),
    "try_image_stats" -> ((es: Seq[Expression]) => TryImageStats(es.head)),
    "image_downsample_stats" ->
      ((es: Seq[Expression]) => ImageDownsampleStats(es.head)),
    "decode_pixels" -> ((es: Seq[Expression]) => DecodePixels(es.head)),
    "ahash_bands" -> ((es: Seq[Expression]) => AHashBands(es.head)),
    "encode_wav_from_text" ->
      ((es: Seq[Expression]) =>
        EncodeWavFromText(es.head,
          litInt(es(1), "encode_wav_from_text sampleRate"),
          litInt(es(2), "encode_wav_from_text n"))),
    "audio_stats" -> ((es: Seq[Expression]) => AudioStats(es.head)),
    "audio_frame_energies" ->
      ((es: Seq[Expression]) =>
        AudioFrameEnergies(es.head, litInt(es(1),
          "audio_frame_energies frameLen"))),
    "decode_audio_samples" ->
      ((es: Seq[Expression]) => AudioDecodeSamples(es.head)),
    "encode_y4m_from_text" ->
      ((es: Seq[Expression]) =>
        EncodeY4mFromText(es.head,
          litInt(es(1), "encode_y4m_from_text width"),
          litInt(es(2), "encode_y4m_from_text height"),
          litInt(es(3), "encode_y4m_from_text nFrames"),
          litBool(es(4), "encode_y4m_from_text omitC"))),
    "video_stats" -> ((es: Seq[Expression]) => VideoStats(es.head)),
    "y4m_frame_ysums" ->
      ((es: Seq[Expression]) => Y4mFrameYSums(es.head)),
    "y4m_frame_ydeltas" ->
      ((es: Seq[Expression]) => Y4mFrameYDeltas(es.head)))

  /** Register SQL-callable dialect + native functions on the session so
    * plan-authored SQL (`transform.sql` steps) can use them directly:
    * `try_strptime` (DuckDB compat) plus the engine's native expressions
    * (`token_shingles`, `minhash_sig`, `simhash64`, `dot_product`,
    * `cosine_sim`, `rolling_min_hash`, the media codecs). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    nativeBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
