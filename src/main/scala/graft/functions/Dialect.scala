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

  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  /** A one-column SQL function over its column face. */
  private def unary(f: Column => Column): Seq[Expression] => Expression =
    es => expression(f(column(es.head)))

  /** Native-function builders, shared by the per-session registration
    * ([[registerAll]]) and the config-driven [[GraftExtensions]] path.
    * Each builds its node through the same column face the DataFrame API
    * calls, after checking its literal parameters. */
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
      ((es: Seq[Expression]) => expression(NativeExprs.tokenShingles(
        column(es.head), litInt(es(1), "token_shingles n")))),
    "minhash_sig" ->
      ((es: Seq[Expression]) => expression(NativeExprs.minhashSig(
        column(es.head), litInt(es(1), "minhash_sig k")))),
    "simhash64" -> unary(NativeExprs.simhash64),
    "dot_product" ->
      ((es: Seq[Expression]) => expression(NativeExprs.dotProduct(
        column(es.head), column(es(1))))),
    "cosine_sim" ->
      ((es: Seq[Expression]) => expression(NativeExprs.cosineSim(
        column(es.head), column(es(1))))),
    "rolling_min_hash" ->
      ((es: Seq[Expression]) => expression(RollingMinHash.rollingMinHash(
        column(es.head), litInt(es(1), "rolling_min_hash k")))),
    "minhash_sig_portable" ->
      ((es: Seq[Expression]) => expression(NativeExprs.minhashSigPortable(
        column(es.head), litInt(es(1), "minhash_sig_portable k")))),
    "cdc_cuts" ->
      ((es: Seq[Expression]) => expression(CdcCuts.cdcCuts(column(es.head),
        litInt(es(1), "cdc_cuts w"), litInt(es(2), "cdc_cuts maskBits")))),
    // media codec surface — the full multimodal pipeline callable from
    // plan SQL: encode fixtures, decode stats/rasters, hash bands
    "encode_image_from_text" ->
      ((es: Seq[Expression]) => expression(ImageExprs.encodeImageFromText(
        column(es.head),
        litStr(es(1), "encode_image_from_text format"),
        litInt(es(2), "encode_image_from_text width"),
        litInt(es(3), "encode_image_from_text height")))),
    "image_stats" -> unary(ImageExprs.imageStats),
    "try_image_stats" -> unary(ImageExprs.tryImageStats),
    "image_downsample_stats" -> unary(ImageExprs.imageDownsampleStats),
    "decode_pixels" -> unary(ImageExprs.decodePixels),
    "ahash_bands" -> unary(ImageExprs.aHashBands),
    "encode_wav_from_text" ->
      ((es: Seq[Expression]) => expression(AudioExprs.encodeWavFromText(
        column(es.head),
        litInt(es(1), "encode_wav_from_text sampleRate"),
        litInt(es(2), "encode_wav_from_text n")))),
    "audio_stats" -> unary(AudioExprs.audioStats),
    "audio_frame_energies" ->
      ((es: Seq[Expression]) => expression(AudioExprs.frameEnergies(
        column(es.head), litInt(es(1), "audio_frame_energies frameLen")))),
    "decode_audio_samples" -> unary(AudioExprs.decodeSamples),
    "encode_y4m_from_text" ->
      ((es: Seq[Expression]) => expression(VideoExprs.encodeY4mFromText(
        column(es.head),
        litInt(es(1), "encode_y4m_from_text width"),
        litInt(es(2), "encode_y4m_from_text height"),
        litInt(es(3), "encode_y4m_from_text nFrames"),
        litBool(es(4), "encode_y4m_from_text omitC")))),
    "video_stats" -> unary(VideoExprs.videoStats),
    "y4m_frame_ysums" -> unary(VideoExprs.frameYSums),
    "y4m_frame_ydeltas" -> unary(VideoExprs.frameYDeltas))

  /** Register SQL-callable dialect + native functions on the session so
    * plan-authored SQL (`transform.sql` steps) can use them directly:
    * `try_strptime` (DuckDB compat) plus the engine's native functions
    * (`token_shingles`, `minhash_sig`, `simhash64`, `dot_product`,
    * `cosine_sim`, `rolling_min_hash`, the media codecs), each built by
    * its column face, so SQL and the DataFrame API plan the same node. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    nativeBuilders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
