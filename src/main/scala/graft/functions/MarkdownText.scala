package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Markdown → text extraction — the second web-ingest front door next
  * to t72's HTML: README/docs/forum corpora arrive as CommonMark-ish
  * markdown, and a training pipeline needs the prose WITHOUT the
  * markup, with code fences handled deliberately (kept, dropped, or
  * routed to a code corpus — here: dropped and counted).
  *
  * The extractor is a real line-based block parser + inline pass, not
  * a regex soup:
  *
  *  - ATX headings (`#`..`######` + space) → text, heading counted;
  *  - fenced code blocks (``` or ~~~, matching closer of at least the
  *    same fence length) are EXCLUDED whole and counted — decoy
  *    content inside fences must never leak;
  *  - indented continuation, blockquote `>` prefixes and list markers
  *    (`-`, `*`, `+`, `N.` + space) are stripped to their text;
  *  - thematic breaks (`---`, `***`, `___` of ≥3) drop;
  *  - inline: emphasis delimiters `**`/`__`/`*`/`_` unwrap, links
  *    `[text](url)` keep the text, images `![alt](url)` drop whole,
  *    inline code `` `x` `` keeps its literal content (no further
  *    inline parsing inside), backslash escapes unescape.
  *
  * The deterministic fixture (encode) builds a document per row —
  * heading, emphasised/linked/coded words by doc_id rules, a decoy
  * fence — and the gate proves exact prose recovery plus closed-form
  * structure counts, exactly the t72 pattern.
  *
  * Reference scope: no markup handling in the reference
  * (/root/reference/tools.py); beyond-reference LLM-pipeline surface.
  */
object MarkdownText {

  /** Fixture rules (oracle-replayed): words grouped into paragraphs of
    * K = 7 + doc_id % 4; paragraph j: first word linked when
    * (doc_id + j) % 3 == 0, second word bold when (doc_id + j) % 4 ==
    * 1, third word inline-coded when (doc_id + j) % 5 == 2; a heading
    * line `## doc <id>` opens the document and a decoy fence follows
    * paragraph 0. */
  def encode(text: UTF8String, docId: Long): UTF8String = {
    val words = text.toString.split(" ")
    val k = (7 + docId % 4).toInt
    val sb = new java.lang.StringBuilder(text.numBytes * 2 + 128)
    sb.append("## doc ").append(docId).append("\n\n")
    var j = 0
    var w = 0
    while (w < words.length) {
      val until = math.min(w + k, words.length)
      var i = w
      while (i < until) {
        if (i > w) sb.append(' ')
        val word = words(i)
        val pos = i - w
        if (pos == 0 && (docId + j) % 3 == 0)
          sb.append('[').append(word).append("](https://example.com/")
            .append(docId).append('/').append(j).append(')')
        else if (pos == 1 && (docId + j) % 4 == 1)
          sb.append("**").append(word).append("**")
        else if (pos == 2 && (docId + j) % 5 == 2)
          sb.append('`').append(word).append('`')
        else sb.append(word)
        i += 1
      }
      sb.append("\n\n")
      if (j == 0) sb.append("```python\nDECOY = \"fence\"  # not prose\n```\n\n")
      w = until
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  val schema: StructType = StructType(Seq(
    StructField("body", StringType, nullable = false),
    StructField("n_headings", IntegerType, nullable = false),
    StructField("n_fences", IntegerType, nullable = false),
    StructField("n_links", IntegerType, nullable = false),
    StructField("n_blocks", IntegerType, nullable = false)))

  /** Inline pass: unwrap emphasis, links keep text, images drop,
    * inline code keeps literal content, backslash unescapes. */
  private def inline(s: String, links: Array[Int]): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) { out.append(s.charAt(i + 1)); i += 2 }
      else if (c == '`') {
        val close = s.indexOf('`', i + 1)
        if (close < 0) { out.append(c); i += 1 }
        else { out.append(s, i + 1, close); i = close + 1 }
      } else if (c == '!' && i + 1 < n && s.charAt(i + 1) == '[') {
        val closeB = s.indexOf(']', i + 2)
        if (closeB > 0 && closeB + 1 < n && s.charAt(closeB + 1) == '(') {
          val closeP = s.indexOf(')', closeB + 2)
          if (closeP > 0) i = closeP + 1 // image: drop whole
          else { out.append(c); i += 1 }
        } else { out.append(c); i += 1 }
      } else if (c == '[') {
        val closeB = s.indexOf(']', i + 1)
        if (closeB > 0 && closeB + 1 < n && s.charAt(closeB + 1) == '(') {
          val closeP = s.indexOf(')', closeB + 2)
          if (closeP > 0) {
            out.append(inline(s.substring(i + 1, closeB), links))
            links(0) += 1
            i = closeP + 1
          } else { out.append(c); i += 1 }
        } else { out.append(c); i += 1 }
      } else if (c == '*' || c == '_') {
        // emphasis delimiters unwrap — but only runs that CommonMark's
        // flanking rules would treat as delimiters (round-13 advisory
        // fix: the old pass dropped EVERY '*'/'_', deleting the
        // underscores of snake_case identifiers from extracted prose).
        // A run is dropped iff it could open or close emphasis:
        //   '*'  left- or right-flanking;
        //   '_'  additionally may not be intra-word (alnum on both
        //        sides), per the spec's can-open/can-close refinement.
        // Space-surrounded runs ("2 * 3") and intra-word underscores
        // (file_name) stay literal. Residual divergence from full
        // CommonMark (unPAIRED flanking runs are still dropped, the
        // mod-3 rule is not applied) is intentional scope.
        var j = i
        while (j < n && s.charAt(j) == c) j += 1
        def ws(k: Int): Boolean =
          k < 0 || k >= n || Character.isWhitespace(s.charAt(k))
        def punct(k: Int): Boolean =
          k >= 0 && k < n && !Character.isWhitespace(s.charAt(k)) &&
            !Character.isLetterOrDigit(s.charAt(k))
        val p = i - 1; val q = j
        val leftFlank = !ws(q) && (!punct(q) || ws(p) || punct(p))
        val rightFlank = !ws(p) && (!punct(p) || ws(q) || punct(q))
        val isDelim =
          if (c == '*') leftFlank || rightFlank
          else {
            val canOpen = leftFlank && (!rightFlank || punct(p))
            val canClose = rightFlank && (!leftFlank || punct(q))
            canOpen || canClose
          }
        if (!isDelim) out.append(s, i, j)
        i = j
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Block pass → InternalRow(body, n_headings, n_fences, n_links,
    * n_blocks). */
  def extractRow(md: UTF8String): InternalRow = {
    val lines = md.toString.split("\n", -1)
    val blocks = new scala.collection.mutable.ArrayBuffer[String]
    val para = new java.lang.StringBuilder
    var headings = 0
    var fences = 0
    val links = Array(0)
    var fenceChar = ' '
    var fenceLen = 0
    def flush(): Unit = {
      // trim: dropping a leading image/emphasis marker can leave edge
      // whitespace that is markup residue, not prose
      val s = para.toString.trim
      if (s.nonEmpty) blocks += s
      para.setLength(0)
    }
    for (line0 <- lines) {
      if (fenceLen > 0) {
        // inside a fence: only a long-enough closer ends it
        val t = line0.trim
        if (t.length >= fenceLen && t.forall(_ == fenceChar)) fenceLen = 0
      } else {
        var line = line0
        // blockquote prefixes strip (possibly nested)
        while (line.startsWith(">")) line = line.drop(1).dropWhile(_ == ' ')
        val trimmed = line.trim
        if (trimmed.isEmpty) flush()
        else if (trimmed.startsWith("```") || trimmed.startsWith("~~~")) {
          flush()
          fences += 1
          fenceChar = trimmed.charAt(0)
          fenceLen = trimmed.takeWhile(_ == fenceChar).length
        } else if (trimmed.startsWith("#")) {
          val hashes = trimmed.takeWhile(_ == '#').length
          if (hashes <= 6 && hashes < trimmed.length &&
              trimmed.charAt(hashes) == ' ') {
            flush()
            headings += 1
            blocks += inline(trimmed.substring(hashes + 1).trim, links)
          } else {
            if (para.length > 0) para.append(' ')
            para.append(inline(trimmed, links))
          }
        } else if (trimmed.length >= 3 &&
            (trimmed.forall(_ == '-') || trimmed.forall(_ == '*') ||
              trimmed.forall(_ == '_'))) {
          flush() // thematic break
        } else {
          // list markers strip
          val content =
            if ((trimmed.startsWith("- ") || trimmed.startsWith("* ") ||
                trimmed.startsWith("+ ")))
              trimmed.substring(2)
            else {
              val digits = trimmed.takeWhile(_.isDigit)
              if (digits.nonEmpty && digits.length + 1 < trimmed.length &&
                  trimmed.charAt(digits.length) == '.' &&
                  trimmed.charAt(digits.length + 1) == ' ')
                trimmed.substring(digits.length + 2)
              else trimmed
            }
          if (para.length > 0) para.append(' ')
          para.append(inline(content, links))
        }
      }
    }
    flush()
    InternalRow(UTF8String.fromString(blocks.mkString("\n")), headings,
      fences, links(0), blocks.length)
  }
}

/** Column-API face. */
object MarkdownExprs {
  /** (text, doc_id) → deterministic markdown document. */
  def markdownFromText(text: Column, docId: Column): Column =
    Native.call("markdown_from_text", MarkdownText, "encode", StringType)(text, docId)
  /** markdown → struct(body, n_headings, n_fences, n_links, n_blocks). */
  def markdownExtract(md: Column): Column =
    Native.call("markdown_extract", MarkdownText, "extractRow", MarkdownText.schema)(md)
}
