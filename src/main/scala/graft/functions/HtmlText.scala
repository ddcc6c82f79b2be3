package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML → text extraction — the FIRST step of every web-corpus pipeline
  * (CCNet, Gopher, RefinedWeb all start from markup, not text). The
  * extractor is a real single-pass HTML tokenizer, not a regex strip:
  *
  *  - tags with quote-aware attribute scanning (a `>` inside a quoted
  *    attribute value does NOT end the tag);
  *  - `<!-- ... -->` comments dropped whole;
  *  - `<script>`/`<style>`/`<title>` switch to raw-text mode until the
  *    matching close tag (case-insensitive), so code and CSS can never
  *    leak into training text — `<title>` is captured separately as
  *    document metadata;
  *  - character references decoded: the five named predefineds
  *    (`&amp; &lt; &gt; &quot; &apos;`) plus decimal `&#NN;` and hex
  *    `&#xNN;` numeric forms (code points through U+10FFFF);
  *  - block-level elements (p, div, br, li, h1..h6, tr, section,
  *    article) emit newline separators; inline elements (a, span, b, i,
  *    em, strong) emit nothing — whitespace inside a block collapses to
  *    single spaces, blocks join with '\n', empty blocks drop.
  *
  * The deterministic fixture encoder wraps each document's text in a
  * full page (head with decoy script/style, comments, per-paragraph
  * divs with `>`-in-attribute traps, links wrapping existing words,
  * per-rule entity-encoded characters) so the gated query proves the
  * tokenizer recovers the EXACT original text — entity decoding,
  * raw-text exclusion and attribute traps all on the hash-match path.
  *
  * Reference scope: the reference has no markup handling at all
  * (/root/reference/tools.py); beyond-reference LLM-pipeline surface
  * per the build brief.
  */
object HtmlText {

  private val BlockTags = Set("p", "div", "br", "li", "ul", "ol", "h1", "h2",
    "h3", "h4", "h5", "h6", "tr", "table", "section", "article", "body",
    "html", "head", "blockquote", "pre")
  private val RawTextTags = Set("script", "style", "title")

  /** Deterministic page builder: text + doc_id → HTML. Rules (replayed
    * closed-form by the oracles):
    *  - words grouped into paragraphs of K = 8 + doc_id % 5 words;
    *  - paragraph j wraps its first word in a link when
    *    (doc_id + j) % 3 == 0;
    *  - paragraph j entity-encodes 'a'→&#97; when (doc_id + j) % 4 == 0
    *    and 'e'→&#x65; when (doc_id + j) % 4 == 2;
    *  - every paragraph carries a data-note="k>0" attribute trap;
    *  - head carries title "doc <id>", a decoy script and style block,
    *    and an HTML comment with decoy text. */
  def encode(text: UTF8String, docId: Long): UTF8String = {
    val words = text.toString.split(" ")
    val k = (8 + docId % 5).toInt
    val sb = new java.lang.StringBuilder(text.numBytes * 2 + 256)
    sb.append("<!DOCTYPE html><html><head><title>doc ").append(docId)
      .append("</title><style>body { color: #000; } /* DECOY_STYLE */")
      .append("</style><script>var x = \"DECOY_SCRIPT\"; if (1 < 2) {}")
      .append("</script></head><body>")
    sb.append("<!-- DECOY_COMMENT doc ").append(docId).append(" -->")
    var j = 0
    var w = 0
    while (w < words.length) {
      val until = math.min(w + k, words.length)
      sb.append("<div class=\"p\" data-note=\"").append(j).append(">0\"><p>")
      var i = w
      while (i < until) {
        if (i > w) sb.append(' ')
        val enc = (docId + j) % 4 match {
          case 0 => words(i).replace("a", "&#97;")
          case 2 => words(i).replace("e", "&#x65;")
          case _ => words(i)
        }
        if (i == w && (docId + j) % 3 == 0)
          sb.append("<a href=\"https://example.com/").append(docId)
            .append('/').append(j).append("\">").append(enc).append("</a>")
        else sb.append(enc)
        i += 1
      }
      sb.append("</p></div>")
      w = until
      j += 1
    }
    sb.append("</body></html>")
    UTF8String.fromString(sb.toString)
  }

  /** Tokenize + extract. Returns (title, body, n_links, n_blocks):
    * body blocks joined with '\n', whitespace collapsed per block. */
  def extract(html: String): (String, String, Int, Int) = {
    val n = html.length
    val title = new java.lang.StringBuilder
    val block = new java.lang.StringBuilder
    val blocks = new scala.collection.mutable.ArrayBuffer[String]
    var nLinks = 0
    var i = 0
    var rawMode: String = null // inside <script>/<style>/<title>
    var pendingSpace = false
    def flushBlock(): Unit = {
      if (block.length > 0) { blocks += block.toString; block.setLength(0) }
      pendingSpace = false
    }
    def appendText(cp: Int): Unit = {
      if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r') {
        if (block.length > 0) pendingSpace = true
      } else {
        if (pendingSpace) { block.append(' '); pendingSpace = false }
        block.appendCodePoint(cp)
      }
    }
    def decodeRef(): Int = { // at html(i) == '&'; returns cp or -1
      val semi = html.indexOf(';', i + 1)
      if (semi < 0 || semi - i > 12) return -1
      val body = html.substring(i + 1, semi)
      val cp = body match {
        case "amp" => '&'.toInt
        case "lt" => '<'.toInt
        case "gt" => '>'.toInt
        case "quot" => '"'.toInt
        case "apos" => '\''.toInt
        case b if b.length > 1 && b.charAt(0) == '#' =>
          try {
            val v =
              if (b.charAt(1) == 'x' || b.charAt(1) == 'X')
                Integer.parseInt(b.substring(2), 16)
              else Integer.parseInt(b.substring(1))
            if (v >= 0 && v <= 0x10FFFF) v else -1
          } catch { case _: NumberFormatException => -1 }
        case _ => -1
      }
      if (cp >= 0) i = semi + 1
      cp
    }
    while (i < n) {
      val c = html.charAt(i)
      if (rawMode != null) {
        // raw-text: scan for the matching close tag, case-insensitive
        if (c == '<' && i + 1 < n && html.charAt(i + 1) == '/' &&
            html.regionMatches(true, i + 2, rawMode, 0, rawMode.length)) {
          val after = i + 2 + rawMode.length
          if (after < n && (html.charAt(after) == '>' ||
              html.charAt(after) == ' ')) {
            i = html.indexOf('>', after) + 1
            if (i == 0) i = n
            rawMode = null
          } else { if (rawMode == "title") title.append(c); i += 1 }
        } else {
          if (rawMode == "title") title.append(c)
          i += 1
        }
      } else if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          // parse tag name
          var j = i + 1
          val closing = j < n && html.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          while (j < n && (html.charAt(j).isLetterOrDigit)) j += 1
          val name = html.substring(nameStart, j).toLowerCase
          // quote-aware scan to the real tag end
          var quote: Char = 0
          var k = j
          var done = false
          while (k < n && !done) {
            val ch = html.charAt(k)
            if (quote != 0) { if (ch == quote) quote = 0 }
            else if (ch == '"' || ch == '\'') quote = ch
            else if (ch == '>') done = true
            k += 1
          }
          i = k
          if (name.nonEmpty) {
            if (!closing && name == "a") nLinks += 1
            if (BlockTags.contains(name)) flushBlock()
            if (!closing && RawTextTags.contains(name)) rawMode = name
          }
        }
      } else if (c == '&') {
        val cp = decodeRef()
        if (cp >= 0) appendText(cp)
        else { appendText('&'); i += 1 }
      } else {
        appendText(c)
        i += 1
      }
    }
    flushBlock()
    (title.toString, blocks.mkString("\n"), nLinks, blocks.length)
  }

  val schema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = false),
    StructField("body", StringType, nullable = false),
    StructField("n_links", IntegerType, nullable = false),
    StructField("n_blocks", IntegerType, nullable = false)))

  /** Codegen entry: extract → InternalRow(title, body, n_links, n_blocks). */
  def extractRow(html: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val (title, body, links, blocks) = extract(html.toString)
    org.apache.spark.sql.catalyst.InternalRow(
      UTF8String.fromString(title), UTF8String.fromString(body),
      links, blocks)
  }
}

/** Column-API face. */
object HtmlExprs {
  /** (text, doc_id) → deterministic HTML page. */
  def htmlFromText(text: Column, docId: Column): Column =
    Native.call("html_from_text", HtmlText, "encode", StringType)(text, docId)
  /** html → struct(title, body, n_links, n_blocks). */
  def htmlExtract(html: Column): Column =
    Native.call("html_extract", HtmlText, "extractRow", HtmlText.schema)(html)
}
