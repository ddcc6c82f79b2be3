package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sitemap XML parsing (sitemaps.org protocol, the crawl-discovery
  * half of the politeness pair next to [[RobotsTxt]]): a crawler seeds
  * its frontier from `<urlset>` documents — `<url>` entries with
  * `<loc>`, optional `<lastmod>` (W3C date), `<changefreq>` and
  * `<priority>`.
  *
  * The parser is a real minimal-XML walk, not a regex: element
  * tokenizer with attribute skipping, XML declaration and comments
  * handled, character data with the five predefined entities decoded,
  * unknown elements ignored, and the protocol's constraints checked
  * (loc required per url; priority in [0.0, 1.0] — out-of-range
  * entries are counted as invalid the way the protocol says consumers
  * should ignore them).
  *
  * The deterministic fixture emits per-source sitemaps whose entry
  * counts, date range, priority sum (in exact tenths) and invalid
  * count the t77 oracle replays closed-form.
  */
object Sitemap {

  /** Fixture rules (oracle-replayed): nUrls = 3 + doc_id % 5 entries;
    * entry u: loc https://example.com/<doc_id>/<u> (with an &amp;
    * entity in the query string when u % 3 == 0), lastmod =
    * 2024-01-01 + (doc_id + u) % 366 days, priority = (u % 11) / 10.0
    * except entry u == 4 (when present) which is planted INVALID with
    * priority 1.5; changefreq from the u % 4 cycle; one XML comment
    * and one unknown element planted. */
  def encode(docId: Long): UTF8String = {
    val n = (3 + docId % 5).toInt
    val sb = new java.lang.StringBuilder(512)
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    sb.append("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n")
    sb.append("<!-- graft fixture ").append(docId).append(" -->\n")
    val freqs = Array("daily", "weekly", "monthly", "never")
    var u = 0
    while (u < n) {
      sb.append("<url>")
      sb.append("<loc>https://example.com/").append(docId).append('/')
        .append(u)
      if (u % 3 == 0) sb.append("?a=1&amp;b=2")
      sb.append("</loc>")
      val day = ((docId + u) % 366).toInt
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day)
      sb.append("<lastmod>").append(date).append("</lastmod>")
      sb.append("<changefreq>").append(freqs(u % 4)).append("</changefreq>")
      val pri = if (u == 4) "1.5" else s"0.${u % 11}"
      sb.append("<priority>").append(pri).append("</priority>")
      sb.append("<ext:custom>ignored</ext:custom>")
      sb.append("</url>\n")
      u += 1
    }
    sb.append("</urlset>\n")
    UTF8String.fromString(sb.toString)
  }

  val schema: StructType = StructType(Seq(
    StructField("n_urls", IntegerType, nullable = false),
    StructField("n_valid", IntegerType, nullable = false),
    StructField("n_invalid_priority", IntegerType, nullable = false),
    StructField("n_with_entity", IntegerType, nullable = false),
    StructField("priority_tenths", LongType, nullable = false),
    StructField("min_lastmod", StringType, nullable = false),
    StructField("max_lastmod", StringType, nullable = false),
    StructField("loc_chars", LongType, nullable = false)))

  private def decodeEntities(s: String): String = s
    .replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
    .replace("&apos;", "'").replace("&amp;", "&") // amp LAST (spec order)

  /** Parse a sitemap urlset → census row. */
  def parseRow(xml0: UTF8String): InternalRow = {
    val xml = xml0.toString
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"sitemap: $msg")
    var i = 0
    val n = xml.length
    var inUrl = false
    var loc: String = null
    var lastmod: String = null
    var priority: String = null
    var nUrls = 0; var nValid = 0; var nInvalid = 0; var nEntity = 0
    var priTenths = 0L
    var minDate: String = null; var maxDate: String = null
    var locChars = 0L
    val text = new java.lang.StringBuilder
    var current: String = null // element whose text we collect
    def closeUrl(): Unit = {
      if (loc == null) fail("url entry without loc")
      nUrls += 1
      locChars += loc.length
      if (loc.contains("&")) nEntity += 1 // decoded & survived
      val priOk = priority == null || {
        val p = java.lang.Double.parseDouble(priority)
        p >= 0.0 && p <= 1.0
      }
      if (priOk) {
        nValid += 1
        if (priority != null)
          priTenths += math.round(java.lang.Double.parseDouble(priority) * 10)
      } else nInvalid += 1
      if (lastmod != null) {
        if (minDate == null || lastmod < minDate) minDate = lastmod
        if (maxDate == null || lastmod > maxDate) maxDate = lastmod
      }
      loc = null; lastmod = null; priority = null
    }
    while (i < n) {
      val c = xml.charAt(i)
      if (c == '<') {
        if (xml.startsWith("<!--", i)) {
          val e = xml.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (xml.startsWith("<?", i)) {
          val e = xml.indexOf("?>", i + 2)
          i = if (e < 0) n else e + 2
        } else {
          val close = xml.indexOf('>', i + 1)
          if (close < 0) fail("unterminated tag")
          val inner = xml.substring(i + 1, close).trim
          val closing = inner.startsWith("/")
          val name = {
            val raw = if (closing) inner.substring(1) else inner
            val sp = raw.indexOf(' ')
            (if (sp < 0) raw else raw.substring(0, sp)).stripSuffix("/")
          }
          if (!closing) {
            name match {
              case "url" =>
                if (inUrl) fail("nested url")
                inUrl = true
              case "loc" | "lastmod" | "priority" =>
                current = name; text.setLength(0)
              case _ => () // urlset, changefreq, unknown/extension tags
            }
          } else {
            name match {
              case "url" => inUrl = false; closeUrl()
              case "loc" => loc = decodeEntities(text.toString.trim)
              case "lastmod" => lastmod = text.toString.trim
              case "priority" => priority = text.toString.trim
              case _ => ()
            }
            if (name == "loc" || name == "lastmod" || name == "priority")
              current = null
          }
          i = close + 1
        }
      } else {
        if (current != null) text.append(c)
        i += 1
      }
    }
    if (inUrl) fail("unterminated url entry")
    InternalRow(nUrls, nValid, nInvalid, nEntity, priTenths,
      UTF8String.fromString(if (minDate == null) "" else minDate),
      UTF8String.fromString(if (maxDate == null) "" else maxDate),
      locChars)
  }
}

/** Column-API face. */
object SitemapExprs {
  /** doc_id → deterministic sitemap XML (text input is unused — the
    * rules are pure doc_id — but kept for the fixture-shape symmetry). */
  def sitemapFromId(docId: Column): Column =
    Native.call("sitemap_from_id", Sitemap, "encode", StringType)(docId)
  /** sitemap XML → census struct. */
  def sitemapCensus(xml: Column): Column =
    Native.call("sitemap_census", Sitemap, "parseRow", Sitemap.schema)(xml)
}
