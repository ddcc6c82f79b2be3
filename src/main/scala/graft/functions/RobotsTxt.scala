package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt parsing and matching per RFC 9309 (the Robots Exclusion
  * Protocol) — the crawl-politeness gate that sits in front of every
  * web-corpus fetch, next to d47's URL canonicalization:
  *
  *  - group structure (§2.2.1): consecutive `User-agent:` lines stack
  *    onto one group; the crawler obeys the group with the MOST
  *    SPECIFIC matching product token, falling back to `*`; keys are
  *    case-insensitive, `#` starts a comment, unknown lines are
  *    ignored;
  *  - rule matching (§2.2.2): `Allow`/`Disallow` path patterns match
  *    as prefixes with `*` wildcards and the `$` end anchor;
  *  - precedence (§2.2.2): the rule with the LONGEST pattern (in
  *    octets) wins; on equal length Allow beats Disallow; no match →
  *    allowed; an empty Disallow value disallows nothing.
  *
  * The evaluator compiles nothing — one linear scan per rule with a
  * backtracking `*` matcher (patterns are tiny; URLs are short), run
  * per row inside codegen. RobotsTxtSpec pins the RFC's own
  * precedence examples; the t74 fixture derives per-source group
  * variants and per-doc URL classes whose verdicts the oracle replays
  * closed-form.
  *
  * Reference scope: the reference performs no crawling
  * (/root/reference/tools.py); beyond-reference LLM-pipeline surface
  * per the build brief.
  */
object RobotsTxt {

  final case class Rule(allow: Boolean, pattern: String)

  /** Parse robots.txt into user-agent groups (lowercased tokens). */
  def parse(txt: String): Seq[(Seq[String], Seq[Rule])] = {
    val groups = Seq.newBuilder[(Seq[String], Seq[Rule])]
    var agents = List.empty[String]
    var rules = List.empty[Rule]
    var inGroup = false // false = collecting user-agent lines
    def flush(): Unit = {
      if (agents.nonEmpty) groups += ((agents.reverse, rules.reverse))
      agents = Nil; rules = Nil
    }
    for (line0 <- txt.split("\n")) {
      val line = {
        val h = line0.indexOf('#')
        (if (h >= 0) line0.substring(0, h) else line0).trim
      }
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (inGroup) { flush(); inGroup = false }
            agents ::= value.toLowerCase
          case "allow" | "disallow" if agents.nonEmpty =>
            inGroup = true
            // empty value: matches nothing (RFC: empty Disallow allows all)
            if (value.nonEmpty) rules ::= Rule(key == "allow", value)
          case _ => () // crawl-delay, sitemap, unknown keys: ignored
        }
      }
    }
    flush()
    groups.result()
  }

  /** `*`/`$` pattern match against a path, anchored at the start. */
  def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.dropRight(1) else pattern
    def m(pi: Int, si: Int): Boolean = {
      if (pi == pat.length) !anchored || si == path.length
      else if (pat.charAt(pi) == '*') {
        var k = si
        while (k <= path.length) {
          if (m(pi + 1, k)) return true
          k += 1
        }
        false
      } else si < path.length && path.charAt(si) == pat.charAt(pi) &&
        m(pi + 1, si + 1)
    }
    m(0, 0)
  }

  /** Pick the group for `agent` (most specific product-token match,
    * else `*`), then apply longest-match / allow-wins-ties. */
  def isAllowed(robotsTxt: String, agent: String, path: String): Boolean = {
    val groups = parse(robotsTxt)
    val a = agent.toLowerCase
    // most specific: longest user-agent token that is a prefix of the
    // agent product token; "*" only if nothing else matches
    var best: Seq[Rule] = null
    var bestLen = -1
    for ((agents, rules) <- groups; tok <- agents) {
      if (tok != "*" && a.startsWith(tok) && tok.length > bestLen) {
        best = rules; bestLen = tok.length
      }
    }
    if (best == null)
      for ((agents, rules) <- groups)
        if (best == null && agents.contains("*")) best = rules
    if (best == null) return true
    var verdict = true // no match → allowed
    var matchLen = -1
    for (r <- best) {
      if (patternMatches(r.pattern, path)) {
        val len = r.pattern.length
        if (len > matchLen || (len == matchLen && r.allow && !verdict)) {
          verdict = r.allow
          matchLen = len
        }
      }
    }
    verdict
  }

  /** [[isAllowed]] for product token "graftbot" over string column
    * values: the [[NativeCall]] target. */
  def graftbotAllowed(robotsTxt: UTF8String, path: UTF8String): Boolean =
    isAllowed(robotsTxt.toString, "graftbot", path.toString)
}

/** Column-API face. */
object RobotsExprs {
  /** (robots_txt, path) → allowed for product token "graftbot". */
  def robotsAllowed(robotsTxt: Column, path: Column): Column =
    Native.call("robots_allowed", RobotsTxt, "graftbotAllowed", BooleanType)(
      robotsTxt, path)
}
