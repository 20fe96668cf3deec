package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** RFC 9309 (Robots Exclusion Protocol) evaluation — `true` when
  * `agent` may fetch `path` under the given robots.txt body. The
  * crawl-politeness filter every pipeline over crawled URLs needs;
  * implemented as a native codegen'd function (a per-row parse +
  * longest-match walk has no built-in-function composition, and a UDF
  * would break whole-stage codegen — the GramTopStats precedent).
  *
  * Implements the RFC's normative semantics:
  *   - group selection: all groups whose `User-agent` token equals
  *     `agent` (case-insensitive); if none, the `*` groups; if none,
  *     everything is allowed. Consecutive `User-agent` lines share
  *     one group (RFC 9309 §2.2.1).
  *   - rule matching: among the selected groups' Allow/Disallow
  *     rules, the rule with the LONGEST pattern that matches the
  *     path wins (octet length of the pattern, §2.2.2); an Allow
  *     wins a length tie. No matching rule → allowed.
  *   - patterns are prefix matches with `*` (any char run) and a
  *     trailing `$` end anchor; an EMPTY Disallow value is "allow
  *     everything" (no rule).
  *   - `#` comments strip to end of line; field names are
  *     case-insensitive; unknown fields are ignored (so Sitemap /
  *     Crawl-delay lines pass through harmlessly).
  *
  * 100 TB shape: one scan — the rules body is typically the same
  * small text repeated per host; the parse is O(bytes) per row and
  * the matcher O(pattern × path) with patterns a few tens of bytes.
  */
object RobotsAllowed {
  def apply(rules: Expression, path: Expression, agent: String): Expression = {
    require(agent.nonEmpty && !agent.contains("*"),
      s"agent must be a concrete product token, got '$agent'")
    NativeCall(getClass, BooleanType, Seq(Seq(StringType), Seq(StringType)),
      Seq(rules, path),
      Seq(NativeCall.obj(agent.toLowerCase(java.util.Locale.ROOT))))
  }

  /** RFC 9309 pattern match: literal prefix with `*` wildcards and an
    * optional trailing `$` anchor. Iterative greedy-with-backtrack
    * (the classic glob loop) — linear in practice on robots patterns. */
  private[functions] def patternMatches(pat: String,
                                        path: String): Boolean = {
    val anchored = pat.nonEmpty && pat.charAt(pat.length - 1) == '$'
    val p = if (anchored) pat.substring(0, pat.length - 1) else pat
    var pi = 0
    var si = 0
    var starPi = -1
    var starSi = -1
    while (si < path.length) {
      if (pi < p.length &&
        (p.charAt(pi) == path.charAt(si)) && p.charAt(pi) != '*') {
        pi += 1; si += 1
      } else if (pi < p.length && p.charAt(pi) == '*') {
        starPi = pi; starSi = si; pi += 1
      } else if (starPi >= 0) {
        pi = starPi + 1; starSi += 1; si = starSi
      } else {
        return false // prefix mismatch with nothing to backtrack
      }
      // a full prefix match (pattern exhausted) succeeds unless the
      // $ anchor demands the path end here too
      if (pi == p.length && !anchored) return true
    }
    // path exhausted: remaining pattern must be all '*'
    var rest = pi
    while (rest < p.length && p.charAt(rest) == '*') rest += 1
    rest == p.length
  }

  /** UTF-8 byte length without encoding (rule-specificity metric). */
  private[graft] def utf8Length(s: String): Int = {
    var i = 0
    var n = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) n += 1
      else if (c < 0x800) n += 2
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) { n += 4; i += 1 }
      else n += 3
      i += 1
    }
    n
  }

  /** Parse + evaluate in one pass over the rules body. */
  def compute(rulesBody: UTF8String, pathU: UTF8String, agentLower: String)
      : Boolean = {
    val rules = rulesBody.toString
    val path = pathU.toString
    // collected (pattern, isAllow) for the exact-agent groups and the
    // * groups; exact wins if any exact group EXISTS (even rule-less)
    var exactSeen = false
    val exact = new java.util.ArrayList[(String, Boolean)]()
    val star = new java.util.ArrayList[(String, Boolean)]()
    var inExact = false
    var inStar = false
    var uaRun = false // consecutive User-agent lines extend one group
    val lines = rules.split("\n", -1)
    var li = 0
    while (li < lines.length) {
      var line = lines(li)
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim.stripSuffix("\r").trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val field = line.substring(0, colon).trim
          .toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (!uaRun) { inExact = false; inStar = false }
            uaRun = true
            val v = value.toLowerCase(java.util.Locale.ROOT)
            if (v == agentLower) { inExact = true; exactSeen = true }
            else if (v == "*") inStar = true
          case "allow" | "disallow" =>
            uaRun = false
            if (value.nonEmpty) { // empty Disallow = no rule
              val rule = (value, field == "allow")
              if (inExact) exact.add(rule)
              if (inStar) star.add(rule)
            }
          // Sitemap / Crawl-delay / unknown: RFC 9309 §2.2.4 — records
          // outside the protocol MUST NOT interfere with parsing, so
          // they do NOT end a User-agent run ('User-agent: a\n
          // Crawl-delay: 2\nUser-agent: b\nDisallow: /x' is ONE group
          // covering both agents; Google's reference parser agrees)
          case _ => ()
        }
      }
      li += 1
    }
    val active = if (exactSeen) exact else star
    var bestLen = -1
    var bestAllow = true // no matching rule → allowed
    var i = 0
    while (i < active.size()) {
      val (pat, isAllow) = active.get(i)
      if (patternMatches(pat, path)) {
        // §2.2.2: most-specific = most OCTETS — UTF-8 byte length, not
        // UTF-16 code units (they differ on percent-unencoded non-ASCII
        // patterns, which are legal in robots.txt)
        val len = utf8Length(pat)
        if (len > bestLen) { bestLen = len; bestAllow = isAllow }
        else if (len == bestLen && isAllow) bestAllow = true
      }
      i += 1
    }
    bestAllow
  }
}
