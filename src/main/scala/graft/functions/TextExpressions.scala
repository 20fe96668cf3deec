package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial document fingerprint
  * `fold(7, (acc, cp) => (acc*31 + cp) % 1e9+7)` over the CODEPOINTS of
  * the lowercased text — one native pass in whole-stage codegen.
  *
  * Replaces the `aggregate(split(lower(text), ""), ...)` higher-order
  * formulation: Spark's HOFs are CodegenFallback (interpreted per
  * element, one single-character UTF8String allocated per char), which
  * made the fingerprint ~40% of the text-analysis bench. Semantics match
  * the DuckDB oracle (`list_reduce` + `ascii`, SparkEntry p40) exactly:
  * DuckDB's `ascii` returns the code POINT, so iterating codepoints —
  * not the surrogate code units `split(text, "")` yields — is the
  * formulation that agrees beyond the BMP too. Lowercasing is
  * `UTF8String.toLowerCase`, identical to `lower()`.
  */
object PolyHash {
  val Mod = 1000000007L

  def apply(child: Expression): Expression =
    NativeCall(getClass, LongType, Seq(Seq(StringType)), Seq(child))

  def compute(s: UTF8String): Long = {
    val str = s.toLowerCase.toString
    // both split('') formulations (Java regex AND DuckDB string_split)
    // yield [''] for the EMPTY string — one ascii=0 fold step
    if (str.isEmpty) return (7L * 31L) % Mod
    var acc = 7L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Fused token statistics — `struct(n_ws, stop_cnt, char_sum, punct_cnt,
  * n_chars)` in ONE native pass, replacing four higher-order/regex
  * expressions that each re-split the text (HOFs are CodegenFallback:
  * per-token UTF8String allocations, interpreted folds).
  *
  * Field semantics replicate the HOF formulations EXACTLY (pinned in
  * VectorExpressionsSpec):
  *  - `n_ws`     = `size(split(trim(text), "\\s+"))` — trim strips
  *    0x20 only; Java split keeps a leading "" when the trimmed string
  *    starts with regex-\s (tab/newline), yields [""] for empty input,
  *    and drops trailing empties.
  *  - `stop_cnt` = tokens of `lower(text)` that are stopwords.
  *  - `char_sum` = total codepoints across tokens (= sum of length(t)).
  *  - `punct_cnt`= occurrences of `[.,;:!?()-]` in the RAW text.
  *  - `n_chars`  = `length(text)` (codepoints) of the RAW text.
  */
object TextStats {
  def apply(child: Expression, stopwords: Seq[String]): Expression =
    NativeCall(getClass, schema, Seq(Seq(StringType)), Seq(child), Seq(
      NativeCall.obj(new java.util.HashSet[String](stopwords.asJava)),
      Literal(if (stopwords.isEmpty) 0 else stopwords.map(_.length).max)))

  val schema: StructType = StructType(Seq(
    StructField("n_ws", IntegerType, nullable = false),
    StructField("stop_cnt", IntegerType, nullable = false),
    StructField("char_sum", LongType, nullable = false),
    StructField("punct_cnt", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false)))

  import GramTokens.isRegexWs

  private def isPunct(c: Char): Boolean = c match {
    case '.' | ',' | ';' | ':' | '!' | '?' | '(' | ')' | '-' => true
    case _ => false
  }

  /** Strip 0x20 (and only 0x20 — `trim()` semantics) from both ends. */
  private def trimSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e)
  }

  /** Token count per Java `split("\\s+")` + non-ws codepoint total. */
  private def countTokens(t: String): (Int, Long) = {
    if (t.isEmpty) return (1, 0L) // "".split gives [""]
    var tokens = if (isRegexWs(t.charAt(0))) 1 else 0 // leading "" token
    var chars = 0L
    var inRun = false
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (isRegexWs(c)) inRun = false
      else {
        if (!inRun) { tokens += 1; inRun = true }
        // count codepoints, not UTF-16 units: skip low surrogates
        if (!Character.isLowSurrogate(c)) chars += 1
      }
      i += 1
    }
    (tokens, chars)
  }

  /** Stopword hits among the tokens of `t` (already lowercased). The
    * length gate skips the substring allocation for tokens longer than
    * any stopword. */
  private def countStops(t: String, stops: java.util.HashSet[String],
                         maxLen: Int): Int = {
    var n = 0
    var i = 0
    while (i < t.length) {
      if (!isRegexWs(t.charAt(i))) {
        var j = i
        while (j < t.length && !isRegexWs(t.charAt(j))) j += 1
        if (j - i <= maxLen && stops.contains(t.substring(i, j))) n += 1
        i = j
      } else i += 1
    }
    n
  }

  def compute(s: UTF8String, stops: java.util.HashSet[String],
              maxStopLen: Int): InternalRow = {
    val raw = s.toString
    val (nWs, charSum) = countTokens(trimSpaces(raw))
    val stopCnt =
      countStops(trimSpaces(s.toLowerCase.toString), stops, maxStopLen)
    var punct = 0
    var nChars = 0
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (isPunct(c)) punct += 1
      if (!Character.isLowSurrogate(c)) nChars += 1
      i += 1
    }
    new GenericInternalRow(
      Array[Any](nWs, stopCnt, charSum, punct, nChars))
  }
}

/** Unicode normalization (UAX #15) as a native codegen'd function —
  * `java.text.Normalizer` under whole-stage codegen, with an
  * `isNormalized` fast path so already-normalized text (the
  * overwhelmingly-common ASCII row) returns the input `UTF8String`
  * without allocating. A Scala UDF here would break codegen and box
  * every row; Spark has no built-in normalizer (SPARK-whichever never
  * landed), so this is a native call.
  *
  * `form` is validated at construction: NFC / NFD / NFKC / NFKD.
  * NFC is oracle-gated against DuckDB's utf8proc `nfc_normalize`.
  */
object UnicodeNormalize {
  val Forms: Seq[String] = Seq("NFC", "NFD", "NFKC", "NFKD")

  def apply(child: Expression, form: String): Expression = {
    require(Forms.contains(form),
      s"unknown normalization form '$form' — one of " + Forms.mkString(", "))
    NativeCall(getClass, StringType, Seq(Seq(StringType)), Seq(child),
      Seq(NativeCall.obj(java.text.Normalizer.Form.valueOf(form))))
  }

  def compute(s: UTF8String, form: java.text.Normalizer.Form)
      : UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, form))
  }
}

/** Fused per-document top-n-gram statistics — `(top{n}_cnt,
  * top{n}_len)` for each requested word n-gram size, in ONE native
  * pass under whole-stage codegen. Replaces the HOF gram-struct
  * build + (doc, n, gram-hash) count SHUFFLE in
  * [[graft.pipeline.TextAnalysis.gopherRepetition]]: the most
  * frequent n-gram of a document is a WITHIN-document property, so a
  * per-row hash map computes it without anything crossing the wire —
  * the 100x-rung bench had the shuffled HOF form at 82 s where this
  * pass rides the scan.
  *
  * Semantics replicate the shuffled form EXACTLY (pinned by the
  * hand-checked spec and the p133/p134 DuckDB hash gates):
  * tokens are maximal non-whitespace runs (regex `\s` class); the
  * gram length is the codepoint length of the space-joined gram
  * (token codepoints + n-1); the winner per n is the lexicographic
  * max of (count, max length) — grams compare by 64-bit hash, so a
  * collision can only MERGE two gram classes (count sums, length
  * maxes), the repo-wide hashed-gram contract, here scoped to a
  * single document (collision odds ~(distinct grams)^2/2^64 per
  * doc). Documents with fewer than n words emit (0, 0). Per-row
  * transient memory is O(distinct grams) map cells — the same order
  * as the document itself.
  */
object GramTopStats {
  def apply(child: Expression, ns: Seq[Int]): Expression = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n-gram sizes $ns")
    NativeCall(getClass,
      StructType(ns.flatMap(n => Seq(
        StructField(s"top${n}_cnt", LongType, nullable = false),
        StructField(s"top${n}_len", LongType, nullable = false)))),
      Seq(Seq(StringType)), Seq(child), Seq(GramTokens.sizes(ns)))
  }

  def compute(s: UTF8String, ns: ArrayData): InternalRow = {
    val (tokH, tokL, m) = GramTokens.tokenize(s.toString)
    val out = new Array[Any](ns.numElements() * 2)
    var k = 0
    while (k < ns.numElements()) {
      val n = ns.getInt(k)
      var bestCnt = 0L
      var bestLen = 0L
      if (m >= n) {
        // cell = [count, max glen] per gram-hash class
        val map = new java.util.HashMap[java.lang.Long, Array[Long]]()
        var p = 0
        while (p <= m - n) {
          var gh = -3750763034362895579L // FNV-1a 64 offset basis
          var glen = (n - 1).toLong
          var q = 0
          while (q < n) {
            gh = (gh ^ tokH(p + q)) * 1099511628211L
            glen += tokL(p + q)
            q += 1
          }
          val cell = map.get(gh)
          if (cell == null) map.put(gh, Array(1L, glen))
          else {
            cell(0) += 1L
            if (glen > cell(1)) cell(1) = glen
          }
          p += 1
        }
        val it = map.values().iterator()
        while (it.hasNext) {
          val cell = it.next()
          if (cell(0) > bestCnt ||
            (cell(0) == bestCnt && cell(1) > bestLen)) {
            bestCnt = cell(0); bestLen = cell(1)
          }
        }
      }
      out(k * 2) = bestCnt
      out(k * 2 + 1) = bestLen
      k += 1
    }
    new GenericInternalRow(out)
  }
}

/** Shared whitespace tokenizer for the per-document gram passes:
  * maximal non-`\s` runs, each reduced to a 64-bit polynomial hash
  * plus its codepoint length (the hashed-gram discipline — gram
  * classes never materialize strings). */
private[functions] object GramTokens {
  private[functions] def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** The n-gram sizes constant of [[GramTopStats]] / [[DupGramCoverage]]. */
  def sizes(ns: Seq[Int]): Literal =
    Literal.create(ns, ArrayType(IntegerType, containsNull = false))

  /** Returns (token hashes, token codepoint lengths, token count). */
  def tokenize(str: String): (Array[Long], Array[Int], Int) = {
    var tokH = new Array[Long](16)
    var tokL = new Array[Int](16)
    var m = 0
    var i = 0
    while (i < str.length) {
      if (!isRegexWs(str.charAt(i))) {
        var h = 1125899906842597L
        var cps = 0
        var j = i
        while (j < str.length && !isRegexWs(str.charAt(j))) {
          val c = str.charAt(j)
          h = h * 31L + c
          if (!Character.isLowSurrogate(c)) cps += 1
          j += 1
        }
        if (m == tokH.length) {
          tokH = java.util.Arrays.copyOf(tokH, m * 2)
          tokL = java.util.Arrays.copyOf(tokL, m * 2)
        }
        tokH(m) = h; tokL(m) = cps; m += 1
        i = j
      } else i += 1
    }
    (tokH, tokL, m)
  }
}

/** Fused Gopher quality-signal skeleton (Rae et al. 2021 §A.1.1) —
  * every integer signal of
  * [[graft.pipeline.TextAnalysis.gopherSignals]] in ONE native pass:
  * `struct(n_words, n_chars, n_sym, n_lines, n_bullet, n_ellipsis,
  * n_alpha_words, n_required)`.
  *
  * Replaces eight per-column higher-order/regex expressions that EACH
  * re-derived the token/line arrays (HOFs are CodegenFallback — the
  * whole projection ran interpreted, re-splitting the document up to
  * eight times per row; measured as the gopher_quality bench entry's
  * dominant cost). Field semantics replicate the HOF formulations
  * EXACTLY — pinned by a property test against the retained built-in
  * formulation ([[graft.pipeline.TextAnalysis.gopherSignalsBuiltin]])
  * and the unchanged p121/p122 gates:
  *
  *  - tokens: maximal non-`\s` runs of the space-trimmed text
  *    (`filter(split(trim(raw), "\\s+"), _ =!= "")` — empties dropped,
  *    unlike [[TextStats]]' n_ws);
  *  - `n_chars` = Σ token codepoints (`length(array_join(toks, ""))`);
  *  - `n_sym` = occurrences of `#` or `…` in the RAW text;
  *  - lines: `split(raw, "\n")` segments, trimmed of 0x20 ONLY
  *    (`trim()` semantics), empties dropped; `n_bullet` counts lines
  *    whose first char is one of `-*•‣▪` (the `^[-*•‣▪]` regex),
  *    `n_ellipsis` lines ending in `...` or `…` (`(\.\.\.|…)\z`);
  *  - `n_alpha_words` = tokens containing an ASCII letter
  *    (`[A-Za-z]`);
  *  - `n_required` = how many entries of the (pre-lowercased) required
  *    list appear among the `lower()`-cased tokens — lowercasing goes
  *    through the same `UTF8String.toLowerCase` the SQL `lower()`
  *    uses, duplicates in the list count per entry (the constant maps
  *    each distinct entry to its multiplicity), and tokens longer
  *    (UTF-16) than the longest required entry skip the lowercase
  *    allocation (Unicode lowercase mappings never shrink a string's
  *    UTF-16 length, so such a token can never equal a shorter entry).
  */
object GopherStats {
  def apply(child: Expression, requiredLower: Seq[String]): Expression = {
    require(requiredLower.nonEmpty, "requiredLower must be non-empty")
    val counts = new java.util.HashMap[String, Int]()
    requiredLower.foreach(w => counts.merge(w, 1, (a, b) => a + b))
    NativeCall(getClass, schema, Seq(Seq(StringType)), Seq(child), Seq(
      NativeCall.obj(counts), Literal(requiredLower.map(_.length).max)))
  }


  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_chars", LongType, nullable = false),
    StructField("n_sym", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet", LongType, nullable = false),
    StructField("n_ellipsis", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_required", LongType, nullable = false)))

  import GramTokens.isRegexWs

  private def isBullet(c: Char): Boolean = c match {
    case '-' | '*' | '•' | '‣' | '▪' => true
    case _ => false
  }

  def compute(s: UTF8String, reqCounts: java.util.HashMap[String, Int],
      maxReqLen: Int): InternalRow = {
    val str = s.toString
    val n = str.length
    // ---- token scan (trim is subsumed: empties are dropped anyway)
    var nWords = 0L
    var nChars = 0L
    var nAlpha = 0L
    var seen: java.util.HashSet[String] = null
    var i = 0
    while (i < n) {
      if (!isRegexWs(str.charAt(i))) {
        nWords += 1L
        var alpha = false
        var j = i
        while (j < n && !isRegexWs(str.charAt(j))) {
          val c = str.charAt(j)
          if (!Character.isLowSurrogate(c)) nChars += 1L
          if (!alpha && ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')))
            alpha = true
          j += 1
        }
        if (alpha) nAlpha += 1L
        if (j - i <= maxReqLen) {
          val low = UTF8String.fromString(str.substring(i, j))
            .toLowerCase.toString
          if (reqCounts.containsKey(low)) {
            if (seen == null) seen = new java.util.HashSet[String]()
            seen.add(low)
          }
        }
        i = j
      } else i += 1
    }
    var nReq = 0L
    if (seen != null) {
      val it = seen.iterator()
      while (it.hasNext) nReq += reqCounts.get(it.next())
    }
    // ---- symbol scan over the raw text
    var nSym = 0L
    i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c == '#' || c == '…') nSym += 1L
      i += 1
    }
    // ---- line scan: '\n' segments, trimmed of 0x20 only
    var nLines = 0L
    var nBullet = 0L
    var nEllipsis = 0L
    var segStart = 0
    var p = 0
    while (p <= n) {
      if (p == n || str.charAt(p) == '\n') {
        var b = segStart
        var e = p
        while (b < e && str.charAt(b) == ' ') b += 1
        while (e > b && str.charAt(e - 1) == ' ') e -= 1
        if (e > b) {
          nLines += 1L
          if (isBullet(str.charAt(b))) nBullet += 1L
          if ((e - b >= 1 && str.charAt(e - 1) == '…') ||
            (e - b >= 3 && str.charAt(e - 1) == '.' &&
              str.charAt(e - 2) == '.' && str.charAt(e - 3) == '.'))
            nEllipsis += 1L
        }
        segStart = p + 1
      }
      p += 1
    }
    new GenericInternalRow(Array[Any](nWords, nChars, nSym, nLines,
      nBullet, nEllipsis, nAlpha, nReq))
  }
}

/** Fused line/paragraph repetition skeleton — the eight
  * array-expression signals of
  * [[graft.pipeline.TextAnalysis.gopherRepetition]] in ONE native
  * pass: `struct(n_lines, n_dup_lines, chars_lines, chars_dup_lines,
  * n_paras, n_dup_paras, chars_paras, chars_dup_paras)`.
  *
  * Replaces per-column `split` + `transform(trim)` + `filter` +
  * `array_distinct` + `array_join` chains that re-derived the line
  * and paragraph arrays up to four times EACH per row on the
  * interpreted CodegenFallback path. Field semantics replicate the
  * array formulations exactly — pinned by a property test
  * (VectorExpressionsSpec) and the unchanged p133/p134 gates:
  *
  *  - lines: `split(raw, "\n", -1)` segments; paragraphs:
  *    `split(raw, "\n\n", -1)` segments (non-overlapping left-to-right
  *    matches of the two-char pattern, trailing empties kept — Java
  *    split with limit -1);
  *  - each segment is trimmed of 0x20 ONLY (`trim()` semantics);
  *    empties are dropped;
  *  - `n_dup_*` = segments minus DISTINCT segments (exact string
  *    equality, `array_distinct` semantics);
  *  - `chars_*` = Σ codepoints over (all | distinct) trimmed
  *    segments (`length(array_join(..., ""))` semantics).
  */
object LineRepStats {
  def apply(child: Expression): Expression =
    NativeCall(getClass, schema, Seq(Seq(StringType)), Seq(child))

  val schema: StructType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_dup_lines", LongType, nullable = false),
    StructField("chars_lines", LongType, nullable = false),
    StructField("chars_dup_lines", LongType, nullable = false),
    StructField("n_paras", LongType, nullable = false),
    StructField("n_dup_paras", LongType, nullable = false),
    StructField("chars_paras", LongType, nullable = false),
    StructField("chars_dup_paras", LongType, nullable = false)))

  /** Codepoint count of a char range (UTF-16 low surrogates skipped —
    * `length()` semantics). */
  private def codepoints(s: String, b: Int, e: Int): Long = {
    var n = 0L
    var i = b
    while (i < e) {
      if (!Character.isLowSurrogate(s.charAt(i))) n += 1L
      i += 1
    }
    n
  }

  /** Segment stats for one separator: (n, n_dup, chars, chars_dup).
    * `sepLen` 1 = "\n", 2 = "\n\n" — both are literal all-'\n'
    * patterns, so Java-regex split positions are the greedy
    * left-to-right non-overlapping occurrences scanned here. */
  private def segStats(s: String, sepLen: Int): Array[Long] = {
    var n = 0L
    var chars = 0L
    var distinctChars = 0L
    var seen: java.util.HashSet[String] = null
    var segStart = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      val atSep = i <= len - sepLen && {
        var k = 0
        var all = true
        while (all && k < sepLen) {
          if (s.charAt(i + k) != '\n') all = false
          k += 1
        }
        all
      }
      if (i == len || atSep) {
        // close the segment [segStart, i): trim 0x20 both ends
        var b = segStart
        var e = i
        while (b < e && s.charAt(b) == ' ') b += 1
        while (e > b && s.charAt(e - 1) == ' ') e -= 1
        if (e > b) {
          n += 1L
          val cps = codepoints(s, b, e)
          chars += cps
          if (seen == null) seen = new java.util.HashSet[String]()
          if (seen.add(s.substring(b, e))) distinctChars += cps
        }
        if (i == len) i += 1
        else { i += sepLen; segStart = i }
      } else i += 1
    }
    val nDistinct = if (seen == null) 0L else seen.size.toLong
    Array(n, n - nDistinct, chars, chars - distinctChars)
  }

  def compute(s: UTF8String): InternalRow = {
    val str = s.toString
    val l = segStats(str, 1)
    val p = segStats(str, 2)
    new GenericInternalRow(Array[Any](
      l(0), l(1), l(2), l(3), p(0), p(1), p(2), p(3)))
  }
}

/** Fused HTML character-reference decode — numeric references
  * (`&#NNN;` decimal / `&#xHH;` hex, VALID Unicode scalar values only)
  * plus the six ubiquitous named entities (`&lt; &gt; &quot; &apos;
  * &nbsp; &amp;`) in ONE left-to-right native pass.
  *
  * Replaces the built-in formulation in
  * [[graft.pipeline.TextAnalysis.decodeNumericEntities]] (split on the
  * reference pattern + `regexp_extract_all` + a six-`replace` fold per
  * inter-reference part + `zip_with` re-interleave), which doubled
  * strip_html's bench cost (r15 verdict). Semantics are IDENTICAL —
  * pinned by a property test against the old formulation
  * (VectorExpressionsSpec) and the unchanged p111/p112 gates:
  *
  *  - a single left-to-right scan equals the split+replace pipeline
  *    because a named entity contains `&` only at position 0 and no
  *    `#`, so named matches can never overlap a numeric reference or
  *    each other, and only one of the six can match at any position;
  *  - one-pass contract: decoded output is never re-consumed
  *    (`&amp;lt;` → `&lt;`, `&#38;lt;` → `&lt;`);
  *  - numeric references decode only valid scalar values
  *    (1 … 0x10FFFF excluding surrogates); anything else — including
  *    over-long digit runs the reference regex rejects — passes
  *    through verbatim.
  */
object HtmlEntityDecode {
  def apply(child: Expression): Expression =
    NativeCall(getClass, StringType, Seq(Seq(StringType)), Seq(child))

  // (key, replacement) — order irrelevant (at most one matches at a
  // position); kept in the historical fold order for readability
  private val Named: Array[(String, Char)] = Array(
    "&lt;" -> '<', "&gt;" -> '>', "&quot;" -> '"',
    "&apos;" -> '\'', "&nbsp;" -> ' ', "&amp;" -> '&')

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    var i = str.indexOf('&')
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(str.length)
    sb.append(str, 0, i)
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if (c != '&') { sb.append(c); i += 1 }
      else if (i + 1 < n && str.charAt(i + 1) == '#') {
        // numeric reference: &#[0-9]{1,7}; or &#[xX][0-9A-Fa-f]{1,6};
        // greedy digit consume == the regex (a shorter backtracked run
        // would still face a digit where ';' is required)
        var j = i + 2
        var cp = -1L
        var digits = 0
        if (j < n && (str.charAt(j) == 'x' || str.charAt(j) == 'X')) {
          j += 1
          var v = 0L
          while (j < n && digits < 6 && hexVal(str.charAt(j)) >= 0) {
            v = v * 16L + hexVal(str.charAt(j)); j += 1; digits += 1
          }
          if (digits >= 1 && j < n && str.charAt(j) == ';') cp = v
        } else {
          var v = 0L
          while (j < n && digits < 7 && str.charAt(j) >= '0' &&
            str.charAt(j) <= '9') {
            v = v * 10L + (str.charAt(j) - '0'); j += 1; digits += 1
          }
          if (digits >= 1 && j < n && str.charAt(j) == ';') cp = v
        }
        if (cp >= 0L) {
          // matched the reference pattern: valid scalar decodes,
          // anything else passes through verbatim (incl. the ';')
          if (cp >= 1L && cp <= 0x10FFFFL &&
            !(cp >= 0xD800L && cp <= 0xDFFFL))
            sb.appendCodePoint(cp.toInt)
          else sb.append(str, i, j + 1)
          i = j + 1
        } else { sb.append('&'); i += 1 }
      } else {
        var k = 0
        var matched = false
        while (!matched && k < Named.length) {
          val key = Named(k)._1
          if (str.regionMatches(i, key, 0, key.length)) {
            sb.append(Named(k)._2)
            i += key.length
            matched = true
          } else k += 1
        }
        if (!matched) { sb.append('&'); i += 1 }
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Fused per-document duplicate-n-gram COVERAGE — for each requested
  * word n-gram size, the total codepoint length of the words covered
  * by ANY occurrence of an n-gram that appears at least twice in the
  * document (overlaps counted once — an interval UNION over word
  * positions), plus the document's total word codepoint length as the
  * shared denominator. This is the remaining half of the Gopher
  * repetition suite (Rae et al. 2021 table A1: "fraction of
  * characters contained within duplicate n-grams", n = 5…10), which
  * the top-n-gram signals of [[GramTopStats]] do not cover.
  *
  * Measured at WORD grain: covered characters are the codepoints of
  * words inside any duplicate-gram span, and the denominator is the
  * codepoint total of all words (separators excluded on both sides) —
  * a documented deviation from the paper's unspecified raw-character
  * accounting, chosen because the word-position union is exactly
  * replayable in SQL (exploded grams → duplicate occurrences →
  * DISTINCT covered positions → join to word lengths).
  *
  * Coverage is a WITHIN-document property: one codegen'd pass, zero
  * shuffle (the GramTopStats precedent). Gram classes compare by
  * 64-bit hash — a collision can only merge classes, the repo-wide
  * hashed-gram contract scoped to one document. Emits
  * `struct(n_word_chars, dup{n}_chars…)`; documents with fewer than
  * n words emit 0 for that n.
  */
object DupGramCoverage {
  def apply(child: Expression, ns: Seq[Int]): Expression = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad n-gram sizes $ns")
    NativeCall(getClass,
      StructType(StructField("n_word_chars", LongType, nullable = false) +:
        ns.map(n => StructField(s"dup${n}_chars", LongType, nullable = false))),
      Seq(Seq(StringType)), Seq(child), Seq(GramTokens.sizes(ns)))
  }

  def compute(s: UTF8String, ns: ArrayData): InternalRow = {
    val (tokH, tokL, m) = GramTokens.tokenize(s.toString)
    val out = new Array[Any](ns.numElements() + 1)
    var wchars = 0L
    var i = 0
    while (i < m) { wchars += tokL(i); i += 1 }
    out(0) = wchars
    var k = 0
    while (k < ns.numElements()) {
      val n = ns.getInt(k)
      var dup = 0L
      if (m >= n) {
        val grams = m - n + 1
        val ghs = new Array[Long](grams)
        val counts = new java.util.HashMap[java.lang.Long, Int]()
        var p = 0
        while (p < grams) {
          var gh = -3750763034362895579L // FNV-1a 64 offset basis
          var q = 0
          while (q < n) {
            gh = (gh ^ tokH(p + q)) * 1099511628211L
            q += 1
          }
          ghs(p) = gh
          counts.merge(gh, 1, (a, b) => a + b)
          p += 1
        }
        // union of covered word positions: walk occurrences of
        // duplicate grams, tracking the rightmost covered index so
        // overlapping spans never double-count
        val covered = new Array[Boolean](m)
        p = 0
        while (p < grams) {
          if (counts.get(ghs(p)) >= 2) {
            var q = p
            val e = p + n
            while (q < e) { covered(q) = true; q += 1 }
          }
          p += 1
        }
        i = 0
        while (i < m) {
          if (covered(i)) dup += tokL(i)
          i += 1
        }
      }
      out(k + 1) = dup
      k += 1
    }
    new GenericInternalRow(out)
  }
}
