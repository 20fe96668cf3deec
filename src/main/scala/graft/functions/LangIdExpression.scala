package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Character-trigram language identification (the Cavnar & Trenkle
  * 1994 n-gram profile method, simplified to set overlap): the
  * document's DISTINCT lowercased character trigrams (codepoint
  * grain, spaces included) are intersected with each language's
  * profile trigram set; the language with the most hits wins, ties
  * break to the lexicographically smallest language tag, zero hits
  * everywhere is `und`. Emits `struct(lang, hits)` — both exactly
  * replayable in SQL (distinct-trigram list ∩ a literal list), so
  * the operator hash-gates, unlike a float-scored classifier.
  *
  * Native codegen'd function (the GramTopStats precedent): the
  * per-row work is one codepoint scan + profile-sized set probes; a
  * HOF formulation would interpret per character. Profiles are
  * constructor data (language dial — ship your own for other
  * languages); the defaults live in
  * [[graft.pipeline.TextAnalysis.LangProfiles]].
  *
  * 100 TB shape: one scan, no shuffle; profile sets are bytes-sized
  * reference objects resident per executor.
  */
object LangIdNgram {
  val schema: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("hits", LongType, nullable = false)))

  private val Und = UTF8String.fromString("und")

  def apply(child: Expression, profiles: Seq[(String, Seq[String])])
      : Expression = {
    require(profiles.nonEmpty, "profiles must be non-empty")
    // codepoint grain, not UTF-16 units: a trained profile from astral
    // text (one supplementary codepoint = two UTF-16 units) is a legal
    // trigram — the classifier extracts document trigrams by codepoint
    require(profiles.forall(_._2.forall(t =>
      t.codePointCount(0, t.length) == 3)),
      "profile entries must be trigrams (3 codepoints)")
    // distinctness is part of the hits contract (advice r15): the
    // engine probes a HashSet (duplicates collapse) while the SQL
    // oracle counts profile-LIST entries — a repeated trigram would
    // silently diverge engine vs oracle and under-count vs the
    // documented "distinct profile trigrams hit" semantics
    require(profiles.forall(p => p._2.distinct.size == p._2.size),
      "profile trigram lists must be distinct (duplicates would " +
        "under-count: hits = |doc trigrams ∩ profile set|)")
    // (lang asc, trigram HashSet) — the tie-break order is baked in
    val sorted = new java.util.ArrayList[(UTF8String, java.util.HashSet[String])]()
    profiles.sortBy(_._1).foreach { case (lang, tris) =>
      sorted.add((UTF8String.fromString(lang), new java.util.HashSet(tris.asJava)))
    }
    NativeCall(getClass, schema, Seq(Seq(StringType)), Seq(child),
      Seq(NativeCall.obj(sorted)))
  }

  def compute(s: UTF8String,
      profiles: java.util.ArrayList[(UTF8String, java.util.HashSet[String])])
      : InternalRow = {
    val str = s.toLowerCase.toString
    // distinct codepoint-grain trigrams (matches SQL substring(i, 3))
    val tris = new java.util.HashSet[String]()
    if (str.codePointCount(0, str.length) >= 3) {
      var a = 0
      var b = str.offsetByCodePoints(0, 1)
      var c = str.offsetByCodePoints(b, 1)
      var d = str.offsetByCodePoints(c, 1)
      var more = true
      while (more) {
        tris.add(str.substring(a, d))
        if (d >= str.length) more = false
        else {
          a = b; b = c; c = d
          d = str.offsetByCodePoints(d, 1)
        }
      }
    }
    var bestLang: UTF8String = Und
    var bestHits = 0L
    var i = 0
    while (i < profiles.size) {
      val (lang, set) = profiles.get(i)
      var hits = 0L
      val it = set.iterator()
      while (it.hasNext) if (tris.contains(it.next())) hits += 1
      // strict >: ties keep the earlier (lang-ascending) winner, and
      // zero hits keeps 'und'
      if (hits > bestHits) { bestHits = hits; bestLang = lang }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestLang, bestHits))
  }
}

/** Character n-grams at CODEPOINT grain, one native pass — the
  * trigram-extraction grain shared by [[LangIdNgram]] (which keeps its
  * own fused distinct-set form) and the profile-training operator
  * `TextAnalysis.langIdTrainProfiles`. Replaces the
  * `transform(sequence(...), i -> substr(txt, i, n))` formulation,
  * whose per-element `substr` re-scans from the string start to find
  * codepoint offsets (O(len²) per document) AND runs interpreted when
  * it collapses into the downstream explode. Emits every n-gram in
  * position order (duplicates included — training counts occurrences);
  * documents with fewer than n codepoints emit an empty array.
  * Matches SQL `substring(txt, i+1, n)` for i in 0..len-n exactly.
  */
object CharNgrams {
  def apply(child: Expression, n: Int): Expression = {
    require(n >= 1, s"n must be >= 1, got $n")
    NativeCall(getClass, ArrayType(StringType, containsNull = false),
      Seq(Seq(StringType)), Seq(child), Seq(Literal(n)))
  }

  def compute(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    val cps = str.codePointCount(0, str.length)
    if (cps < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cps - n + 1)
    // sliding UTF-16 offsets of window start/end — one forward walk,
    // no per-gram re-scan
    var a = 0
    var b = str.offsetByCodePoints(0, n)
    var k = 0
    while (k < out.length) {
      out(k) = UTF8String.fromString(str.substring(a, b))
      k += 1
      if (k < out.length) {
        a = str.offsetByCodePoints(a, 1)
        b = str.offsetByCodePoints(b, 1)
      }
    }
    new GenericArrayData(out)
  }
}
