package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature over a hashed-shingle array in ONE fused native
  * pass: for family `i`, `sig[i] = min over shingles s of
  * xxhash64(s, i)`.
  *
  * Bit-identical to the SQL formulation
  * `min(xxhash64(__s, lit(i)))` per family — Spark's `xxhash64(long,
  * int)` chains `XXH64.hashInt(i, XXH64.hashLong(s, 42))`, and this
  * function calls the same static functions in the same order. The
  * per-shingle base hash `hashLong(s, 42)` is computed once and shared
  * by all `k` families (the SQL path recomputes it per family).
  *
  * Replaces `explode(shingles) → groupBy(id).agg(64 min buffers)`:
  * same output, but no row explosion (corpus × shingle rows), no
  * aggregation hash map, no shuffle — a pure projection that stays
  * inside whole-stage codegen. An empty shingle array yields a
  * signature of Long.MaxValue entries (the SQL path would drop the row
  * from the aggregate; callers guarantee ≥1 shingle per document —
  * [[graft.pipeline.Dedup.shingles]] emits the whole text as one
  * shingle when it is shorter than k words).
  */
object MinHashSig {
  def apply(child: Expression, numHashes: Int): Expression = {
    require(numHashes > 0, "numHashes must be positive")
    NativeCall(getClass, ArrayType(LongType, containsNull = false),
      Seq(Seq(ArrayType(LongType))), Seq(child), Seq(Literal(numHashes)))
  }

  def compute(shingles: ArrayData, numHashes: Int): Array[Long] = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      // null elements cannot occur: xxhash64 over non-null tokens
      val base = XXH64.hashLong(shingles.getLong(j), 42L)
      var i = 0
      while (i < numHashes) {
        val h = XXH64.hashInt(i, base)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    mins
  }
}

/** 64-bit SimHash of a text's token multiset in ONE fused native pass:
  * tokenize (`split(lower(trim(text)), "\\s+")` semantics, reproduced
  * with the same UTF8String trim/lower and Java-regex split Spark's
  * `split` uses), hash each token with `xxhash64` (seed 42, the SQL
  * function's), and keep 64 signed bit-counters; bit b of the output is
  * 1 when more token hashes set bit b than not. Bit-identical to the
  * nested-HOF formulation it replaces, which evaluated `64 × tokens`
  * interpreted lambda steps per row. The input must be a
  * default-collation string. */
object SimHash64 {
  def apply(child: Expression): Expression =
    NativeCall(getClass, LongType, Seq(Seq(StringType)), Seq(child))

  def compute(text: UTF8String): Long = {
    // SQL-exact preprocessing: trim strips ASCII spaces only, lower is
    // UTF8String.toLowerCase, split is Java regex with limit -1
    val toks = text.trim().toLowerCase.toString.split("\\s+", -1)
    val counters = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(toks(i)), 42L)
      var b = 0
      while (b < 64) {
        counters(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }
}
