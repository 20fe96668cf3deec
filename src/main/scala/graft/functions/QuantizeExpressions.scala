package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native symmetric-int8 quantization over `array<float|double>`
  * embeddings ([[QuantScale]], [[QuantVec]]) — ONE fused codegen'd
  * pass per row, replacing the HOF formulation
  * (`array_max(transform(...))` feeding a second `transform` lambda).
  * That formulation had a plan trap: CollapseProject inlined the `scale` projection into the per-element
  * lambda of the next projection, and HOF lambdas evaluate interpreted,
  * so both `array_max` scans re-ran per ELEMENT — O(d²) interpreted
  * work per row (measured 18.3 s for 2,000×64 floats). These
  * expressions take only the raw vector, so there is no cross-projection
  * reference for CollapseProject to inline: the plan stays a pure
  * scan-shaped projection at any scale.
  *
  * Bit-for-bit the replaced formulation's semantics (the p50 oracle
  * hash is pinned on them):
  *  - every element widens to float64; `maxAbs` uses Spark's double
  *    ordering (`java.lang.Double.compare`, NaN greatest), ignoring
  *    null elements; empty / all-null arrays yield NULL `maxAbs`
  *  - `scale = maxAbs / 127.0`
  *  - `q_i = (int)(long) Math.floor(x_i / scale + 0.5)` — Spark's
  *    `floor(double)→bigint` then `cast int`, matching the DuckDB
  *    oracle's `CAST(floor(...) AS INT)`; `scale == 0` ⇒ 0
  *  - qvec elements whose value would be NULL (null element, or NULL
  *    scale) are skipped, as `concat_ws` skips nulls ⇒ "" for an
  *    empty vector
  * One divergence, documented: a NULL input array yields NULL qvec
  * (null-intolerant expression) where `concat_ws(",", transform(null))`
  * yielded "" — saner, and unobservable on non-null embedding columns.
  *
  * Both take `array<float>` or `array<double>`; `compute` is told
  * which by `elem` (0 = float, 1 = double — [[NativeCall]]'s type
  * position).
  */
object QuantScale {
  private[functions] val Vectors: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))

  /** `max(abs(x))/127` of a vector as float64; NULL for empty/all-null. */
  def apply(child: Expression): Expression =
    NativeCall(getClass, DoubleType, Seq(Vectors), Seq(child),
      returnNullable = true)

  private[functions] def get(a: ArrayData, i: Int, elem: Int): Double =
    if (elem == 0) a.getFloat(i).toDouble else a.getDouble(i)

  /** max|x|/127 over non-null elements (Spark double ordering: NaN
    * greatest), boxed so the caller can tell null. */
  def compute(a: ArrayData, elem: Int): java.lang.Double = {
    val n = a.numElements()
    var max = Double.NaN
    var seen = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = Math.abs(get(a, i, elem))
        if (!seen || java.lang.Double.compare(x, max) > 0) max = x
        seen = true
      }
      i += 1
    }
    if (seen) java.lang.Double.valueOf(max / 127.0) else null
  }
}

object QuantVec {
  /** Comma-joined int8 codes of a vector (scale computed internally). */
  def apply(child: Expression): Expression =
    NativeCall(getClass, StringType, Seq(QuantScale.Vectors), Seq(child))

  def compute(a: ArrayData, elem: Int): UTF8String = {
    val s = QuantScale.compute(a, elem)
    val n = a.numElements()
    val sb = new java.lang.StringBuilder(n * 4)
    if (s != null) {
      val sc = s.doubleValue()
      var first = true
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) { // null elements skipped (concat_ws rule)
          if (!first) sb.append(',')
          first = false
          if (sc == 0.0) sb.append('0')
          else sb.append(
            Math.floor(QuantScale.get(a, i, elem) / sc + 0.5).toLong.toInt)
        }
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }
}
