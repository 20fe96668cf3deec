package graft.core

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.sql.types._

/** Injectable clock (reference: include/common/clock.hpp:24-60 —
  * Clock::instance() / MockClock for deterministic temporal tests). */
trait Clock { def nowNanos: Long }
/** Epoch-based like the reference clock (include/common/clock.hpp) —
  * System.nanoTime() has an arbitrary per-JVM origin, which would make
  * version stamps incomparable across commit/restore JVM boundaries and
  * break back-dated valid_from comparisons against real epoch times. */
object SystemClock extends Clock {
  def nowNanos: Long = {
    val ts = java.time.Instant.now()
    ts.getEpochSecond * 1000000000L + ts.getNano
  }
}
final class MockClock(start: Long = 0L) extends Clock {
  private val t = new AtomicLong(start)
  def nowNanos: Long = t.get()
  def set(ts: Long): Unit = t.set(ts)
  def advance(by: Long): Long = t.addAndGet(by)
}

/** Fixed-size field constraints (reference
  * include/schema/type_descriptor.hpp:26-77: `max_string_size` caps
  * STRING length — the legacy FIXED_STRING16/32/64 encodings map to
  * string(16/32/64) — and ARRAY `fixed_size > 0` fixes the element
  * count, surfaced to Arrow as `fixed_size_list`). Carried as
  * StructField metadata, so constraints ride the schema through
  * snapshot commit/restore (StructType.json round-trips metadata) with
  * no catalog side-table. Semantically values stay plain
  * strings/arrays (SURVEY §1.2); the constraint is write-path
  * validation only, like the reference. */
object FixedSize {
  private val MaxLenKey = "graft.maxStringLength"
  private val FixedArrKey = "graft.fixedArraySize"

  /** STRING with a length cap (reference `TypeDescriptor::string(n)`). */
  def string(name: String, maxLen: Int): StructField = {
    require(maxLen > 0, "maxLen must be positive (0 = use StringType)")
    StructField(name, StringType, nullable = true,
      new MetadataBuilder().putLong(MaxLenKey, maxLen.toLong).build())
  }

  /** Fixed-length ARRAY (reference `TypeDescriptor::array(elem, n)`). */
  def array(name: String, elem: DataType, size: Int): StructField = {
    require(size > 0, "size must be positive (0 = variable length)")
    StructField(name, ArrayType(elem), nullable = true,
      new MetadataBuilder().putLong(FixedArrKey, size.toLong).build())
  }

  def maxLengthOf(f: StructField): Option[Int] =
    if (f.metadata.contains(MaxLenKey))
      Some(f.metadata.getLong(MaxLenKey).toInt) else None

  def fixedSizeOf(f: StructField): Option[Int] =
    if (f.metadata.contains(FixedArrKey))
      Some(f.metadata.getLong(FixedArrKey).toInt) else None

  /** Distributed write validation for the bulk-ingest path: wraps a
    * column in a raise_error guard (same fail-loudly style as the
    * dense-id layout guards). Identity for unconstrained fields —
    * zero plan overhead unless a constraint exists. */
  def guard(c: org.apache.spark.sql.Column, f: StructField,
            ctx: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val lenOk = maxLengthOf(f).fold(c) { n =>
      when(c.isNull || length(c) <= n, c)
        .otherwise(raise_error(concat(
          lit(s"$ctx.${f.name}: string length "), length(c),
          lit(s" exceeds FIXED_STRING($n)"))).cast(f.dataType))
    }
    fixedSizeOf(f).fold(lenOk) { n =>
      when(lenOk.isNull || size(lenOk) === n, lenOk)
        .otherwise(raise_error(concat(
          lit(s"$ctx.${f.name}: array of "), size(lenOk),
          lit(s" elements violates ARRAY[$n]"))).cast(f.dataType))
    }
  }

  /** Driver-side write validation for the interactive row paths. */
  def validate(v: Any, f: StructField, ctx: String): Unit = {
    maxLengthOf(f).foreach { n =>
      v match {
        case s: String if s.length > n =>
          throw new IllegalArgumentException(
            s"$ctx: string of length ${s.length} exceeds FIXED_STRING($n)")
        case _ =>
      }
    }
    fixedSizeOf(f).foreach { n =>
      v match {
        case s: Seq[_] if s.size != n =>
          throw new IllegalArgumentException(
            s"$ctx: array of ${s.size} elements violates ARRAY[$n]")
        case _ =>
      }
    }
  }
}

/** Edge-type registration. Unlike the reference (whose EdgeStore keys edges
  * by type name only — include/core/edge_store.hpp:34-45), we key by
  * (type, srcLabel, dstLabel): per-schema node-id namespaces (README.md:139)
  * would otherwise make one edge type spanning two source schemas ambiguous
  * (customer#5 vs supplier#5). The reference never mixes source schemas in
  * one type; this generalization keeps the same observable behavior.
  */
final case class EdgeTypeInfo(
    name: String,
    srcLabel: String,
    dstLabel: String,
    props: StructType = new StructType()
)

/** Schema catalog: label -> StructType (id: LongType auto-prepended, like
  * SchemaRegistry::create — include/schema/schema.hpp:168-169), per-label
  * auto-increment id counters starting at 0 (include/core/node.hpp:112-125),
  * and a single global edge-id counter (include/core/edge_store.hpp:40).
  */
object Catalog {
  /** A label's node schema: `id` prepended to its `fields`. */
  def nodeSchema(fields: Seq[StructField]): StructType =
    StructType(StructField("id", LongType, nullable = false) +: fields)
}

final class Catalog {
  private val nodeSchemas = mutable.LinkedHashMap[String, StructType]()
  private val nodeVersions = mutable.HashMap[String, Int]()
  private val nodeCounters = mutable.HashMap[String, AtomicLong]()
  private val edgeTypes =
    mutable.LinkedHashMap[(String, String, String), EdgeTypeInfo]()
  val edgeIdCounter = new AtomicLong(0L)

  /** Register a node schema; `fields` must NOT contain `id`. */
  def createSchema(label: String, fields: Seq[StructField]): StructType =
    synchronized {
      require(!nodeSchemas.contains(label), s"schema exists: $label")
      require(!fields.exists(_.name == "id"), "id is auto-prepended")
      val st = Catalog.nodeSchema(fields)
      nodeSchemas(label) = st
      nodeVersions(label) = 1
      nodeCounters(label) = new AtomicLong(0L)
      st
    }

  def schemaOf(label: String): StructType =
    nodeSchemas.getOrElse(label,
      throw new IllegalArgumentException(s"unknown schema: $label"))
  def hasSchema(label: String): Boolean = nodeSchemas.contains(label)
  def labels: Seq[String] = nodeSchemas.keys.toSeq
  def bumpVersion(label: String): Unit =
    synchronized { nodeVersions(label) = nodeVersions(label) + 1 }
  def schemaVersion(label: String): Int = nodeVersions.getOrElse(label, 0)

  def nextNodeId(label: String): Long = counter(label).getAndIncrement()
  /** Reserve a contiguous id block for bulk ingest (returns first id). */
  def reserveNodeIds(label: String, n: Long): Long =
    counter(label).getAndAdd(n)
  def nodeCounter(label: String): Long = counter(label).get()
  def setNodeCounter(label: String, v: Long): Unit = counter(label).set(v)
  private def counter(label: String): AtomicLong =
    nodeCounters.getOrElse(label,
      throw new IllegalArgumentException(s"unknown schema: $label"))

  def registerEdgeType(info: EdgeTypeInfo): Unit = synchronized {
    edgeTypes((info.name, info.srcLabel, info.dstLabel)) = info
  }
  def edgeType(name: String, src: String, dst: String): Option[EdgeTypeInfo] =
    edgeTypes.get((name, src, dst))
  /** All registrations of an edge type name (may span several src labels). */
  def edgeTypesNamed(name: String): Seq[EdgeTypeInfo] =
    edgeTypes.valuesIterator.filter(_.name == name).toSeq
  def allEdgeTypes: Seq[EdgeTypeInfo] = edgeTypes.values.toSeq
  def nextEdgeId(): Long = edgeIdCounter.getAndIncrement()
}
