package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** One timed operation of a workload's closed loop. `rows`/`hash` are the
  * result's row count and order-independent hash when it returns rows
  * (checked afterwards against an independent formulation); `ok` is
  * false when the operation threw or failed a check made here. `phase`
  * is 0 in an untraced cycle, 1 in a traced one. */
final case class OpRec(kind: String, idx: Int, ms: Double, ok: Boolean,
                       rows: Long = -1L, hash: String = "",
                       phase: Int = 0, err: String = "")

/** A correctness check outside the timed loop; counts as an attempted
  * operation, and as a failed one when `ok` is false. */
final case class CheckRec(name: String, ok: Boolean, detail: String)

/** Everything a workload reports back; `run.py` turns it into metrics. */
final class Report {
  val setupS = ArrayBuffer.empty[Double]
  val ops = ArrayBuffer.empty[OpRec]
  val checks = ArrayBuffer.empty[CheckRec]
  /** Wall seconds of each cycle of the loop, by phase (0 untraced,
    * 1 traced). */
  val cycleS = Array(ArrayBuffer.empty[Double], ArrayBuffer.empty[Double])
  val values = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var cacheMb = 0.0
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val cores: Int, val trace: Boolean,
                val dataDir: String, val workDir: String,
                val minCycles: Int) {
  val tracer = new Tracer
  /** The layer collector's listeners (traced runs only); `Loop.run`
    * attaches them for its traced cycles. */
  val counters: Option[LayerCounters] =
    if (trace) Some(new LayerCounters(spark.sparkContext, spark)) else None

  def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drops every block persisted since `before` (lazy checkpoints,
    * cached intermediates of an operation whose output is consumed), so
    * a later operation never pays eviction for an earlier one. Blocks
    * that existed before — the store's own caches — are never touched. */
  def dropSince(before: Set[Int]): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Drops every cached table and persisted block (between set-ups). */
  def dropAll(): Unit = {
    spark.catalog.clearCache()
    dropSince(Set.empty)
  }

  /** MB held by cached and checkpointed blocks, memory plus disk. */
  def cachedMb: Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", opt("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, cores, opt("trace") == "1", opt("data"),
      opt("work"), opt("min-cycles").toInt)
    val report = new Report
    try {
      workload match {
        case "graph_read" =>
          GraphRead.run(ctx, report, opt("input"), seconds)
        case "graph_write" =>
          GraphWrite.run(ctx, report, opt("input"), seconds)
        case "curation_batch" =>
          CurationBatch.run(ctx, report, seconds)
        case other =>
          throw new IllegalArgumentException(s"unknown workload $other")
      }
      // after the workload, so the calibration jobs are not what warms
      // up the engine before its set-ups
      val (calibJvm, calibSpark) = calibrate(spark, cores)
      report.values("calib_jvm_1t_s") = calibJvm
      report.values("calib_spark_s") = calibSpark
      if (ctx.trace) {
        LayerReport.fill(ctx, report)
        ctx.tracer.writeJsonl(opt("work") + "/spans.jsonl")
      }
      writeReport(report, opt("out"))
    } finally spark.stop()
  }

  /** Host-speed context recorded beside each run (never a gated metric):
    * a single-thread JVM loop and a fixed Spark job, best of two. */
  def calibrate(spark: SparkSession, cores: Int): (Double, Double) = {
    def jvmLoop(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0L
      while (i < 50000000L) { acc ^= i * 0x9E3779B97F4A7C15L; i += 1 }
      if (acc == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    def sparkJob(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 2000000L, 1, cores)
        .select(sum(pmod(xxhash64(col("id")), lit(1000000L))))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    jvmLoop(); sparkJob()
    ((1 to 2).map(_ => jvmLoop()).min, (1 to 2).map(_ => sparkJob()).min)
  }

  /** Order-independent hash of collected rows: the sum (mod 2^64) of the
    * first 8 bytes of md5 over each row's fields joined by U+001F, with
    * nulls as `\N`. `run.py` computes the same over DuckDB's rows. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { r =>
      val s = (0 until r.length).map(i =>
        if (r.isNullAt(i)) "\\N" else r.get(i).toString).mkString("\u001f")
      val d = md.digest(s.getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    java.lang.Long.toUnsignedString(acc)
  }

  /** Order-independent hash of a whole frame, computed by Spark: map
    * columns go through `to_json`, as they are not hashable. */
  def frameHash(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _          => col(s"`${f.name}`")
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getDecimal(1).longValue)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private implicit val formats: Formats = DefaultFormats

  def toJson(x: AnyRef): String = Serialization.write(x)

  def writeReport(r: Report, path: String): Unit = {
    val json = toJson(Map("setup_s" -> r.setupS.toList, "cache_mb" -> r.cacheMb,
      "cycle_s" -> r.cycleS.map(_.toList).toList, "ops" -> r.ops.toList,
      "checks" -> r.checks.toList, "values" -> r.values.toMap))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes("UTF-8"))
  }
}
