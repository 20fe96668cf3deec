package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the index
  * of the enclosing span (-1 for a root), `op` the operation it served. */
final case class Span(name: String, op: Int, parent: Int, start: Long,
                      var end: Long = 0L) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call of its body,
  * so the untraced run executes exactly the same code path. */
final class Tracer {
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      spans += Span(name, op, stack.headOption.getOrElse(-1), System.nanoTime())
      stack = id :: stack
      try body
      finally { spans(id).end = System.nanoTime(); stack = stack.tail }
    }

  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Self time per span name: each span's duration minus the part of its
    * interval covered by its direct children (children never overlap,
    * as there is one client thread). */
  def selfMs: Map[String, Double] = {
    val childMs = new Array[Double](spans.length)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.indices.groupMapReduce(i => spans(i).name)(i =>
      spans(i).ms - childMs(i))(_ + _)
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => w.println(Main.toJson(s)))
    finally w.close()
  }
}

/** Spark-side work counters, summed over every task, stage and job the
  * listener bus reports. Read them only after [[LayerCounters.drain]]. */
final class TaskCounters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Counts over the executed (post-adaptive) physical plan of every
  * completed Dataset action: exchanges, and the rows the leaf scans
  * produced. */
final class PlanCounters extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var actions = 0L
  @volatile var exchanges = 0L
  @volatile var scanRows = 0L

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    actions += 1
    foreach(qe.executedPlan) {
      case _: Exchange           => exchanges += 1
      case _: QueryStageExec     =>
      case l: LeafExecNode       =>
        scanRows += l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ =>
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** The layer collector of the traced run: both listeners, attached only
  * while a traced cycle runs (so untraced cycles pay nothing for them),
  * plus a way to wait until the listener bus has delivered every event
  * so far. The counts add up over every attached interval. */
final class LayerCounters(sc: SparkContext,
                          session: org.apache.spark.sql.SparkSession) {
  val tasks = new TaskCounters
  val plans = new PlanCounters

  def drain(): Unit =
    org.apache.spark.perfbenchaccess.Bus.drain(sc)

  /** Starts counting; events of earlier work are delivered first, so
    * they are not counted. */
  def attach(): Unit = {
    drain()
    sc.addSparkListener(tasks)
    session.listenerManager.register(plans)
  }

  /** Stops counting once every event so far has been delivered. */
  def detach(): Unit = {
    drain()
    sc.removeSparkListener(tasks)
    session.listenerManager.unregister(plans)
  }

  /** Totals so far, after the bus has delivered every pending event. */
  def snapshot(): Map[String, Double] = {
    drain()
    val mb = 1048576.0
    Map(
      "jobs" -> tasks.jobs.toDouble, "stages" -> tasks.stages.toDouble,
      "tasks" -> tasks.tasks.toDouble, "run_ms" -> tasks.runMs.toDouble,
      "cpu_ms" -> tasks.cpuNs / 1e6, "gc_ms" -> tasks.gcMs.toDouble,
      "shuffle_write_mb" -> tasks.shuffleWriteBytes / mb,
      "shuffle_read_mb" -> tasks.shuffleReadBytes / mb,
      "spill_mb" -> tasks.spillBytes / mb,
      "exchanges" -> plans.exchanges.toDouble,
      "scan_rows" -> plans.scanRows.toDouble,
      "actions" -> plans.actions.toDouble)
  }
}

/** Per-layer metrics of the traced cycles, from their spans and
  * counters. Times are medians per call; counts are per operation. */
object LayerReport {
  val TimedLayers = Seq("tpch.open", "tpch.cache_fill", "ql.parse",
    "planner.plan", "catalyst.prepare", "spark.exec", "store.update",
    "store.create", "store.delete", "store.commit", "store.restore")

  def fill(ctx: Ctx, r: Report): Unit = {
    val t = ctx.tracer
    val names = t.spans.iterator.map(_.name).toSet
    (TimedLayers.filter(names) ++
      names.filter(_.startsWith("pipeline.")).toSeq.sorted).foreach { n =>
      r.values(n + "_ms") = Main.median(t.durations(n))
    }
    val ops = math.max(1, r.ops.count(_.phase == 1)).toDouble
    val wallMs = r.cycleS(1).sum * 1000
    ctx.counters.map(_.snapshot()).foreach { c =>
      Seq("jobs", "stages", "tasks", "exchanges", "shuffle_write_mb",
        "shuffle_read_mb", "spill_mb").foreach { k =>
        r.values("spark." + k) = c(k) / ops
      }
      r.values("spark.task_cpu_ms") = c("cpu_ms") / ops
      r.values("spark.gc_ms") = c("gc_ms") / ops
      r.values("spark.busy_frac") =
        if (wallMs > 0) c("run_ms") / (wallMs * ctx.cores) else 0.0
      val out = r.values.getOrElse("result_rows", 0.0)
      if (out > 0) r.values("spark.rows_in_per_row_out") = c("scan_rows") / out
    }
    // self time: what each span spent outside its child spans, per
    // operation; "op" is the harness's own share of an operation
    t.selfMs.foreach { case (n, ms) => r.values(s"self.$n") = ms / ops }
  }
}
