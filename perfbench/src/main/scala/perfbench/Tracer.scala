package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: a pass over the workload ("run"),
  * one operation in it ("op": a query or a CLI command), or a phase of a
  * query ("construct", "plan", "execute"). Counters are added by the
  * listeners from the bus thread, hence the synchronized updates. */
final class Span(val id: Int, val parent: Int, val name: String,
    val kind: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val execIds = mutable.Set.empty[Long]

  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
  def addExecution(id: Long): Unit = synchronized { execIds += id }
  def snapshot: Map[String, Double] = synchronized {
    counters.toMap + ("sql_execs" -> execIds.size.toDouble)
  }
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans plus the listeners that fill their counters. Until [[attach]],
  * [[span]] only times its body: no listener is registered, no local
  * property is set and nothing is kept. With tracing on, the innermost open
  * span's id travels to every job through the `perfbench.span` local
  * property, and the listeners attribute job, stage and task metrics to it;
  * query executions are attributed to the operation open when they ran,
  * since the bus is drained at the end of each operation. */
final class Tracer(spark: SparkSession) {
  @volatile private var enabled = false
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val byId = TrieMap.empty[Int, Span]
  private val stageSpan = TrieMap.empty[Int, Span]
  private val executions = new ConcurrentLinkedQueue[(String, QueryExecution, Boolean)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
        .flatMap(id => byId.get(id.toInt)).foreach { s =>
          s.add("jobs", 1)
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .foreach(x => s.addExecution(x.toLong))
          e.stageIds.foreach(stageSpan.put(_, s))
        }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { s =>
        s.add("tasks", 1)
        if (e.taskInfo.failed || e.taskInfo.killed) s.add("failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_s", m.executorRunTime / 1e3)
          s.add("cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble)
          s.add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("input_b", m.inputMetrics.bytesRead.toDouble)
          s.add("input_rows", m.inputMetrics.recordsRead.toDouble)
          s.add("output_b", m.outputMetrics.bytesWritten.toDouble)
          s.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
        }
      }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add((funcName, qe, true))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      executions.add((funcName, qe, false))
  }

  /** Starts recording: registers both listeners. */
  def attach(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    enabled = true
  }

  /** Stops recording; spans kept so far stay available. */
  def detach(): Unit = if (enabled) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    executions.clear()
    enabled = false
  }

  def tracing: Boolean = enabled

  /** Times `body` as a child of the innermost open span. */
  def span[T](name: String, kind: String)(body: => T): (T, Span) = {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
      name, kind, System.nanoTime())
    if (enabled) {
      spans += s
      byId.put(s.id, s)
      spark.sparkContext.setLocalProperty(Tracer.Property, s.id.toString)
    }
    open = s :: open
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      if (enabled) spark.sparkContext.setLocalProperty(Tracer.Property,
        open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Adds a span whose duration is known but whose start is not measured
    * separately (the planning phases inside a write). */
  def derived(parent: Span, name: String, startNs: Long, seconds: Double): Span = {
    val s = new Span(spans.size, parent.id, name, "plan", startNs)
    s.endNs = startNs + (seconds * 1e9).toLong
    if (enabled) spans += s
    s
  }

  /** Waits for every listener event of the work done so far, then returns
    * the query executions reported since the last call:
    * (function name, execution, succeeded). */
  def drainExecutions(): Seq[(String, QueryExecution, Boolean)] =
    if (!enabled) Nil
    else {
      PerfbenchBus.drain(spark.sparkContext)
      Iterator.continually(executions.poll()).takeWhile(_ != null).toSeq
    }

  /** Every recorded span with its self time: the duration minus the part
    * covered by its children (children never overlap: one client thread). */
  def spanRecords: Seq[Map[String, Any]] = {
    val childSecs = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.toSeq.map { s =>
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_s" -> (s.startNs - t0) / 1e9,
        "dur_s" -> s.seconds,
        "self_s" -> math.max(0.0, s.seconds - childSecs.getOrElse(s.id, 0.0)),
        "counters" -> s.snapshot)
    }
  }
}

object Tracer {
  val Property = "perfbench.span"

  /** Planning phases in seconds (analysis, optimization, planning) from an
    * execution's own QueryPlanningTracker. */
  def phases(qe: QueryExecution): Map[String, Double] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }

  /** True for the V2 write every timed query ends in. */
  def isSinkWrite(qe: QueryExecution): Boolean =
    scala.util.Try(qe.executedPlan.isInstanceOf[V2TableWriteExec]).getOrElse(false)
}
