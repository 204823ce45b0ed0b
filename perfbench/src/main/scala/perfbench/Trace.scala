package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region around a call into a layer. `pass` is the index of
  * the pass (a batch pass, or a batch of requests) the span belongs to;
  * `kind` tells apart the traced passes and the expression-family runs.
  */
final class Span(val id: Int, val parent: Int, val pass: Int, val kind: String,
    val layer: String, val name: String, val startNs: Long) {
  var endNs: Long = -1L
  val counters = new ConcurrentHashMap[String, Double]()
  def add(key: String, v: Double): Unit = counters.merge(key, v, (a: Double, b: Double) => a + b)
  def max(key: String, v: Double): Unit = counters.merge(key, v, (a: Double, b: Double) => math.max(a, b))
}

/** In-memory span recorder. Spans nest through a stack (the benchmark drives
  * one step at a time from one thread); every span sets a Spark job group so
  * the listener can charge the jobs, stages and tasks a call launches to the
  * span that launched them. Nothing is written until the run ends.
  */
final class Tracer(sc: SparkContext, val originNs: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stack = mutable.Stack.empty[Span]
  var enabled = false

  def lookup(id: Int): Option[Span] = Option(byId.get(id))

  def span[T](kind: String, layer: String, name: String, pass: Int)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = new Span(spans.size, parent, pass, kind, layer, name, System.nanoTime())
    spans += s
    byId.put(s.id, s)
    stack.push(s)
    sc.setJobGroup(Tracer.GroupPrefix + s.id, s"${s.layer}.${s.name}")
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.id, s"${p.layer}.${p.name}")
        case None => sc.clearJobGroup()
      }
    }
  }

  def ms(ns: Long): Double = (ns - originNs) / 1e6
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
}

/** Spark listener counts, charged to the span whose job group launched the
  * job. Task intervals, storage-block peaks and query-planning times are
  * kept run-wide and attributed to spans by time afterwards.
  */
final class SpanListener(tracer: Tracer, wallOriginMs: Long) extends SparkListener
    with QueryExecutionListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  @volatile private var storedBytes = 0L
  @volatile var storagePeakBytes = 0L
  /** (start ms, end ms) of every finished task, relative to the run origin. */
  val taskIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  /** (start ms, planning ms) per executed query, relative to the run origin. */
  val planRecords = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .flatMap(g => tracer.lookup(g.stripPrefix(Tracer.GroupPrefix).toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      s.add("jobs", 1)
      e.stageIds.foreach(id => stageSpan.put(id, s.id))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).flatMap(tracer.lookup).foreach(_.add("stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    taskIntervals.add((info.launchTime - wallOriginMs).toDouble -> (info.finishTime - wallOriginMs).toDouble)
    Option(stageSpan.get(e.stageId)).flatMap(tracer.lookup).foreach { s =>
      s.add("tasks", 1)
      if (e.reason != Success) s.add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        s.add("task_s", m.executorRunTime / 1e3)
        s.add("task_cpu_s", m.executorCpuTime / 1e9)
        s.add("gc_s", m.jvmGCTime / 1e3)
        s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        s.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        s.add("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        s.add("spill_mb", m.diskBytesSpilled / 1e6)
        s.add("scan_mb", m.inputMetrics.bytesRead / 1e6)
        s.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
        s.add("write_mb", m.outputMetrics.bytesWritten / 1e6)
        s.max("peak_exec_mem_mb", m.peakExecutionMemory / 1e6)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = Option(blockBytes.put(key, now)).getOrElse(0L)
      storedBytes += now - before
      storagePeakBytes = math.max(storagePeakBytes, storedBytes)
    }
  }

  def resetStoragePeak(): Unit = synchronized { storagePeakBytes = storedBytes }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min
      planRecords.add((start - wallOriginMs).toDouble -> phases.values.map(_.durationMs).sum.toDouble)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
