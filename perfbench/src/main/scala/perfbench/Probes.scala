package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans nest pass → query → job → stage through
  * `parent`. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      startMs: Long, endMs: Long)

/** One micro-batch's progress, from `StreamingQueryProgress`. */
final case class StreamBatch(query: String, triggerMs: Long, addBatchMs: Long,
                             planningMs: Long, walCommitMs: Long, stateRows: Long)

/** Counters the traced run reads from Spark's public listener APIs:
  * a `SparkListener` (jobs, stages, tasks, shuffle, spill), a
  * `QueryExecutionListener` (planning phases, fused plans) and a
  * `StreamingQueryListener` (micro-batch durations, state rows). Nothing
  * is registered in untraced runs. */
final class Probes(isFused: QueryExecution => Boolean) {
  val jobs, tasks, taskMs, shuffleRead, shuffleWrite, spill, planningMs, fused =
    new AtomicLong()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  val batches = new java.util.concurrent.ConcurrentLinkedQueue[StreamBatch]()

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val parent = Option(e.properties).map(_.getProperty(Probes.SpanKey)).orNull
      jobStart.put(e.jobId, (parent, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (parent, t0) =>
        spans.add(Span(s"job${e.jobId}", parent, "job", s"job ${e.jobId}", t0, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      spans.add(Span(s"stage${i.stageId}.${i.attemptNumber()}",
        Option(stageJob.get(i.stageId)).map(j => s"job$j").orNull, "stage",
        s"${i.name} (${i.numTasks} tasks)",
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      taskMs.addAndGet(e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      if (isFused(qe)) fused.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(StreamBatch(p.name, d("triggerExecution"), d("addBatch"), d("queryPlanning"),
        d("walCommit"), p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(queries)
    s.streams.addListener(streams)
  }

  def detach(s: SparkSession): Unit = {
    drain(s)
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(queries)
    s.streams.removeListener(streams)
  }

  def drain(s: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(s.sparkContext)

  /** Current totals, for before/after deltas around a pass. */
  def snapshot(s: SparkSession): Map[String, Long] = {
    drain(s)
    Map("jobs" -> jobs.get, "tasks" -> tasks.get, "task_ms" -> taskMs.get,
      "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
      "spill" -> spill.get, "planning_ms" -> planningMs.get, "fused" -> fused.get,
      "gc_ms" -> Probes.gcMs, "codegen_ns" -> Probes.codegenNs, "batches" -> batches.size.toLong)
  }
}

object Probes {
  val SpanKey = "perfbench.span"

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** CPU seconds this JVM has used, all threads. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  def codegenNs: Long = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime

  /** Peak resident set of this JVM, from /proc (0 where absent). */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: java.io.IOException => 0.0 }

  def loadavg: String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(",") finally src.close()
    } catch { case _: java.io.IOException => "" }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def spanJson(sp: Span): Json.Obj = Json.obj("id" -> sp.id, "parent" -> sp.parent,
    "kind" -> sp.kind, "name" -> sp.name, "start_ms" -> sp.startMs, "end_ms" -> sp.endMs)
}
