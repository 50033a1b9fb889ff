package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into a layer's public function. Times are epoch
  * milliseconds with a fractional part (from a monotonic clock). */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** One finished SQL execution, as Spark's own metrics saw it. */
final case class Execution(startMs: Long, seconds: Double, planMs: Double,
    outputPath: String,
    rowsWritten: Long, filesWritten: Long, bytesWritten: Long,
    scanFiles: Long, scanBytes: Long, scanTimeMs: Long, scanRows: Long,
    scanPaths: Seq[String])

/** One finished task. */
final case class TaskSample(finishMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long)

/** Spans plus Spark's listener metrics for one run. With `enabled` false
  * every method is a pass-through and no listener is registered, so the
  * untraced run measures the program alone.
  *
  * Spans stay in memory and are written once, at the end of the run.
  * Listener callbacks arrive on Spark's listener-bus thread; they are
  * attributed to spans by the timestamps Spark stamps on them, not by
  * the time they are delivered.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  /** Nanoseconds spent inside the tracer itself: span bookkeeping and
    * listener callbacks. */
  val overheadNs = new AtomicLong

  val executions = mutable.ArrayBuffer.empty[Execution]
  val tasks = mutable.ArrayBuffer.empty[TaskSample]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageEnds = mutable.ArrayBuffer.empty[Long]
  val progress = mutable.ArrayBuffer.empty[(String, Map[String, Long], Long)]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = synchronized {
        val i = nextId; nextId += 1
        spans += Span(i, stack.headOption.getOrElse(-1), name, nowMs, Double.NaN)
        stack = i :: stack; i
      }
      overheadNs.addAndGet(System.nanoTime() - b0)
      try body
      finally {
        val e0 = System.nanoTime()
        synchronized {
          spans(id) = spans(id).copy(endMs = nowMs)
          stack = stack.tail
        }
        overheadNs.addAndGet(System.nanoTime() - e0)
      }
    }

  def finished: Seq[Span] = synchronized(spans.toList)

  /** Self time per span name: span time minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val all = finished
    val child = all.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum)
    all.groupBy(_.name).view.mapValues(_.map(s =>
      s.seconds - child.getOrElse(s.id, 0.0)).sum).toMap
  }

  private def timed(body: => Unit): Unit = {
    val b0 = System.nanoTime()
    try body finally overheadNs.addAndGet(System.nanoTime() - b0)
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = timed {
    val phases = qe.tracker.phases
    val planMs = phases.values.map(ps => ps.endTimeMs - ps.startTimeMs).sum
    val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    val nodes = PlanWalk.nodes(qe.executedPlan)
    val scans = nodes.collect { case s: FileSourceScanLike => s }
    val write = nodes.collectFirst {
      case w: DataWritingCommandExec => w
    }
    val path = write.map(_.cmd).collect {
      case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
    }.getOrElse("")
    val e = Execution(start, durationNs / 1e9, planMs.toDouble, path,
      write.map(metric(_, "numOutputRows")).getOrElse(0L),
      write.map(metric(_, "numFiles")).getOrElse(0L),
      write.map(metric(_, "numOutputBytes")).getOrElse(0L),
      scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "scanTime")).sum,
      scans.map(metric(_, "numOutputRows")).sum,
      scans.flatMap(_.relation.location.rootPaths.map(_.toString)))
    synchronized(executions += e)
  }

  /** Registers the listeners (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe, durationNs)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = timed {
        val m = t.taskMetrics
        if (m != null) {
          val s = TaskSample(t.taskInfo.finishTime, m.executorCpuTime,
            m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
          Tracer.this.synchronized(tasks += s)
        }
      }
      private val jobStarts = mutable.HashMap.empty[Int, Long]
      override def onJobStart(j: SparkListenerJobStart): Unit = timed {
        Tracer.this.synchronized(jobStarts(j.jobId) = j.time)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = timed {
        Tracer.this.synchronized(jobStarts.remove(j.jobId)
          .foreach(s => jobs += ((s, j.time))))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        timed {
          Tracer.this.synchronized(
            stageEnds += s.stageInfo.completionTime.getOrElse(0L))
        }
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        timed {
          import scala.jdk.CollectionConverters._
          val p = e.progress
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
            .toMap
          val at = java.time.Instant.parse(p.timestamp).toEpochMilli
          Tracer.this.synchronized(progress += ((p.name, d, at)))
        }
    })
  }

  /** Waits until every listener event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  /** Spans, one JSON object a line, written once at the end of the run. */
  def writeSpans(file: File): Unit = if (enabled) {
    val w = new PrintWriter(file, "UTF-8")
    try finished.foreach { s =>
      w.println(f"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        f""""name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }

  /** The spans named `name`, in start order. */
  def named(name: String): Seq[Span] = finished.filter(_.name == name)

  /** Whether an epoch-millisecond instant falls inside one of `within`. */
  def inside(ms: Long, within: Seq[Span]): Boolean =
    within.exists(s => ms >= s.startMs - 1 && ms <= s.endMs + 1)
}

object Tracer {
  /** The tracer of the warm-up: records nothing. */
  val off = new Tracer("off", enabled = false)
}
