package graft.obs

import java.util.concurrent.atomic.AtomicLong

import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Host health judged from a run's own record, with no committed
  * reference values.
  *
  * A [[Monitor]] attached to a session sums the task CPU and task run
  * seconds that Spark's own task metrics report, and reads the
  * machine's steal and iowait ticks from `/proc/stat`, over each
  * measured window. [[degraded]] judges the summed record:
  *  - task CPU ÷ task run well below 1 means task threads were
  *    runnable but not running: another process, or the hypervisor,
  *    took their cores;
  *  - a high steal share means the hypervisor took the machine's CPUs;
  *  - a high iowait share means the CPUs sat waiting on the disk.
  */
object Health {

  /** One or more measured windows. Ticks are `/proc/stat` jiffies
    * summed over the machine's CPUs; all zero where it is absent. */
  final case class Record(wallSec: Double, taskCpuSec: Double,
      taskRunSec: Double, stealTicks: Long, iowaitTicks: Long,
      totalTicks: Long) {
    def +(o: Record): Record = Record(wallSec + o.wallSec,
      taskCpuSec + o.taskCpuSec, taskRunSec + o.taskRunSec,
      stealTicks + o.stealTicks, iowaitTicks + o.iowaitTicks,
      totalTicks + o.totalTicks)
    /** 1.0 when no task ran: a driver-only window shows no stall. */
    def cpuPerRun: Double =
      if (taskRunSec > 0) taskCpuSec / taskRunSec else 1.0
    private def share(t: Long): Double =
      if (totalTicks > 0) t.toDouble / totalTicks else 0.0
    def stealShare: Double = share(stealTicks)
    def iowaitShare: Double = share(iowaitTicks)
    def json: String = {
      def f(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      s"""{"wall_s":${f(wallSec)},"task_cpu_s":${f(taskCpuSec)},""" +
        s""""task_run_s":${f(taskRunSec)},"cpu_per_run":${f(cpuPerRun)},""" +
        s""""steal":${f(stealShare)},"iowait":${f(iowaitShare)}}"""
    }
  }
  object Record { val empty: Record = Record(0, 0, 0, 0, 0, 0) }

  /** Fixed constants, no override. Calibrated on two sf0.1 bench
    * windows on a 4-core host: a quiet one read task CPU ÷ task run
    * 0.86 at 0.9% steal, and one with a busy loop per core beside the
    * bench read 0.46 at 0.5% steal. 0.7 sits well clear of both. The
    * steal and iowait bars catch contention outside the guest that
    * shows as stolen or disk-blocked CPU time. */
  val MinCpuPerRun = 0.7
  val MaxStealShare = 0.2
  val MaxIowaitShare = 0.2

  /** The one health rule. */
  def degraded(r: Record): Boolean =
    r.cpuPerRun < MinCpuPerRun || r.stealShare > MaxStealShare ||
      r.iowaitShare > MaxIowaitShare

  /** (steal, iowait, total) jiffies from the aggregate `cpu` line. */
  private def procStat(): (Long, Long, Long) =
    Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // cpu user nice system idle iowait irq softirq steal ...
        val f = src.getLines().next().trim.split("\\s+").drop(1)
          .take(8).map(_.toLong)
        (f(7), f(4), f.sum)
      } finally src.close()
    }.getOrElse((0L, 0L, 0L))

  /** Task-metric totals for one session; [[measure]] windows must not
    * overlap. */
  final class Monitor private[Health] (spark: SparkSession) {
    private val cpuNs = new AtomicLong
    private val runMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          cpuNs.addAndGet(m.executorCpuTime)
          runMs.addAndGet(m.executorRunTime)
        }
    })

    /** Runs `body` and records its window; a body that throws is
      * returned as a Failure with its window still recorded. */
    def measure[A](body: => A): (Try[A], Record) = {
      val (s0, w0, t0) = procStat()
      val cpu0 = cpuNs.get; val run0 = runMs.get
      val n0 = System.nanoTime()
      val out: Try[A] =
        try Success(body) catch { case e: Throwable => Failure(e) }
      val wall = (System.nanoTime() - n0) / 1e9
      val (s1, w1, t1) = procStat()
      // bounded (Spark's 10 s); a timed-out drain leaves the record
      // short of the undelivered tasks instead of failing the body
      Try(ListenerBridge.drain(spark.sparkContext))
      (out, Record(wall, (cpuNs.get - cpu0) / 1e9,
        (runMs.get - run0) / 1e3, s1 - s0, w1 - w0, t1 - t0))
    }
  }

  def attach(spark: SparkSession): Monitor = new Monitor(spark)
}
