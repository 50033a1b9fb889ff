package graft.obs

import scala.util.{Failure, Success, Try}

/** Host health judged from a run's own record, with no committed
  * reference values.
  *
  * [[measure]] reads, over each measured window, how long this JVM's
  * threads ran on a CPU and how long they waited runnable in the run
  * queue (`/proc/self/task/<tid>/schedstat`), and the machine's steal
  * and iowait ticks (`/proc/stat`). [[degraded]] judges the summed
  * record:
  *  - a high run-queue wait share means threads that could run did
  *    not get a core: another process, or the hypervisor, took them.
  *    Unlike task CPU ÷ task run, it does not count the time a task
  *    spends off CPU waiting on a commit or a sleep, which streaming
  *    micro-batches do a lot of;
  *  - a high steal share means the hypervisor took the machine's CPUs;
  *  - a high iowait share means the CPUs sat waiting on the disk.
  */
object Health {

  /** One or more measured windows. Ticks are `/proc/stat` jiffies
    * summed over the machine's CPUs; all zero where it is absent. */
  final case class Record(wallSec: Double, onCpuSec: Double,
      queuedSec: Double, stealTicks: Long, iowaitTicks: Long,
      totalTicks: Long) {
    def +(o: Record): Record = Record(wallSec + o.wallSec,
      onCpuSec + o.onCpuSec, queuedSec + o.queuedSec,
      stealTicks + o.stealTicks, iowaitTicks + o.iowaitTicks,
      totalTicks + o.totalTicks)
    /** Run-queue wait ÷ (on CPU + run-queue wait); 0 when no thread
      * ran. */
    def queuedShare: Double =
      if (onCpuSec + queuedSec > 0) queuedSec / (onCpuSec + queuedSec)
      else 0.0
    private def share(t: Long): Double =
      if (totalTicks > 0) t.toDouble / totalTicks else 0.0
    def stealShare: Double = share(stealTicks)
    def iowaitShare: Double = share(iowaitTicks)
    def json: String = {
      def f(v: Double) =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      s"""{"wall_s":${f(wallSec)},"on_cpu_s":${f(onCpuSec)},""" +
        s""""queued_s":${f(queuedSec)},"queued_share":${f(queuedShare)},""" +
        s""""steal":${f(stealShare)},"iowait":${f(iowaitShare)}}"""
    }
  }
  object Record { val empty: Record = Record(0, 0, 0, 0, 0, 0) }

  /** Fixed constants, no override. The run-queue bar was calibrated on
    * a 4-core host, quiet and with one busy loop per core beside the
    * bench: `graft.Bench` at sf0.01 read 0.10 quiet and 0.56 busy, and
    * `graft.StreamBench` at 20k events 0.26-0.32 quiet and 0.59 busy.
    * 0.4 sits clear of both. The steal and iowait bars catch contention
    * outside the guest that shows as stolen or disk-blocked CPU time. */
  val MaxQueuedShare = 0.4
  val MaxStealShare = 0.2
  val MaxIowaitShare = 0.2

  /** The one health rule. */
  def degraded(r: Record): Boolean =
    r.queuedShare > MaxQueuedShare || r.stealShare > MaxStealShare ||
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

  /** (on-CPU ns, run-queue wait ns) per thread of this JVM; empty
    * where `/proc` is absent. */
  private def schedstat(): Map[String, (Long, Long)] =
    Try(new java.io.File("/proc/self/task").list().toSeq).getOrElse(Nil)
      .flatMap { tid =>
        Try {
          val f = java.nio.file.Files.readString(java.nio.file.Path.of(
            s"/proc/self/task/$tid/schedstat")).trim.split(' ')
          tid -> ((f(0).toLong, f(1).toLong))
        }.toOption
      }.toMap

  /** Runs `body` and records its window; a body that throws is
    * returned as a Failure with its window still recorded. A thread
    * that ends inside the window drops out of the sums. */
  def measure[A](body: => A): (Try[A], Record) = {
    val (s0, w0, t0) = procStat()
    val q0 = schedstat()
    val n0 = System.nanoTime()
    val out: Try[A] =
      try Success(body) catch { case e: Throwable => Failure(e) }
    val wall = (System.nanoTime() - n0) / 1e9
    val (s1, w1, t1) = procStat()
    val (onCpuNs, queuedNs) = schedstat().foldLeft((0L, 0L)) {
      case ((c, q), (tid, (c1, q1))) =>
        val (c0, qq0) = q0.getOrElse(tid, (0L, 0L))
        (c + c1 - c0, q + q1 - qq0)
    }
    (out, Record(wall, onCpuNs / 1e9, queuedNs / 1e9, s1 - s0, w1 - w0,
      t1 - t0))
  }
}
