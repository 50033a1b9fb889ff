package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Health

/** Pins the bench measurement protocol: the per-entry statistics and
  * the one host-health rule the published `degraded` flag comes from.
  * No SparkSession — the decisions are pure.
  */
class BenchProtocolSpec extends AnyFunSuite {

  private def entry(medians: Double*): Bench.Entry =
    Bench.Entry(medians.map(s => Bench.Pass(s, 1.0, 0.0, 0.0)))

  private def entryWithFails(medians: (Double, Boolean)*): Bench.Entry =
    Bench.Entry(medians.map { case (s, f) =>
      Bench.Pass(s, 1.0, 0.0, 0.0, failed = f) })

  test("Entry stats: median is the middle of 3 sorted passes, min/max " +
      "bound the spread") {
    val e = entry(1.2, 1.0, 1.1)
    assert(e.median == 1.1 && e.min == 1.0 && e.max == 1.2)
  }

  test("failed passes are excluded from median/min/max; all-failed " +
      "entries publish -1 sentinels") {
    // a crashed pass's near-zero wall time must never deflate stats
    val e = entryWithFails((0.01, true), (1.0, false), (1.2, false))
    assert(e.median == 1.2 && e.min == 1.0 && e.max == 1.2)
    assert(e.failedCount == 1 && !e.allFailed)
    val dead = entryWithFails((0.01, true), (0.02, true))
    assert(dead.allFailed && dead.median == -1.0 && dead.min == -1.0)
  }

  // A record of `wall` seconds on 4 CPUs at 100 ticks/s: task CPU and
  // run seconds as given, steal and iowait as shares of all ticks.
  private def rec(cpu: Double, run: Double, steal: Double = 0.0,
      iowait: Double = 0.0, wall: Double = 10.0): Health.Record = {
    val total = (wall * 4 * 100).toLong
    Health.Record(wall, cpu, run, (steal * total).toLong,
      (iowait * total).toLong, total)
  }

  test("health: a quiet record is not degraded") {
    // the quiet sf0.1 window's shape: tasks on CPU most of their run,
    // a few percent steal, no iowait
    assert(!Health.degraded(rec(cpu = 17.0, run = 20.0, steal = 0.03)))
    // a driver-only window (no task ran) shows no stall
    assert(!Health.degraded(rec(cpu = 0.0, run = 0.0)))
    assert(!Health.degraded(Health.Record.empty))
  }

  test("health: high steal degrades the window") {
    val quiet = rec(cpu = 17.0, run = 20.0)
    assert(!Health.degraded(quiet.copy(
      stealTicks = (quiet.totalTicks * Health.MaxStealShare).toLong)))
    assert(Health.degraded(quiet.copy(
      stealTicks = (quiet.totalTicks * Health.MaxStealShare).toLong + 1)))
    assert(Health.degraded(quiet.copy(
      iowaitTicks = (quiet.totalTicks * Health.MaxIowaitShare).toLong + 1)))
  }

  test("health: low task CPU per task run degrades the window") {
    // runnable task threads that do not get a core: run time keeps
    // counting while CPU time does not
    val run = 20.0
    assert(Health.degraded(rec(cpu = run * Health.MinCpuPerRun * 0.99,
      run = run)))
    assert(!Health.degraded(rec(cpu = run * Health.MinCpuPerRun * 1.01,
      run = run)))
  }

  test("health: records sum, so a run is judged over every pass") {
    val a = rec(cpu = 9.0, run = 10.0, steal = 0.02)
    val b = rec(cpu = 2.0, run = 10.0, steal = 0.10)
    val sum = a + b
    assert(sum.taskCpuSec == 11.0 && sum.taskRunSec == 20.0)
    assert(math.abs(sum.cpuPerRun - 0.55) < 1e-9)
    assert(math.abs(sum.stealShare - 0.06) < 1e-9)
    assert(Seq(a, b).foldLeft(Health.Record.empty)(_ + _) == sum)
  }
}
