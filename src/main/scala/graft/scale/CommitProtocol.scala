package graft.scale

/** The ordering rules of every multi-step store mutation, expressed
  * ONCE (round-10 verdict #5: five batchId-keyed delta stores had
  * grown three commit idioms — the part-log MVCC-with-grace (now
  * [[PartLog]]'s one fold), TextSkipIndex's sidecar-retract-first, and
  * the postings/IVF marker commits — each individually spec-verified,
  * but every new store cloned a fresh variant and re-derived its
  * crash-window analysis by hand).
  *
  * A commit is an ordered list of NAMED steps executed through
  * [[run]]. In production this is a plain sequential executor — zero
  * behavior change vs the inlined bodies it replaced. Under test, a
  * crash hook ([[crashAfter]]) injects a failure after any chosen
  * step, so ONE parameterized spec (CommitCrashSpec) sweeps
  * kill-between-every-pair-of-steps across every store on the module
  * and asserts each store's documented crash contract in every
  * window:
  *
  *  - reader-safe stores ([[PartLog]], which the agg append stores
  *    and SampleLayout share, and TextSkipIndex): every window reads a complete consistent view —
  *    old or new, never partial, never dangling.
  *  - maintenance folds (BM25 postings, IVF cell deltas — documented
  *    "no reader/replay in flight" contract): every window is either
  *    exact or DETECTABLE (the un-retired delta dirs are the
  *    operator's check-before-retry signal).
  *
  * The step lists are registered at run time ([[stepsOf]]) so the
  * crash spec enumerates boundaries from the code itself — a store
  * that grows a step is automatically swept at the new boundary.
  */
object CommitProtocol {

  final case class Step(name: String, body: () => Unit)

  /** Sugar: `step("publish-manifest") { ... }`. */
  def step(name: String)(body: => Unit): Step = Step(name, () => body)

  /** The deliberate failure the test hook raises — distinct from any
    * real exception type so the spec can assert the crash it injected
    * is the crash it caught. */
  final class InjectedCrash(val op: String, val afterStep: String)
    extends RuntimeException(
      s"injected crash: op '$op' killed after step '$afterStep'")

  /** Test hook: crash after step index `_2` of op `_1`. Production
    * never sets this. */
  @volatile private[graft] var crashAfter: Option[(String, Int)] = None

  /** Step names of each op, recorded at its last full registration —
    * the crash spec's boundary enumeration source. */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private[graft] def stepsOf(op: String): Seq[String] =
    Option(registry.get(op)).getOrElse(Seq.empty)

  /** Execute `steps` in order. The hook check sits BETWEEN steps, so
    * an injected crash models the process dying after step i's
    * side effects are fully durable and before step i+1 begins — the
    * exact windows the stores' protocols are designed around. */
  def run(op: String, steps: Seq[Step]): Unit = {
    registry.put(op, steps.map(_.name))
    var i = 0
    steps.foreach { s =>
      s.body()
      if (crashAfter.contains((op, i)))
        throw new InjectedCrash(op, s.name)
      i += 1
    }
  }
}
