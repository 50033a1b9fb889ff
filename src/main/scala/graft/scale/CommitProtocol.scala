package graft.scale

/** The ordering rules of every multi-step store mutation, expressed
  * ONCE (round-10 verdict #5: every new batchId-keyed store used to
  * clone a fresh commit variant and re-derive its crash-window
  * analysis by hand).
  *
  * A commit is an ordered list of NAMED steps executed through
  * [[run]]. In production this is a plain sequential executor — zero
  * behavior change vs the inlined bodies it replaced. Under test, a
  * crash hook ([[crashAfter]]) injects a failure after any chosen
  * step, so ONE parameterized spec (CommitCrashSpec) sweeps
  * kill-between-every-pair-of-steps across every store on the module
  * and asserts each store's documented crash contract in every
  * window. The shapes left:
  *
  *  - the [[PartLog]] fold (`part-fold`), shared by every batch-keyed
  *    store (the agg engines, SampleLayout, the curation and media
  *    logs, the BM25 result-cache memo, and the BM25 and IVF arrival
  *    logs): every window reads the complete old view or the complete
  *    new one, and a retried fold is safe.
  *  - the [[PartLog]] named-table append (`part-append`: the BM25 and
  *    IVF arrivals): `_SUCCESS` is retracted first and written last, so
  *    every window shows the batch invisible or complete.
  *  - TextSkipIndex's retract-first append: a window may hide the
  *    batch, never show part of it.
  *  - the media ingest runs, whose steps are PartLog appends: every
  *    window shows the batch invisible or a stage-prefix of it, and the
  *    replay overwrites it.
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
