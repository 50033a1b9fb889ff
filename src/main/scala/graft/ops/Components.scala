package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that
  * turns pairwise near-duplicate hits into duplicate *clusters* (keep
  * one representative per component, drop the rest). Greedy pair-wise
  * dropping ([[Dedup.dropNearDuplicates]]) under-merges transitive
  * chains; components are the exact closure.
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with its own id; each round every node takes the min of its
  * own and its neighbors' labels; fixpoint = every node carries its
  * component's global min id (equal to the recursive-CTE "min reachable
  * id" formulation an SQL engine runs). Rounds needed = graph diameter
  * — near-dup graphs are unions of small cliques, so a handful. Each
  * round is one join + one groupBy on the edge list (shuffle-bounded,
  * no driver-side graph), with `localCheckpoint` cutting the lineage so
  * plans don't grow with iterations.
  */
object Components {

  /** Rounds a `pointerDoubling = false` run propagates linearly before
    * switching the jump join ON anyway (round-16, round-15 ADVICE):
    * near-dup similarity is not transitive, so a caller's "the graph
    * is clique-shaped" is a measurement, not an invariant — a
    * chain-like component of diameter > maxIter would otherwise turn
    * the disabled optimization into a hard `require(converged)`
    * failure at scale. Clique unions converge in ~2-5 rounds and
    * never reach the switch (keeping the measured ~25%/round saving);
    * anything still moving after this many rounds gets logarithmic
    * convergence, so total rounds are bounded by
    * AdaptiveDoublingAfter + O(log2 diameter) — far inside the
    * default maxIter for any physical graph. */
  val AdaptiveDoublingAfter = 6

  /** @param edges two-column DataFrame (`src`, `dst`), undirected.
    * @param pointerDoubling add the comp -> label(comp) jump join each
    *   round. Keeps round count logarithmic in component diameter — the
    *   safe default for arbitrary graphs at scale. For clique-union
    *   graphs (near-dup clusters) it saves no rounds and costs one join
    *   per round (measured: 5 rounds either way on the sf0.1 near-dup
    *   graph, ~25% cheaper per round without it), so
    *   callers that KNOW the graph is clique-shaped may disable it —
    *   `false` means "start without the jump join", and the run
    *   switches it on adaptively after [[AdaptiveDoublingAfter]]
    *   non-converged rounds (the clique assumption is then observably
    *   wrong for this input, and linear propagation on a deep
    *   component must not run into the maxIter failure).
    * @return (`id`, `comp`) for every node incident to an edge, where
    *   `comp` is the smallest node id in the component.
    */
  /** Edge-count bound under which the label propagation runs as a
    * driver-side union-find instead of the iterative Spark loop
    * (round-16, guide §2.3 "decide with small rows" / §1.2 "the
    * distributed algorithm"): each propagation round costs two joins,
    * an eager checkpoint, and a count — ~0.4-0.5 s of fixed job
    * latency per round regardless of data size — so a 186-edge
    * near-dup graph paid ~2.2 s for what is microseconds of actual
    * union-find work. Under the bound the edges are a bounded driver
    * read ([[graft.scale.Staging.boundedCollect]]; 16 bytes/edge, ~3 MB
    * at the cap), the fixpoint is computed exactly on the
    * driver, and the result returns as a local relation; past it the
    * shuffle-bounded loop runs unchanged, which is the only shape
    * that exists at 100 TB. Same unique min-id fixpoint either way
    * (spec-pinned equality on randomized graphs). */
  val DriverMaxEdges = 200000

  def connectedComponents(edges: DataFrame,
      maxIter: Int = 25, pointerDoubling: Boolean = true,
      driverMaxEdges: Int = DriverMaxEdges): DataFrame = {
    // materialize the edge list ONCE before mirroring: `edges` is often
    // an expensive upstream plan (e.g. the near-dup pair join), and the
    // union would otherwise execute it twice
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // NULL endpoints keep the distributed loop's semantics: the driver
    // union-find only takes fully non-null edge sets
    val driverEdges =
      if (driverMaxEdges <= 0) None
      else graft.scale.Staging.boundedCollect(e, driverMaxEdges)
        .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
    driverEdges match {
      case Some(rows) => unionFind(e.sparkSession, rows)
      case None => propagateLabels(e, maxIter, pointerDoubling)
    }
  }

  /** The driver shortcut: union-find over the collected edges, labels
    * re-rooted to each component's min id (the loop's fixpoint). */
  private def unionFind(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { row =>
      val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val nodes = parent.keys.toArray
    // min-id label per component == the loop's converged fixpoint
    val minOfRoot = scala.collection.mutable.HashMap[Long, Long]()
    nodes.foreach { n =>
      val r = find(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
    }
    import spark.implicits._
    nodes.toSeq.map(n => (n, minOfRoot(find(n)))).toDF("id", "comp")
  }

  /** The distributed fallback: iterative min-label propagation. */
  private def propagateLabels(e: DataFrame, maxIter: Int,
      pointerDoubling: Boolean): DataFrame = {
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("ncomp"))
      val m1 = labels
        .join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp")))
            .as("comp"), col("comp").as("old"))
      // pointer doubling: additionally jump comp -> label(comp). Labels
      // only ever hold ids inside the same component and only decrease,
      // so the jump preserves correctness while making convergence
      // logarithmic in component diameter instead of linear (a 75-node
      // chain-ish component converges in ~4 rounds, not ~11).
      val doubleNow = pointerDoubling || i >= AdaptiveDoublingAfter
      val updated = (if (!doubleNow) m1
        else m1
          .join(labels.select(col("id").as("comp"),
            col("comp").as("jump")), Seq("comp"), "left_outer")
          .select(col("id"),
            least(col("comp"), coalesce(col("jump"), col("comp")))
              .as("comp"), col("old")))
        .localCheckpoint(true)
      // convergence check scans the just-materialized frame — no
      // second shuffle join per iteration
      val changed = updated.filter(col("comp") =!= col("old")).count()
      labels = updated.select(col("id"), col("comp"))
      converged = changed == 0
      i += 1
    }
    require(converged, s"label propagation did not converge in $maxIter")
    labels
  }

  /** Representative-per-cluster dedup: every node that is NOT its
    * component's min id, as (id, kept) pairs — the drop list with the
    * survivor it duplicates.
    */
  def dropList(edges: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponents(edges, maxIter)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("dropped"), col("comp").as("kept"))
}
