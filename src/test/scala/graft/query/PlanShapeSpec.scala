package graft.query

import graft.{SparkEntry, SparkSpec}

/** Scale-shape gate over the ENTIRE registered query surface: no
  * registered query may plan a quadratic join (CartesianProduct /
  * BroadcastNestedLoopJoin), because at 100 TB that plan never
  * finishes. Exceptions are explicit and individually justified:
  *
  *  - `*_oracle` queries: deliberately quadratic ground-truth anchors
  *    (exact pair joins kept so the DuckDB oracle and the LSH twins'
  *    recall stay measurable); their scale-safe twins are the
  *    registered production shapes.
  *  - `sim_cosine_topk` (+ its `_int8` quantized twin): exact
  *    brute-force baseline whose DESIGN is a broadcast nested loop —
  *    the query side is small and broadcast, the corpus side streams
  *    once (O(corpus x queries), not O(corpus^2)); the sublinear paths
  *    are sim_cosine_lsh / sim_cosine_ivf / sim_cosine_ivf_indexed.
  *  - `join_cross_dims`: the cross-join operator itself, over two
  *    tiny dimension tables.
  *  - `text_unigram_loglik`: broadcasts a ONE-ROW aggregate (the
  *    corpus word total) onto every row — O(n x 1), the standard
  *    scalar-attach shape, not a pair join.
  *  - `q22_dormant_customers`: same scalar-attach shape — the global
  *    balance threshold is a ONE-ROW broadcast aggregate joined onto
  *    the customer scan (TPC-H q22's scalar subquery, decorrelated).
  *  - `q11_important_parts`: same scalar-attach shape — the global
  *    value total (TPC-H q11's HAVING scalar subquery) is a ONE-ROW
  *    broadcast aggregate joined onto the per-part aggregate.
  *  - `retrieval_bm25` / `retrieval_bm25_indexed` /
  *    `retrieval_bm25_batch`: scalar-attach —
  *    the ONE-ROW (n_docs, total_dl) corpus stats broadcast onto the
  *    |query terms|-row df frame (O(|terms| x 1)); the corpus-side
  *    pass itself is equi-joins only.
  *  - `sample_quality_buckets`: contains text_unigram_loglik's 1-row
  *    corpus-total attach.
  *  - `retrieval_hybrid_rrf`: composes the BM25 stats attach AND the
  *    sim_cosine_topk brute-force baseline (broadcast-query loop, the
  *    already-justified O(corpus x queries) design).
  */
class PlanShapeSpec extends SparkSpec {

  private val justifiedQuadratic =
    Set("sim_cosine_topk", "sim_cosine_topk_int8", "join_cross_dims",
      "text_unigram_loglik", "q22_dormant_customers",
      "q11_important_parts", "retrieval_bm25", "retrieval_bm25_indexed",
      // the phrase variant shares scoreTopK's 1-row stats attach; its
      // phrase gate itself is a doc_id equi-semi-join
      "retrieval_bm25_phrase",
      "retrieval_hybrid_indexed_batch",
      "retrieval_bm25_batch", "retrieval_bm25_indexed_batch",
      "sample_quality_buckets",
      // DSIR's 1-row corpus-totals attach (the unigram_loglik shape)
      "sample_dsir_select", "retrieval_hybrid_rrf",
      "retrieval_hybrid_rrf_batch", "retrieval_service_cap",
      // calendar-grid densification: the cross product's BOTH sides
      // are result-bounded (days x |levels|, never corpus rows)
      "window_gap_fill", "window_interpolate")

  /** Queries whose hinted broadcast sides are QUERY-BATCH frames
    * bounded by the MaxBatchQueries contract (≤1024 queries → ≤1024 ×
    * nProbe probe rows, ≤1024 × |terms| term pairs, ≤1024 id-map
    * rows) — constant in the corpus at any scale. At sf0.001 the
    * corpus sits BELOW the cap, so the gate's evaluated count reads
    * as corpus-sized; the bound that matters is the cap, enforced by
    * a loud require in the batch entrypoints. */
  private val capBoundedBroadcast = Set("retrieval_service_cap",
    // the cached variant's hinted sides are the same cap-bounded
    // frames (id map, rep mapping) plus the memo-key mappings — all
    // <= MaxBatchQueries rows by the same loud require; the memo
    // SCAN itself is unhinted and stays on the probe side
    "retrieval_service_cap_cached")

  test("no quadratic join in any registered non-oracle query plan") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        if (name.endsWith("_oracle") || justifiedQuadratic(name)) None
        else {
          val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
          if (plan.contains("CartesianProduct") ||
              plan.contains("BroadcastNestedLoopJoin")) Some(name)
          else None
        }
    }
    assert(offenders.isEmpty,
      s"quadratic join in registered plans: ${offenders.mkString(", ")}")
  }

  test("no corpus-proportional broadcast hint in any registered plan") {
    // The growing-broadcast driver-OOM class (VERDICT r6 #2, r7 #1): a
    // broadcast() hint whose side scales with the corpus — fine at
    // test scale, billions of rows at 100 TB. Mechanical gate: every
    // explicitly-hinted broadcast subtree in every registered query is
    // EVALUATED at sf0.001 and must stay under a hard row bound that
    // separates dim/flag/probe frames (region 5, nation 25, supplier
    // 10, customer 150, part 200, LSH probe fan-out 288, staged flag
    // lists) from row-per-corpus-record frames (documents 500, orders
    // 1500, lineitem 6k, events 60k). Catches staged/checkpointed
    // offenders too — the round-7 capstone broadcast (one docMeta row
    // per document) hid behind a LogicalRDD leaf no file-scan check
    // would see, but its COUNT gives it away.
    import org.apache.spark.sql.catalyst.plans.logical.{ResolvedHint, SubqueryAlias}
    import org.apache.spark.sql.graftbridge.PlanBridge
    val bound = 450L
    def isGuarded(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean = p match {
      case s: SubqueryAlias =>
        s.alias == graft.scale.Staging.GuardedAlias
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        if (name.endsWith("_oracle") || capBoundedBroadcast(name)) Nil
        else {
          val analyzed = fn(spark, sf0001).queryExecution.analyzed
          analyzed.collect {
            // guarded sides are exempt BY CONSTRUCTION: their hint
            // only exists because the size guard took the broadcast
            // branch, and the shuffle fallback is the gate's demand
            case h: ResolvedHint
                if h.hints.strategy.isDefined && !isGuarded(h.child) =>
              PlanBridge.ofRows(spark, h.child).count()
          }.filter(_ > bound).map(n => s"$name($n rows)")
        }
    }
    assert(offenders.isEmpty,
      "corpus-proportional broadcast side(s) in registered plans: " +
        offenders.mkString(", "))
  }

  // ---- positive pins for the flagship TPC-H plans: the shapes the
  // engine was TUNED to (pushed filters reach the scan, dim stars stay
  // broadcast with no sort-merge shuffle, q21's repeated orders scan is
  // exchange-reused). A Spark upgrade that silently de-optimizes any of
  // these turns a pin red instead of a bench row slow. Counts are
  // asserted as bounds on today's measured plan (PlanAudit values).

  /** AQE-final physical plan text (execute first so AQE finalizes). */
  test("packing: two-phase prefix sum — no per-lang window over " +
      "corpus rows in any packTokenCounts consumer") {
    // Window.partitionBy(lang) over the corpus funnels ~half of a
    // 100 TB corpus (the dominant language) through ONE task. The
    // packing rework decomposes the running sum: the only admissible
    // windows are (a) the within-bucket sum, partitioned by
    // (lang, pack_bucket) — bounded at 2^bucketShift rows per
    // partition — and (b) windows whose DIRECT input (through
    // Project/Filter chains) is an Aggregate, i.e. the bounded
    // subtotal-offsets frame or a histogram. A deep collectFirst
    // would be vacuous here: the corpus-side window's child is the
    // offsets JOIN, which contains the subtotal Aggregate somewhere
    // underneath — hence the strip-chain check.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, LogicalPlan, Project, Sort, Window => LWindow}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case f: Filter => strip(f.child)
      case s: Sort => strip(s.child)
      case other => other
    }
    Seq("curation_seq_packing", "curation_pack_bpe",
        "pipeline_pretraining_corpus", "pipeline_targeted_corpus")
      .foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.optimizedPlan
      val windows = plan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$q: expected the prefix-sum windows")
      windows.foreach { w =>
        val bucketPartitioned =
          w.partitionSpec.exists(_.toString.contains("pack_bucket"))
        val overBoundedAggregate = strip(w.child).isInstanceOf[Aggregate]
        assert(bucketPartitioned || overBoundedAggregate,
          s"$q: window partitioned by a low-cardinality key over " +
            s"corpus-sized input (the 100x hot-partition shape):\n$w")
      }
    }
  }

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      .split("== Initial Plan ==").head
  }

  private def count(plan: String, re: String): Int =
    re.r.findAllIn(plan).size

  test("q1: no joins, shipdate pushed to the scan, map-side partials") {
    val plan = finalPlan("q1_pricing_summary")
    assert(count(plan, "Join") == 0, plan)
    assert(plan.contains("LessThanOrEqual(l_shipdate"),
      "shipdate filter must reach PushedFilters")
    assert(plan.contains("partial_"), "aggregation must be two-phase")
    assert(!plan.contains("l_comment"),
      "column pruning must drop unused lineitem columns")
  }

  test("q5: the dim star stays broadcast — no sort-merge shuffle") {
    val plan = finalPlan("q5_regional_revenue")
    assert(count(plan, "SortMergeJoin") == 0, plan)
    assert(count(plan, "BroadcastHashJoin") >= 4, plan)
    assert(count(plan, "Exchange (hash|range|Single)") <= 2,
      "one partial-agg shuffle (+ result sort) is the budget")
  }

  test("q9: the dim star stays broadcast — no sort-merge shuffle") {
    val plan = finalPlan("q9_product_profit")
    assert(count(plan, "SortMergeJoin") == 0, plan)
    assert(count(plan, "BroadcastHashJoin") >= 4, plan)
    assert(count(plan, "Exchange (hash|range|Single)") <= 2, plan)
  }

  test("q18: semi-join shape with broadcast sides, single shuffle") {
    val plan = finalPlan("q18_large_orders")
    assert(count(plan, "SortMergeJoin") == 0, plan)
    assert(count(plan, "BroadcastHashJoin") >= 2, plan)
    assert(plan.contains("partial_"), "aggregation must be two-phase")
    assert(count(plan, "Exchange (hash|range|Single)") <= 2, plan)
  }

  test("q8: seven-table star stays broadcast, date+type filters pushed") {
    val plan = finalPlan("q8_market_share")
    assert(count(plan, "SortMergeJoin") == 0, plan)
    assert(count(plan, "BroadcastHashJoin") >= 6, plan)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"),
      "orders date range must reach PushedFilters")
    assert(plan.contains("EqualTo(p_type,PROMO"),
      "part type filter must reach PushedFilters")
    assert(count(plan, "BroadcastNestedLoop") == 0, plan)
  }

  test("q10: returnflag pushed, top-20 via TakeOrdered (no global sort)") {
    val plan = finalPlan("q10_returned_items")
    assert(plan.contains("EqualTo(l_returnflag,R)"),
      "returnflag filter must reach PushedFilters")
    assert(plan.contains("TakeOrderedAndProject"),
      "LIMIT over ORDER BY must fuse into a per-partition top-k + " +
        "driver merge, not a global sort")
    assert(plan.contains("partial_"), "aggregation must be two-phase")
    assert(count(plan, "BroadcastNestedLoop") == 0, plan)
  }

  test("q21: the late tree (lineitem⋈orders) executes exactly once — " +
      "staged, not re-derived per join") {
    // round-15: the late tree is staged, replacing the old shape whose
    // semi pass and anti pass each executed it (the orders broadcast
    // was exchange-reused, but the join + filter work still ran
    // twice). One orders scan across EVERY pass = the tree ran once;
    // lineitem is scanned exactly twice (the late tree + the
    // other-suppliers probe side).
    val nOrders = countColumnScans("orders", "o_orderdate") {
      SparkEntry.queries("q21_waiting_supplier")(spark, sf0001)
        .collect()
    }
    assert(nOrders == 1,
      s"orders scanned $nOrders times; the staged late tree must be " +
        "its only consumer")
    val nLineitem = countColumnScans("lineitem", "l_suppkey") {
      SparkEntry.queries("q21_waiting_supplier")(spark, sf0001)
        .collect()
    }
    assert(nLineitem == 2,
      s"lineitem scanned $nLineitem times (contract: late tree + " +
        "others probe = 2)")
    val plan = finalPlan("q21_waiting_supplier")
    assert(count(plan, "BroadcastNestedLoop") == 0, plan)
  }

  // ---- LLM-flagship stage-count pins: the share-the-scan contracts
  // the capstone family was TUNED to. Parquet stage mode routes every
  // Staging.materialize through a write action, so each staged
  // computation's physical plan flows past a QueryExecutionListener
  // and scans become countable across the WHOLE pipeline (stages +
  // final pass) — the localCheckpoint default hides staged jobs from
  // any plan inspection.

  /** Count FileScan nodes over `table` whose ReadSchema includes
    * `column`, across every QueryExecution fired while `body` runs
    * (parquet stage mode). The listener bus is async — drain by
    * waiting for the count to go quiet. */
  private def countColumnScans(table: String, column: String)(
      body: => Unit): Int = {
    val scanRe = (s"FileScan parquet [^\\n]*$table\\.parquet" +
      s"[^\\n]*ReadSchema:[^\\n]*$column").r
    val hits = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        // AQE plans print BOTH the final and the initial plan; keep
        // only the final section or every scan counts twice
        val plan = qe.explainString(
            org.apache.spark.sql.execution.SimpleMode)
          .split("== Initial Plan ==").head
        hits.addAndGet(scanRe.findAllIn(plan).size)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.conf.set(graft.scale.Staging.ModeConf, "parquet")
      spark.conf.set(graft.scale.Staging.DirConf, tmpDir("stage-pins"))
      body
      // drain the async listener bus: settle when the count holds
      // steady for 500 ms (bounded at 10 s)
      var last = -1
      var waited = 0
      while (hits.get() != last && waited < 10000) {
        last = hits.get()
        Thread.sleep(500)
        waited += 500
      }
      hits.get()
    } finally {
      spark.conf.set(graft.scale.Staging.ModeConf, "local")
      spark.listenerManager.unregister(listener)
    }
  }

  test("capstone reads the documents text column exactly once") {
    // the fused-metadata contract (round 7: <= 2 — metadata scan +
    // gram explode; round 16 session 2: == 1 — the gram-hash arrays
    // are computed IN the metadata projection, so one scan + one
    // split feeds scalars AND gates). A second text scan means a gate
    // re-derived per-doc text state instead of reading the staged
    // frame.
    val n = countColumnScans("documents", "text") {
      SparkEntry.queries("pipeline_pretraining_corpus")(spark, sf0001)
        .collect()
    }
    assert(n == 1,
      s"capstone scanned documents.text $n times (contract: exactly 1)")
  }

  test("source cap: bounded-heap partial aggregation, no rank window") {
    // the whole point of group_top_n (ops/GroupTopN): heaps combine
    // map-side and ONLY heaps shuffle — a Window/Sort over corpus rows
    // here would reintroduce the hot-domain full-sort the aggregate
    // exists to kill
    val plan = finalPlan("curation_source_cap")
    assert(plan.contains("partial_group_top_n"),
      "map-side partial heap aggregation missing")
    assert(!plan.contains("Window"), "rank window crept back in")
  }

  test("stratified draw: bounded-heap partials + broadcast semi-join " +
      "back, no per-stratum rank window") {
    // round 14: the hash-order draw was the codebase's last
    // low-cardinality rank window — now a GroupTopN heap whose
    // winners semi-join back, so no stratum ever funnels corpus rows
    // through one task
    // the winners frame is STAGED (its heap aggregation runs in the
    // staging job, not the published plan), so the registered plan
    // shows the semi-join against the stage; the heap shape itself is
    // asserted on the unstaged construction below and by the
    // source-cap pin
    val plan = finalPlan("sample_stratified_lang")
    assert(!plan.contains("Window"), "rank window crept back in")
    assert(plan.contains("LeftSemi"), "winner semi-join missing")
    val winnersPlan = graft.ops.GroupTopN.capPerGroup(
        graft.Tables.documents(spark, sf0001),
        Seq(org.apache.spark.sql.functions.col("lang")),
        -org.apache.spark.sql.functions.col("n_chars"),
        org.apache.spark.sql.functions.col("doc_id"), 5)
      .queryExecution.executedPlan.toString
    assert(winnersPlan.contains("partial_group_top_n"),
      "map-side partial heap aggregation missing from the draw")
  }

  test("epoch-order head: bounded-heap partials; the only window " +
      "ranks the heap's own <=100-row-per-epoch output") {
    // round 14: |epoch|=2 made the old per-epoch rank window funnel
    // the whole corpus through two tasks to keep 100 rows each
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, Generate, LogicalPlan, Project, Sort,
      Window => LWindow}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case f: Filter => strip(f.child)
      case s: Sort => strip(s.child)
      case g: Generate => strip(g.child)
      case other => other
    }
    val plan = finalPlan("sample_epoch_order")
    assert(plan.contains("partial_group_top_n"),
      "map-side partial heap aggregation missing")
    val logical = SparkEntry.queries("sample_epoch_order")(spark, sf0001)
      .queryExecution.optimizedPlan
    val windows = logical.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "the winner-ranking window must exist")
    windows.foreach { w =>
      assert(strip(w.child).isInstanceOf[Aggregate],
        s"window over non-heap (corpus-sized) input:\n$w")
    }
  }

  test("interval sweep: two-phase — every window is either " +
      "(key, sweep_bucket)-partitioned or over the bounded subtotals") {
    // round 14: the boundary sweep's running sum windowed on the bare
    // group key (a day) — a whole day's boundaries through one task
    // at corpus scale; now the packTokenCounts decomposition with a
    // cross-bucket lead carried by the subtotal frame
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, LogicalPlan, Project, Sort, Window => LWindow}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case f: Filter => strip(f.child)
      case s: Sort => strip(s.child)
      case other => other
    }
    val plan = SparkEntry.queries("interval_concurrency")(spark, sf0001)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "the sweep windows must exist")
    windows.foreach { w =>
      val bucketPartitioned =
        w.partitionSpec.exists(_.toString.contains("sweep_bucket"))
      // the sessionize stage upstream windows by user_id — high
      // cardinality by construction, equally admissible
      val userPartitioned =
        w.partitionSpec.exists(_.toString.contains("user_id"))
      val overBoundedAggregate = strip(w.child).isInstanceOf[Aggregate]
      assert(bucketPartitioned || userPartitioned || overBoundedAggregate,
        s"window partitioned by a low-cardinality key over " +
          s"corpus-sized input:\n$w")
    }
  }

  test("multi-quantile: rank-locate — no per-flag window over corpus " +
      "rows; only target price-buckets are ever ranked") {
    // round 14: row_number over partition(l_returnflag) — three flag
    // values — became counts per (flag, price-bucket) + rank-locate;
    // admissible windows carry the bucket in their partitionSpec or
    // consume the bounded count frame
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, LogicalPlan, Project, Sort, Window => LWindow}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case f: Filter => strip(f.child)
      case s: Sort => strip(s.child)
      case other => other
    }
    // a window stacked on another window over the aggregate (off,
    // then n) is still bounded — strip through Window as well
    @annotation.tailrec
    def stripW(p: LogicalPlan): LogicalPlan = strip(p) match {
      case w: LWindow => stripW(w.child)
      case other => other
    }
    val plan = SparkEntry.queries("agg_quantiles_multi")(spark, sf0001)
      .queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "the rank-locate windows must exist")
    windows.foreach { w =>
      val bucketPartitioned =
        w.partitionSpec.exists(_.toString.contains("qb"))
      val overBoundedAggregate = stripW(w.child).isInstanceOf[Aggregate]
      assert(bucketPartitioned || overBoundedAggregate,
        s"window partitioned by a low-cardinality key over " +
          s"corpus-sized input:\n$w")
    }
  }

  test("per-query top-k family: every rank window consumes the " +
      "bounded heap output, never the candidate set") {
    // round 14: brute-force ANN ranks |corpus| candidates per query
    // and a common BM25 term's postings are corpus-proportional — the
    // query_id rank windows over those candidate frames were the last
    // per-query hot-partition shapes. All ranking now heap-selects
    // (GroupTopN.rankByScore, exact fixed-point equivalence) and the
    // only admissible Window ranks the <= k winners per query — its
    // child strips (through the winners explode) to the heap
    // Aggregate. RRF fusion is exempt by construction: its input is
    // top-k-bounded per query by the upstream retrievers.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, Generate, LogicalPlan, Project, Sort,
      Window => LWindow}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case f: Filter => strip(f.child)
      case s: Sort => strip(s.child)
      case g: Generate => strip(g.child)
      case other => other
    }
    Seq("sim_cosine_topk", "sim_cosine_lsh", "sim_cosine_ivf_full",
        "sim_cosine_pq", "retrieval_bm25_batch").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.optimizedPlan
      plan.collect { case w: LWindow => w }.foreach { w =>
        assert(strip(w.child).isInstanceOf[Aggregate],
          s"$q: rank window over a non-heap (candidate-sized) " +
            s"input:\n$w")
      }
    }
  }

  test("dsir winners plan as TakeOrdered — never a global sort") {
    // the top-k selection must be per-partition heaps + one driver
    // merge (TakeOrderedAndProject); a global Sort over per-doc
    // scores is the corpus-wide-ordering scale killer
    val plan = finalPlan("sample_dsir_select")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k not planned as TakeOrdered")
    assert(!plan.contains("Window"), "window in the DSIR final plan")
  }

  test("dsir scoring is a gather-sum projection over the staged " +
      "bucket arrays — no per-gram LM join, no per-doc avg aggregate") {
    // round-16 driver-LM path: the per-doc weight must come from the
    // codegen'd vec_gather_sum over the staged (doc, bucket-array)
    // frame against the collected LLR table. The old shape's
    // signature — a broadcast join of every gram occurrence against
    // the LM followed by an avg() per-doc aggregation (one exchange
    // per corpus pass) — must not appear in the scoring pass
    val plans = plansDuring {
      SparkEntry.queries("sample_dsir_select")(spark, sf0001).collect()
    }
    assert(plans.nonEmpty, "plan capture drained empty")
    val scoring = plans.filter(_.contains("vec_gather_sum"))
    assert(scoring.nonEmpty,
      "scoring pass is not the gather-sum projection")
    assert(!scoring.exists(_.contains("avg(")),
      "the scoring pass still aggregates per-gram LLR terms (old " +
        "join shape)")
  }

  test("targeted-corpus capstone reads the documents text column at " +
      "most twice") {
    // cap -> DSIR -> pack: the cap stage's scan prunes to (source,
    // n_chars, doc_id) — text reads are the DSIR gram explode + the
    // packing token count, nothing else (a third read means a stage
    // re-tokenized instead of consuming the staged frames)
    val n = countColumnScans("documents", "text") {
      SparkEntry.queries("pipeline_targeted_corpus")(spark, sf0001)
        .collect()
    }
    assert(n > 0 && n <= 2,
      s"targeted capstone scanned documents.text $n times (contract: <= 2)")
  }

  test("registered indexed-BM25 probes (single + batch) carry the " +
      "bucket IN-list as a partition filter and never read text") {
    // the probe is STAGED since round-15, so the pruned scan lives in
    // the staged subtree's own execution — assert over EVERY plan the
    // query fires (parquet stage mode), not just the final pass
    for (name <- Seq("retrieval_bm25_indexed",
        "retrieval_bm25_indexed_batch")) {
      val plans = plansDuring {
        SparkEntry.queries(name)(spark, sf0001).collect()
      }
      assert(plans.exists(p => "PartitionFilters: \\[[^\\]]*bucket".r
          .findFirstIn(p).isDefined),
        s"$name: postings scan not partition-pruned in any pass")
      assert(plans.forall(!_.contains("text#")),
        s"$name must never read the corpus text column at query time")
    }
  }

  test("retrieval service at the cap: both batch probes stay pruned — " +
      "bucket partition filter on postings, cell filter on the IVF " +
      "scan, and the corpus text is never read") {
    // the load-shape entry drives hybridTopKBatch at the contract
    // bound; the scan COUNT is independent of the batch size, so the
    // same two pruned probes must appear no matter how many queries
    // ride the batch. The lexical probe is staged (round-15): its
    // bucket-pruned scan is in the staged subtree's execution, so the
    // pin sweeps every plan the entry fires.
    val plans = plansDuring {
      SparkEntry.queries("retrieval_service_cap")(spark, sf0001)
        .collect()
    }
    assert(plans.exists(p => "PartitionFilters: \\[[^\\]]*bucket".r
        .findFirstIn(p).isDefined),
      "postings probe not bucket-pruned at the cap in any pass")
    assert(plans.exists(p => "PartitionFilters: \\[[^\\]]*cell".r
        .findFirstIn(p).isDefined),
      "IVF probe not cell-pruned at the cap in any pass")
    assert(plans.forall(!_.contains("text#")),
      "the service probe must never read the corpus text column")
  }

  test("quality buckets: no per-language rank window — every window " +
      "consumes the value-domain-bounded histogram, not corpus rows") {
    // the CCNet tercile split is THRESHOLD-bucketed: an ntile(3)
    // window partitioned by lang would funnel every doc of a language
    // through one task (billions at 100 TB). The only admissible
    // windows sit ABOVE the (lang, avg_loglik) histogram aggregate,
    // whose per-lang partition is bounded by the distinct rounded
    // scores (the value domain), independent of corpus size.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = SparkEntry.queries("sample_quality_buckets")(spark, sf0001)
      .queryExecution.optimizedPlan
    assert(!plan.toString.contains("ntile"),
      "threshold bucketing must not rank a whole language partition")
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "the histogram cumsum window must exist")
    windows.foreach { w =>
      // round-15: the histogram is STAGED (it feeds both the cuts
      // branch and the bucket aggregation), so a window child may be
      // the staged frame's leaf (LogicalRDD under localCheckpoint)
      // instead of the Aggregate itself. Round-16 (round-15 ADVICE):
      // "any all-LogicalRDD child" accepted EVERY staged frame —
      // including a corpus-sized per-doc one — so the staged leaf
      // must now carry the histogram's aggregate-produced columns
      // (`cnt`, `words_sum`), which no per-doc frame has; the growth
      // bound itself is measured universally by HotPartitionSpec.
      val overAggregate =
        w.child.collectFirst { case a: Aggregate => a }.isDefined
      val histCols = Set("lang", "avg_loglik", "cnt", "words_sum")
      val overStagedHistogram = {
        val leaves = w.child.collectLeaves()
        leaves.nonEmpty && leaves.forall(l =>
          l.getClass.getSimpleName.contains("LogicalRDD") &&
            l.output.map(_.name).toSet == histCols)
      }
      assert(overAggregate || overStagedHistogram,
        s"window over non-aggregated (corpus-sized) input:\n$w")
    }
  }

  test("batch retrieval reads documents.text at most twice per run " +
      "(tf explode + lengths; the dense side never)") {
    for (name <- Seq("retrieval_bm25", "retrieval_bm25_batch",
        "retrieval_hybrid_rrf_batch",
        // the phrase gate rides the staged lengths pass, so the
        // phrase-constrained query holds the same two-scan contract
        "retrieval_bm25_phrase")) {
      val n = countColumnScans("documents", "text") {
        SparkEntry.queries(name)(spark, sf0001).collect()
      }
      assert(n > 0 && n <= 2,
        s"$name scanned documents.text $n times (contract: <= 2)")
    }
  }

  test("unigram-LM family tokenizes the corpus text exactly once") {
    // the token stream feeds three consumers inside unigramLogLik and
    // the buckets query branches the scored frame again — all staged,
    // so the regex tokenize runs once per query, not 3-6 times
    for (name <- Seq("text_unigram_loglik", "sample_quality_buckets")) {
      val n = countColumnScans("documents", "text") {
        SparkEntry.queries(name)(spark, sf0001).collect()
      }
      assert(n == 1,
        s"$name scanned documents.text $n times (contract: 1)")
    }
  }

  test("repeated-span detect+cut reads the text column at most twice") {
    // windows table staged once (detect); the cut re-splits text for
    // the token filter — two text scans total, never one per consumer
    // of the windows table.
    val n = countColumnScans("documents", "text") {
      SparkEntry.queries("curation_cut_spans")(spark, sf0001).collect()
    }
    assert(n > 0 && n <= 2,
      s"span cut scanned documents.text $n times (contract: <= 2)")
  }
}
