package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingestion and tokenization: boilerplate detection,
  * eval-set decontamination, and sequence packing. All three are pure
  * DataFrame dataflows — the n-gram generation is a codegen'd
  * HOF-over-array projection (no UDFs), candidate joins are equi-joins
  * on the n-gram string, and packing is a per-shard prefix sum.
  *
  * Scale notes (the 100 TB shapes):
  *  - n-gram explode multiplies rows by ~doc_len but the downstream
  *    aggregations are map-side combined; only (ngram, partial) pairs
  *    shuffle.
  *  - decontamination broadcasts the EVAL side: benchmark suites are
  *    KBs-to-MBs of n-grams while the training corpus is the 100 TB
  *    side, so the scan stays narrow and shuffle-free.
  *  - packing is embarrassingly parallel per shard (lang here): real
  *    pipelines pack within a worker's shard, never via a global
  *    prefix sum, so the window partitions by the shard key.
  */
object Curation {

  /** Word n-grams of `text` (space-separated words, matching the
    * DuckDB-portable `string_split(text, ' ')`), as an array column.
    * Docs shorter than `n` words yield an empty array — the bare
    * `sequence(0, size-n)` would DESCEND for negative spans and emit
    * garbage grams. Callers should project the split words into their
    * own column first if `text` is expensive (HOF lambdas re-evaluate
    * captured subexpressions per element).
    */
  def wordNgrams(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** 64-bit window hashes — the hash-only sibling of [[wordNgrams]]
    * for consumers that only ever test window EQUALITY (never display
    * the text): xxhash64 over the w-token slice at each position.
    * Hashing the token slice directly (the hash chains over array
    * elements) skips building the joined gram string entirely, and the
    * generator emits 8-byte longs instead of ~w-word strings — so the
    * explode, the stage write, and every downstream shuffle move ~8 B
    * per window. Equality of token sequences is exactly equality of
    * space-joined grams (tokens cannot contain the separator), so the
    * equivalence classes match a string-hash formulation; a 64-bit
    * collision (P ~ windows^2 / 2^65, ~1e-6 at sf0.1) merges two
    * windows' doc-counts — fine for span flagging, same contract as
    * [[docNgramHashes]].
    */
  def windowHashes(words: Column, w: Int): Column =
    when(size(words) >= w,
      transform(sequence(lit(0), size(words) - w),
        i => xxhash64(slice(words, i + lit(1), lit(w)))))
      .otherwise(array().cast("array<bigint>"))

  /** Distinct (doc_id, ngram) pairs for a documents frame — the shared
    * candidate-generation step. Distinct BEFORE any join/count so a
    * gram repeated inside one doc counts that doc once.
    *
    * The dedup key is (doc_id, ngram) and every doc's grams are
    * already on one row, so the distinct is per-doc LOCAL work —
    * `array_distinct` inside the projection — not a corpus-wide
    * `distinct()` exchange (round 16, session 2; guide §2.4 "remove
    * shuffles outright"): the old shape shuffled every (doc, gram)
    * pair once just to dedup what each row could dedup itself.
    * Same multiset of output rows (array_distinct keeps first
    * occurrences), no row order guarantee — all consumers aggregate
    * or join.
    *
    * Precondition: `doc_id` is unique in `docs`. The distinct is per
    * ROW, so two rows with one doc_id each emit their grams, and the
    * pair appears twice (a `SELECT DISTINCT doc_id, ngram` would keep
    * it once). Dedup the doc rows first where ids can repeat. */
  def docNgrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("ws"), n))).as("ngram"))

  /** [[docNgrams]] with the gram carried as a 64-bit hash instead of
    * the string — for consumers that only count or join on the gram
    * (never display it): the gram is hashed at GENERATION, so the
    * distinct and every downstream shuffle move 8-byte keys rather
    * than ~n-word strings (a ~4x key-byte cut that matters when the
    * gram table no longer fits in page cache; at sf0.1 the pipeline
    * is fixed-cost bound and the timing is unchanged — measured
    * 5.9 vs 5.8 s median). A collision (P ~ pairs/2^64) merges two
    * grams and can nudge a doc-count by one — fine for gates,
    * not for gram listings.
    *
    * `carry` columns ride along through the explode and the distinct
    * (they must be functionally dependent on doc_id — per-doc metadata
    * like `source` — or the distinct would multiply rows): carrying a
    * gate column here costs nothing, while joining it back afterwards
    * costs one join — and if that join broadcasts per-DOC metadata it
    * is an unguarded corpus-proportional broadcast, the 100 TB
    * driver-OOM class this parameter exists to remove. */
  def docNgramHashes(docs: DataFrame, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = col("doc_id") +: carry.map(col)
    docs.select(keep :+ split(col("text"), " ").as("ws"): _*)
      .select(keep :+ explode(wordNgrams(col("ws"), n)).as("g"): _*)
      .select(keep :+ xxhash64(col("g")).as("ngram"): _*)
      .distinct()
  }

  /** Boilerplate n-grams: word n-grams appearing in at least `minDocs`
    * DISTINCT documents (headers, footers, license blocks, templated
    * spans — the C4/RefinedWeb "repeated line" filter generalized to
    * flat text). One explode + one map-side-combined count; the result
    * is the removal list a cleaning pass joins against.
    *
    * Precondition: `doc_id` is unique in `docs` ([[docNgrams]]): a
    * doc repeated in k rows counts k times toward `minDocs`.
    */
  def boilerplateNgrams(docs: DataFrame, n: Int = 5,
      minDocs: Int = 3): DataFrame =
    // Per-doc dedup is LOCAL (array_distinct in the projection, the
    // docNgrams move), so distinct-doc counting is a plain count:
    // each doc contributes each of its distinct grams exactly once.
    // Round-15 had fused the dedup into a count(DISTINCT doc_id)
    // aggregate (one exchange, but (ngram, doc_id) dedup STATE in the
    // partial aggregation); round 16 session 2 moves the dedup into
    // the row itself — still one exchange, and the partial aggregate
    // is a plain long count per gram (guide §2.3 "aggregate before
    // you shuffle"). Same value by definition.
    docNgrams(docs, n)
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document boilerplate fraction: of each doc's distinct word
    * n-grams, the share that are corpus boilerplate (appear in >=
    * `minDocs` docs) — the score a cleaning pass thresholds on. The
    * boilerplate list is the (small) output of [[boilerplateNgrams]],
    * joined back LEFT so gram-free/clean docs score 0.0 rather than
    * vanish. At scale the list is broadcast; the doc side is one
    * explode + one count — same shuffle budget as the detection pass.
    *
    * Precondition: `doc_id` is unique in `docs` ([[docNgrams]]): a
    * doc repeated in k rows counts k times toward its grams'
    * `minDocs`, its `n_grams` and `n_boiler` are k times too large,
    * and it yields k output rows, where the DuckDB oracle's
    * `SELECT DISTINCT doc_id, ngram` counts it once.
    */
  def boilerplateFraction(docs: DataFrame, n: Int = 5,
      minDocs: Int = 3): DataFrame = {
    // DELIBERATELY NOT STAGED, though the gram table feeds both the
    // detection count and the scoring join: exploded n-gram strings
    // are ~n x the source text bytes, so materializing them costs
    // more than the second tokenize at every scale (measured 7x
    // slower staged at sf0.1 — the staging rule is "stage only frames
    // NARROWER than their source"; cf. Bm25/unigramLogLik where the
    // staged frames are doc-count-sized).
    val boiler = boilerplateNgrams(docs, n, minDocs)
      .select(col("ngram"), lit(1).as("is_boiler"))
    val perDoc = docNgrams(docs, n)
      .join(broadcast(boiler), Seq("ngram"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("is_boiler")).as("n_boiler"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_boiler") / col("n_grams"), 4)))
  }

  /** Decontamination: training documents sharing at least one word
    * n-gram with the evaluation corpus, with the shared-gram count —
    * the standard pre-training hygiene pass (eval benchmarks must not
    * leak into training data). The eval n-gram set is broadcast: eval
    * suites are tiny next to a 100 TB training corpus, so the training
    * scan is a narrow map + broadcast-hash semi-join, no shuffle of the
    * big side.
    */
  def contaminatedDocs(train: DataFrame, eval: DataFrame,
      n: Int = 5): DataFrame = {
    // Staged (the guard's count() and the join share one
    // materialization of the explode) and SIZE-GUARDED rather than
    // unconditionally hinted: eval suites are tiny by design, but the
    // guard keeps a caller who feeds a large eval corpus on a working
    // shuffle join instead of a driver OOM.
    // docNgrams dedups per doc locally (array_distinct), so the eval
    // list needs only ONE exchange (the cross-doc ngram distinct) —
    // the round-15 shape paid two (the (doc, ngram) distinct, then
    // the ngram distinct).
    val evalGrams = graft.scale.Staging.materialize(
      docNgrams(eval, n).select(col("ngram")).distinct(),
      "decontam-evalgrams")
    // Round-15 optimization: the old shape ran docNgrams(train) —
    // which dedups EVERY training (doc, gram) pair — before the eval
    // join. The eval-gram join is the selective filter (eval suites
    // are tiny), so it gates the RAW exploded grams INSIDE the scan's
    // codegen span, before any dedup work, and the per-doc
    // distinct-shared-gram count happens in ONE aggregation keyed by
    // doc_id over the few surviving rows (guide §2.3 "project/filter
    // before the exchange"). Round-16 session-2 A/B: routing the
    // train side through the array_distinct docNgrams instead
    // measured 1.09 -> 1.39 s median at sf0.1 — per-doc dedup of the
    // WHOLE corpus costs more than distinct-agg state on the join's
    // few survivors, so the gate-first shape stays. Value-identical:
    // count(DISTINCT ngram) per doc over join survivors equals the
    // old distinct-then-count — in-doc gram repeats collapse in the
    // distinct aggregate rather than the pre-join distinct.
    train.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(wordNgrams(col("ws"), n)).as("ngram"))
      .join(graft.scale.Staging.guardedBroadcast(evalGrams), Seq("ngram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("ngram")).as("n_shared"))
  }

  /** Within-document repetition: the fraction of a doc's word bigrams
    * that are duplicates (1 - distinct/total) — the Gopher-family
    * quality signal that catches degenerate/looping text. Computed
    * entirely inside one projection (array ops on the split words, no
    * explode, no shuffle): at 100 TB this is a narrow codegen'd map
    * over the scan.
    */
  /** Cross-document verbatim repeated spans (the substring-dedup
    * signal of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): every w-token window whose exact text
    * occurs in >= minDocs distinct docs, merged per doc into maximal
    * [span_start, span_end) token intervals — the spans a substring
    * dedup pass would cut. Where [[boilerplateNgrams]] counts SHORT
    * grams corpus-wide, this flags LONG verbatim runs and returns
    * their positions.
    *
    * Plan shape: one windows pass (explode + [[windowHashes]] — only
    * 8-byte window hashes shuffle, never window text; round 7 shipped
    * 32-char md5 hex here, a deliberate oracle-parity hedge that
    * turned out unnecessary — the oracle compares only span positions,
    * which are hash-agnostic), distinct-doc counts with map-side
    * combine, a semi join back, then the standard island merge
    * (running max + cumulative sum over ONE per-doc window ordering —
    * no interval self-join). Everything after the hash is integer and
    * window arithmetic, so the result is engine-portable.
    */
  def repeatedSpans(docs: DataFrame, w: Int = 10,
      minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Staged as per-doc window-hash ARRAYS (round 16, session 2 —
    // the same bytes as the exploded rows in ~1/(L-w) the row count):
    // the stage feeds BOTH the flag aggregation and the position
    // join-back — unstaged, the tokenize + hash pass runs twice
    // (measured 3.0 -> 1.6 s at sf0.1 when the stage landed in r15).
    val windows = graft.scale.Staging.materialize(docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), windowHashes(col("ws"), w).as("wh")),
      "repeated-spans-windows")
    // Distinct-doc counts without distinct STATE (the docNgrams /
    // boilerplateNgrams move): dedup per doc is array_distinct on the
    // staged array — local, exchange-free — after which each doc
    // contributes each of its distinct windows once and a plain
    // count(1) per hash IS the distinct-doc count. (r15 carried
    // count(DISTINCT doc_id) dedup state through the aggregation;
    // r16-session-1 A/B'd that against distinct()+count and kept it —
    // this shape removes the dedup work from the aggregate entirely.)
    val flagged = windows
      .select(explode(array_distinct(col("wh"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    windows
      .select(col("doc_id"), posexplode(col("wh")).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
      .join(flagged.select(col("h")), Seq("h"), "left_semi")
      .withColumn("end", col("pos") + w)
      .withColumn("max_end", max(col("end")).over(prevEnd))
      .withColumn("new_island",
        when(col("max_end").isNull || col("pos") > col("max_end"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_island")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        max(col("end")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Apply the substring-dedup cut: drop every token inside a
    * [[repeatedSpans]] interval and return the surviving document
    * (as token count + md5 of the re-joined text — the narrow
    * engine-portable form; production would keep the string). Fully
    * removed docs yield a NULL fingerprint (distinct from the md5 of
    * the empty string, and the natural "nothing left — drop the doc"
    * signal). Span application is an indexed-filter HOF over the
    * token array with the doc's spans as a bound array — per-doc
    * work is tokens x spans with no explode and no extra shuffle
    * beyond the span aggregation itself.
    */
  def removeRepeatedSpans(docs: DataFrame, w: Int = 10,
      minDocs: Int = 2): DataFrame = {
    val spans = repeatedSpans(docs, w, minDocs)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("spans"))
    val emptySpans = array().cast(
      "array<struct<span_start:bigint,span_end:bigint>>")
    // split(NULL) is NULL, and NULL would propagate through filter()
    // into size() = -1 / concat_ws's null-swallowing md5('') — the
    // coalesce pins a NULL text to the empty token array so it takes
    // the same (0, NULL) path as a fully-cut doc, matching the
    // oracle's LEFT JOIN semantics ("nothing left — drop the doc").
    docs.join(spans, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(split(col("text"), " "), array().cast("array<string>"))
          .as("ws"),
        coalesce(col("spans"), emptySpans).as("spans"))
      .select(col("doc_id"),
        filter(col("ws"), (tok, i) =>
          !exists(col("spans"), s =>
            i.cast("long") >= s("span_start") &&
              i.cast("long") < s("span_end"))).as("kept"))
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_tok_kept"),
        when(size(col("kept")) === 0, lit(null).cast("string"))
          .otherwise(md5(concat_ws(" ", col("kept")))).as("clean_md5"))
  }

  def repetitionRatio(docs: DataFrame, n: Int = 2): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), wordNgrams(col("ws"), n).as("grams"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(
            lit(1.0) - col("n_distinct") / col("n_grams"), 4)))

  /** Concatenate-and-chunk sequence packing: within each shard
    * (`shardCol`), documents are laid end-to-end in `orderCol` order
    * and cut into fixed `budget`-token training windows — exactly the
    * packing pre-training pipelines use (documents split across chunk
    * boundaries rather than padded). Output per doc: its global token
    * offsets within the shard and the first/last chunk it lands in.
    * One window prefix-sum per shard — embarrassingly parallel across
    * shards, which is how packing runs at scale (per worker shard,
    * never a global sort).
    */
  def packChunks(docs: DataFrame, budget: Int, shardCol: String = "lang",
      orderCol: String = "doc_id"): DataFrame =
    packTokenCounts(wordTokenCounts(docs, shardCol, orderCol),
      budget, shardCol, orderCol)

  /** The whitespace-token-count projection [[packChunks]] packs
    * under. */
  def wordTokenCounts(docs: DataFrame, shardCol: String = "lang",
      orderCol: String = "doc_id"): DataFrame =
    docs.select(col(shardCol), col(orderCol),
      size(split(col("text"), " ")).cast("long").as("n_tok"))

  /** [[packChunks]] over a frame that already carries `n_tok` — for
    * pipelines that computed the token count in an earlier shared
    * scan and should not re-split the text column here.
    *
    * The running sum is a TWO-PHASE prefix sum, not a per-shard
    * window: `Window.partitionBy(shard)` funnels each shard through
    * ONE task, and the shard key is `lang` — at corpus scale the
    * dominant language is ~half the rows through a single partition,
    * the exact hot-partition pathology the rest of this codebase
    * designs away (the [[graft.ops.GroupTopN]] rationale, the
    * window-free `window_ratio_to_report` formulation). Instead:
    *
    *   1. bucket each row by `orderCol >> bucketShift` — an
    *      arithmetic shift is floor-division by 2^bucketShift, a
    *      MONOTONE coarsening of the order (holds for negative ids
    *      too), so buckets are contiguous order ranges and
    *      deterministic in the data — no range sampling, no
    *      two-actions-disagree hazard;
    *   2. per-(shard, bucket) subtotals — one map-side-combined
    *      aggregation whose output is bounded by the bucket count,
    *      not the corpus;
    *   3. exclusive running sum of the subtotals per shard — a window
    *      over the BOUNDED subtotal frame (≤ one row per occupied
    *      bucket; ~2^shift ids each), never the corpus;
    *   4. join the offsets back on (shard, bucket) and run the
    *      within-bucket running sum with the window partitioned by
    *      (shard, bucket) — high cardinality, every partition ≤
    *      2^bucketShift rows of three narrow columns, and the window
    *      reuses the join's hash partitioning (same keys), so the
    *      corpus pays ONE exchange just as the old shape did.
    *
    * `orderCol` must be an integral column (it is `doc_id` at every
    * call site); `bucketShift` trades bucket size against subtotal
    * count — the default 2^12 ids per bucket keeps a 10^11-id corpus
    * at ~10^7 subtotal rows (a few hundred MB through one small
    * window task) while splitting any realistic shard thousands of
    * ways. Results are identical to the single-window formulation by
    * the prefix-sum decomposition; the oracle replay is unchanged.
    */
  def packTokenCounts(counted: DataFrame, budget: Int,
      shardCol: String = "lang", orderCol: String = "doc_id",
      bucketShift: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // staged, not recomputed: the two-phase sum reads this frame twice
    // (subtotals + the joined within-bucket sum), and `n_tok` can be
    // expensive upstream (a BPE token count, a text split) — without
    // the stage both consumers would re-derive it and re-scan the
    // text column, breaking the reads-text-at-most-twice capstone
    // contract. Four narrow columns, never text.
    val bucketed = graft.scale.Staging.materialize(
      counted
        .select(col(shardCol), col(orderCol), col("n_tok"))
        .withColumn("pack_bucket",
          shiftright(col(orderCol).cast("long"), bucketShift)),
      "pack-buckets")
    val subtotals = bucketed
      .groupBy(col(shardCol), col("pack_bucket"))
      .agg(sum(col("n_tok")).as("bucket_tok"))
    // exclusive prefix over the bounded subtotal frame; coalesce
    // covers each shard's first bucket (empty frame -> null sum)
    val wOff = Window.partitionBy(col(shardCol))
      .orderBy(col("pack_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = subtotals
      .withColumn("bucket_off",
        coalesce(sum(col("bucket_tok")).over(wOff), lit(0L)))
      .select(col(shardCol), col("pack_bucket"), col("bucket_off"))
    // no broadcast hint: AQE broadcasts the offset side when small;
    // when it shuffle-joins instead, the join's (shard, bucket) hash
    // partitioning is exactly what the window below requires, so no
    // extra corpus exchange either way
    val wIn = Window.partitionBy(col(shardCol), col("pack_bucket"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .join(offsets, Seq(shardCol, "pack_bucket"))
      .withColumn("tok_end",
        sum(col("n_tok")).over(wIn) + col("bucket_off"))
      .select(col(shardCol), col(orderCol), col("n_tok"),
        (col("tok_end") - col("n_tok")).as("tok_start"),
        col("tok_end"))
      .withColumn("first_chunk", expr(s"tok_start DIV $budget"))
      .withColumn("last_chunk", expr(s"(tok_end - 1) DIV $budget"))
  }

  /** Sliding-window document chunking with overlap — the
    * retrieval/embedding prep step (RAG indexing, long-doc embedding)
    * that complements [[packChunks]]' training-window packing: each
    * document yields substrings of `size` chars every `stride` chars,
    * so consecutive chunks overlap by `size - stride`. Pure
    * `sequence`+`explode` projection per row — fan-out is
    * len/stride, no shuffle at all (the at-scale shape: chunking
    * pipelines are embarrassingly parallel maps). Null/empty texts
    * yield no chunks — filtered explicitly before the explode, because
    * Spark's `greatest` SKIPS nulls, so an unfiltered null text would
    * otherwise emit one row with a null md5 (and an empty text one
    * empty chunk). Output carries md5(chunk) rather than the chunk
    * text so downstream equality checks (and the oracle hash) stay
    * narrow.
    */
  def chunkOverlap(docs: DataFrame, size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size >= stride,
      "need stride > 0 and size >= stride for full coverage")
    docs
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          greatest(length(col("text")) - 1, lit(0)),
          lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_id"),
        col("text").substr(col("start") + 1, lit(size)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        length(col("chunk")).cast("long").as("chunk_len"),
        md5(col("chunk").cast("binary")).as("chunk_md5"))
  }

  /** FIM — fill-in-the-middle transform (Bavarian et al. 2022, "
    * Efficient Training of Language Models to Fill in the Middle"):
    * each doc splits at two uniform character positions into
    * (prefix, middle, suffix) and re-serializes in PSM order
    * `<PRE>prefix<SUF>suffix<MID>middle`, teaching the model to
    * infill. The paper samples the cut points; this engine's
    * reproducibility contract draws them from the Knuth id hash
    * instead ([[Sampling.hashKey]] of doc_id and of doc_id+odd-salt),
    * so the SAME doc gets the SAME transform on any run, partitioning,
    * or engine — which is also what makes the row oracle-pairable
    * (DuckDB replays the hash arithmetic and the substring algebra).
    * Pure projection, no shuffle — the at-scale shape for an
    * objective transform is an embarrassingly parallel map.
    *
    * Output stays narrow: cut points, span lengths, and md5 of the
    * transformed string (the chunkOverlap discipline — downstream
    * equality never ships text).
    */
  def fimSplit(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val len = length(text).cast("long")
    val a = Sampling.hashKey(id) % (len + 1)
    val b = Sampling.hashKey(id + lit(1000003L)) % (len + 1)
    val c1 = least(a, b)
    val c2 = greatest(a, b)
    // substr positions are int-typed (a >2^31-char doc does not fit a
    // Spark string anyway); cuts stay long in the OUTPUT for oracle
    // dtype parity (DuckDB's % yields BIGINT)
    val fim = concat(
      lit("<PRE>"), text.substr(lit(1), c1.cast("int")),
      lit("<SUF>"), text.substr((c2 + 1).cast("int"),
        (len - c2).cast("int")),
      lit("<MID>"), text.substr((c1 + 1).cast("int"),
        (c2 - c1).cast("int")))
    docs.select(id.as("doc_id"), c1.as("cut1"), c2.as("cut2"),
      (c2 - c1).as("n_middle"), md5(fim.cast("binary")).as("fim_md5"))
  }

  /** T5-style span corruption (Raffel et al. 2020): the token stream
    * is tiled into fixed `spanLen`-token blocks; each block is masked
    * iff its deterministic hash clears the rate gate (maskNum /
    * maskDen of blocks in expectation), masked blocks collapse to a
    * NUMBERED sentinel `<extra_id_k>` in the input stream and expand
    * to `sentinel + original tokens` in the target stream — the
    * denoising objective's (input, target) pair. Block-tiled rather
    * than the paper's merged random spans: tiling keeps every
    * decision a pure per-block function of (doc_id, block) — no
    * sequential scan, no RNG state — which is what makes the
    * transform reproducible under any partitioning AND replayable by
    * the DuckDB oracle (adjacent masked blocks read as consecutive
    * sentinels instead of one merged span; same corruption rate,
    * spec-documented trade).
    *
    * Everything runs inside array HOFs on the split token array —
    * one codegen'd projection per doc, no explode, no shuffle.
    * Sentinel numbering is the count of masked blocks before this
    * one (O(blocks^2) lambda work per doc; blocks ~ tokens/spanLen,
    * trivially small against the split itself). Output: token/mask
    * accounting plus md5 of both streams.
    *
    * Id-domain note: the block key is `doc_id * 131071 + block`,
    * exact while doc_id < 2^46 — beyond that, salt into the id
    * upstream. The Knuth hash itself is overflow-safe for the full
    * long domain ([[Sampling.hashKey]]).
    */
  def spanCorrupt(docs: DataFrame, id: Column, text: Column,
      spanLen: Int = 3, maskNum: Int = 3, maskDen: Int = 20): DataFrame = {
    require(spanLen > 0 && maskNum >= 0 && maskDen > 0 &&
      maskNum <= maskDen, "spanCorrupt: need 0 <= maskNum/maskDen <= 1")
    // null text is filtered EXPLICITLY (the chunkOverlap discipline):
    // unfiltered it emits a nonsense n_tok = size(null) = -1 row that
    // the oracle's WHERE nb > 0 drops — a latent row-set divergence
    // on corpora with null docs (review-caught)
    val nonNull = docs.filter(text.isNotNull)
    val toks = split(text, " ")
    val nblocks = ceil(size(toks).cast("double") / spanLen).cast("long")
    val blocks = when(nblocks > 0,
      sequence(lit(0L), nblocks - 1)).otherwise(
      array().cast("array<bigint>"))
    def maskedOf(b: Column) =
      Sampling.hashKey(id * lit(131071L) + b) % maskDen < maskNum
    val masked = filter(blocks, b => maskedOf(b))
    // numbered sentinel for block b = count of masked blocks before b
    def sentinelOf(b: Column) = concat(lit("<extra_id_"),
      size(filter(masked, m => m < b)).cast("string"), lit(">"))
    def blockToks(b: Column) =
      slice(toks, (b * spanLen + 1).cast("int"), lit(spanLen))
    val inputStream = flatten(transform(blocks, b =>
      when(maskedOf(b), array(sentinelOf(b))).otherwise(blockToks(b))))
    val targetStream = flatten(transform(masked, b =>
      concat(array(sentinelOf(b)), blockToks(b))))
    nonNull.select(id.as("doc_id"),
      size(toks).cast("long").as("n_tok"),
      size(masked).cast("long").as("n_spans"),
      aggregate(masked, lit(0L),
        (acc, b) => acc + size(blockToks(b)).cast("long")).as("n_masked"),
      md5(concat_ws(" ", inputStream).cast("binary")).as("input_md5"),
      md5(concat_ws(" ", targetStream).cast("binary")).as("target_md5"))
  }
}
