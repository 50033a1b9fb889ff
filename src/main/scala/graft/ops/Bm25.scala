package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.scale.PartLog
import graft.scale.PartLog.{Part, Table}

/** BM25 lexical retrieval (Robertson & Zaragoza 2009) — the keyword
  * half of a RAG retrieval stack next to the ANN family; hybrid
  * retrieval is "union these top-ks, rerank".
  *
  * Scale shape of [[scoreTopK]] over 100 TB of documents:
  *  - the term explode is FILTERED to the query's terms immediately, so
  *    only |docs_containing_a_query_term| x |terms| rows survive to the
  *    (doc, term) tf aggregation — everything else dies inside the
  *    scan's codegen span, and the one real shuffle is bounded by
  *    matching docs, not corpus tokens;
  *  - document lengths ride the same pass (a second map-side-combined
  *    agg over the SAME exploded frame, exchange-reused);
  *  - df and avgdl are |terms|-row / 1-row broadcasts.
  *
  * [[ensurePostings]] + [[scoreTopKIndexed]] are the build-once
  * variant: the corpus tokenizes ONCE into a postings table
  * partitioned by term hash-bucket; a query then prunes to its terms'
  * buckets — the inverted-index layout as pure data files, same
  * discipline as [[VectorIndex]] (no index service, just partitions).
  *
  * All integer inputs (tf, dl, N, df) stay exact; idf and the length
  * normalization are the only double math, and the final score rounds
  * to 4 decimals for the engine-portable compare.
  */
object Bm25 {

  /** Canonical per-SF postings-layout location, shared by every
    * registered query, the bench warm sweep, and the specs — one
    * derivation so the callers can never drift onto different paths
    * (and silently build one postings layout per call site). */
  def defaultPath(sfDir: String): String =
    sys.props("java.io.tmpdir") + "/graft_bm25_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  private def tokens(text: org.apache.spark.sql.Column) =
    split(lower(text), "[^a-z]+")

  /** (doc_id, term, tf) for ALL terms + (doc_id, dl) lengths — the
    * shared tokenize pass. */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-k for one query (a bag of terms) directly against the
    * corpus — no index, one pass. N and avgdl count TOKEN-HAVING
    * documents only (dl >= 1): a doc whose text yields no terms (null,
    * empty, all digits/punctuation) is not a retrievable document, and
    * this is also the only definition the postings layout CAN store
    * (its dl derives from term rows) — so direct, indexed, and the
    * DuckDB oracle agree on every corpus, not just clean ones
    * (review-caught: the old all-rows count diverged from the indexed
    * path exactly on token-less docs). */
  def scoreTopK(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: empty query")
    // Both derived frames feed TWO consumers each (lengths →
    // corpusStats + the scoring join; tf → df + the scoring join), and
    // exchange reuse does not survive the differing column pruning —
    // unstaged, the corpus TEXT tokenizes four times per query
    // (measured, PlanShapeSpec-pinned at <= 2 now). Staging trades a
    // narrow (doc_id, dl) / (doc_id, term, tf) materialization for the
    // repeated wide text scans — the right trade at any corpus size.
    val lengths = graft.scale.Staging.materialize(docs
      .select(col("doc_id"),
        size(filter(tokens(col("text")), t => t =!= "")).cast("long")
          .as("dl"))
      .filter(col("dl") > 0), "bm25-lengths")
    val corpusStats = lengths
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .na.fill(0L)
    val tf = graft.scale.Staging.materialize(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")), "bm25-tf")
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    score(tf, df, lengths, corpusStats, k, k1, b)
  }

  /** Exact-PHRASE-constrained BM25 (the Lucene PhraseQuery shape):
    * only documents containing the query terms CONSECUTIVELY are
    * candidates, ranked by standard BM25 over the phrase's terms with
    * CORPUS-WIDE statistics (df/avgdl/N are the same values the
    * unconstrained query sees — the constraint gates candidacy, it
    * does not re-weigh evidence; restricting df to matches would
    * inflate idf exactly when the phrase is common).
    *
    * Phrase containment is token-level, not substring-level:
    * ` needle ` searched in the space-joined normalized token stream
    * with sentinel padding, so "scan" never matches inside
    * "rescanned" and the gate stays one codegen'd `instr` in the
    * scan — no positional index and no per-term position join chain
    * (L-1 self-joins for an L-word phrase). ONE wide text pass serves
    * lengths AND the gate (the phrase flag rides the staged lengths
    * frame), so the text read count stays at scoreTopK's two,
    * PlanShapeSpec-pinned. At index scale the same gate composes
    * with [[graft.scale.TextSkipIndex]]'s gram blooms (prune files
    * first, gate survivors); the direct path here is the
    * oracle-anchored form.
    */
  def scoreTopKPhrase(docs: DataFrame, phrase: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(phrase.nonEmpty, "bm25 phrase: empty phrase")
    val needle = " " + phrase.mkString(" ") + " "
    val lengths0 = graft.scale.Staging.materialize(docs
      .select(col("doc_id"),
        size(filter(tokens(col("text")), t => t =!= "")).cast("long")
          .as("dl"),
        (instr(concat(lit(" "),
          concat_ws(" ", filter(tokens(col("text")), t => t =!= "")),
          lit(" ")), needle) > 0).as("phrase_ok"))
      .filter(col("dl") > 0), "bm25-phrase-lengths")
    val lengths = lengths0.select(col("doc_id"), col("dl"))
    val corpusStats = lengths
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .na.fill(0L)
    val tf0 = graft.scale.Staging.materialize(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(phrase.distinct: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")), "bm25-phrase-tf")
    // df from the UNRESTRICTED term frame (corpus-wide statistics);
    // only candidacy is phrase-gated
    val df = tf0.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tf = tf0.join(
      lengths0.filter(col("phrase_ok")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    score(tf, df, lengths, corpusStats, k, k1, b)
  }

  /** Batch retrieval: MANY queries against one corpus pass — the
    * production shape (a retrieval service scores query batches, not
    * one query per scan). `queries` is (query_id, terms array<string>);
    * the corpus tokenizes ONCE, tf covers the UNION of all queried
    * terms (the explode still filters to that union inside the scan's
    * codegen span via a broadcast semi-join), df/idf are per-term as in
    * the single-query path, and each (query, doc) score sums only that
    * query's terms. Ranking is per-query (partitioned window — the
    * shuffle key is query_id, so queries parallelize). Single-query
    * calls and the batch agree exactly: same stats, same per-term
    * math, spec-pinned. */
  def scoreTopKBatch(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // staged for the same two-consumers-per-frame reason as scoreTopK
    val lengths = graft.scale.Staging.materialize(docs
      .select(col("doc_id"),
        size(filter(tokens(col("text")), t => t =!= "")).cast("long")
          .as("dl"))
      .filter(col("dl") > 0), "bm25-batch-lengths")
    val corpusStats = lengths
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .na.fill(0L)
    // Round-16 (guide §1.2): a BOUNDED batch whose term union fits
    // the mask cap resolves its termsets with ONE bounded collect —
    // the term filter becomes a literal IN inside the scan's codegen
    // span (no termSet distinct + broadcast jobs) and the scoring
    // tail takes the mask-pivot shape. NULL terms arrays contribute
    // no terms (explode parity) and repeated query_ids keep their
    // union-of-terms semantics (the old (query_id, term) distinct).
    // Unbounded or wide-union batches keep the broadcast-semi-join
    // shape unchanged.
    val spark = docs.sparkSession
    import spark.implicits._
    val qrows = readQueryBatch(queries)
    val perQ = qrows.map(canonicalTermsets).getOrElse(Seq.empty)
    val termList = perQ.flatMap(_._2).distinct.sorted
    val bounded = qrows.isDefined &&
      termList.nonEmpty && termList.size <= MaskSlotCap
    if (bounded) {
      val tf = graft.scale.Staging.materialize(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term").isin(termList: _*))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")), "bm25-batch-tf")
      val qterms = perQ.flatMap { case (q, ts) => ts.map(t => (q, t)) }
        .toDF("query_id", "term")
      val repsDf = perQ.map { case (q, ts) => (q, maskOf(termList, ts)) }
        .toDF("query_id", "mask")
      scoreBatch(tf, lengths, corpusStats, qterms, k, k1, b,
        maskSpec = Some((termList, repsDf)))
    } else {
      val qterms = queries
        .select(col("query_id"), explode(col("terms")).as("term"))
        .distinct()
      val termSet = qterms.select(col("term")).distinct()
      val tf = graft.scale.Staging.materialize(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .join(broadcast(termSet), Seq("term"), "left_semi")
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")), "bm25-batch-tf")
      scoreBatch(tf, lengths, corpusStats, qterms, k, k1, b)
    }
  }

  /** The batch scoring tail shared by the direct and indexed batch
    * paths: per-term df + idf (broadcast), per-(query, doc) score sum,
    * per-query heap top-k (shuffle key query_id — queries
    * parallelize).
    *
    * Round-15 shape (optimization round; guide §2.3/§2.4 "shuffle the
    * lightweight proxy, not the expansion"): the per-(doc, term)
    * contribution `s` depends only on (tf, dl, idf, avgdl) — NOT on
    * the query — so it is computed ONCE per posting row BEFORE the
    * qterms fan-out (the old plan re-evaluated the BM25 arithmetic,
    * and on the direct path re-probed the lengths join, once per
    * EXPANDED (query, doc, term) row). The narrow (term, doc_id, s)
    * frame is then co-partitioned by doc_id BEFORE the broadcast
    * expansion: every expanded row of one (query, doc) pair is born in
    * the doc's partition, so HashPartitioning(doc_id) satisfies the
    * (query_id, doc_id) aggregation's ClusteredDistribution and the
    * score sum runs WITHOUT an exchange. The shuffle that remains
    * carries |postings| pre-expansion rows instead of
    * |postings| x |queries-per-term| expanded pairs — measured at the
    * sf0.1 service cap: the 4.31M-row / 164 MiB pair exchange became a
    * 41K-row / ~2 MiB postings exchange (the only corpus-proportional
    * exchange left in the plan). The explicit partition count pins the
    * exchange at the session's shuffle parallelism: AQE would coalesce
    * the tiny pre-expansion map output to one partition and serialize
    * the x|queries| expansion + aggregation behind it (the classic
    * expansion-after-shuffle blindspot — AQE sizes on map output, not
    * downstream fan-out). */
  /** Widest term union the mask-pivot tail (below) will handle; past
    * it the expansion tail runs. The cap bounds the per-doc slots
    * array (and the wasted multiply-adds on docs matching few of a
    * rep's terms) — the mask shape's work is |docs with any queried
    * term| x |reps| x |slots|, profitable exactly when the term
    * union is small and match density is high (the stop-word-df
    * serving workload); the expansion shape stays the right plan for
    * wide, selective unions. */
  private[ops] val MaskSlotCap = 64

  /** Mask input for [[scoreBatch]]'s pivot tail: the sorted term list
    * (slot order) and a (query_id, mask) frame — one 0/1 double per
    * slot per rep, mask(i) = 1 iff the rep's termset contains
    * termList(i). The query_id column keeps the caller's id type
    * (compact ints on the indexed path, caller-visible strings on the
    * direct path). Callers build it via [[maskOf]]. */
  private[ops] def maskOf(termList: Seq[String],
      ts: Seq[String]): Seq[Double] =
    termList.map(t => if (ts.contains(t)) 1.0 else 0.0)

  private def scoreBatch(tf: DataFrame, lengths: DataFrame,
      corpusStats: DataFrame, qterms: DataFrame, k: Int, k1: Double,
      b: Double, maskSpec: Option[(Seq[String], DataFrame)] = None)
      : DataFrame = {
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = df.crossJoin(broadcast(corpusStats))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))).as("idf"),
        (col("total_dl").cast("double") / col("n_docs")).as("avgdl"))
    // a tf that already CARRIES dl (the postings layout stores it on
    // every row) skips the lengths join entirely. The direct
    // (tokenize) path still joins: its tf covers only queried terms,
    // so total doc length must come from the separate lengths frame —
    // but now the join probes |postings| rows, never the expansion.
    val withDl = if (tf.columns.contains("dl")) tf
      else tf.join(lengths, Seq("doc_id"))
    val contrib = withDl
      .join(broadcast(idf), Seq("term"))
      .select(col("term"), col("doc_id"),
        (col("idf") * (col("tf") * (lit(k1) + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0) - b
            + lit(b) * col("dl") / col("avgdl")))).as("s"))
    val parts = tf.sparkSession.sessionState.conf.numShufflePartitions
    val repartitioned = contrib.repartition(parts, col("doc_id"))
    // Round-16 (guide §8 "decide with small rows" / §2.3): when the
    // caller holds the per-rep termsets on the driver and their union
    // is narrow (the indexed-batch serving path; [[MaskSlotCap]]),
    // the (query, doc) scores come from a per-doc SLOT VECTOR instead
    // of the row expansion: pivot the (term, doc, s) contributions
    // into one |terms|-wide array per doc (grouped by doc_id on the
    // exchange already paid above — ~|docs| groups, not the old
    // |query x doc| ~2M), then score every rep against every doc as
    // one codegen'd vec_dot with the rep's 0/1 term mask. A doc with
    // no matching term for a rep scores a true 0 (every BM25
    // contribution is strictly positive: idf > 0 for any df <= N,
    // tf > 0), so `raw > 0` reproduces the expansion's candidacy
    // exactly — measured at the sf0.1 service cap the tail's
    // 4.38M-row broadcast expansion and its 1.9M-group hash
    // aggregate disappear (bit-identical output). Slot
    // order is the sorted term list, so the per-(rep, doc) sum order
    // is fixed; the expansion tail's sum order was row order — both
    // land on the same 4-decimal rounding (oracle re-passed at all
    // SFs).
    val masked = maskSpec.filter { case (termList, _) =>
      termList.nonEmpty && termList.size <= MaskSlotCap }
    val scored = masked match {
      case Some((termList, repsDf)) =>
        val slotExprs = termList.zipWithIndex.map { case (t, i) =>
          sum(when(col("term") === t, col("s"))).as(s"s$i") }
        val docSlots = repartitioned
          .groupBy(col("doc_id"))
          .agg(slotExprs.head, slotExprs.tail: _*)
          .select(col("doc_id"), array(termList.indices.map(i =>
            coalesce(col(s"s$i"), lit(0.0))): _*).as("slots"))
        docSlots.join(broadcast(repsDf))
          .select(col("query_id"), col("doc_id"),
            graft.functions.VectorFunctions.vec_dot(
              col("slots"), col("mask")).as("raw"))
          .filter(col("raw") > 0)
          .select(col("query_id"), col("doc_id"),
            round(col("raw"), 4).as("score"))
      case None => repartitioned
        .join(broadcast(qterms), Seq("term"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(round(sum(col("s")), 4).as("score"))
    }
    // per-query heap top-k (round 14): a query_id-partitioned rank
    // window funnels every candidate of one query through one task —
    // corpus-proportional for a common term's postings; see
    // GroupTopN.rankByScore for the exact fixed-point equivalence
    graft.ops.GroupTopN.rankByScore(scored, Seq(col("query_id")),
        col("score"), col("doc_id"), k, decimals = 4,
        scoreName = "score", idName = "doc_id")
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** The scoring tail shared by the direct and indexed paths: tf per
    * (doc, term in query), df per term (broadcast), lengths, corpus
    * stats (1-row broadcast). */
  private def score(tf: DataFrame, df: DataFrame, lengths: DataFrame,
      corpusStats: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    val idf = df.crossJoin(broadcast(corpusStats))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))).as("idf"),
        (col("total_dl").cast("double") / col("n_docs")).as("avgdl"))
    // same dl-carrying shortcut as scoreBatch: postings rows hold dl,
    // so the indexed path needs no lengths join
    val joined = tf.join(broadcast(idf), Seq("term"))
    val scored = (if (tf.columns.contains("dl")) joined
      else joined.join(lengths, Seq("doc_id")))
      .select(col("doc_id"),
        (col("idf") * (col("tf") * (lit(k1) + 1.0))
          / (col("tf") + lit(k1) * (lit(1.0) - b
            + lit(b) * col("dl") / col("avgdl")))).as("s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 4).as("score"))
    // Distributed top-k (TakeOrderedAndProject) FIRST, then rank the k
    // survivors — a bare global row_number window would funnel every
    // matching doc through one partition.
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Number of term hash-buckets in the persisted postings layout. */
  val PostingsBuckets = 64

  private def bucketOf(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(PostingsBuckets)).cast("int")

  /** Driver-side twin of [[bucketOf]] for probe-side pruning:
    * floorMod matches Spark's pmod for ANY positive modulus (a
    * remainderUnsigned formulation agreed only for power-of-two
    * bucket counts — review-caught drift trap). */
  private[ops] def bucketOfTerm(t: String): Int =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L),
      PostingsBuckets.toLong).toInt

  /** The ONE postings layout (shared by the build and the arrival
    * log — the layout must never fork): rows = (term, doc_id, tf, dl,
    * bucket), bucket the term hash-bucket partition column; and the
    * per-doc (doc_id, dl) frame the stats derive from. */
  private def postingsOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val tf = termFreqs(docs)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    (tf.join(dl, Seq("doc_id"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        bucketOf(col("term")).as("bucket")), dl)
  }

  private def statsOf(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .na.fill(0L)

  /** The arrival log beside the built postings: one [[PartLog]] whose
    * parts hold two tables, `postings` (the layout above, partitioned
    * by bucket) and `stats`, the 1-row (n_docs, total_dl, n_raw)
    * increment. */
  def arrivals(path: String): PartLog = new PartLog(s"$path/arrivals")

  private def arrivalPart(postings: DataFrame, stats: DataFrame): Part =
    Part(Seq(Table("postings", postings, Some("bucket")),
      Table("stats", stats)))

  /** Build-once postings: `<path>/postings` = (term, doc_id, tf, dl)
    * partitioned by term hash-bucket, `<path>/stats` = the 1-row
    * (n_docs, total_dl) over TOKEN-HAVING docs. Fingerprint-guarded
    * like every ensure* store ([[graft.scale.Hdfs.ensureStamped]]); the
    * fingerprint counts RAW input rows (cheap before tokenizing), and
    * the layout is current when its rows plus the arrival log's raw
    * count cover `docs`, so an index with uncompacted arrivals is
    * current for the grown corpus. A rebuild derives from the whole
    * corpus and drops the arrival log. The corpus tokenizes exactly
    * once, here. */
  def ensurePostings(docs: DataFrame, path: String): String = {
    val spark = docs.sparkSession
    val nRaw = docs.count()
    val log = arrivals(path)
    val arrived = log.resolve(spark).fold(0L)(v =>
      log.table(spark, v, "stats", v.dirs).agg(sum(col("n_raw")))
        .head().getLong(0))
    def stamp(rows: Long) = s"rows=$rows;buckets=$PostingsBuckets"
    graft.scale.Hdfs.ensureStamped(graft.scale.Hdfs.of(spark, path),
      new Path(s"$path/_graft_meta"),
      Seq(new Path(s"$path/postings/_SUCCESS"),
        new Path(s"$path/stats/_SUCCESS")),
      stamp(nRaw - arrived), Some(stamp(nRaw))) {
      log.drop(spark)
      val (postings, dl) = postingsOf(docs)
      postings.write.mode(SaveMode.Overwrite)
        .partitionBy("bucket").parquet(s"$path/postings")
      statsOf(dl).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/stats")
    }
    path
  }

  /** One streamed micro-batch of documents, landed as part
    * `batch=<batchId>` of the arrival log: the batch's postings and its
    * stats increment (token-having n_docs, total_dl, and the RAW row
    * count for the ensure fingerprint), committed together. A replayed
    * batch overwrites its own part, and `bucket` stays a partition
    * column inside the part, so probes prune arrivals like base files.
    * Arrivals are NEW doc_ids by contract (same as the vector ingest
    * path). Queries need no special handling: df is computed from the
    * (pruned) base plus arrival postings at probe time and avgdl from
    * base plus arrival stats, so arriving documents score immediately
    * and exactly. An all-token-less batch adds only its raw count. */
  def ingestBatch(batch: DataFrame, path: String, batchId: Long): Unit = {
    val nRaw = batch.count()
    val (postings, dl) = postingsOf(batch)
    arrivals(path).append(
      arrivalPart(postings, statsOf(dl).withColumn("n_raw", lit(nRaw))),
      batchId)
  }

  /** Fold the arrival log's parts into the log's own base: postings
    * unioned, stats summed. The built postings are never rewritten, so
    * the fold costs O(arrivals). Readers need no pause: every crash
    * window reads the complete old view or the complete new one, and a
    * retried fold is safe ([[PartLog.compactParts]]). The fold writes
    * the log, so it runs between the micro-batches of the stream that
    * appends to it (one writer per log). */
  def compactDeltas(spark: SparkSession, path: String): Unit = {
    val log = arrivals(path)
    log.compactParts(spark) { v =>
      arrivalPart(log.table(spark, v, "postings", v.dirs),
        log.table(spark, v, "stats", v.dirs).agg(
          sum(col("n_docs")).as("n_docs"),
          sum(col("total_dl")).as("total_dl"),
          sum(col("n_raw")).as("n_raw")))
    }
  }

  /** The shared indexed-probe construction: bucket-pruned postings
    * rows for `terms` (base + arrivals, rows carrying dl) and the
    * 1-row corpus stats over both. The same IN-filter prunes each side
    * on its `bucket` partition column, applied per side before the
    * union to keep the pruning visible in each scan (the queryIvf
    * discipline). ONE resolved arrival view serves both the postings
    * and the stats read, so a batch committing in between cannot give
    * stats that count postings never scanned. */
  private def indexedProbe(spark: SparkSession, path: String,
      terms: Seq[String]): (DataFrame, DataFrame) = {
    val buckets = terms.map(bucketOfTerm).distinct.sorted
    val cols = Seq("term", "doc_id", "tf", "dl", "bucket").map(col)
    def pruned(rows: DataFrame): DataFrame = rows.select(cols: _*)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
    val base = pruned(spark.read.parquet(s"$path/postings"))
    val baseStats = spark.read.parquet(s"$path/stats")
    val log = arrivals(path)
    log.resolve(spark) match {
      case None => (base, baseStats)
      case Some(v) =>
        (base.unionByName(pruned(log.table(spark, v, "postings", v.dirs))),
          baseStats.select(col("n_docs"), col("total_dl"))
            .unionByName(log.table(spark, v, "stats", v.dirs)
              .select(col("n_docs"), col("total_dl")))
            .agg(sum(col("n_docs")).as("n_docs"),
              sum(col("total_dl")).as("total_dl")))
    }
  }

  /** BM25 top-k against the persisted postings: the scan prunes to the
    * query terms' hash-bucket partitions (`bucket IN (...)` on the
    * partition column) and then filters to the exact terms — the
    * corpus text is never touched at query time. */
  def scoreTopKIndexed(spark: SparkSession, path: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: empty query")
    val (tf0, corpusStats) = indexedProbe(spark, path, terms)
    // Stage the pruned probe (round-15 optimization, guide §1.3/§6):
    // the df aggregate and the scoring tail are SEPARATE consumers of
    // the probe, and their exchanges key differently (term vs doc_id),
    // so unstaged the bucket-pruned parquet scan ran twice per query.
    // The staged frame is the pruned postings only — narrow, bounded
    // by the queried terms' posting lists.
    val tf = graft.scale.Staging.materialize(
      tf0.select(col("term"), col("doc_id"), col("tf"), col("dl")),
      "bm25-indexed-probe")
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // tf keeps its dl column -> score skips the lengths join (the
    // lengths argument is never evaluated on this path)
    score(tf.select(col("doc_id"), col("term"), col("tf"), col("dl")),
      df, tf.select(col("doc_id"), col("dl")), corpusStats, k, k1, b)
  }

  /** The query-batch cap: every batch path (lexical, cached, PQ,
    * IVF, IVF-PQ, hybrid) reads its queries to the driver through one
    * [[graft.scale.Staging.boundedCollect]] under this one constant, so
    * the caps can't drift. */
  private[graft] val MaxBatchQueries = 1024

  /** A (query_id, terms) batch as one bounded driver read, or None
    * past [[MaxBatchQueries]]. */
  private def readQueryBatch(queries: DataFrame): Option[Array[Row]] =
    graft.scale.Staging.boundedCollect(
      queries.select(col("query_id"), col("terms")), MaxBatchQueries)

  /** The batch termset canonicalization every batch path shares (the
    * result cache's memo keys are only sound while it matches the
    * uncached path): per query_id the union of its rows' terms,
    * distinct and sorted — a repeated query_id keeps its
    * union-of-terms semantics. A NULL terms array or term contributes
    * nothing (explode parity); the paths that refuse NULL arrays use
    * [[strictTermsets]]. */
  private def canonicalTermsets(rows: Array[Row])
      : Seq[(String, Seq[String])] =
    rows.toSeq
      .map(r => (r.getString(0),
        Option(r.getSeq[String](1)).getOrElse(Seq.empty)))
      .groupBy(_._1)
      .map { case (qid, qs) =>
        (qid, qs.flatMap(_._2).filter(_ != null).distinct.sorted)
      }.toSeq

  /** [[canonicalTermsets]] for the paths whose contract refuses, loudly
    * and tagged with `what`, an over-cap batch and a NULL terms
    * array. */
  private[graft] def strictTermsets(queries: DataFrame, what: String)
      : Seq[(String, Seq[String])] = {
    val rows = readQueryBatch(queries).getOrElse(
      throw new IllegalArgumentException(s"$what: query set exceeds " +
        s"the $MaxBatchQueries bounded-collect cap"))
    rows.foreach(r => require(!r.isNullAt(1),
      s"$what: query '${r.getString(0)}' has a NULL terms array"))
    canonicalTermsets(rows)
  }

  /** MANY queries against the persisted postings in ONE pruned probe —
    * the production retrieval-service shape composed with the index
    * layout: the bucket IN-list is the UNION of all queries' term
    * buckets (one partition-pruned scan serves the whole batch), the
    * exact-term filter keeps the union's terms, and the scoring tail
    * is the same per-(query, doc) math as [[scoreTopKBatch]] — so
    * batch-indexed, batch-direct, and the per-query single calls all
    * agree bit-for-bit (spec-pinned; batch-direct pairs against the
    * DuckDB oracle). Streamed delta batches probe alongside the base
    * under one committed-id snapshot, exactly as [[scoreTopKIndexed]].
    *
    * Duplicate term SETS score once: BM25 here is a pure function of
    * the query's distinct-term set (scores sum per distinct (query,
    * term) pair; ranking ties break on doc_id — fully deterministic),
    * so the batch scores one representative per canonical set and
    * fans the finished top-k back to the queries that share it
    * through a broadcast map over the <= |queries| x k result rows.
    * A production query batch is duplicate-heavy (popular queries
    * repeat), making the pair expansion + score aggregation + rank
    * windows scale with DISTINCT queries, not requests; an
    * all-distinct batch skips the fan-back entirely.
    */
  def scoreTopKIndexedBatch(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val canon = strictTermsets(queries, "bm25 batch")
    val repOf: Map[Seq[String], String] = canon.groupBy(_._2)
      .map { case (ts, qs) => (ts, qs.map(_._1).min) }
    // Round-15: representatives score under a compact INT index, not
    // their string query_id — the (query, doc) aggregation keys and
    // the heap groups hash a 4-byte int instead of a string, and the
    // expanded rows carry 4 bytes of query identity through the
    // scoring stage (guide §2.3 "narrower types"). The fan-back
    // broadcast at the end (<= |queries| x k result rows) restores the
    // caller-visible string ids; it now runs unconditionally — on an
    // all-distinct batch it maps each rep index to its own query_id.
    // Index order is deterministic (sorted by representative id) but
    // carries no meaning: every rep scores and ranks independently.
    val repIdx: Map[Seq[String], Int] = repOf.toSeq.sortBy(_._2)
      .zipWithIndex.map { case ((ts, _), i) => (ts, i) }.toMap
    val pairs = repIdx.toSeq
      .flatMap { case (ts, rid) => ts.map(t => (rid, t)) }
    require(pairs.nonEmpty, "bm25 batch: no query terms")
    val terms = pairs.map(_._2).distinct
    import spark.implicits._
    val qterms = pairs.toDF("query_id", "term")
    val (tfAll0, corpusStats) = indexedProbe(spark, path, terms)
    // Stage the pruned probe (round-15 optimization, guide §1.3/§6):
    // scoreBatch consumes it twice — the per-term df aggregate and the
    // contribution compute key their exchanges differently (term vs
    // doc_id), so unstaged the bucket-pruned parquet scan ran twice
    // per batch. Staged rows are pre-expansion postings only.
    val tfAll = graft.scale.Staging.materialize(
      tfAll0.select(col("term"), col("doc_id"), col("tf"), col("dl")),
      "bm25-indexed-batch-probe")
    // tf keeps its dl column -> scoreBatch skips the lengths join
    // (the lengths argument is never evaluated on this path)
    // driver-held termsets -> the mask-pivot tail when the union is
    // narrow (scoreBatch decides; values identical either way)
    val termList = terms.sorted
    val repsDf = repIdx.toSeq
      .map { case (ts, rid) => (rid, maskOf(termList, ts)) }
      .toDF("query_id", "mask")
    val repScored = scoreBatch(
      tfAll.select(col("doc_id"), col("term"), col("tf"), col("dl")),
      tfAll.select(col("doc_id"), col("dl")), corpusStats, qterms,
      k, k1, b, maskSpec = Some((termList, repsDf)))
    val mapping = canon
      .map { case (qid, ts) => (repIdx(ts), qid) }
      .toDF("rep_idx", "query_id")
    repScored.withColumnRenamed("query_id", "rep_idx")
      .join(broadcast(mapping), Seq("rep_idx"))
      .select(col("query_id"), col("doc_id"), col("score"),
        col("rank"))
  }

  /** Outcome of a max-score-pruned probe, for specs and diagnostics:
    * whether the pruned answer was certified exact (else `result` is
    * the full path's answer), the candidate-doc frame the certificate
    * scored, the kth candidate score (theta) and the summed
    * non-essential upper bounds it was checked against. */
  private[graft] final case class MaxScorePrune(result: DataFrame,
      prunedExact: Boolean, candidates: Option[DataFrame],
      theta: Double, ubNonEssential: Double)

  /** Scores round to 4 decimals; a true score s certifies strictly
    * below a rounded kth score only with half-ulp slack on each side. */
  private val RoundSlack = 1e-4

  /** Exact top-k with MAX-SCORE pruning (Turtle & Flood 1995; the
    * WAND/block-max family, Broder 2003 / Ding & Suel 2011) over the
    * persisted postings — the stop-word-df escape hatch: on a
    * df-varied (Zipf) vocabulary, the candidate set comes from the
    * RARE ("essential") terms only, and the stop-word postings are
    * probed just to finish scoring those candidates, never expanded
    * into (query, doc) pairs of their own.
    *
    * Spark dataflow (one staged narrow probe, three bounded jobs):
    *  1. the same bucket-pruned postings probe as
    *     [[scoreTopKIndexed]], staged once (term, doc_id, tf, dl);
    *  2. per-term df + max single-doc contribution (a |terms|-row
    *     driver collect) -> per-term score upper bound
    *     ub(t) = idf(t) * max_d contrib(t, d);
    *  3. essential = terms with df <= rareDfFraction * N; candidates =
    *     docs holding at least one essential term; candidates score
    *     over ALL their query terms (semi join — the stop-word rows of
    *     non-candidates die in the join, which is the pruning);
    *  4. certificate: a doc with no essential term scores at most
    *     sum(ub over non-essential terms); if that bound (plus
    *     rounding slack) is strictly below the kth candidate score,
    *     no pruned-away doc can reach the top k — the answer is
    *     provably EXACT. Otherwise fall back to the full path, so the
    *     caller gets the exact answer on every input.
    *
    * Scale note: scan BYTES equal the full path's (the same term
    * buckets are read — block-level skipping is the storage layer's
    * job); what pruning removes is the pair expansion, score
    * aggregation, and top-k shuffle over every stop-word match — the
    * compute that dominates when a query mixes one selective term
    * with stop-word-df terms. On the all-stop-word pool of
    * `retrieval_service_cap` no essential term exists and this
    * degrades, by design, to exactly the full path (the documented
    * floor). df/idf always come from the FULL probed frame, never the
    * candidate subset, so certified scores are bit-identical to
    * [[scoreTopKIndexed]]. */
  def scoreTopKIndexedMaxScore(spark: SparkSession, path: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
      rareDfFraction: Double = 0.25): DataFrame =
    maxScoreDetail(spark, path, terms, k, k1, b, rareDfFraction).result

  private[graft] def maxScoreDetail(spark: SparkSession, path: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
      rareDfFraction: Double = 0.25): MaxScorePrune = {
    require(terms.nonEmpty, "bm25: empty query")
    require(rareDfFraction > 0 && rareDfFraction < 1,
      s"bm25 max-score: rareDfFraction must be in (0,1), " +
        s"got $rareDfFraction")
    val (tfRaw, corpusStats) = indexedProbe(spark, path, terms)
    // the probe feeds several jobs (term stats, candidates, scoring,
    // fallback) — stage the narrow frame once
    val tf = graft.scale.Staging.materialize(
      tfRaw.select(col("doc_id"), col("term"), col("tf"), col("dl")),
      "bm25-maxscore-tf")
    val dfAll = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    def fullResult: DataFrame =
      score(tf, dfAll, tf.select(col("doc_id"), col("dl")),
        corpusStats, k, k1, b)
    val st = corpusStats.collect()(0)
    val n = st.getLong(0)
    if (n == 0L) // empty corpus: nothing to prune, nothing to rank
      return MaxScorePrune(fullResult, prunedExact = false, None, 0, 0)
    val avgdl = st.getLong(1).toDouble / n
    val contrib = (col("tf") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val perTerm = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), max(contrib).as("mc"))
      .collect() // |terms|-bounded driver read
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def idfOf(d: Long) = math.log(1.0 + (n - d + 0.5) / (d + 0.5))
    val essential = perTerm.filter(_._2 <= rareDfFraction * n).map(_._1)
    if (essential.isEmpty) // every matched term is stop-word-df
      return MaxScorePrune(fullResult, prunedExact = false, None, 0, 0)
    val ubNonEss = perTerm.filterNot(t => essential.contains(t._1))
      .map(t => idfOf(t._2) * t._3).sum
    val cand = tf.filter(col("term").isin(essential.toSeq: _*))
      .select(col("doc_id")).distinct()
    val candRows = tf.join(cand, Seq("doc_id"), "left_semi")
    val topK = score(candRows, dfAll,
      candRows.select(col("doc_id"), col("dl")), corpusStats, k, k1, b)
    val got = topK.orderBy(col("rank")).collect() // <= k rows
    // got.nonEmpty guards k = 0: an empty collect satisfies
    // length == k vacuously but has no kth score to certify against
    val certified = got.nonEmpty && got.length == k &&
      ubNonEss + RoundSlack < got.last.getAs[Double]("score")
    if (certified)
      // the certificate already executed the candidate top-k; hand the
      // k collected rows back as a local relation instead of paying
      // the candidate scoring a second time on the caller's action
      MaxScorePrune(
        spark.createDataFrame(java.util.Arrays.asList(got: _*),
          topK.schema),
        prunedExact = true, Some(cand),
        got.last.getAs[Double]("score"), ubNonEss)
    else
      MaxScorePrune(fullResult, prunedExact = false, Some(cand),
        if (got.isEmpty) 0 else got.last.getAs[Double]("score"),
        ubNonEss)
  }
}
