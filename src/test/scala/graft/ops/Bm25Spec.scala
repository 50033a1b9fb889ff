package graft.ops

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  test("hand-computed score on a three-doc corpus") {
    // doc 1: 'cat' twice in 4 tokens; doc 2: 'cat' once in 2; doc 3: none
    val docs = Seq(
      (1L, "cat cat dog bird"),
      (2L, "cat fish"),
      (3L, "dog dog dog")
    ).toDF("doc_id", "text")
    val got = Bm25.scoreTopK(docs, Seq("cat"), 10).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // N=3, df=2 -> idf = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6)
    // avgdl = 9/3 = 3
    val idf = math.log(1.6)
    def s(tf: Int, dl: Int): Double = {
      val raw = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
      BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L)._1 == s(2, 4) && got(2L)._1 == s(1, 2))
    assert(got(1L)._2 == 1L && got(2L)._2 == 2L,
      "doc 1 (higher tf) must outrank doc 2")
  }

  test("indexed path returns bit-identical rows to the direct path") {
    val docs = Tables.documents(spark, sf0001)
    val terms = Seq("window", "merge", "spark")
    val path = tmpDir("bm25")
    Bm25.ensurePostings(docs, path)
    val direct = Bm25.scoreTopK(docs, terms, 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val indexed = Bm25.scoreTopKIndexed(spark, path, terms, 20)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(direct.size == 20)
    assert(indexed == direct)
  }

  test("postings probe is partition-pruned to the query terms' buckets") {
    val all = Tables.documents(spark, sf0001)
    val base = all.filter(col("doc_id") < 480)
    val path = tmpDir("bm25-prune")
    Bm25.ensurePostings(base, path)
    // one arrival batch, so the probe unions the base postings with
    // the arrival log's postings table
    Bm25.ingestBatch(all.filter(col("doc_id") >= 480), path, 0L)
    // the probe is STAGED (round-15), so the pruned scan lives in the
    // staged subtree's own execution — assert over EVERY plan the
    // query fires, not just the final pass
    val plans = plansDuring {
      Bm25.scoreTopKIndexed(spark, path, Seq("window"), 5).collect()
    }
    // every postings scan — the base's and the arrivals' — carries the
    // bucket partition filter
    val scans = plans.flatMap("FileScan parquet [^\n]*".r.findAllIn(_))
    val postingsScans = scans.filter(_.contains("postings"))
    assert(postingsScans.exists(_.contains(s"$path/postings")) &&
        postingsScans.exists(_.contains("/arrivals/")),
      s"expected a base and an arrival postings scan:\n" +
        scans.mkString("\n"))
    assert(postingsScans.forall(s => "PartitionFilters: \\[[^\\]]*bucket".r
        .findFirstIn(s).isDefined),
      s"a postings scan is not partition-pruned:\n" +
        postingsScans.mkString("\n"))
    assert(plans.forall(!_.contains("text#")),
      "indexed path must never read the corpus text column")
    assert(Bm25.scoreTopKIndexed(spark, path, Seq("window"), 5)
      .collect().toSet == Bm25.scoreTopK(all, Seq("window"), 5)
      .collect().toSet)

    // an all-token-less batch: no postings, only its raw count. Scores
    // are unchanged, and the arrival tables read with their recorded
    // schema (the empty postings table infers nothing)
    val before = Bm25.scoreTopKIndexed(spark, path,
      Seq("window", "merge"), 10).collect().toSet
    Bm25.ingestBatch(Seq((9001L, "12345 !!!"), (9002L, ""))
      .toDF("doc_id", "text"), path, 1L)
    assert(Bm25.scoreTopKIndexed(spark, path, Seq("window", "merge"), 10)
      .collect().toSet == before,
      "a token-less batch must leave every score unchanged")
    val log = Bm25.arrivals(path)
    val v = log.view(spark)
    assert(v.parts == 2)
    val recorded = v.schema.get
    Seq("postings", "stats").foreach { t =>
      assert(log.table(spark, v, t, v.dirs).schema ==
        recorded(t).dataType, s"table $t not read with its recorded schema")
    }
    // the ensure fingerprint counts the token-less rows as arrived
    val meta = new org.apache.hadoop.fs.Path(s"$path/_graft_meta")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val t1 = fs.getFileStatus(meta).getModificationTime
    Bm25.ensurePostings(all.select("doc_id", "text").unionByName(Seq(
      (9001L, "12345 !!!"),
      (9002L, "")).toDF("doc_id", "text")), path)
    assert(fs.getFileStatus(meta).getModificationTime == t1,
      "base + arrivals (token-less ones too) must be current")
  }

  test("ingestBatch: arriving docs score immediately and exactly " +
      "(indexed == direct over the grown corpus)") {
    val base = Tables.documents(spark, sf0001).filter(col("doc_id") < 480)
    val arrivals = Tables.documents(spark, sf0001)
      .filter(col("doc_id") >= 480)
    val path = tmpDir("bm25-append")
    Bm25.ensurePostings(base, path)
    Bm25.ingestBatch(arrivals, path, batchId = 0L)
    val grown = Tables.documents(spark, sf0001)
    val terms = Seq("window", "merge")
    val direct = Bm25.scoreTopK(grown, terms, 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val indexed = Bm25.scoreTopKIndexed(spark, path, terms, 15)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(indexed == direct,
      "an arrival must make indexed scoring equal a full rebuild")
    // folding the arrivals into the log's base must not change a score
    Bm25.compactDeltas(spark, path)
    val compacted = Bm25.scoreTopKIndexed(spark, path, terms, 15)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(compacted == direct,
      "compaction must preserve scores exactly")
    // the fold's base carries the summed stats: a post-compact ensure
    // is a no-op
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val meta = new org.apache.hadoop.fs.Path(s"$path/_graft_meta")
    val t1 = fs.getFileStatus(meta).getModificationTime
    Bm25.ensurePostings(grown, path)
    assert(fs.getFileStatus(meta).getModificationTime == t1,
      "ensure over the grown corpus must see the appended index as current")
    // a corpus that differs rebuilds the index and drops the log
    Bm25.ensurePostings(base, path)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      Bm25.arrivals(path).path)), "a rebuild must drop the arrival log")
    assert(Bm25.scoreTopKIndexed(spark, path, terms, 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet ==
      Bm25.scoreTopK(base, terms, 15).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet)
  }

  test("ingestBatch is idempotent under replay and reader-safe " +
      "across a crash between postings and stats") {
    val all = Tables.documents(spark, sf0001)
    val base = all.filter(col("doc_id") < 480)
    val arrivals = all.filter(col("doc_id") >= 480)
    val path = tmpDir("bm25-replay")
    Bm25.ensurePostings(base, path)
    val terms = Seq("window", "merge")
    def indexed() = Bm25.scoreTopKIndexed(spark, path, terms, 15)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val baseOnly = Bm25.scoreTopK(base, terms, 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val grownDirect = Bm25.scoreTopK(all, terms, 15).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

    // CRASH SHAPE: the part's postings table lands, its stats table and
    // _SUCCESS don't (the process dies after the postings step)
    graft.scale.CommitProtocol.crashAfter = Some(("part-append", 1))
    try intercept[graft.scale.CommitProtocol.InjectedCrash] {
      Bm25.ingestBatch(arrivals, path, batchId = 7L)
    } finally graft.scale.CommitProtocol.crashAfter = None
    assert(new java.io.File(
      s"${Bm25.arrivals(path).path}/batch=7/postings").exists())
    assert(indexed() == baseOnly,
      "an uncommitted (_SUCCESS-less) part must be invisible to readers")

    // REPLAY completes the same batch id: overwrites its own part
    Bm25.ingestBatch(arrivals, path, batchId = 7L)
    assert(indexed() == grownDirect,
      "replay after the crash must land the batch exactly once")

    // SECOND replay of the same id: still exactly once
    Bm25.ingestBatch(arrivals, path, batchId = 7L)
    assert(indexed() == grownDirect,
      "replaying a committed append must not double-count")
  }

  test("a term absent from the corpus contributes nothing; all-absent " +
      "query returns no rows") {
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val withGhost = Bm25.scoreTopK(docs, Seq("alpha", "zzz"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val without = Bm25.scoreTopK(docs, Seq("alpha"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(withGhost == without)
    assert(Bm25.scoreTopK(docs, Seq("zzz"), 10).count() == 0)
  }

  test("token-less docs (empty/numeric text) are outside N and avgdl " +
      "on BOTH paths — direct == indexed on a dirty corpus") {
    import spark.implicits._
    val dirty = Seq(
      (1L, "cat cat dog"),
      (2L, "cat fish"),
      (3L, "12345 !!! ???"), // tokenizes to nothing
      (4L, "")               // empty
    ).toDF("doc_id", "text")
    val direct = Bm25.scoreTopK(dirty, Seq("cat"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val path = tmpDir("bm25-dirty")
    Bm25.ensurePostings(dirty, path)
    val indexed = Bm25.scoreTopKIndexed(spark, path, Seq("cat"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(direct == indexed,
      "stats must agree on corpora with token-less docs")
    // N=2 (token-having), df=2 -> idf = ln(1 + 0.5/2.5); avgdl = 5/2
    val idf = math.log(1.2)
    val s1 = idf * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / 2.5))
    assert(direct(1L) == BigDecimal(s1)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "N must count token-having docs only")
  }

  test("indexed batch: one bucket-pruned probe serves all queries, " +
      "bit-identical to the direct batch AND per-query indexed calls") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val path = tmpDir("bm25-ibatch")
    Bm25.ensurePostings(docs, path)
    val qdefs = Seq(
      ("kj", Seq("key", "join", "scan")),
      ("wm", Seq("window", "merge")))
    val qs = qdefs.toDF("query_id", "terms")
    // pruned probe: the bucket IN-list must reach PartitionFilters in
    // SOME pass (the probe is staged since round-15, so the pruned
    // scan is in the staged subtree's execution), and the corpus text
    // is never touched in ANY pass
    val plans = plansDuring {
      Bm25.scoreTopKIndexedBatch(spark, path, qs, 12).collect()
    }
    assert(plans.exists(p => "PartitionFilters: \\[[^\\]]*bucket".r
        .findFirstIn(p).isDefined),
      s"batch probe not partition-pruned in any pass:\n" +
        plans.mkString("\n----\n"))
    assert(plans.forall(!_.contains("text#")),
      "indexed batch must never read the corpus text column")
    val ib = Bm25.scoreTopKIndexedBatch(spark, path, qs, 12)
    val got = ib.collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val direct = Bm25.scoreTopKBatch(docs, qs, 12).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(got == direct,
      "indexed batch must equal the direct batch bit-for-bit")
    for ((qid, terms) <- qdefs) {
      val single = Bm25.scoreTopKIndexed(spark, path, terms, 12)
        .collect()
        .map(r => (qid, r.getLong(0)) ->
          (r.getDouble(1), r.getLong(2))).toMap
      assert(got.view.filterKeys(_._1 == qid).toMap == single,
        s"indexed batch for $qid diverges from the single-query probe")
    }
  }

  test("mask-pivot tail gates on term-union width: a batch past " +
      "MaskSlotCap takes the expansion tail with identical values") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val path = tmpDir("bm25-widebatch")
    Bm25.ensurePostings(docs, path)
    // a term union wider than the slot cap: real terms plus filler the
    // corpus does not contain (absent terms change no score — df = 0
    // rows contribute nothing — but they widen the union past the
    // gate, forcing the expansion tail)
    val filler = (0 until Bm25.MaskSlotCap).map(i => f"zzfiller$i%02d")
    val qdefs = Seq(
      ("kj", Seq("key", "join", "scan") ++ filler.take(40)),
      ("wm", Seq("window", "merge") ++ filler.drop(40)))
    assert(qdefs.flatMap(_._2).distinct.size > Bm25.MaskSlotCap)
    val wide = Bm25.scoreTopKIndexedBatch(spark, path,
        qdefs.toDF("query_id", "terms"), 12).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    for ((qid, terms) <- qdefs) {
      val single = Bm25.scoreTopKIndexed(spark, path, terms, 12)
        .collect()
        .map(r => (qid, r.getLong(0)) ->
          (r.getDouble(1), r.getLong(2))).toMap
      assert(wide.view.filterKeys(_._1 == qid).toMap == single,
        s"wide batch for $qid diverges from the single-query probe")
    }
  }

  test("indexed batch sees committed deltas under one snapshot " +
      "(appended docs score immediately, batch == grown direct batch)") {
    import spark.implicits._
    val all = Tables.documents(spark, sf0001)
    val base = all.filter(col("doc_id") < 480)
    val path = tmpDir("bm25-ibatch-delta")
    Bm25.ensurePostings(base, path)
    Bm25.ingestBatch(all.filter(col("doc_id") >= 480), path, 0L)
    val qs = Seq(("wm", Seq("window", "merge"))).toDF("query_id", "terms")
    val got = Bm25.scoreTopKIndexedBatch(spark, path, qs, 15).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val direct = Bm25.scoreTopKBatch(all, qs, 15).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(got == direct,
      "batch probe must score base + committed deltas exactly")
  }

  test("batch retrieval equals per-query single calls exactly") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val qs = Seq(
      ("kj", Seq("key", "join", "scan")),
      ("wm", Seq("window", "merge"))).toDF("query_id", "terms")
    val batch = Bm25.scoreTopKBatch(docs, qs, 12).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    for ((qid, terms) <- Seq("kj" -> Seq("key", "join", "scan"),
        "wm" -> Seq("window", "merge"))) {
      val single = Bm25.scoreTopK(docs, terms, 12).collect()
        .map(r => (qid, r.getLong(0)) ->
          (r.getDouble(1), r.getLong(2))).toMap
      assert(batch.view.filterKeys(_._1 == qid).toMap == single,
        s"batch results for $qid diverge from the single-query path")
    }
  }

  test("indexed batch scores duplicate term SETS once and fans the " +
      "result back: dup-heavy batch equals per-query indexed calls") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val path = tmpDir("bm25-ibatch-dup")
    Bm25.ensurePostings(docs, path)
    // 12 queries over 3 canonical sets, with order variations and
    // in-array duplicates (canonicalization = distinct + sorted)
    val qdefs = (0 until 12).map { i =>
      val terms = (i % 3) match {
        case 0 => Seq("key", "join", "scan")
        case 1 => Seq("scan", "join", "key") // same set, other order
        case _ => Seq("window", "merge", "merge") // in-array dup
      }
      (f"q$i%02d", terms)
    }
    val got = Bm25.scoreTopKIndexedBatch(spark, path,
        qdefs.toDF("query_id", "terms"), 8).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    for ((qid, terms) <- qdefs) {
      val single = Bm25.scoreTopKIndexed(spark, path, terms.distinct, 8)
        .collect()
        .map(r => (qid, r.getLong(0)) ->
          (r.getDouble(1), r.getLong(2))).toMap
      assert(got.view.filterKeys(_._1 == qid).toMap == single,
        s"dedup'd batch for $qid diverges from the single-query probe")
    }
    // every query_id surfaces (the fan-back lost none)
    assert(got.keySet.map(_._1) == qdefs.map(_._1).toSet)
  }

  test("indexed batch fails tagged (not NPE) on a NULL terms array") {
    import spark.implicits._
    val path = tmpDir("bm25-null-terms")
    Bm25.ensurePostings(Tables.documents(spark, sf0001), path)
    val qs = Seq(("ok", Some(Seq("key"))), ("bad", None))
      .toDF("query_id", "terms")
    val e = intercept[IllegalArgumentException] {
      Bm25.scoreTopKIndexedBatch(spark, path, qs, 5)
    }
    assert(e.getMessage.contains("bad") &&
      e.getMessage.contains("NULL terms"), e.getMessage)
  }

  /** 200 docs all holding stop words (df = N), 12 also holding the
    * rare term — the df shape max-score pruning exists for. dl varies
    * so the length normalization is exercised, not constant. */
  private def maxScoreCorpus = {
    import spark.implicits._
    (0L until 200L).map { i =>
      val stop = "scan merge data " * (1 + (i % 3).toInt)
      ((i, (if (i < 12) "rare " else "") + stop.trim))
    }.toDF("doc_id", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSet

  test("max-score: certificate engages on a rare+stop-word query; " +
      "candidates come from the rare term only; answer is bit-" +
      "identical to the full path") {
    val path = tmpDir("bm25-maxscore")
    Bm25.ensurePostings(maxScoreCorpus, path)
    val q = Seq("rare", "scan", "merge")
    val det = Bm25.maxScoreDetail(spark, path, q, 10)
    assert(det.prunedExact,
      s"certificate should hold: theta=${det.theta} " +
        s"ubNonEssential=${det.ubNonEssential}")
    // the pruning: only the 12 rare-term docs were ever expanded into
    // scored pairs — the 188 stop-word-only docs died in the semi join
    assert(det.candidates.get.count() == 12)
    assert(det.theta > det.ubNonEssential)
    assert(rows(det.result) ==
      rows(Bm25.scoreTopKIndexed(spark, path, q, 10)))
  }

  test("max-score: all-stop-word query has no essential term -> " +
      "exact fallback (the documented service-cap floor)") {
    val path = tmpDir("bm25-maxscore-fb")
    Bm25.ensurePostings(maxScoreCorpus, path)
    val q = Seq("scan", "merge")
    val det = Bm25.maxScoreDetail(spark, path, q, 10)
    assert(!det.prunedExact && det.candidates.isEmpty)
    assert(rows(det.result) ==
      rows(Bm25.scoreTopKIndexed(spark, path, q, 10)))
  }

  test("max-score: fewer candidates than k -> exact fallback (stop-" +
      "word-only docs can hold ranks the candidate set cannot fill)") {
    val path = tmpDir("bm25-maxscore-short")
    Bm25.ensurePostings(maxScoreCorpus, path)
    val q = Seq("rare", "scan", "merge")
    val det = Bm25.maxScoreDetail(spark, path, q, 15) // 12 candidates
    assert(!det.prunedExact)
    val full = rows(Bm25.scoreTopKIndexed(spark, path, q, 15))
    assert(rows(det.result) == full && full.size == 15)
  }

  test("max-score: k = 0 returns empty without certifying (an empty " +
      "collect satisfies length == k vacuously but has no kth score)") {
    val path = tmpDir("bm25-maxscore-k0")
    Bm25.ensurePostings(maxScoreCorpus, path)
    val det = Bm25.maxScoreDetail(spark, path,
      Seq("rare", "scan", "merge"), 0)
    assert(!det.prunedExact)
    assert(det.result.count() == 0)
  }

  test("max-score equals the full indexed path on random corpora and " +
      "queries (certified or fallen back, always exact)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rare = Seq("aardvark", "bezoar", "cormorant")
    val common = Seq("scan", "merge", "data", "join")
    for (trial <- 0 until 5) {
      val n = 80 + rnd.nextInt(70)
      val docs = (0L until n.toLong).map { i =>
        val words = common.filter(_ => rnd.nextDouble() < 0.8) ++
          rare.filter(_ => rnd.nextDouble() < 0.08)
        val text = rnd.shuffle(words.flatMap(w =>
          Seq.fill(1 + rnd.nextInt(3))(w))).mkString(" ")
        (i, text)
      }.toDF("doc_id", "text")
      val path = tmpDir(s"bm25-maxscore-rnd$trial")
      Bm25.ensurePostings(docs, path)
      val q = rnd.shuffle(rare).take(1 + rnd.nextInt(2)) ++
        rnd.shuffle(common).take(1 + rnd.nextInt(3))
      val k = 5 + rnd.nextInt(10)
      assert(rows(Bm25.scoreTopKIndexedMaxScore(spark, path, q, k)) ==
        rows(Bm25.scoreTopKIndexed(spark, path, q, k)),
        s"trial $trial: query=$q k=$k")
    }
  }

  test("scoreTopKPhrase: consecutive-token candidacy (no substring " +
      "or non-adjacent matches), scores equal the unconstrained BM25 " +
      "scores — the gate never re-weighs evidence") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha window join beta"),   // phrase present
      (1L, "window beta join alpha"),   // both terms, not adjacent
      (2L, "window join window join"),  // phrase twice
      (3L, "the windowjoin compound"),  // fused token: no match
      (4L, "window joiner trap"),       // prefix-token trap: no match
      (5L, "no relevant terms here")
    ).toDF("doc_id", "text")
    val got = Bm25.scoreTopKPhrase(docs, Seq("window", "join"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(0L, 2L),
      s"phrase candidacy must be exact consecutive tokens: $got")
    // corpus-wide statistics: a candidate's phrase-gated score is
    // EXACTLY its unconstrained score over the same terms
    val full = Bm25.scoreTopK(docs, Seq("window", "join"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) =>
      assert(full(id) == s, s"doc $id: phrase score $s != full ${full(id)}")
    }
    // empty phrase fails loudly like the other entrypoints
    val e = intercept[IllegalArgumentException] {
      Bm25.scoreTopKPhrase(docs, Nil, 10)
    }
    assert(e.getMessage.contains("empty phrase"))
  }
}
