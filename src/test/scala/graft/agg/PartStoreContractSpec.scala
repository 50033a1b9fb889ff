package graft.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.scale.PartLog

/** The store contract every append-log agg engine keeps, run as one
  * table of cases over all five engines. Each engine is opened at a
  * path with: the block it appends as batch `i` (keys overlap across
  * batches, so a read that skipped its merge would be caught), its
  * canonical read as a lazy frame, and that frame's answer as sorted
  * strings. The engines' own accuracy cases stay in their specs.
  */
class PartStoreContractSpec extends SparkSpec {
  import spark.implicits._

  private final class Subject(val store: PartStore,
      val block: Long => DataFrame, val frame: () => DataFrame,
      val show: DataFrame => Seq[String]) {
    def answer: Seq[String] = show(frame())
    def put(ids: Long*): Unit = ids.foreach(i => store.append(block(i), i))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private val engines: Seq[(String, String => Subject)] = Seq(
    "SummingStore" -> { p =>
      val s = new SummingStore(p, Seq("k"), Seq("v"))
      new Subject(s, i => Seq(("a", i + 1), ("b", 1L)).toDF("k", "v"),
        () => s.read(spark), rows)
    },
    "CollapsingStore" -> { p =>
      val s = new CollapsingStore(p, Seq("id"), Seq("qty"))
      // batch i creates entity i and cancels entity i - 1
      new Subject(s, i => (Seq((i, 1, i * 10)) ++
          (if (i > 0) Seq((i - 1, -1, (i - 1) * 10)) else Nil))
          .toDF("id", "sign", "qty"),
        () => s.read(spark), rows)
    },
    "SketchStore" -> { p =>
      val s = new SketchStore(p, Seq("k"))
      new Subject(s, i => s.partials(
          Seq(("a", i), ("a", i + 1), ("b", 7L)).toDF("k", "u"), col("u")),
        () => s.read(spark), rows)
    },
    "QuantileStore" -> { p =>
      val s = new QuantileStore(p, Seq("k"), 0.001)
      new Subject(s, i => s.partials(Seq(("a", i.toDouble), ("b", 1.0))
          .toDF("k", "x"), col("x")),
        () => s.read(spark, Seq(0.5, 1.0)), rows)
    },
    "CountMinStore" -> { p =>
      val s = new CountMinStore(p, Seq("k"), depth = 4, width = 256)
      new Subject(s, i => s.partials(Seq(("a", i), ("a", 0L), ("b", 0L))
          .toDF("k", "u"), col("u")),
        () => s.read(spark), df => rows(df.select(col("k"),
          CountMinState.value(col("cms"), lit(0L)),
          CountMinState.value(col("cms"), lit(1L)))))
    })

  /** One engine's store at `path`. `reference(ids)` is what a store
    * that saw each of `ids` once, and never compacted, reads. */
  private final class Case(val path: String, open: String => Subject) {
    val s: Subject = open(path)
    def reference(ids: Long*): Seq[String] = {
      val r = open(tmpDir("contract-ref") + "/store")
      r.put(ids: _*)
      r.answer
    }
  }

  /** Runs `check` once per engine on a fresh store; a failure names
    * the engine. */
  private def forEveryEngine(tag: String)(check: Case => Unit): Unit =
    engines.foreach { case (name, open) =>
      withClue(s"$name: ")(check(new Case(tmpDir(s"contract-$tag") +
        "/store", open)))
    }

  test("a replayed batch rewrites its own part: the read is unchanged") {
    forEveryEngine("replay") { c =>
      import c.s
      s.put(0, 1)
      val once = s.answer
      s.put(1, 1, 0)
      assert(s.answer == once)
    }
  }

  test("a replay at or below the fold watermark is refused") {
    forEveryEngine("refuse") { c =>
      import c.s
      s.put(0, 1)
      s.store.compact(spark)
      val folded = s.answer
      Seq(0L, 1L).foreach { i =>
        val e = intercept[IllegalArgumentException](s.put(i))
        assert(e.getMessage.contains("watermark"), e.getMessage)
      }
      assert(s.answer == folded, "a refused replay touched the store")
      s.put(2)
      assert(s.answer == c.reference(0, 1, 2))
    }
  }

  test("compact keeps the read unchanged") {
    forEveryEngine("compact") { c =>
      import c.s
      s.put(0, 1, 2)
      val before = s.answer
      s.store.compact(spark)
      assert(s.answer == before)
      s.put(3)
      s.store.compact(spark)
      assert(s.answer == c.reference(0, 1, 2, 3))
    }
  }

  test("a read racing a compact sees one complete view") {
    forEveryEngine("race") { c =>
      import c.s
      s.put(0, 1, 2)
      val want = s.answer
      // resolved before the fold: the fold must not delete its files
      val preFold = s.frame()
      s.store.compact(spark)
      assert(s.show(preFold) == want)
      // resolved between folds: its generation survives the next fold
      s.put(3)
      val midGen = s.frame()
      s.store.compact(spark)
      assert(s.show(midGen) == c.reference(0, 1, 2, 3))
    }
  }

  test("compact of an empty store does nothing") {
    forEveryEngine("empty") { c =>
      import c.{path, s}
      new java.io.File(path).mkdirs()
      s.store.compact(spark)
      assert(new java.io.File(path).list().isEmpty)
    }
  }

  test("the fold's watermark comes from its snapshot, not a re-listing") {
    forEveryEngine("snapshot") { c =>
      import c.{path, s}
      s.put(0, 1)
      // fold the snapshot's parts unmerged (every engine's read merges
      // again) while batch 2 lands after the snapshot, before publish
      new PartLog(path).compact(spark) { parts => s.put(2); parts }
      assert(s.answer == c.reference(0, 1, 2),
        "a batch landing mid-fold must stay visible")
    }
  }

  test("a torn manifest names its path") {
    forEveryEngine("torn") { c =>
      import c.{path, s}
      s.put(0)
      s.store.compact(spark)
      // a write cut off after the generation, before the watermark
      val out = graft.scale.Hdfs.of(spark, path)
        .create(new org.apache.hadoop.fs.Path(path, "_manifest"), true)
      try out.write("3".getBytes("UTF-8")) finally out.close()
      val e = intercept[IllegalStateException](s.answer)
      assert(e.getMessage.contains(s"$path/_manifest"), e.getMessage)
    }
  }

  test("a batch part with parquet files but no _SUCCESS is invisible") {
    forEveryEngine("uncommitted") { c =>
      import c.{path, s}
      s.put(0)
      val want = s.answer
      // a part whose write died before its commit marker landed
      s.block(1).write.parquet(s"$path/batch=1")
      new java.io.File(s"$path/batch=1/_SUCCESS").delete()
      assert(new java.io.File(s"$path/batch=1").list()
        .exists(_.endsWith(".parquet")))
      assert(s.answer == want)
      s.store.compact(spark)
      assert(s.answer == want)
    }
  }
}
