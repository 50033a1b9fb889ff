package graft.scale

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** The append-log protocol, written once. Every batch-keyed store is
  * built on it: the five agg engines (through [[graft.agg.PartStore]]),
  * [[SampleLayout]], the curated store and the two reject logs of
  * [[graft.pipeline.CurationPipeline]], the four delta logs of
  * [[graft.pipeline.MediaPipeline]], the memo of
  * [[graft.ops.Bm25ResultCache]], and the two-table arrival logs of
  * [[graft.ops.Bm25]] and [[graft.ops.VectorIndex]]. It is the
  * MergeTree part model (kafka+clickhouse.md:205-211, 396-401): each
  * block lands as its own part, a background fold merges the parts
  * into one base, and no reader ever sees a fold half done.
  *
  * Layout under `path`:
  *  - `batch=<id>`: one part per append, keyed by the writer's batch id;
  *  - `batch=compacted-<g>`: the base of generation g;
  *  - `_manifest`: "gen through", the published generation and the
  *    highest batch id folded into its base (the replay watermark);
  *  - `_schema`: the parts' schema as JSON, the log's CREATE TABLE.
  *    The writer publishes it before the first part or base lands, so
  *    every committed part has a recorded schema.
  *
  * A part or base holds either the rows themselves, or named tables
  * ([[Part]]): `batch=<id>/<table>/`, each table optionally partitioned
  * by one column (`bucket`, `cell`), so a probe prunes a part's files
  * the way it prunes a built layout's. Small text notes (a codebook
  * id) sit beside the tables. For a named-table log, `_schema` records
  * every table's schema as one struct of structs, and a table first
  * written by a later part is added to it.
  *
  * The view a reader sees is the base of `gen` plus every committed
  * part with id > `through`. Committed means the part holds
  * `_SUCCESS`, which is written last: by Spark for a rows part, by the
  * append itself, after every table and note, for a named-table part.
  * The view is resolved in one glob and read with the recorded schema,
  * so a read infers nothing and starts no Spark job before its query
  * runs; one resolved view serves every table a read touches. Only a
  * log written before schemas were recorded is read by inference,
  * until its writer's next append or fold, or [[recordSchema]],
  * records one. Without a manifest nothing has been folded yet: every
  * committed part, no base.
  * [[read]] refuses a log with nothing visible; [[readOption]] and
  * [[resolve]] answer None for it, and [[readOption]] can leave out one
  * part, so a writer replaying a batch probes the log without its own
  * earlier attempt.
  *
  * [[append]] overwrites `batch=<id>`, so a replayed batch rewrites
  * itself. A named-table append runs through [[CommitProtocol]]
  * (`part-append`): it first retracts the part's `_SUCCESS` (then the
  * rest of an earlier attempt), lands each table, and writes the notes
  * and a fresh `_SUCCESS` last, so every crash window shows the batch
  * invisible or complete. An id at or below `through` is refused: its
  * rows are in the base, so a replay would double-count, and a stream
  * whose checkpoint was wiped would land parts no view admits. An
  * append or fold whose schema differs from the recorded one
  * (nullability aside) is refused too: a log keeps one schema.
  *
  * [[compact]], [[compactParts]] and [[rebuild]] share one fold. It
  * snapshots the view, then runs three steps through
  * [[CommitProtocol]] (`part-fold`):
  *  1. land the next base as `batch=compacted-<gen+1>`, a name the
  *     published manifest does not admit;
  *  2. publish the manifest through [[Hdfs.atomicWrite]]: readers flip
  *     from one complete view to the next;
  *  3. retire what the PREVIOUS publish superseded. What this publish
  *     superseded stays on disk until the next fold, as the grace
  *     window for readers that resolved their listing before step 2.
  * The new watermark is the highest id in the snapshot, never a
  * re-listing, so a part that lands mid-fold stays visible. A
  * [[compact]] bounded `below` an id snapshots only the parts under
  * it, so a writer can fold before appending that id and still replay
  * it. A reader that out-sleeps the grace window fails loudly on its
  * missing base. One writer per log; readers are unrestricted.
  */
final class PartLog(val path: String) {
  import PartLog._

  val manifestPath: Path = new Path(path, "_manifest")
  val schemaPath: Path = new Path(path, "_schema")

  private def baseDir(gen: Long) = s"$path/batch=compacted-$gen"

  private def text(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }

  private def manifest(fs: FileSystem): Option[Manifest] =
    text(fs, manifestPath).map { txt =>
      txt.split(' ') match {
        case Array(g, t) if g.toLongOption.isDefined &&
            t.toLongOption.isDefined =>
          Manifest(g.toLong, t.toLong)
        case _ => throw new IllegalStateException(
          s"torn or malformed manifest at $manifestPath: '$txt'. On a " +
            "filesystem without atomic rename (see Hdfs.atomicWrite) " +
            "retry; otherwise restore it or rebuild the store")
      }
    }

  /** The recorded schema; None for a log written before schemas were
    * recorded. */
  private def recorded(fs: FileSystem): Option[StructType] =
    text(fs, schemaPath).map { json =>
      try DataType.fromJson(json).asInstanceOf[StructType]
      catch {
        case e: Exception => throw new IllegalStateException(
          s"unreadable schema at $schemaPath", e)
      }
    }

  private def same(want: StructType, got: StructType,
      what: String): Unit =
    require(SchemaBridge.sameIgnoringNullability(want, got),
      s"part log $path: schema ${got.simpleString} differs from " +
        s"$what ${want.simpleString}. A log keeps one schema; write " +
        "a new log to change it")

  /** Refuse `got` unless it is the recorded schema; record it on a log
    * that has none. `current` gives the schema an older log's parts
    * already hold, if any. */
  private def record(fs: FileSystem, got: StructType,
      current: => Option[StructType]): Unit =
    recorded(fs) match {
      case Some(r) => same(r, got, s"the one recorded at $schemaPath,")
      case None =>
        current.foreach(same(_, got, "the schema its parts hold,"))
        Hdfs.atomicWrite(fs, schemaPath,
          SchemaBridge.asNullable(got).json)
    }

  /** [[record]] for a named-table part: each table is checked against
    * its recorded schema, and a table no part wrote before is added. */
  private def recordTables(fs: FileSystem, part: Part): Unit = {
    val r = recorded(fs).getOrElse(new StructType())
    val (known, added) = part.tables.partition(t =>
      r.fieldNames.contains(t.name))
    known.foreach(t => same(r(t.name).dataType.asInstanceOf[StructType],
      t.ordered.schema, s"table ${t.name}'s recorded at $schemaPath,"))
    if (added.nonEmpty)
      Hdfs.atomicWrite(fs, schemaPath, added.foldLeft(r)((s, t) =>
        s.add(t.name, SchemaBridge.asNullable(t.ordered.schema))).json)
  }

  /** Names of the dirs that hold `_SUCCESS`. A fold's retire step
    * deletes dirs one by one, so a glob can hit a dir deleted under
    * it; only that FileNotFoundException is retried, with a short
    * pause, and past the bound the read fails rather than return a
    * view missing committed parts. */
  private def committed(fs: FileSystem): Set[String] = {
    var attempt = 0
    var out: Option[Set[String]] = None
    var last: java.io.FileNotFoundException = null
    while (out.isEmpty && attempt < 6) {
      try out = Some(Option(fs.globStatus(
          new Path(path, "batch=*/_SUCCESS"))).toSet.flatten
        .map(_.getPath.getParent.getName))
      catch {
        case e: java.io.FileNotFoundException =>
          last = e
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    out.getOrElse(throw new IllegalStateException(
      s"part log $path: listing hit FileNotFoundException on $attempt " +
        "consecutive attempts; refusing to return a partial view", last))
  }

  /** The published view: the manifest's base if it is committed, and
    * every committed part above the watermark. */
  def view(spark: SparkSession): View = view(Hdfs.of(spark, path))

  /** The published view, or None for a log with no visible part or
    * base. */
  def resolve(spark: SparkSession): Option[View] =
    Some(view(spark)).filter(v => v.manifest.nonEmpty || v.dirs.nonEmpty)

  /** The view restricted to the parts whose ids pass `keep`. */
  private def view(fs: FileSystem, keep: Long => Boolean = _ => true)
      : View = {
    val m = manifest(fs)
    val schema = recorded(fs)
    val names = committed(fs)
    val through = m.fold(-1L)(_.through)
    val ids = names.toSeq.flatMap(partId)
      .filter(i => i > through && keep(i)).sorted
    val base = m.map(g => s"batch=compacted-${g.gen}").filter(names)
    View(m, (base.toSeq ++ ids.map(i => s"batch=$i"))
      .map(n => s"$path/$n"), ids.size, (through +: ids).max, schema)
  }

  /** The visible rows, unmerged. */
  def read(spark: SparkSession): DataFrame = rows(spark, view(spark))

  /** The visible rows, or None for a log with no visible part or base.
    * `without` leaves out part `batch=<id>`: a writer replaying batch
    * `id` probes the log as it stood before that batch's earlier
    * attempt, whatever ids the other parts hold. */
  def readOption(spark: SparkSession,
      without: Option[Long] = None): Option[DataFrame] = {
    val v = view(Hdfs.of(spark, path), i => !without.contains(i))
    if (v.manifest.isEmpty && v.dirs.isEmpty) None
    else Some(rows(spark, v))
  }

  /** Throws if the manifest's base is gone: a reader that out-slept the
    * grace window must not return the parts alone. A [[rebuild]] reads
    * no rows, so it still replaces such a log. */
  private def checkBase(v: View): Unit = {
    v.manifest.map(m => baseDir(m.gen)).filterNot(v.dirs.contains)
      .foreach(b => throw new IllegalStateException(
        s"part log $path: base $b is gone. The reader out-slept the " +
          "grace window (two folds passed since its manifest read); " +
          "re-resolve and retry"))
    require(v.dirs.nonEmpty, s"no committed parts at $path")
  }

  private def rows(spark: SparkSession, v: View): DataFrame = {
    checkBase(v)
    v.schema match {
      case Some(s) => spark.read.schema(s).parquet(v.dirs: _*)
      // a log written before schemas were recorded: infer
      case None => spark.read.parquet(v.dirs: _*)
    }
  }

  /** Record the schema the parts hold on a log written before schemas
    * were recorded; a no-op once one is. A writer that may only read
    * (a memo whose calls all hit) calls it when it opens the log, so
    * its reads stop inferring. */
  def recordSchema(spark: SparkSession): Unit = {
    val fs = Hdfs.of(spark, path)
    val v = view(fs)
    if (v.schema.isEmpty && v.dirs.nonEmpty)
      record(fs, rows(spark, v).schema, None)
  }

  /** Table `name` of a named-table log, over `dirs`: the dirs of the
    * resolved view `v`, or a subset of them (the parts whose notes
    * pass a check). Read with the table's recorded schema, one scan
    * per dir, unioned: Spark discovers a partition column only below
    * one common base path, and the table's own dir sits between the
    * part and its partitions. A filter on the partition column pushes
    * into every scan. */
  def table(spark: SparkSession, v: View, name: String,
      dirs: Seq[String]): DataFrame = {
    checkBase(v)
    require(dirs.nonEmpty, s"part log $path: table $name over no dirs")
    val s = v.schema.filter(_.fieldNames.contains(name))
      .getOrElse(throw new IllegalStateException(
        s"part log $path: no recorded schema for table $name"))
    val ts = s(name).dataType.asInstanceOf[StructType]
    dirs.map(d => spark.read.schema(ts).parquet(s"$d/$name"))
      .reduce(_ unionByName _)
  }

  /** Note `name` of the part or base at `dir`, if it holds one. */
  def note(spark: SparkSession, dir: String, name: String): Option[String] =
    text(Hdfs.of(spark, dir), new Path(dir, name))

  private def guard(fs: FileSystem, batchId: Long): Unit = {
    val through = manifest(fs).fold(-1L)(_.through)
    require(batchId > through,
      s"part log $path: batch $batchId is at or below the fold " +
        s"watermark $through. Its rows are already folded, so a replay " +
        "would double-count; a stream whose checkpoint was wiped must " +
        "be re-pointed or the store rebuilt")
  }

  /** Keyed append of one block as part `batch=<batchId>`. */
  def append(block: DataFrame, batchId: Long): Unit = {
    val spark = block.sparkSession
    val fs = Hdfs.of(spark, path)
    guard(fs, batchId)
    record(fs, block.schema, {
      val v = view(fs)
      if (v.dirs.isEmpty) None else Some(rows(spark, v).schema)
    })
    block.write.mode(SaveMode.Overwrite).parquet(s"$path/batch=$batchId")
  }

  /** Keyed append of a named-table part as `batch=<batchId>`, through
    * one `part-append` run: retract, one step per table, commit. */
  def append(part: Part, batchId: Long): Unit = {
    val fs = Hdfs.of(part.tables.head.rows.sparkSession, path)
    guard(fs, batchId)
    recordTables(fs, part)
    CommitProtocol.run("part-append",
      land(fs, new Path(path, s"batch=$batchId"), part))
  }

  /** The steps that land `part` at `dir`. `_SUCCESS` goes first and
    * last, so an earlier attempt's tables and notes never show beside
    * this one's. */
  private def land(fs: FileSystem, dir: Path, part: Part)
      : Seq[CommitProtocol.Step] = {
    import CommitProtocol.step
    val done = new Path(dir, "_SUCCESS")
    step("retract") { fs.delete(done, false); fs.delete(dir, true) } +:
      part.tables.map(t => step(s"write-${t.name}") {
        val w = t.ordered.write.mode(SaveMode.Overwrite)
        t.partitionBy.fold(w)(w.partitionBy(_)).parquet(s"$dir/${t.name}")
      }) :+
      step("commit") {
        part.notes.foreach { case (n, c) =>
          val out = fs.create(new Path(dir, n), true)
          try out.write(c.getBytes("UTF-8")) finally out.close()
        }
        fs.create(done, true).close()
      }
  }

  /** The one fold over the view below `below`. `next` builds the next
    * base from the snapshot and returns how to land it at a dir, or
    * None to leave the log as it is. */
  private def fold(spark: SparkSession, below: Long = Long.MaxValue)(
      next: View => Option[String => Unit]): Unit = {
    val fs = Hdfs.of(spark, path)
    val v = view(fs, _ < below)
    next(v).foreach { landAt =>
      val m = Manifest(v.manifest.fold(0L)(_.gen + 1), v.through)
      import CommitProtocol.{run, step}
      run("part-fold", Seq(
        // a crashed earlier attempt at this generation is overwritten
        step("land-next-base") { landAt(baseDir(m.gen)) },
        step("publish-manifest") {
          Hdfs.atomicWrite(fs, manifestPath, s"${m.gen} ${m.through}")
        },
        step("retire-superseded") { retire(fs, v.manifest, m.gen) }))
    }
  }

  /** Land `base` as one rows dir, once its schema is recorded. */
  private def rowsBase(fs: FileSystem, base: DataFrame)
      : Option[String => Unit] = {
    record(fs, base.schema, None)
    Some(dir => base.write.mode(SaveMode.Overwrite).parquet(dir))
  }

  /** Fold the visible rows through `merge` into the next base, cast
    * back to the parts' schema ([[castToRawSchema]]). Only parts with
    * ids below `below` are folded, and only once at least `fanIn` of
    * them are visible; parts at or above `below` stay visible above
    * the new watermark. Does nothing on a log that was never
    * written. */
  def compact(spark: SparkSession, below: Long = Long.MaxValue,
      fanIn: Int = 0)(merge: DataFrame => DataFrame): Unit =
    fold(spark, below) { v =>
      if (v.parts < fanIn || (v.manifest.isEmpty && v.dirs.isEmpty)) None
      else {
        val parts = rows(spark, v)
        rowsBase(Hdfs.of(spark, path),
          castToRawSchema(merge(parts), parts.schema))
      }
    }

  /** Fold a named-table log: `next` builds the next base [[Part]] from
    * the snapshot (one merge per table, reading each through
    * [[table]]). Does nothing while no part is visible above the base,
    * so a retried fold whose publish already landed is a no-op. */
  def compactParts(spark: SparkSession)(next: View => Part): Unit = {
    val fs = Hdfs.of(spark, path)
    fold(spark) { v =>
      if (v.parts == 0) None
      else {
        val part = next(v)
        recordTables(fs, part)
        Some(dir => land(fs, new Path(dir), part).foreach(_.body()))
      }
    }
  }

  /** Replace the log's content with `base`, superseding every part
    * committed before the fold's snapshot. */
  def rebuild(base: DataFrame): Unit =
    fold(base.sparkSession)(_ =>
      rowsBase(Hdfs.of(base.sparkSession, path), base))

  /** Delete the whole log: a store rebuilt from its source drops the
    * parts the source already holds. */
  def drop(spark: SparkSession): Unit =
    Hdfs.of(spark, path).delete(new Path(path), true)

  /** Delete the dirs `prev` already did not admit, except the base
    * `keep` just published. Bases go first: a reader that out-slept the
    * grace window then fails on its missing base, instead of reading
    * its base beside a half-deleted set of parts. */
  private def retire(fs: FileSystem, prev: Option[Manifest],
      keep: Long): Unit = {
    val root = new Path(path)
    val (bases, parts) = fs.listStatus(root).toSeq.map(_.getPath)
      .filter { p =>
        baseGen(p.getName)
          .exists(g => g != keep && !prev.exists(_.gen == g)) ||
          partId(p.getName).exists(id => prev.exists(id <= _.through))
      }
      .partition(p => baseGen(p.getName).isDefined)
    (bases ++ parts).foreach(fs.delete(_, true))
  }

  /** Cast `folded` back to the parts' schema, in its column order, so
    * parts appended after a fold still union with the base at read
    * time and the base keeps the recorded schema. Raises on any value
    * the narrower type cannot hold. Sums widen int columns to long (and
    * decimals to a higher precision); a non-ANSI downcast would
    * silently wrap an overflowing long or null an overflowing decimal.
    * The guard is a per-row try_cast round trip in the same projection.
    * Where the types already match it is a no-op projection. */
  private def castToRawSchema(folded: DataFrame,
      rawSchema: StructType): DataFrame = {
    require(folded.columns.toSet == rawSchema.fieldNames.toSet,
      s"part log $path: the fold's columns " +
        s"${folded.columns.mkString(", ")} are not the parts' columns " +
        rawSchema.fieldNames.mkString(", "))
    folded.select(rawSchema.fields.map { raw =>
      val f = folded.schema(raw.name)
      val target = raw.dataType
      if (target == f.dataType) col(f.name)
      else {
        val down = col(f.name).try_cast(target)
        when(col(f.name).isNotNull &&
            (down.isNull || down.cast(f.dataType) =!= col(f.name)),
          raise_error(concat(
            lit(s"compact(): folded total for column '${f.name}' does " +
              s"not fit the stored $target type (widen the store's " +
              "column type or compact more often): "),
            col(f.name).cast("string"))))
          .otherwise(down).as(f.name)
      }
    }.toSeq: _*)
  }
}

object PartLog {

  /** One table of a named-table [[Part]], optionally partitioned by
    * one column. */
  final case class Table(name: String, rows: DataFrame,
      partitionBy: Option[String] = None) {
    /** The rows with the partition column last: the order a read
      * returns them in, so a fold's base keeps the recorded schema. */
    def ordered: DataFrame = partitionBy.fold(rows)(p => rows.select(
      (rows.columns.filterNot(_ == p) :+ p).map(rows.col).toSeq: _*))
  }

  /** A named-table part or base: its tables, landed in order, and
    * small text notes (name -> content) written after them, before
    * `_SUCCESS`. */
  final case class Part(tables: Seq[Table],
      notes: Map[String, String] = Map.empty)

  /** The published generation and its replay watermark. */
  final case class Manifest(gen: Long, through: Long)

  /** One resolved view: its manifest, the dirs to scan, how many of
    * them are parts (not the base), the watermark a fold of exactly
    * these dirs publishes, and the recorded schema to read them with. */
  final case class View(manifest: Option[Manifest], dirs: Seq[String],
      parts: Int, through: Long, schema: Option[StructType])

  private def partId(name: String): Option[Long] =
    if (name.startsWith("batch=")) name.stripPrefix("batch=").toLongOption
    else None

  private def baseGen(name: String): Option[Long] =
    if (name.startsWith("batch=compacted-"))
      name.stripPrefix("batch=compacted-").toLongOption
    else None
}
