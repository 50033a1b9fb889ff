package graft.scale

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** The append-log protocol, written once. Every append-log store is
  * built on it: the five agg engines (through [[graft.agg.PartStore]])
  * and [[SampleLayout]]. It is the MergeTree part model
  * (kafka+clickhouse.md:205-211, 396-401): each block lands as its own
  * part, a background fold merges the parts into one base, and no
  * reader ever sees a fold half done.
  *
  * Layout under `path`:
  *  - `batch=<id>`: one part per append, keyed by the writer's batch id;
  *  - `batch=compacted-<g>`: the base of generation g;
  *  - `_manifest`: "gen through", the published generation and the
  *    highest batch id folded into its base (the replay watermark);
  *  - `_schema`: the parts' schema as JSON, the log's CREATE TABLE.
  *    The writer publishes it once, before the first part or base
  *    lands, so every committed part has a recorded schema.
  *
  * The view a reader sees is the base of `gen` plus every committed
  * part with id > `through`. Committed means the part holds `_SUCCESS`,
  * which Spark writes last. The view is resolved in one glob and read
  * with the recorded schema, so a read infers nothing and starts no
  * Spark job before its query runs. Only a log written before schemas
  * were recorded is read by inference, until its writer's next append
  * or fold records one. Without a manifest nothing has been folded
  * yet: every committed part, no base.
  *
  * [[append]] overwrites `batch=<id>`, so a replayed batch rewrites
  * itself. An id at or below `through` is refused: its rows are in the
  * base, so a replay would double-count, and a stream whose checkpoint
  * was wiped would land parts no view admits. An append or fold whose
  * schema differs from the recorded one (nullability aside) is refused
  * too: a log keeps one schema.
  *
  * [[compact]] and [[rebuild]] share one fold. It snapshots the view,
  * then runs three steps through [[CommitProtocol]]:
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
final class PartLog(path: String) {
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

  /** Refuse `got` unless it is the recorded schema; record it on a log
    * that has none. `current` gives the schema an older log's parts
    * already hold, if any. */
  private def record(fs: FileSystem, got: StructType,
      current: => Option[StructType]): Unit = {
    def same(want: StructType, what: String): Unit =
      require(SchemaBridge.sameIgnoringNullability(want, got),
        s"part log $path: schema ${got.simpleString} differs from " +
          s"$what ${want.simpleString}. A log keeps one schema; write " +
          "a new log to change it")
    recorded(fs) match {
      case Some(r) => same(r, s"the one recorded at $schemaPath,")
      case None =>
        current.foreach(same(_, "the schema its parts hold,"))
        Hdfs.atomicWrite(fs, schemaPath,
          SchemaBridge.asNullable(got).json)
    }
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

  /** The view restricted to parts with ids below `below`. */
  private def view(fs: FileSystem, below: Long = Long.MaxValue): View = {
    val m = manifest(fs)
    val schema = recorded(fs)
    val names = committed(fs)
    val through = m.fold(-1L)(_.through)
    val ids = names.toSeq.flatMap(partId)
      .filter(i => i > through && i < below).sorted
    val base = m.map(g => s"batch=compacted-${g.gen}").filter(names)
    View(m, (base.toSeq ++ ids.map(i => s"batch=$i"))
      .map(n => s"$path/$n"), ids.size, (through +: ids).max, schema)
  }

  /** The visible rows, unmerged. */
  def read(spark: SparkSession): DataFrame = rows(spark, view(spark))

  /** Throws if the manifest's base is gone: a reader that out-slept the
    * grace window must not return the parts alone. A [[rebuild]] reads
    * no rows, so it still replaces such a log. */
  private def rows(spark: SparkSession, v: View): DataFrame = {
    v.manifest.map(m => baseDir(m.gen)).filterNot(v.dirs.contains)
      .foreach(b => throw new IllegalStateException(
        s"part log $path: base $b is gone. The reader out-slept the " +
          "grace window (two folds passed since its manifest read); " +
          "re-resolve and retry"))
    require(v.dirs.nonEmpty, s"no committed parts at $path")
    v.schema match {
      case Some(s) => spark.read.schema(s).parquet(v.dirs: _*)
      // a log written before schemas were recorded: infer
      case None => spark.read.parquet(v.dirs: _*)
    }
  }

  /** Keyed append of one block as part `batch=<batchId>`. */
  def append(block: DataFrame, batchId: Long): Unit = {
    val spark = block.sparkSession
    val fs = Hdfs.of(spark, path)
    val through = manifest(fs).fold(-1L)(_.through)
    require(batchId > through,
      s"part log $path: batch $batchId is at or below the fold " +
        s"watermark $through. Its rows are already folded, so a replay " +
        "would double-count; a stream whose checkpoint was wiped must " +
        "be re-pointed or the store rebuilt")
    record(fs, block.schema, {
      val v = view(fs)
      if (v.dirs.isEmpty) None else Some(rows(spark, v).schema)
    })
    block.write.mode(SaveMode.Overwrite).parquet(s"$path/batch=$batchId")
  }

  /** The one fold over the view below `below`. `next` builds the next
    * base from the snapshot, or returns None to leave the log as it
    * is. */
  private def fold(spark: SparkSession, below: Long = Long.MaxValue)(
      next: View => Option[DataFrame]): Unit = {
    val fs = Hdfs.of(spark, path)
    val v = view(fs, below)
    next(v).foreach { base =>
      record(fs, base.schema, None)
      val m = Manifest(v.manifest.fold(0L)(_.gen + 1), v.through)
      import CommitProtocol.{run, step}
      run("part-fold", Seq(
        // a crashed earlier attempt at this generation is overwritten
        step("land-next-base") {
          base.write.mode(SaveMode.Overwrite).parquet(baseDir(m.gen))
        },
        step("publish-manifest") {
          Hdfs.atomicWrite(fs, manifestPath, s"${m.gen} ${m.through}")
        },
        step("retire-superseded") { retire(fs, v.manifest, m.gen) }))
    }
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
        Some(castToRawSchema(merge(parts), parts.schema))
      }
    }

  /** Replace the log's content with `base`, superseding every part
    * committed before the fold's snapshot. */
  def rebuild(base: DataFrame): Unit =
    fold(base.sparkSession)(_ => Some(base))

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
