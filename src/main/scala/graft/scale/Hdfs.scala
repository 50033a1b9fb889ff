package graft.scale

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Path-scheme-correct FileSystem resolution.
  *
  * `FileSystem.get(conf)` resolves the DEFAULT filesystem, not the
  * scheme of the path being operated on — a store on a non-default FS
  * (an `s3a://` layout under an HDFS default, or vice versa) would
  * have its batch dirs listed/deleted on the wrong filesystem
  * (review-caught, round 9 ADVICE). Harmless on `local[*]` where
  * everything is `file://`, wrong on exactly the clusters this code
  * is designed for — so every store/layout helper resolves its
  * FileSystem from the path it operates on, through here.
  */
object Hdfs {

  def of(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def of(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write-temp + atomic rename: readers see either the old content
    * or the new, never a torn write (POSIX rename replaces atomically;
    * HDFS FileContext rename with OVERWRITE has the same contract).
    * The pattern the store manifests/watermarks publish through.
    *
    * NOT atomic on object stores whose rename is copy+delete (s3a) —
    * there a reader can transiently see a missing target mid-"flip"
    * (and FileContext needs the AbstractFileSystem binding at all).
    * The manifest readers built on this fail LOUDLY on a missing/torn
    * manifest with a retry hint; deploying the manifest stores on
    * such a filesystem needs a rename-atomic layer (HDFS, a
    * consistency layer, or a posix-ish store) for flips to be truly
    * invisible. */
  def atomicWrite(fs: FileSystem, target: Path, content: String): Unit = {
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The build-once currency protocol every persisted store shares
    * (IVF index, MinHash signatures, int8 codes, LSH candidates,
    * bloom/gram skip layouts): the layout is current iff every
    * `successPaths` commit marker exists AND `meta` holds exactly
    * `stamp`; otherwise `build` runs and the stamp is (re)written
    * LAST. The stamp is deleted FIRST, so a crash anywhere inside
    * `build` — including between a layout's multiple writes — leaves
    * the store not-current -> rebuild, never a stale or half-built
    * serve; a torn/foreign marker read likewise fails the compare.
    *
    * Contract for `stamp`: it must encode the data fingerprint (row
    * count at minimum) AND every parameter that shapes the layout —
    * a parameter retune that silently serves the old physical layout
    * is this protocol's failure mode (review-caught, round 10).
    *
    * `built` is the stamp a fresh build writes, when it differs from
    * the `stamp` a current layout holds: a store with an arrival log
    * beside its built layout is current when the layout plus the
    * arrivals cover the input, and its rebuild absorbs the arrivals.
    */
  def ensureStamped(fs: FileSystem, meta: Path,
      successPaths: Seq[Path], stamp: String,
      built: Option[String] = None)(build: => Unit): Unit = {
    val current = successPaths.forall(fs.exists) &&
      fs.exists(meta) && {
        val in = fs.open(meta)
        val s = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        s.trim == stamp
      }
    if (!current) {
      fs.delete(meta, false)
      build
      val out = fs.create(meta, true)
      try out.write(built.getOrElse(stamp)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }
}
