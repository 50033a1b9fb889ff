package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed always gives the same bytes:
  * every draw comes from one `SplittableRandom` per stream, and nothing
  * reads the clock, the locale or a hash-ordered collection.
  *
  * The generators also keep the ground truth the checkers compare the
  * program's outputs against (stored rows, dead letters, per-key lookup
  * rows, per-level totals, planted curation drops).
  */
object Gen {

  val EventTypes: Array[String] =
    Array("delivered", "open", "click", "bounce", "unsubscribe")
  private val EventTypeCdf = cdf(Array(0.40, 0.25, 0.20, 0.10, 0.05))
  val Levels: Array[String] = Array("INFO", "WARNING", "ERROR", "DEBUG")
  private val LevelCdf = cdf(Array(0.55, 0.25, 0.15, 0.05))
  val Vocab: Array[String] = Array("join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order",
    "vector", "line", "table", "data", "agg", "value", "key", "stream",
    "window", "a", "spark", "part", "group", "big", "sort", "query",
    "fast", "the")

  /** 2026-01-01T00:00:00Z: the first day of every generated stream. */
  val Day0: Long = 1767225600L
  val Days = 7

  private def cdf(w: Array[Double]): Array[Double] = {
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def uuid(r: SplittableRandom): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  private def isoTime(epochSec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epochSec, 0,
      java.time.ZoneOffset.UTC).toString match {
      case s if s.length == 16 => s + ":00" // LocalDateTime drops :00
      case s => s
    }

  /** Writes `lines` to `dir/name` through a hidden temp file and a
    * rename, so a streaming source never sees a half-written file. */
  def writeLines(dir: File, name: String, lines: Iterator[String]): Unit = {
    dir.mkdirs()
    val tmp = new File(dir, "." + name + ".tmp")
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(tmp), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp.toPath, new File(dir, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  // ---------------------------------------------------------------- Part 1

  /** One stored event the lookups must return: event time (epoch
    * seconds) and recipient. */
  final case class Click(epochSec: Long, email: String)

  /** Ground truth of a wire-event backlog. */
  final case class CampaignTruth(events: Long, stored: Long, deadLetters: Long,
      campaigns: IndexedSeq[String], clicks: Map[String, Vector[Click]]) {
    /** Keys for the REF:160-166 lookups: three of every four go to the
      * twelve hottest campaigns, one to a cold campaign from the Zipf
      * tail. The ranks are the same for every seed, so the result sizes
      * are too. With hot keys the majority, the median and the tail both
      * fall inside the hot mode, not in the gap between the two modes. */
    def lookupKeys(n: Int): IndexedSeq[String] = (0 until n).map { i =>
      if (i % 4 != 3) campaigns(i % 12)
      else campaigns(campaigns.size / 2 + i * 31 % (campaigns.size / 2))
    }
  }

  /** The Part-1 wire backlog (REF:60-67): `files` JSON-lines files of
    * `perFile` events over [[Days]] days and `campaigns` campaign UUIDs
    * drawn Zipf-skewed. One line in 100 is corrupt JSON and one carries
    * an out-of-domain `event_type`; both must land in the dead-letter
    * table. */
  def wireBacklog(dir: File, seed: Long, files: Int, perFile: Int,
      campaigns: Int = 2000): CampaignTruth = {
    val r = new SplittableRandom(seed)
    val ids = IndexedSeq.fill(campaigns)(uuid(r))
    val workspaces = IndexedSeq.fill(50)(uuid(r))
    val zipf = cdf(Array.tabulate(campaigns)(k => 1.0 / math.pow(k + 1, 1.1)))
    val clicks = mutable.HashMap.empty[String, mutable.ArrayBuffer[Click]]
    var stored = 0L
    var dead = 0L
    for (f <- 0 until files) {
      val lines = new mutable.ArrayBuffer[String](perFile)
      for (e <- 0 until perFile) {
        val c = pick(zipf, r.nextDouble())
        val campaign = ids(c)
        val email = s"user${r.nextInt(50000)}@example.com"
        val t = Day0 + r.nextLong(Days * 86400L)
        val kind = e % 100
        val eventType =
          if (kind == 0) "spam" // out-of-domain Enum8 value
          else EventTypes(pick(EventTypeCdf, r.nextDouble()))
        val line = "{\"campaign_id\":\"" + campaign +
          "\",\"workspace_id\":\"" + workspaces(c % workspaces.size) +
          "\",\"email\":\"" + email + "\",\"event_type\":\"" + eventType +
          "\",\"event_time\":\"" + isoTime(t) +
          "\",\"metadata\":{\"ip\":\"10.0." + r.nextInt(256) + "." +
          r.nextInt(256) + "\",\"ua\":\"m" + r.nextInt(8) + "\"}}"
        if (kind == 1) { // corrupt JSON: the line cut short
          lines += line.substring(0, line.length / 2)
          dead += 1
        } else if (kind == 0) {
          lines += line
          dead += 1
        } else {
          lines += line
          stored += 1
          if (eventType == "click")
            clicks.getOrElseUpdate(campaign, mutable.ArrayBuffer.empty) +=
              Click(t, email)
        }
      }
      writeLines(dir, f"events-$f%05d.json", lines.iterator)
    }
    CampaignTruth(files.toLong * perFile, stored, dead, ids,
      clicks.map { case (k, v) => k -> v.toVector }.toMap)
  }

  // ---------------------------------------------------------------- Part 2

  /** The Part-2 `queue` stream (REF:183-194), one JSON-lines file per
    * round. Keeps the running per-level counts the `levelTotals` read
    * must equal. */
  final class QueueStream(seed: Long) {
    private val r = new SplittableRandom(seed ^ 0x0ddba11L)
    private val counts = mutable.LinkedHashMap.from(Levels.map(_ -> 0L))
    def totals: Map[String, Long] = counts.filter(_._2 > 0).toMap
    def writeRound(dir: File, round: Int, events: Int): Unit = {
      val lines = (0 until events).iterator.map { i =>
        val level = Levels(pick(LevelCdf, r.nextDouble()))
        counts(level) += 1
        "{\"timestamp\":" + (Day0 + r.nextLong(Days * 86400L)) +
          ",\"level\":\"" + level + "\",\"message\":\"m" + round + "-" + i +
          "\"}"
      }
      writeLines(dir, f"queue-$round%05d.json", lines)
    }
  }

  // --------------------------------------------------------------- curation

  /** Planted drops of a document stream. */
  final case class CurationTruth(docs: Int, degenerate: Int, exactDups: Int,
      nearDups: Int)

  /** The curation stream: `batches` JSON-lines files of `perBatch`
    * documents. From the second batch on, 10% are exact re-crawls of an
    * earlier clean document and 5% are one-word edits of one (near
    * duplicates); in every batch 5% are degenerate (one word repeated,
    * which the repetition gate rejects); the rest are fresh random
    * texts. The kinds sit at fixed positions, so every seed plants the
    * same counts. */
  def docStream(dir: File, seed: Long, batches: Int,
      perBatch: Int): CurationTruth = {
    val r = new SplittableRandom(seed ^ 0xc0ffeeL)
    // re-crawls and edits only copy clean documents of EARLIER batches:
    // those are in the curated store when the copy arrives, so each copy
    // has exactly one fate (an in-batch pair could go either way)
    val earlier = mutable.ArrayBuffer.empty[Array[String]]
    // texts planted as new (fresh or near-duplicate): a near-duplicate
    // that repeated one of them would be an exact re-crawl instead
    val distinct = mutable.HashSet.empty[String]
    var degenerate, exact, near = 0
    var id = 0L
    // The file source takes files in modification-time order. Files
    // written within one clock tick tie, and a tie can run a later batch
    // before the one its copies come from, so each batch file gets a
    // modification time one second after the one before.
    val t0 = System.currentTimeMillis() - batches * 1000L
    for (b <- 0 until batches) {
      val lines = mutable.ArrayBuffer.empty[String]
      val fresh = mutable.ArrayBuffer.empty[Array[String]]
      for (j <- 0 until perBatch) {
        val slot = j % 20
        val words =
          if (slot < 2 && earlier.nonEmpty) {
            exact += 1
            earlier(r.nextInt(earlier.size))
          } else if (slot == 2 && earlier.nonEmpty) {
            near += 1
            Iterator.continually {
              val w = earlier(r.nextInt(earlier.size)).clone()
              val at = r.nextInt(w.length)
              w(at) = Vocab((Vocab.indexOf(w(at)) + 1 + r.nextInt(
                Vocab.length - 1)) % Vocab.length)
              w
            }.find(w => distinct.add(w.mkString(" "))).get
          } else if (slot == 3) {
            degenerate += 1
            val w = Vocab(r.nextInt(Vocab.length))
            Array.fill(12 + r.nextInt(20))(w)
          } else {
            val w = Array.fill(60 + r.nextInt(40))(
              Vocab(r.nextInt(Vocab.length)))
            distinct += w.mkString(" ")
            fresh += w
            w
          }
        lines += "{\"doc_id\":" + id + ",\"text\":\"" + words.mkString(" ") +
          "\",\"lang\":\"en\",\"source\":\"src" + (id % 20) + "\"}"
        id += 1
      }
      earlier ++= fresh
      writeLines(dir, f"docs-$b%05d.json", lines.iterator)
      new File(dir, f"docs-$b%05d.json").setLastModified(t0 + b * 1000L)
    }
    CurationTruth(batches * perBatch, degenerate, exact, near)
  }
}
