package perfbench

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def tree(dir: File): Map[String, Seq[Byte]] =
    Option(dir.listFiles).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) tree(f).map { case (k, v) => s"${f.getName}/$k" -> v }
      else Seq(f.getName -> Files.readAllBytes(f.toPath).toSeq)
    }.toMap

  private def generate(seed: Long): (Map[String, Seq[Byte]], Gen.CampaignTruth,
      Gen.CurationTruth, Map[String, Long]) = {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    val campaign = Gen.wireBacklog(new File(dir, "wire"), seed, 5, 300)
    val curation = Gen.docStream(new File(dir, "docs"), seed, 3, 100)
    val queue = new Gen.QueueStream(seed)
    (0 until 3).foreach(i => queue.writeRound(new File(dir, "queue"), i, 200))
    (tree(dir), campaign, curation, queue.totals)
  }

  test("the same seed generates byte-identical inputs and truths") {
    val a = generate(7L)
    val b = generate(7L)
    assert(a._1.keySet == b._1.keySet && a._1.size == 11)
    a._1.keys.foreach(k => assert(a._1(k) == b._1(k), k))
    assert(a._2 == b._2 && a._3 == b._3 && a._4 == b._4)
    assert(generate(8L)._1 != a._1)
  }

  test("planted near-duplicates are new texts, even when two edits of one " +
      "document collide") {
    // seed 8007 drew the same one-word edit of one document twice
    val dir = Files.createTempDirectory("perfbench-docs").toFile
    val truth = Gen.docStream(dir, 8007L, 3, 150)
    val docs = Option(dir.listFiles).toSeq.flatten.sortBy(_.getName)
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
    val texts = docs.map(l => l.split("\"text\":\"")(1).takeWhile(_ != '"'))
    val ids = docs.indices
    val near = ids.filter(i => i >= 150 && i % 150 % 20 == 2).map(texts)
    assert(near.size == truth.nearDups && near.distinct.size == near.size)
    assert(near.forall(t => texts.count(_ == t) == 1))
  }

  test("curation batch files arrive in batch order") {
    val dir = Files.createTempDirectory("perfbench-order").toFile
    Gen.docStream(dir, 403L, 7, 20)
    val files = Option(dir.listFiles).toSeq.flatten.sortBy(_.getName)
    assert(files.size == 7)
    files.sliding(2).foreach { case Seq(a, b) =>
      assert(a.lastModified < b.lastModified, s"${a.getName} ${b.getName}")
    }
  }

  test("the generators plant what the checkers count") {
    val (_, campaign, curation, totals) = generate(7L)
    assert(campaign.events == 1500)
    assert(campaign.stored + campaign.deadLetters == campaign.events)
    assert(campaign.deadLetters > 0 && campaign.clicks.nonEmpty)
    assert(curation.docs == 300 && curation.degenerate > 0 &&
      curation.exactDups > 0 && curation.nearDups > 0)
    assert(totals.values.sum == 600)
  }

  test("the tail rule picks the highest percentile with 10 samples beyond") {
    def beyond(n: Int, p: Int) = n - math.ceil(p / 100.0 * n).toInt
    assert(Stats.tailPercentile(20) == 50)
    assert(Stats.tailPercentile(30) == 66)
    assert(Stats.tailPercentile(40) == 75)
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(1000) == 99)
    assert(Stats.tailPercentile(12) == 50) // too few: the median stands in
    for (n <- 20 to 500) {
      val p = Stats.tailPercentile(n)
      assert(beyond(n, p) >= 10, s"n=$n p=$p")
      assert(p == 99 || beyond(n, p + 1) < 10, s"n=$n p=$p")
    }
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(30.0, 75, 40))
  }

  test("the cycle shares split a sequence in order, near-equally") {
    for (size <- 0 to 30; n <- 1 to 5) {
      val xs = 0 until size
      val shares = (0 until n).map(c => Stats.share(xs, c, n))
      assert(shares.flatten == xs)
      assert(shares.map(_.size).max - shares.map(_.size).min <= 1)
    }
  }

  test("the level-total checker rejects a total off by one") {
    val truth = Map("INFO" -> 10L, "ERROR" -> 3L)
    assert(Stats.totalsOk(truth, truth))
    assert(!Stats.totalsOk(truth, truth.updated("ERROR", 4L)))
    assert(!Stats.totalsOk(truth, truth - "ERROR"))
  }

  test("the lookup checker rejects a missing row and a wrong order") {
    val rows = Seq(Gen.Click(30, "c"), Gen.Click(20, "b"), Gen.Click(20, "a"),
      Gen.Click(10, "d"))
    assert(Stats.lookupOk(rows.reverse, rows))
    assert(Stats.lookupOk(rows, Seq(rows(0), rows(2), rows(1), rows(3))))
    assert(!Stats.lookupOk(rows, rows.take(3)))
    assert(!Stats.lookupOk(rows, rows.reverse))
    assert(Stats.lookupOk(Nil, Nil) && !Stats.lookupOk(Nil, rows.take(1)))
  }

  test("the curation checker rejects a drop count off by one") {
    val truth = Gen.CurationTruth(docs = 100, degenerate = 5, exactDups = 10,
      nearDups = 5)
    assert(Stats.curationOk(truth, kept = 80, degenerateRejects = 5,
      allRejects = 10))
    assert(!Stats.curationOk(truth, kept = 81, degenerateRejects = 5,
      allRejects = 10))
    assert(!Stats.curationOk(truth, kept = 80, degenerateRejects = 4,
      allRejects = 10))
  }
}
