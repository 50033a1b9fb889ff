package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Levenshtein, Literal}
import org.apache.spark.sql.functions.{col, levenshtein}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** ScalaCheck parity of [[LevenshteinWithin]] with Spark's
  * `levenshtein(a, b, t)`: the same distance inside the band and -1
  * outside it, over code points (non-ASCII and characters outside the
  * BMP included), at thresholds right at the band's edges.
  */
object EditDistanceProps extends Properties("EditDistance") {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("EditDistanceProps")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(50)

  private val alphabet = Seq("a", "b", "c", " ", "é", "ß", "中", "😀")

  private def codePoints(s: String): Array[Int] = s.codePoints.toArray

  private val text: Gen[String] = Gen.choose(0, 24)
    .flatMap(n => Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))

  /** `s` after `k` random single-code-point inserts, deletes and
    * substitutions. */
  private def edited(s: String, k: Int): Gen[String] =
    if (k == 0) Gen.const(s)
    else for {
      op <- Gen.choose(0, 2)
      at <- Gen.choose(0, codePoints(s).length)
      c <- Gen.oneOf(alphabet)
      rest <- {
        val cps = codePoints(s).toSeq
          .map(cp => new String(Character.toChars(cp)))
        val (l, r) = cps.splitAt(at)
        val next = op match {
          case 0 => l ++ Seq(c) ++ r
          case 1 => l ++ r.drop(1)
          case _ => l ++ Seq(c) ++ r.drop(1)
        }
        edited(next.mkString, k - 1)
      }
    } yield rest

  private val pair: Gen[(String, String)] = Gen.oneOf(
    Gen.zip(text, text),
    for { a <- text; k <- Gen.choose(0, 6); b <- edited(a, k) } yield (a, b))

  /** Thresholds at the edges of the length-gap cut and of the band. */
  private def edges(a: String, b: String): Seq[Int] = {
    val d = UTF8String.fromString(a)
      .levenshteinDistance(UTF8String.fromString(b))
    val gap = math.abs(codePoints(a).length - codePoints(b).length)
    Seq(-1, 0, 1, gap - 1, gap, gap + 1, d - 1, d, d + 1, d + 7)
  }

  property("levenshtein_within == Spark's levenshtein(a, b, t) at the " +
      "band edges") = Prop.forAll(Gen.listOfN(20, pair)) { pairs =>
    Prop.all(pairs.flatMap { case (a, b) =>
      edges(a, b).map { t =>
        val (x, y) = (Literal(a), Literal(b))
        val want = Levenshtein(x, y, Some(Literal(t))).eval()
        val got = LevenshteinWithin(x, y, t).eval()
        (want == got) :| s"'$a' '$b' t=$t: spark $want, banded $got"
      }
    }: _*)
  }

  property("generated code agrees with Spark's levenshtein, NULLs " +
      "included") = Prop.forAll(Gen.listOfN(20, Gen.option(pair))) { rows =>
    import spark.implicits._
    val df = rows.map(_.fold[(String, String)]((null, "a"))(identity))
      .toDF("a", "b")
      .repartition(2) // keeps the projection off the local relation
    val ts = Seq(0, 1, 3, 8)
    val got = df.select(ts.flatMap(t => Seq(
        levenshtein(col("a"), col("b"), t),
        EditDistanceFunctions.levenshtein_within(col("a"), col("b"), t))): _*)
      .collect()
    got.forall(r => ts.indices.forall(i => r.get(2 * i) == r.get(2 * i + 1)))
  }
}
