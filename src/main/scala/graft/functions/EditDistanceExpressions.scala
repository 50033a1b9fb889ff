package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `levenshtein_within(a, b, k)`: the Levenshtein distance of two
  * strings over code points when it is at most `k`, else -1 — the
  * contract of Spark's `levenshtein(a, b, k)`, at O(k x len) per pair.
  *
  * Spark's threshold variant still costs O(n x m) in practice:
  * measured on strings of one repeated character with sparse edits,
  * each doubling of the length cost it 3-4x (5,000 chars 148 ms,
  * 20,000 chars 1,698 ms per pair). This is Ukkonen's
  * banded DP over both strings decoded to code points once: only the
  * cells within `k` of the diagonal are computed, and the scan stops as
  * soon as a whole band row exceeds `k`. NULL in, NULL out.
  *
  * Parity with Spark's `levenshtein(a, b, k)`, non-ASCII text and
  * lengths at the band edge included, is pinned by EditDistanceProps.
  */
case class LevenshteinWithin(left: Expression, right: Expression,
    threshold: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType).find(!_.isInstanceOf[StringType])
      .fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(t =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects strings, got ${t.catalogString}"))

  override def dataType: DataType = IntegerType

  /** Public for the generated-code call-through. */
  def distance(a: UTF8String, b: UTF8String): Int =
    LevenshteinWithin.distance(a.toString.codePoints.toArray,
      b.toString.codePoints.toArray, threshold)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    distance(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("levenshteinWithin", this,
      classOf[LevenshteinWithin].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.distance($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "levenshtein_within"
}

object LevenshteinWithin {

  /** Distance of code point arrays `x` and `y` if at most `k`, else -1. */
  def distance(x: Array[Int], y: Array[Int], k: Int): Int = {
    // rows run over the longer string, the band over the shorter
    val (s, t) = if (x.length <= y.length) (x, y) else (y, x)
    val n = s.length
    val m = t.length
    if (k < 0 || m - n > k) return -1
    if (n == 0) return m
    val band = math.min(k, m) // no distance exceeds m
    val inf = band + 1
    var prev = Array.tabulate(n + 1)(i => if (i <= band) i else inf)
    var cur = new Array[Int](n + 1)
    var j = 1
    while (j <= m) {
      val lo = math.max(1, j - band)
      val hi = math.min(n, j + band)
      // the cells either side of the band read as out of reach
      cur(lo - 1) = if (lo == 1 && j <= band) j else inf
      if (hi < n) cur(hi + 1) = inf
      var best = cur(lo - 1)
      val tj = t(j - 1)
      var i = lo
      while (i <= hi) {
        val v =
          if (s(i - 1) == tj) prev(i - 1)
          else 1 + math.min(math.min(cur(i - 1), prev(i)), prev(i - 1))
        cur(i) = math.min(v, inf)
        if (cur(i) < best) best = cur(i)
        i += 1
      }
      if (best > band) return -1
      val swap = prev
      prev = cur
      cur = swap
      j += 1
    }
    if (prev(n) <= band) prev(n) else -1
  }
}

/** Column-API entry point. */
object EditDistanceFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Levenshtein distance of `a` and `b` when at most `k`, else -1. */
  def levenshtein_within(a: Column, b: Column, k: Int): Column =
    ColumnBridge.column(LevenshteinWithin(ColumnBridge.expression(a),
      ColumnBridge.expression(b), k))
}
