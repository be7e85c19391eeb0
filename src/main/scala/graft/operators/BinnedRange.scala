package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Equi-binned decomposition of range-predicate joins.
  *
  * Spark plans a pure non-equi join (`r.t BETWEEN l.t+lo AND l.t+hi`) as a
  * BroadcastNestedLoopJoin — quadratic work and a broadcast of one whole
  * side, the classic 100 TB killer. Binning restores an equi-join: pick a
  * bin width ≥ the window span, key the right side by its bin, explode the
  * left side to the (≤ 2) bins its window overlaps, hash-join on the bin
  * id, and re-check the exact range predicate on the survivors.
  *
  * Cost model: one linear shuffle of each side on the bin key; candidate
  * pairs = pairs sharing a bin ≈ N·M·(binWidth / timeSpan) — the join is
  * output-proportional for windows small against the data's time span,
  * instead of N·M. A hot bin (burst of events in one window) is an
  * ordinary skewed-join problem: AQE skew splitting or `util.Salted`
  * applies, because the join IS an equi-join now.
  *
  * The same trick with `on` keys prepended handles the per-entity variant
  * ("events near each other for the same user"), and composing two binned
  * joins on (start, end) handles interval overlap.
  */
object BinnedRange {

  /** Join left "anchor" rows to right "point" rows with
    * `right.rightT` in `[left.leftT + lo, left.leftT + hi]` (inclusive),
    * optionally also matching `on` equality keys. Time columns must be
    * integral (epoch seconds/millis); `lo`/`hi` may be negative.
    * Output: all left columns plus `payload` columns from right. */
  def pointsInWindow(
      left: DataFrame,
      right: DataFrame,
      leftT: String,
      rightT: String,
      lo: Long,
      hi: Long,
      payload: Seq[String],
      on: Seq[String] = Nil): DataFrame = {
    require(hi >= lo, s"empty window [$lo, $hi]")
    val binW = math.max(hi - lo, 1L)
    // pure-integer floor-division bins (double floor(x / b) is exact only
    // for |x| < 2^53 — epoch-nanos columns would bin wrong and silently
    // drop matches); (x - ((x % b + b) % b)) DIV b floors for negatives too.
    // sequence() is inclusive and spans at most 2 ids because binW >= span
    def floorDiv(x: String): String =
      s"((($x) - (((($x) % $binW) + $binW) % $binW)) DIV $binW)"
    val l2 = left.withColumn("__bin",
      explode(expr(
        s"sequence(${floorDiv(s"$leftT + $lo")}, ${floorDiv(s"$leftT + $hi")})")))
    val r2 = right
      .withColumn("__bin", expr(floorDiv(rightT)))
      .select(("__bin" +: on ++: (rightT +: payload).distinct).map(col): _*)

    l2.join(r2, on :+ "__bin")
      .filter(col(rightT) >= col(leftT) + lo && col(rightT) <= col(leftT) + hi)
      .drop("__bin")
  }
}
