package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** One-pass approximate ROC-AUC (SURVEY §2.11.4): a typed
  * `Aggregator[(label, score), histogram, auc]` binning scores into a
  * fixed grid, then trapezoid over the binned curve.
  *
  * vs [[Curves.rocAuc]] (exact, groupBy-distinct-scores + driver cumsum):
  * this needs NO shuffle of distinct scores — the buffer is 2·bins longs,
  * merged associatively, so the whole computation is one partial-agg
  * pass. Error is bounded by bin resolution (ties within a bin average
  * out); with 10k bins over calibrated [0,1] scores it is ≤ 1e-3 — use
  * it for monitoring at 100 TB, and the exact form when the number is
  * the deliverable.
  *
  * Scores are clamped into [lo, hi].
  */
final case class AucBuffer(pos: Array[Long], neg: Array[Long])

class BinnedAuc(bins: Int = 8192, lo: Double = 0.0, hi: Double = 1.0)
    extends Aggregator[(Int, Double), AucBuffer, Double] with Serializable {
  require(bins > 1 && hi > lo)

  override def zero: AucBuffer = AucBuffer(Array.fill(bins)(0L), Array.fill(bins)(0L))

  private def bin(score: Double): Int = {
    val x = (score - lo) / (hi - lo)
    math.min(bins - 1, math.max(0, (x * bins).toInt))
  }

  override def reduce(b: AucBuffer, a: (Int, Double)): AucBuffer = {
    val i = bin(a._2)
    if (a._1 == 1) b.pos(i) += 1 else b.neg(i) += 1
    b
  }

  override def merge(x: AucBuffer, y: AucBuffer): AucBuffer = {
    var i = 0
    while (i < bins) { x.pos(i) += y.pos(i); x.neg(i) += y.neg(i); i += 1 }
    x
  }

  override def finish(b: AucBuffer): Double = {
    val nPos = b.pos.sum.toDouble
    val nNeg = b.neg.sum.toDouble
    if (nPos == 0 || nNeg == 0) return Double.NaN
    // walk bins from high score to low = thresholds descending; within a
    // bin the curve segment is a straight line (trapezoid handles ties)
    var tps = 0L; var fps = 0L
    var prevTpr = 0.0; var prevFpr = 0.0
    var auc = 0.0
    var i = bins - 1
    while (i >= 0) {
      tps += b.pos(i); fps += b.neg(i)
      val tpr = tps / nPos; val fpr = fps / nNeg
      auc += (fpr - prevFpr) * (tpr + prevTpr) / 2.0
      prevTpr = tpr; prevFpr = fpr
      i -= 1
    }
    auc
  }

  override def bufferEncoder: Encoder[AucBuffer] = Encoders.product[AucBuffer]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
