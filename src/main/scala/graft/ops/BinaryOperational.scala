package graft.ops

import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.sql.{Column, DataFrame}

/** G16 — binary operational evaluation composite.
  *
  * Ref: `evaluate_binary_operational`, func_aux/func_test.py:272-510:
  * calibrate a threshold on the validation split at `fpr_target` (G15),
  * apply it to test scores, and derive the operational metric document:
  * TN/FP/FN/TP, FPR/TPR/TNR, precision/recall (1e-12 smoothing,
  * func_test.py:358-361), balanced accuracy, F1/F2/F0.5, normal and
  * Clopper–Pearson CIs on FPR, FP-per-hour conversions, plus TTD (G12).
  *
  * Distributed shape: ONE collected aggregation over val ∪ test, grouped
  * by (split, score) ([[Curves.operationalCells]]), yields the val
  * threshold and the four test confusion cells; the Clopper–Pearson Beta
  * quantiles and the rest of the scalar algebra run on the driver.
  */
object BinaryOperational {

  /** Clopper–Pearson CI on a binomial proportion via Beta quantiles.
    * Ref: clopper_pearson_ci, func_aux/func_test.py:179-193 (scipy
    * beta.ppf ≡ commons-math3 inverseCumulativeProbability). */
  def clopperPearson(fp: Long, nNeg: Long, alpha: Double = 0.05): (Double, Double) = {
    if (nNeg == 0) return (Double.NaN, Double.NaN)
    val lower =
      if (fp == 0) 0.0
      else new BetaDistribution(fp.toDouble, (nNeg - fp + 1).toDouble)
        .inverseCumulativeProbability(alpha / 2.0)
    val upper =
      if (fp == nNeg) 1.0
      else new BetaDistribution((fp + 1).toDouble, (nNeg - fp).toDouble)
        .inverseCumulativeProbability(1 - alpha / 2.0)
    (lower, upper)
  }

  final case class OperationalMetrics(
      threshold: Double, tn: Long, fp: Long, fn: Long, tp: Long,
      fpr: Double, tpr: Double, tnr: Double,
      precision: Double, recall: Double, balancedAccuracy: Double,
      f1: Double, f2: Double, f05: Double,
      fprCiNormalLow: Double, fprCiNormalHigh: Double,
      fprCiCpLow: Double, fprCiCpHigh: Double,
      falsePositivesPerHour: Double, totalHoursTest: Double)

  /** Threshold `score >= thr → 1` and compute the operational document.
    * `val_` calibrates (G15), `test` is scored. Label columns are 0/1. A
    * one-class val split gives NaN rates on its curve (sklearn's answer):
    * with no negatives no point meets the FPR target and the threshold is
    * +inf. */
  def evaluate(valDf: DataFrame, testDf: DataFrame, label: Column, score: Column,
      fprTarget: Double, hopSeconds: Double): OperationalMetrics = {
    val (thr, tn, fp, fn, tp) =
      Curves.operationalCells(valDf, testDf, label, score, fprTarget)
    val nNeg = tn + fp
    val (ciLowCp, ciHighCp) = clopperPearson(fp, nNeg)
    val eps = 1e-12 // smoothing constants exactly as func_test.py:358-361
    val fpr = if (nNeg > 0) fp.toDouble / nNeg else Double.NaN
    val tprv = tp / (tp + fn + eps)
    val precision = tp / (tp + fp + eps)
    val tnr = if (nNeg > 0) tn / (tn + fp + eps) else Double.NaN
    val balAcc = if (!tnr.isNaN) 0.5 * (tprv + tnr) else Double.NaN
    def fbeta(b: Double): Double = {
      val b2 = b * b
      val denom = b2 * precision + tprv
      if (denom == 0) 0.0 else (1 + b2) * precision * tprv / denom
    }
    val z = 1.96
    val (ciLowN, ciHighN) =
      if (nNeg > 0) {
        val se = math.sqrt(fpr * (1 - fpr) / nNeg)
        (math.max(0.0, fpr - z * se), math.min(1.0, fpr + z * se))
      } else (Double.NaN, Double.NaN)
    val hoursBenign = nNeg * hopSeconds / 3600.0
    val fph = if (hoursBenign > 0) fp / hoursBenign else Double.NaN
    val totalHours = (tn + fp + fn + tp) * hopSeconds / 3600.0

    OperationalMetrics(thr, tn, fp, fn, tp, fpr, tprv, tnr, precision, tprv,
      balAcc, fbeta(1), fbeta(2), fbeta(0.5), ciLowN, ciHighN, ciLowCp,
      ciHighCp, fph, totalHours)
  }
}
