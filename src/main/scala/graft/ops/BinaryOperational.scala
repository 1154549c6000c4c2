package graft.ops

import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** G16 — binary operational evaluation composite.
  *
  * Ref: `evaluate_binary_operational`, func_aux/func_test.py:272-510:
  * calibrate a threshold on the validation split at `fpr_target` (G15),
  * apply it to test scores, and derive the operational metric document:
  * TN/FP/FN/TP, FPR/TPR/TNR, precision/recall (1e-12 smoothing,
  * func_test.py:358-361), balanced accuracy, F1/F2/F0.5, normal and
  * Clopper–Pearson CIs on FPR, FP-per-hour conversions, plus TTD (G12).
  *
  * Distributed shape: ONE aggregation over the thresholded test scores
  * yields the four confusion cells AND the Clopper–Pearson Beta quantiles
  * (native graft_beta_inv expression, evaluated on executors); the
  * remaining scalar algebra runs on the driver over 6 fetched values.
  */
object BinaryOperational {

  /** Clopper–Pearson CI on a binomial proportion via Beta quantiles —
    * driver-side scalar form, kept as the cross-check for the distributed
    * column form below.
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

  /** Column form of [[clopperPearson]] via the native `graft_beta_inv`
    * expression — the bounds evaluate on executors, so a per-group CI
    * (one row per detector/tenant/day) needs no driver loop. Returns
    * (lower, upper) columns; edge cases mirror the scalar form:
    * `nNeg = 0 → NaN`, `fp = 0 → lower 0`, `fp = nNeg → upper 1`. */
  def clopperPearsonCols(fp: Column, nNeg: Column, alpha: Double = 0.05): (Column, Column) = {
    import graft.functions.VectorFunctions.betaInv
    val fpD = fp.cast("double")
    val nD = nNeg.cast("double")
    val lower = when(nNeg === 0, lit(Double.NaN))
      .when(fp === 0, lit(0.0))
      .otherwise(betaInv(lit(alpha / 2.0), fpD, nD - fpD + 1.0))
    val upper = when(nNeg === 0, lit(Double.NaN))
      .when(fp === nNeg, lit(1.0))
      .otherwise(betaInv(lit(1.0 - alpha / 2.0), fpD + 1.0, nD - fpD))
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
    * `val_` calibrates (G15), `test` is scored. Label columns are 0/1. */
  def evaluate(valDf: DataFrame, testDf: DataFrame, label: Column, score: Column,
      fprTarget: Double, hopSeconds: Double): OperationalMetrics = {
    val curve = Curves.dropIntermediate(Curves.rocCurve(valDf, label, score))
    val thrRow = Curves.thresholdAtFpr(curve, fprTarget).head()
    val thr = thrRow.getDouble(0)

    // One aggregation yields the confusion cells; the Clopper–Pearson Beta
    // quantiles ride the same plan via the native graft_beta_inv expression
    // (distributed — nothing numeric happens on the driver but the final
    // scalar algebra on 6 fetched values).
    val (cpLo, cpHi) = clopperPearsonCols(col("fp"), col("tn") + col("fp"))
    // An empty test frame sums to null: its cells count 0, and the rates
    // and CIs below take their nNeg = 0 branches (NaN).
    def cell(y: Int, p: Int, name: String) =
      coalesce(sum(when(col("y") === y && col("p") === p, 1).otherwise(0)), lit(0L)).as(name)
    val cells = testDf
      .select(label.cast("int").as("y"), (score >= thr).cast("int").as("p"))
      .agg(cell(0, 0, "tn"), cell(0, 1, "fp"), cell(1, 0, "fn"), cell(1, 1, "tp"))
      .select(col("tn"), col("fp"), col("fn"), col("tp"),
        cpLo.as("fpr_ci_cp_low"), cpHi.as("fpr_ci_cp_high"))
      .head()
    val (tn, fp, fn, tp) =
      (cells.getLong(0), cells.getLong(1), cells.getLong(2), cells.getLong(3))
    val (ciLowCp, ciHighCp) = (cells.getDouble(4), cells.getDouble(5))

    val nNeg = tn + fp
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
