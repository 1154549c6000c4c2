package graft.pipelines

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.model.WindowModel
import graft.ops.{MetricsOps, PermImportance}

/** Permutation feature importance with weighted log-loss — the host
  * importance pipeline (pipelines_host/pipeline_host_importance.py:226-407)
  * feeding TOP-K feature selection (W3,
  * pipeline_trainingmodels_host.py:57-97).
  *
  * For each feature j and repeat r: globally permute X[:,:,j] across all
  * windows/timesteps (seed = base + 1000·j + r), re-score, report the
  * increase in weighted log-loss vs baseline. All F·R trials are one plan:
  * [[PermImportance.permuteFeatures]] builds every permuted copy in one
  * pass, the unpermuted baseline joins them as one more copy, one
  * `model.transform` scores all F·R + 1 copies and one grouped
  * aggregation reduces them to F·R + 1 losses, which the driver turns
  * into drops, means and stds (SURVEY §2.9 R5).
  */
object HostImportance {

  private val Schema = StructType(Seq(
    StructField("feature_idx", IntegerType, nullable = false),
    StructField("mean_drop", DoubleType),
    StructField("std_drop", DoubleType, nullable = false)))

  /** @param windows (win_id long unique, window, y, weight) — weight from
    *                G5 class weights joined per row (J5)
    * @return (feature_idx, mean_drop, std_drop) sorted by mean_drop desc,
    *         then feature_idx — a local table (reading it runs no job) */
  def permutationImportance(windows: DataFrame, model: WindowModel,
      nFeatures: Int, nRepeats: Int = 3, baseSeed: Long = 42L,
      eps: Double = 1e-12): DataFrame = {
    val spark = windows.sparkSession
    val trials = for {
      j <- 0 until nFeatures
      r <- 0 until nRepeats
    } yield (j, baseSeed + 1000L * j + r)
    val rows = if (trials.isEmpty) Nil else {
      val losses = trialLosses(windows, model, trials, eps)
      def drop(trial: Int) = losses.getOrElse(trial, Double.NaN) - losses.getOrElse(-1, Double.NaN)
      (0 until nFeatures).map { j =>
        val drops = (0 until nRepeats).map(r => Some(drop(j * nRepeats + r)))
        val (mean, std) = MetricsOps.repeatStats(drops)
        Row(j, mean.get, std)
      }.sortWith { (a, b) =>
        val c = MetricsOps.compareDoubles(a.getDouble(1), b.getDouble(1))
        c > 0 || (c == 0 && a.getInt(0) < b.getInt(0))
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)
  }

  /** The weighted log-loss of every trial's permuted copy and (key -1) of
    * the unpermuted baseline, from one scoring pass and one grouped
    * aggregation; a copy without rows has no loss. */
  private def trialLosses(windows: DataFrame, model: WindowModel,
      trials: Seq[(Int, Long)], eps: Double): Map[Int, Double] = {
    // the baseline copy and the permutation pass both read the input:
    // cache it for the call unless the caller already has
    val ownCache = windows.storageLevel == StorageLevel.NONE
    if (ownCache) windows.cache()
    try {
      val copies = windows.withColumn("trial", lit(-1))
        .unionByName(PermImportance.permuteFeatures(windows, "win_id", "window", trials))
      val pTrue = element_at(col("proba"), col("y") + 1)
      MetricsOps.weightedLogLoss(model.transform(copies), pTrue, col("weight"), eps,
          Seq(col("trial")))
        .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
        .toMap
    } finally if (ownCache) windows.unpersist(blocking = false)
  }

  /** W3 — TOP-K selection from an importances table. */
  def topK(importances: DataFrame, k: Int): Seq[Int] =
    importances.orderBy(col("mean_drop").desc, col("feature_idx").asc)
      .limit(k).select("feature_idx").collect().map(_.getInt(0)).toSeq
}
