package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** R5 — permutation feature importance over window tensors.
  *
  * Ref: `permutation_importance_windows`,
  * pipelines_host/pipeline_host_importance.py:154-221: for feature j,
  * globally permute ALL N·T values of X[:,:,j] (flattened across windows
  * and timesteps), re-score, and report the increase in weighted log-loss
  * (G11) vs the baseline; repeat `nRepeats` times with derived seeds; sort
  * by mean drop descending.
  *
  * Distributed permutation: "shuffle one column independently" has no
  * Spark built-in (SURVEY §4.2). A trial (feature, seed) ranks the cells
  * (window, t) in (winId, t) order and, separately, ranks the feature's
  * values by a deterministic hash-uniform; the value of permuted rank k
  * replaces the value of the cell of rank k. Every trial is one segment
  * of ONE [[SlidingWindows.withGlobalIndex]] pass (range exchange +
  * partition offsets, no single-partition row_number stage): the cells
  * are one more segment whose uniform is the constant 0, so the same
  * order (u, winId, t) ranks them in (winId, t) order. Then one window
  * over the rank hands each trial's value of rank k the (winId, t) of
  * the cell of rank k, one regroup by (trial, winId) rebuilds each
  * copy's series and one join puts them back into the windows. Every
  * step works on one row per (trial, cell) or per (trial, window), so
  * the cost grows linearly with the number of trials F·R; the range
  * exchange is sized by it (no sort partition holds more than about one
  * trial's cells per shuffle partition).
  */
object PermImportance {

  /** Permute feature `featureIdx` of the `window` column across all rows
    * and timesteps — the one-trial face of [[permuteFeatures]]. `winId`
    * must be a unique long per row. Returns the input with `window`
    * rebuilt, `winId` first. */
  def permuteFeature(df: DataFrame, winId: String, window: String,
      featureIdx: Int, seed: Long): DataFrame =
    permuteFeatures(df, winId, window, Seq(featureIdx -> seed)).drop("trial")

  /** One copy of `df` per trial `(featureIdx, seed)`, tagged with the
    * trial's position in `trials` as the int column `trial`: in copy k,
    * feature `trials(k)._1` of `window` is permuted across all rows and
    * timesteps under seed `trials(k)._2` — each copy equals what
    * [[permuteFeature]] returns for that trial. `winId` must be a unique
    * long per row, and `df` must not carry columns named `trial`, `feat`
    * or `perm_map`; rows whose window has no cells are dropped. */
  def permuteFeatures(df: DataFrame, winId: String, window: String,
      trials: Seq[(Int, Long)]): DataFrame = {
    require(trials.nonEmpty, "at least one trial")
    // The exchange's two jobs read the cells and the final join reads the
    // windows, and withGlobalIndex collects its partition counts eagerly —
    // an unpinned input lineage (often a full sliding-window op) would
    // re-execute per read. Pin it once, unless the caller has cached it
    // (a cached input is read from its cache; a pin would duplicate it).
    val dfP =
      if (df.storageLevel != StorageLevel.NONE) df else df.localCheckpoint(false)
    val spark = df.sparkSession
    // segment -1: the cells, uniform 0; segment k: trial k's values
    val segments = (-1, -1, 0L) +: trials.zipWithIndex.map { case ((f, s), k) => (k, f, s) }
    val isCell = col("trial") === -1
    val tagged = dfP.select(col(winId), posexplode(col(window)).as(Seq("t", "row")))
      .select(col(winId), col("t"), col("row"), inline(array(segments.map { case (k, f, s) =>
        struct(lit(k).as("trial"), lit(f).as("feat"), lit(s).as("seed"))
      }: _*)))
      .select(col("trial"), col("feat"), col(winId), col("t"),
        when(isCell, lit(0.0))
          .otherwise(Robustness.seededUniformC(col("seed"), col(winId), col("t"))).as("__u"),
        when(!isCell, element_at(col("row"), col("feat") + 1)).as("v"))
    val ranked = SlidingWindows.withGlobalIndex(tagged,
      Seq(col("__u"), col(winId), col("t")), "cell_rank",
      numPartitions = segments.size * spark.sessionState.conf.numShufflePartitions,
      partitionCols = Seq("trial"))
    // rank k: every trial's value of rank k moves to the cell of rank k,
    // then each (trial, window) gathers its series t → permuted value
    val cellOf = Window.partitionBy("cell_rank")
    val series = ranked
      .select(col("trial"), col("feat"), col("v"),
        max(when(isCell, col(winId))).over(cellOf).as(winId),
        max(when(isCell, col("t"))).over(cellOf).as("t"))
      .where(!isCell)
      .groupBy("trial", "feat", winId)
      .agg(map_from_entries(collect_list(struct(col("t"), col("v")))).as("perm_map"))
    dfP.join(series, Seq(winId))
      .withColumn(window,
        transform(col(window), (row, i) =>
          transform(row, (x, j) =>
            when(j === col("feat"), element_at(col("perm_map"), i)).otherwise(x))))
      .drop("perm_map", "feat")
  }
}
