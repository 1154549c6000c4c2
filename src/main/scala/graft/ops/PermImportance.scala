package graft.ops

import org.apache.spark.sql.DataFrame
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
  * Spark built-in (SURVEY §4.2). We explode windows to (cell_id, value)
  * for the target feature, assign each cell a random rank by ordering on
  * a deterministic hash-uniform, and join ranks-to-ranks — i.e. value at
  * permuted position k replaces value at position k. Both rank
  * assignments use [[SlidingWindows.withGlobalIndex]] (range-repartition
  * + partition offsets), so there is NO single-partition row_number
  * stage anywhere — every step is fully parallel. Cost: two range
  * exchanges + one shuffle join per (feature × repeat) — the reference's
  * own algorithmic cost, made explicit. Callers batch features per pass
  * when F is large.
  */
object PermImportance {

  /** Permute feature `featureIdx` of the `window` column across all rows
    * and timesteps. `winId` must be a unique long per row. Returns the
    * input with `window` rebuilt. */
  def permuteFeature(df: DataFrame, winId: String, window: String,
      featureIdx: Int, seed: Long): DataFrame = {
    // THREE consumers re-derive the input (both global-index passes read
    // the exploded cells; the reassembly join reads the windows again) —
    // and each withGlobalIndex call EAGERLY collects its partition
    // counts, so an unpinned input lineage (often a full sliding-window
    // op) re-executes per call. Pin both faces once (r13) — the input
    // only when the caller has not cached it already (a cached input is
    // read from its cache; a pinned copy would only duplicate it).
    val dfP =
      if (df.storageLevel != StorageLevel.NONE) df else df.localCheckpoint(false)
    val exploded = dfP.select(col(winId),
      posexplode(transform(col(window), r => element_at(r, featureIdx + 1)))
        .as(Seq("t", "v")))
      .localCheckpoint(false)
    val cells = SlidingWindows.withGlobalIndex(exploded,
      Seq(col(winId), col("t")), "cell_rank")
    // Random permutation: rank cells by a deterministic hash-uniform, then
    // carry the value from permuted rank k to the cell holding rank k.
    // (Same total order as a global row_number — ties broken by (id, t) —
    // but computed with the parallel global index.)
    val permuted = SlidingWindows.withGlobalIndex(
        exploded.withColumn("__u",
          Robustness.seededUniform(seed, col(winId), col("t"))),
        Seq(col("__u"), col(winId), col("t")), "cell_rank")
      .select(col("cell_rank"), col("v").as("v_perm"))
    val replaced = cells.drop("v").join(permuted, Seq("cell_rank"))
    // Re-assemble the permuted series per window, ordered by timestep.
    val series = replaced.groupBy(winId)
      .agg(map_from_entries(collect_list(struct(col("t"), col("v_perm")))).as("perm_map"))
    dfP.join(series, Seq(winId))
      .withColumn(window,
        transform(col(window), (row, i) =>
          transform(row, (x, j) =>
            when(j === lit(featureIdx), element_at(col("perm_map"), i)).otherwise(x))))
      .drop("perm_map")
  }
}
