package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classification-metric operators (SURVEY §2.5 G9, G11, G13, G5, G7).
  *
  * All metrics are derived relationally from a confusion matrix or a
  * per-row probability table — one `groupBy` over (#classes²) cells, then
  * scalar math. This is the sklearn-parity layer:
  * `compute_multiclass_metrics` (func_aux/func_test.py:61-171) with
  * `zero_division=0` ⇒ every ratio is `coalesce(x/y, 0)` when the
  * denominator can be 0.
  */
object MetricsOps {

  private def safeDiv(num: Column, den: Column): Column =
    coalesce(num / nullif(den, lit(0.0)), lit(0.0))

  /** G9 — dense confusion matrix over a fixed label universe.
    * Ref: pipeline_trainingmodels_power.py:200-211 (labels=range(n_classes)).
    * Missing (y_true, y_pred) pairs are zero-filled via a cross join of the
    * tiny label universe with itself (cells = k², never large). */
  def confusionMatrix(df: DataFrame, yTrue: String, yPred: String, labels: Seq[Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val universe = labels.toDF("y_true")
      .crossJoin(labels.toDF("y_pred"))
    val counts = df.groupBy(col(yTrue).cast("int").as("y_true"), col(yPred).cast("int").as("y_pred"))
      .agg(count(lit(1)).as("cnt"))
    universe.join(counts, Seq("y_true", "y_pred"), "left")
      .na.fill(0L, Seq("cnt"))
  }

  /** G13 — the multiclass metric suite of func_aux/func_test.py:61-171
    * (confusion-derivable part; the AUC part lives in [[Curves]]).
    * Input: per-row `(yTrue, yPred)` int columns. Output: ONE row.
    *
    * sklearn parity notes: `zero_division=0`; weighted averages weight by
    * true support; fbeta = (1+β²)·P·R / (β²·P + R). Balanced accuracy =
    * mean of per-class recall over classes present in y_true.
    */
  def multiclassMetrics(df: DataFrame, yTrue: String, yPred: String, labels: Seq[Int]): DataFrame =
    multiclassMetricsPerGroup(df.withColumn("__g", lit(1)), "__g", yTrue, yPred, labels)
      .drop("grp")

  /** G13, the reference's FULL dict (func_aux/func_test.py:61-171): from a
    * probability-matrix column. `y_pred = argmax(proba)` (first max wins,
    * numpy parity), the confusion-derived suite as above, PLUS the
    * probability-ranked fields `pr_auc_micro` / `pr_auc_macro` /
    * `roc_auc_macro`, all three from [[Curves.multiclassAucSuite]]'s ONE
    * shared pass over the exploded pairs (r12; the three singleton ops
    * cost a posexplode scan each). One row. */
  def multiclassMetrics(df: DataFrame, yTrue: String, proba: Column, labels: Seq[Int]): DataFrame = {
    val withPred = df.withColumn("__proba", proba)
      .withColumn("__y_pred",
        (array_position(col("__proba"), array_max(col("__proba"))) - 1).cast("int"))
    val base = multiclassMetrics(withPred, yTrue, "__y_pred", labels)
    base.crossJoin(
      Curves.multiclassAucSuite(withPred, col(yTrue), col("__proba")))
  }

  /** G13, grouped (F10 per-state slices,
    * pipeline_trainingmodels_power.py:235-311): the full multiclass suite
    * computed per value of `groupCol` in ONE pass — a groupBy over
    * (group, y_true, y_pred) cells instead of a driver loop over boolean
    * masks, so thousands of slices cost one shuffle.
    * [[multiclassMetrics]] is the constant-group case.
    *
    * sklearn parity notes: `zero_division=0` ⇒ every ratio is
    * coalesce(x/y, 0); macro averages run over ALL labels in the
    * universe; weighted averages weight by true support; balanced
    * accuracy averages recall over classes present in y_true;
    * fbeta = (1+β²)·P·R / (β²·P + R). */
  def multiclassMetricsPerGroup(df: DataFrame, groupCol: String,
      yTrue: String, yPred: String, labels: Seq[Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(col(groupCol).as("grp"),
        col(yTrue).cast("int").as("y_true"), col(yPred).cast("int").as("y_pred"))
      .agg(count(lit(1)).as("cnt"))
      // two consumers (the melt + the group universe); the lazy
      // checkpoint pins the collapse to ONE corpus scan
      .localCheckpoint(false)
    // Per-(grp, cls) TP/support/predicted in ONE pass over the cell
    // table (r12; was three separate re-aggregations of a dense cube,
    // each re-executing the corpus groupBy — 8 corpus scans in the
    // plan): every cell contributes its count to its TRUE class's
    // support (and tp when the prediction matches) and to its PREDICTED
    // class's predicted count — a 2-way explode of k² cells, then one
    // (grp, cls) sum.
    val contrib = counts
      // the dense-cube join also dropped cells with EITHER class outside
      // the label universe (sklearn labels= semantics) — keep that
      .where(col("y_true").isin(labels: _*) && col("y_pred").isin(labels: _*))
      .select(col("grp"), explode(array(
        struct(col("y_true").as("cls"), col("cnt").as("support"),
          when(col("y_true") === col("y_pred"), col("cnt")).otherwise(0L)
            .as("tp"), lit(0L).as("predicted")),
        struct(col("y_pred").as("cls"), lit(0L).as("support"),
          lit(0L).as("tp"), col("cnt").as("predicted")))).as("__c"))
      .select(col("grp"), col("__c.cls").as("cls"), col("__c.support"),
        col("__c.tp"), col("__c.predicted"))
      .groupBy("grp", "cls")
      .agg(sum("support").as("support"), sum("tp").as("tp"),
        sum("predicted").as("predicted"))
    // zero-fill the label universe per group; groups are derived from
    // the SAME cell aggregation (its exchange is reused at runtime)
    // instead of a second corpus-wide distinct. The key columns are
    // re-aliased so the left-join condition is explicit (universe and
    // contrib share the counts lineage).
    val universe = counts.select(col("grp").as("__gu")).distinct()
      .crossJoin(labels.toDF("__cu"))
    def fbeta(b: Double): Column = {
      val b2 = lit(b * b)
      safeDiv((lit(1.0) + b2) * col("precision") * col("recall"),
        b2 * col("precision") + col("recall"))
    }
    // plain equality (not <=>): the old USING join never matched a null
    // group either — a null grp keeps its zero-filled row
    val stats = universe.join(contrib,
        col("__gu") === col("grp") && col("__cu") === col("cls"), "left")
      .drop("grp", "cls")
      .withColumnRenamed("__gu", "grp").withColumnRenamed("__cu", "cls")
      .na.fill(0L, Seq("support", "tp", "predicted"))
      .withColumn("fn", col("support") - col("tp"))
      .withColumn("fp", col("predicted") - col("tp"))
      .withColumn("precision", safeDiv(col("tp"), col("tp") + col("fp")))
      .withColumn("recall", safeDiv(col("tp"), col("tp") + col("fn")))
      .withColumn("f1", fbeta(1.0))
      .withColumn("f2", fbeta(2.0))
      .withColumn("f0_5", fbeta(0.5))
    stats.groupBy("grp").agg(
      safeDiv(sum("tp"), sum("support")).as("accuracy"),
      avg(when(col("support") > 0, col("recall"))).as("balanced_accuracy"),
      avg("precision").as("precision_macro"),
      avg("recall").as("recall_macro"),
      avg("f1").as("f1_macro"),
      avg("f2").as("f2_macro"),
      avg("f0_5").as("f0_5_macro"),
      (sum(col("precision") * col("support")) / sum("support")).as("precision_weighted"),
      (sum(col("recall") * col("support")) / sum("support")).as("recall_weighted"),
      (sum(col("f1") * col("support")) / sum("support")).as("f1_weighted"))
  }

  /** G11 — weighted log-loss with probability clipping.
    * Ref: compute_weighted_logloss, pipelines_host/pipeline_host_importance.py:128-151:
    * `Σ w_i · (−log clip(p_true_i, ε, 1−ε)) / Σ w_i`, ε = 1e-12. */
  def weightedLogLoss(df: DataFrame, pTrue: Column, weight: Column, eps: Double = 1e-12): DataFrame = {
    val clipped = greatest(least(pTrue, lit(1.0 - eps)), lit(eps))
    df.agg((sum(-log(clipped) * weight) / sum(weight)).as("weighted_logloss"))
  }

  /** G5 — "balanced" class weights capped: w_c = min(n / (k · n_c), cap).
    * Ref: func_aux/func_models.py:55-62 (cap 10). Returns tiny (class, weight)
    * table meant to be broadcast back onto rows (J5). */
  def classWeights(df: DataFrame, yCol: String, cap: Double = 10.0): DataFrame = {
    val counts = df.groupBy(col(yCol).as("cls")).agg(count(lit(1)).as("n_c"))
    val totals = counts.agg(sum("n_c").as("n"), count(lit(1)).as("k"))
    counts.crossJoin(totals)
      .select(col("cls"),
        least(col("n") / (col("k") * col("n_c")), lit(cap)).as("weight"))
  }

  /** G7 — mean/std across repeated runs, nan-aware, std with ddof=1 (0.0
    * for a single run). Ref: aggregate_metric_list, func_aux/func_test.py:513-527.
    * Input: long-format `(keyCols…, metric, value)`. */
  def aggregateRuns(df: DataFrame, keyCols: Seq[String], value: String): DataFrame =
    df.where(!isnan(col(value)) && col(value).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(
        avg(value).as("mean"),
        coalesce(stddev_samp(col(value)), lit(0.0)).as("std"))
}
