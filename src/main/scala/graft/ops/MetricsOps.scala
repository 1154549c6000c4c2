package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Classification-metric operators (SURVEY §2.5 G9, G11, G13, G5, G7).
  *
  * G9, G13 and F10 rest on one count table and one algebra:
  *  - **The cell table.** One distributed aggregation counts the rows of
  *    every (group, y_true, y_pred) cell — at most groups × k² rows, so it
  *    is collected to the driver ([[LocalRegime.collectBounded]]). Past
  *    `MaxCells` cells the call fails by name instead of pulling an
  *    unbounded table onto the driver.
  *  - **The algebra** ([[cellMetrics]]) is the sklearn-parity layer of
  *    `compute_multiclass_metrics` (func_aux/func_test.py:61-171) with
  *    `zero_division=0`: every ratio whose denominator can be 0 is 0
  *    there. It runs on the driver over the cells, so [[confusionMatrix]],
  *    [[multiclassMetrics]] and [[multiclassMetricsPerGroup]] are the same
  *    arithmetic and their tables are local relations (reading them runs
  *    no job). Pipeline 1 feeds its timed scoring pass straight into it.
  */
object MetricsOps {

  /** One cell of a count table: `n` rows of group `group` whose true class
    * is `yTrue` and predicted class `yPred` (`None`: the row's was null). */
  final case class Cell(group: Any, yTrue: Option[Int], yPred: Option[Int], n: Long)

  /** The G13 suite of one group. `None` where there is no value: balanced
    * accuracy with no class present in y_true, weighted averages with no
    * support (the zero-support group is all zeros otherwise). */
  final case class Suite(accuracy: Double, balancedAccuracy: Option[Double],
      precisionMacro: Double, recallMacro: Double, f1Macro: Double,
      f2Macro: Double, f05Macro: Double, precisionWeighted: Option[Double],
      recallWeighted: Option[Double], f1Weighted: Option[Double]) {
    /** The suite as a row of [[SuiteSchema]] (`None` → null). */
    def toRow: Row = Row.fromSeq(productIterator.map {
      case o: Option[_] => o.getOrElse(null)
      case v => v
    }.toSeq)
  }

  /** The columns of a [[Suite]], in the order every multiclass table has. */
  val SuiteSchema: StructType = StructType(
    StructField("accuracy", DoubleType, nullable = false) +:
      Seq("balanced_accuracy", "precision_macro", "recall_macro", "f1_macro",
        "f2_macro", "f0_5_macro", "precision_weighted", "recall_weighted",
        "f1_weighted").map(StructField(_, DoubleType)))

  /** One group of a count table under the algebra: `confusion(i)(j)` counts
    * its rows with true class `labels(i)` and predicted class `labels(j)`. */
  final case class GroupMetrics(group: Any, confusion: IndexedSeq[IndexedSeq[Long]], suite: Suite)

  /** The most cells a count table may have before the driver collect is
    * refused: 2^18 rows of (group, y_true, y_pred, n) — e.g. 10,000 groups
    * at k = 5, or one group at k = 512. */
  private val MaxCells = 1 << 18

  /** G9/G13/F10 algebra — the one implementation behind every multiclass
    * table, over a collected count table:
    *  - **Label universe** (sklearn `labels=`): a cell whose y_true or
    *    y_pred is null or outside `labels` counts toward no class, but its
    *    group still gets a row. A null group's cells count toward no class
    *    either (no group key ever matched null), so it gets the all-zero
    *    row. Macro averages run over all of `labels`.
    *  - **zero_division=0**: per class, precision = tp / predicted, recall
    *    = tp / support, f_β = (1+β²)·P·R / (β²·P + R), each 0 when its
    *    denominator is; accuracy = Σtp / Σsupport, 0 with no support.
    *    Balanced accuracy is the mean recall over classes present in
    *    y_true; weighted averages weight by support.
    *  - **Summation order**: every double sum runs over the classes in
    *    `labels` order, left to right from 0.0, and a mean divides that
    *    sum by its term count. Sums of two terms (k = 2) are
    *    order-free, so they equal any summation order bit for bit.
    * Groups come back in the order of their first cell; an empty table
    * or an empty `labels` has no groups. */
  def cellMetrics(cells: Seq[Cell], labels: Seq[Int]): Seq[GroupMetrics] = {
    if (labels.isEmpty) return Nil
    val k = labels.length
    val index = labels.zipWithIndex.toMap
    groupOn(cells)(_.group).map { case (g, cs) =>
      val m = Array.fill(k, k)(0L)
      if (g != null) for {
        c <- cs
        i <- c.yTrue.flatMap(index.get)
        j <- c.yPred.flatMap(index.get)
      } m(i)(j) += c.n
      GroupMetrics(g, m.map(_.toIndexedSeq).toIndexedSeq, suiteOf(m))
    }
  }

  /** `items` grouped by `key` in first-seen order, keys compared as Spark
    * groups them: by equals (one NaN group), binary by content. */
  private[graft] def groupOn[T](items: Seq[T])(key: T => Any): Seq[(Any, Seq[T])] = {
    val groups = new java.util.LinkedHashMap[Any, (Any, ArrayBuffer[T])]
    items.foreach { x =>
      val k = key(x)
      val norm = k match {
        case bytes: Array[Byte] => java.nio.ByteBuffer.wrap(bytes)
        case o => o
      }
      groups.computeIfAbsent(norm, _ => (k, ArrayBuffer.empty[T]))._2 += x
    }
    groups.values.asScala.toSeq.map { case (k, xs) => (k, xs.toSeq) }
  }

  private def ratio(num: Double, den: Double): Double = if (den == 0.0) 0.0 else num / den

  private def suiteOf(m: Array[Array[Long]]): Suite = {
    val k = m.length
    val tp = Array.tabulate(k)(i => m(i)(i))
    val support = m.map(_.sum)
    val predicted = Array.tabulate(k)(j => m.map(_(j)).sum)
    val precision = Array.tabulate(k)(c => ratio(tp(c).toDouble, predicted(c).toDouble))
    val recall = Array.tabulate(k)(c => ratio(tp(c).toDouble, support(c).toDouble))
    def fbeta(b: Double) = Array.tabulate(k) { c =>
      val b2 = b * b
      ratio((1.0 + b2) * precision(c) * recall(c), b2 * precision(c) + recall(c))
    }
    val (f1, f2, f05) = (fbeta(1.0), fbeta(2.0), fbeta(0.5))
    val totalSupport = support.sum
    def mean(xs: Seq[Double]): Option[Double] =
      if (xs.isEmpty) None else Some(xs.foldLeft(0.0)(_ + _) / xs.length)
    def macroAvg(xs: Array[Double]): Double = mean(xs.toSeq).get
    def weighted(xs: Array[Double]): Option[Double] =
      if (totalSupport == 0L) None
      else Some((0 until k).foldLeft(0.0)((s, c) => s + xs(c) * support(c)) / totalSupport)
    Suite(
      accuracy = ratio(tp.sum.toDouble, totalSupport.toDouble),
      balancedAccuracy = mean((0 until k).filter(support(_) > 0).map(recall)),
      precisionMacro = macroAvg(precision), recallMacro = macroAvg(recall),
      f1Macro = macroAvg(f1), f2Macro = macroAvg(f2), f05Macro = macroAvg(f05),
      precisionWeighted = weighted(precision), recallWeighted = weighted(recall),
      f1Weighted = weighted(f1))
  }

  /** The count table of `df` — one distributed aggregation over
    * (group, y_true as int, y_pred as int) — collected to the driver.
    * `reads` are aggregated alongside the counts and dropped, so a timed
    * pass over `df` computes them too (Pipeline 1 forces its `proba`
    * column this way). Fails by name past `MaxCells` cells. */
  private[graft] def collectCells(df: DataFrame, group: Column, yTrue: Column,
      yPred: Column, reads: Seq[Column] = Nil): Seq[Cell] = {
    val counts = df.groupBy(group.as("grp"), yTrue.cast("int").as("y_true"),
        yPred.cast("int").as("y_pred"))
      .agg(count(lit(1)).as("cnt"), reads.zipWithIndex.map { case (c, i) =>
        sum(c).as(s"__read$i") }: _*)
    val rows = LocalRegime.collectBounded(counts, MaxCells).getOrElse(
      throw new IllegalArgumentException(s"metric count table has more than " +
        s"$MaxCells (group, y_true, y_pred) cells: too many groups or classes " +
        "to collect to the driver"))
    def cls(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(r.getInt(i))
    rows.toSeq.map(r => Cell(r.get(0), cls(r, 1), cls(r, 2), r.getLong(3)))
  }

  /** G9, G13 and F10 of one count table as local tables: the dense
    * confusion matrix and the multiclass suite over all cells, and the
    * suite per group (`groupType`: the group column's type). */
  final case class Tables(confusion: DataFrame, multiclass: DataFrame, perGroup: DataFrame)

  private[graft] def tables(spark: SparkSession, cells: Seq[Cell], groupType: DataType,
      labels: Seq[Int]): Tables = {
    def local(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val all = cellMetrics(cells.map(_.copy(group = 0)), labels).headOption
    val confusion = all.map(_.confusion)
      .getOrElse(IndexedSeq.fill(labels.length, labels.length)(0L))
    Tables(
      confusion = local(
        for ((t, i) <- labels.zipWithIndex; (p, j) <- labels.zipWithIndex)
          yield Row(t, p, confusion(i)(j)),
        StructType(Seq(StructField("y_true", IntegerType, nullable = false),
          StructField("y_pred", IntegerType, nullable = false),
          StructField("cnt", LongType, nullable = false)))),
      multiclass = local(all.map(_.suite.toRow).toSeq, SuiteSchema),
      perGroup = local(
        cellMetrics(cells, labels).map(g => Row.fromSeq(g.group +: g.suite.toRow.toSeq)),
        StructType(StructField("grp", groupType) +: SuiteSchema.fields)))
  }

  /** G9 — dense confusion matrix over a fixed label universe, one row per
    * (y_true, y_pred) pair of `labels` (k² rows, zero-filled).
    * Ref: pipeline_trainingmodels_power.py:200-211 (labels=range(n_classes)). */
  def confusionMatrix(df: DataFrame, yTrue: String, yPred: String, labels: Seq[Int]): DataFrame =
    tables(df.sparkSession, collectCells(df, lit(0), col(yTrue), col(yPred)), IntegerType,
      labels).confusion

  /** G13 — the multiclass metric suite of func_aux/func_test.py:61-171
    * (confusion-derivable part; the AUC part lives in [[Curves]]).
    * Input: per-row `(yTrue, yPred)` int columns. Output: ONE row ([[SuiteSchema]]),
    * none on an empty input. */
  def multiclassMetrics(df: DataFrame, yTrue: String, yPred: String, labels: Seq[Int]): DataFrame =
    tables(df.sparkSession, collectCells(df, lit(0), col(yTrue), col(yPred)), IntegerType,
      labels).multiclass

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
    * pipeline_trainingmodels_power.py:235-311): the suite per value of
    * `groupCol` from ONE count aggregation — a groupBy over (group,
    * y_true, y_pred) cells instead of a driver loop over boolean masks.
    * Output: `grp` (the group column's type) + [[SuiteSchema]], one row
    * per group; [[multiclassMetrics]] is the constant-group case. */
  def multiclassMetricsPerGroup(df: DataFrame, groupCol: String,
      yTrue: String, yPred: String, labels: Seq[Int]): DataFrame =
    tables(df.sparkSession, collectCells(df, col(groupCol), col(yTrue), col(yPred)),
      df.select(col(groupCol)).schema.head.dataType, labels).perGroup

  /** G11 — weighted log-loss with probability clipping.
    * Ref: compute_weighted_logloss, pipelines_host/pipeline_host_importance.py:128-151:
    * `Σ w_i · (−log clip(p_true_i, ε, 1−ε)) / Σ w_i`, ε = 1e-12. With
    * `groupCols`, one row per group: the group columns, then the loss. */
  def weightedLogLoss(df: DataFrame, pTrue: Column, weight: Column, eps: Double = 1e-12,
      groupCols: Seq[Column] = Nil): DataFrame = {
    val clipped = greatest(least(pTrue, lit(1.0 - eps)), lit(eps))
    df.groupBy(groupCols: _*)
      .agg((sum(-log(clipped) * weight) / sum(weight)).as("weighted_logloss"))
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
    * Input: long-format `(keyCols…, metric, value)`. The two G7 reducers
    * differ on NaN: this one drops NaN runs (the reference's nan-aware
    * list aggregation, for metric tables); [[repeatStats]] keeps them. */
  def aggregateRuns(df: DataFrame, keyCols: Seq[String], value: String): DataFrame =
    df.where(!isnan(col(value)) && col(value).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(
        avg(value).as("mean"),
        coalesce(stddev_samp(col(value)), lit(0.0)).as("std"))

  /** G7 on the driver, over the repeats of one configuration (pipeline 3's
    * robustness, leave-one-attack-out and permutation importance). The
    * semantics are those of Spark's `avg` and `coalesce(stddev_samp, 0.0)`,
    * equal up to rounding: nulls (None) are skipped; the mean of the rest
    * (None without any), their sample std (ddof 1), 0.0 with fewer than
    * two. Unlike [[aggregateRuns]], NaN is kept: it makes the mean NaN,
    * and the std from two repeats on. */
  private[graft] def repeatStats(xs: Seq[Option[Double]]): (Option[Double], Double) = {
    val vs = xs.flatten
    if (vs.isEmpty) (None, 0.0)
    else {
      val mean = vs.sum / vs.size
      val std = if (vs.size < 2) 0.0
        else math.sqrt(vs.map(v => (v - mean) * (v - mean)).sum / (vs.size - 1))
      (Some(mean), std)
    }
  }

  /** Spark's double order, in which the driver sorts [[repeatStats]]
    * tables: NaN above every number, −0.0 equal to 0.0. */
  private[graft] def compareDoubles(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
}
