package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** G14/G15 — ROC / PR curves, AUC, average precision, threshold selection
  * (SURVEY §2.5), replacing the reference's sklearn calls
  * (`roc_curve` / `precision_recall_curve` / `roc_auc_score` /
  * `average_precision_score`, func_aux/func_test.py:257,306,339,430-448).
  *
  * One curve algebra behind every op:
  *  - **The collapse** ([[collapse]]) is the only pass over the data: one
  *    map-side-combined aggregation over (keys…, threshold = score as
  *    double) that counts pos = Σy and neg = Σ(1−y), y the label as int.
  *    Its D points are collected to the driver
  *    ([[LocalRegime.collectBounded]]). D is bounded by the score
  *    resolution, not the data; past `MaxPoints` points the op fails by
  *    name, and the caller rounds its score first.
  *  - **The driver pass** walks each key's points in descending threshold
  *    order, NaN first and nulls last (Spark's `desc` order): cumulative
  *    tps/fps, fpr = fps / max fps and tpr = tps / max tps, the trapezoid
  *    AUC and AP summed left to right from 0.0, sklearn's
  *    `drop_intermediate` thinning and the threshold at a target FPR.
  *    With no negatives fpr is NaN, with no positives tpr is NaN (sklearn
  *    `roc_curve`'s answer). Class means run in class order. Every face
  *    returns a local table: reading it runs no job.
  *
  * Curve convention: one point per distinct threshold, thresholds strictly
  * descending, cumulative tps/fps INCLUSIVE of the threshold (score >= thr
  * predicted positive — sklearn's convention), with the (fpr=0, tpr=0,
  * thr=+inf) virtual start point. [[rocCurve]] emits the FULL point set
  * (what `roc_auc_score` integrates); [[dropIntermediate]] reproduces
  * sklearn `roc_curve`'s default point thinning for the selection paths
  * that consume `roc_curve` output (G15 threshold-at-FPR).
  */
object Curves {

  /** The most (keys…, threshold) points an op collects to the driver.
    * g14's scored events (scores rounded to 4 dp) have under 10^4. */
  private val MaxPoints = 1 << 20

  /** One collapsed point: the rows of `key` whose score is `threshold`
    * (None: null), pos = Σy and neg = Σ(1−y) (None where every label is
    * null, as Spark's sum of nulls). */
  private final case class Point(key: Seq[Any], threshold: Option[Double],
      pos: Option[Long], neg: Option[Long])

  /** The collapse's distributed plan: columns (key0…, threshold, pos, neg). */
  private[graft] def collapse(df: DataFrame, keys: Seq[Column], label: Column,
      score: Column): DataFrame = {
    val names = keys.indices.map(i => s"key$i")
    df.select(keys.zip(names).map { case (k, n) => k.as(n) } ++
        Seq(score.cast("double").as("threshold"), label.cast("int").as("y")): _*)
      .groupBy((names :+ "threshold").map(col): _*)
      .agg(sum(col("y")).as("pos"), sum(lit(1) - col("y")).as("neg"))
  }

  /** [[collapse]] collected to the driver; fails by name past `MaxPoints`. */
  private def points(op: String, df: DataFrame, keys: Seq[Column], label: Column,
      score: Column): Seq[Point] = {
    val rows = LocalRegime.collectBounded(collapse(df, keys, label, score), MaxPoints)
      .getOrElse(throw new IllegalArgumentException(s"Curves.$op: more than " +
        s"$MaxPoints distinct (key, score) points to collect to the driver; " +
        "round the score first (e.g. round(score, 4))"))
    val k = keys.length
    def opt[T](r: Row, i: Int, get: Int => T) = if (r.isNullAt(i)) None else Some(get(i))
    rows.toSeq.map(r => Point(Seq.tabulate(k)(r.get), opt(r, k, r.getDouble),
      opt(r, k + 1, r.getLong), opt(r, k + 2, r.getLong)))
  }

  /** Spark's `desc` order on a nullable double: NaN first, null last. */
  private def descNullsLast(a: Option[Double], b: Option[Double]): Int = (a, b) match {
    case (Some(x), Some(y)) => MetricsOps.compareDoubles(y, x)
    case (None, None) => 0
    case (None, _) => 1
    case _ => -1
  }

  /** a / b, NaN for a zero b — the ratio of an empty class. */
  private def ratio(a: Double, b: Double): Double = if (b == 0.0) Double.NaN else a / b

  /** Spark's `sum`: the non-null terms added left to right from 0, None
    * without any. */
  private def total[T](terms: Iterable[Option[T]])(implicit num: Numeric[T]): Option[T] =
    terms.foldLeft(Option.empty[T])((acc, t) => t.map(num.plus(acc.getOrElse(num.zero), _)).orElse(acc))

  /** Spark's `avg`: the non-null terms summed in order over their count. */
  private def mean(terms: Seq[Option[Double]]): Option[Double] = {
    val xs = terms.flatten
    if (xs.isEmpty) None else Some(xs.foldLeft(0.0)(_ + _) / xs.length)
  }

  /** One key's curve: its points in descending threshold order. */
  private final case class Curve(threshold: IndexedSeq[Option[Double]],
      tps: IndexedSeq[Option[Long]], fps: IndexedSeq[Option[Long]],
      fpr: IndexedSeq[Option[Double]], tpr: IndexedSeq[Option[Double]]) {

    /** The previous point's value, 0.0 at the start or where it is null. */
    private def prev(xs: IndexedSeq[Option[Double]], i: Int) =
      if (i == 0) 0.0 else xs(i - 1).getOrElse(0.0)

    /** Trapezoid ROC-AUC: Σ (fpr_i − fpr_{i−1}) · (tpr_i + tpr_{i−1}) / 2. */
    def auc: Option[Double] = total(fpr.indices.map(i =>
      for (f <- fpr(i); t <- tpr(i)) yield (f - prev(fpr, i)) * (t + prev(tpr, i)) / 2))

    /** sklearn AP: Σ (R_i − R_{i−1}) · P_i, P = tps / (tps + fps). */
    def ap: Option[Double] = total(tpr.indices.map(i =>
      for (r <- tpr(i); t <- tps(i); f <- fps(i))
        yield (r - prev(tpr, i)) * ratio(t.toDouble, (t + f).toDouble)))
  }

  private def curveOf(pts: Seq[Point]): Curve = {
    val sorted = pts.sortWith((a, b) => descNullsLast(a.threshold, b.threshold) < 0)
    def running(xs: Seq[Option[Long]]) = xs.scanLeft(Option.empty[Long])(
      (acc, x) => x.map(acc.getOrElse(0L) + _).orElse(acc)).tail.toIndexedSeq
    def rate(xs: IndexedSeq[Option[Long]]) = {
      val top = xs.flatten.maxOption
      xs.map(x => for (v <- x; t <- top) yield ratio(v.toDouble, t.toDouble))
    }
    val tps = running(sorted.map(_.pos))
    val fps = running(sorted.map(_.neg))
    Curve(sorted.map(_.threshold).toIndexedSeq, tps, fps, rate(fps), rate(tps))
  }

  /** sklearn `drop_intermediate`: the indices of the points kept — the
    * endpoints and every point where fps or tps bends (its step in differs
    * from its step out). A null fps step keeps its point. */
  private def thinned(fps: IndexedSeq[Option[Long]], tps: IndexedSeq[Option[Long]]): IndexedSeq[Int] = {
    def step(xs: IndexedSeq[Option[Long]], i: Int, j: Int) =
      if (i < 0 || j >= xs.length) None else for (a <- xs(i); b <- xs(j)) yield b - a
    def bends(xs: IndexedSeq[Option[Long]], i: Int) = (step(xs, i - 1, i), step(xs, i, i + 1)) match {
      case (Some(in), Some(out)) => in != out
      case _ => false
    }
    fps.indices.filter(i => step(fps, i - 1, i).isEmpty || step(fps, i, i + 1).isEmpty ||
      bends(fps, i) || bends(tps, i))
  }

  /** select_threshold_at_fpr: among the points with fpr <= target, the one
    * with the largest fpr, ties to the lowest threshold (null lowest). None
    * when no point qualifies. */
  private def atFpr(threshold: IndexedSeq[Option[Double]], fpr: IndexedSeq[Option[Double]],
      target: Double): Option[Int] = {
    val candidates = fpr.indices.filter(i => fpr(i).exists(MetricsOps.compareDoubles(_, target) <= 0))
    candidates.sortWith { (i, j) =>
      val byFpr = MetricsOps.compareDoubles(fpr(j).get, fpr(i).get)
      if (byFpr != 0) byFpr < 0 else descNullsLast(threshold(j), threshold(i)) < 0
    }.headOption
  }

  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def doubles(names: String*): StructType =
    StructType(names.map(StructField(_, DoubleType)))

  private def v(o: Option[Any]): Any = o.getOrElse(null)

  /** The rows of a curve table in descending threshold order. */
  private def curveRows(op: String, curve: DataFrame): IndexedSeq[Row] = {
    val rows = LocalRegime.collectBounded(curve, MaxPoints).getOrElse(throw new
      IllegalArgumentException(s"Curves.$op: a curve of more than $MaxPoints points"))
    val at = curve.schema.fieldIndex("threshold")
    def thr(r: Row) = if (r.isNullAt(at)) None else Some(r.getAs[Number](at).doubleValue)
    rows.toIndexedSeq.sortWith((a, b) => descNullsLast(thr(a), thr(b)) < 0)
  }

  private def column[T](rows: IndexedSeq[Row], name: String)(get: Number => T): IndexedSeq[Option[T]] =
    rows.map(r => Option(r.getAs[Number](name)).map(get))

  /** ROC curve table: (threshold, fps, tps, fpr, tpr), thresholds descending.
    * `label` must be 0/1 ints; `score` the attack-class score. */
  def rocCurve(df: DataFrame, label: Column, score: Column): DataFrame = {
    val c = curveOf(points("rocCurve", df, Nil, label, score))
    local(df.sparkSession, c.threshold.indices.map(i =>
      Row(v(c.threshold(i)), v(c.fps(i)), v(c.tps(i)), v(c.fpr(i)), v(c.tpr(i)))),
      StructType(Seq(StructField("threshold", DoubleType), StructField("fps", LongType),
        StructField("tps", LongType), StructField("fpr", DoubleType),
        StructField("tpr", DoubleType))))
  }

  /** ROC-AUC by trapezoid over the full (unthinned) curve — equals
    * sklearn `roc_auc_score` exactly (ties handled by the per-threshold
    * grouping). Returns a 1-row DataFrame (roc_auc). */
  def rocAuc(df: DataFrame, label: Column, score: Column): DataFrame =
    local(df.sparkSession, Seq(Row(v(curveOf(points("rocAuc", df, Nil, label, score)).auc))),
      doubles("roc_auc"))

  /** Average precision — sklearn `average_precision_score`:
    * AP = Σ_i (R_i − R_{i−1}) · P_i over thresholds descending (R_0 = 0). */
  def averagePrecision(df: DataFrame, label: Column, score: Column): DataFrame =
    local(df.sparkSession,
      Seq(Row(v(curveOf(points("averagePrecision", df, Nil, label, score)).ap))),
      doubles("average_precision"))

  /** sklearn `roc_curve(drop_intermediate=True)` point thinning: keep a
    * curve point iff it is an endpoint or either cumulative series bends
    * there (second difference of fps or tps nonzero) — collinear interior
    * points add nothing to the polyline. The curve's own columns, its
    * points in descending threshold order.
    * Ref consumer: select_threshold_at_fpr, func_aux/func_test.py:257. */
  def dropIntermediate(curve: DataFrame): DataFrame = {
    val rows = curveRows("dropIntermediate", curve)
    val kept = thinned(column(rows, "fps")(_.longValue), column(rows, "tps")(_.longValue))
    local(curve.sparkSession, kept.map(rows), curve.schema)
  }

  /** G15 — threshold at target FPR. Ref: select_threshold_at_fpr,
    * func_aux/func_test.py:252-269: take the LAST curve point with
    * fpr <= target. sklearn's `roc_curve` always emits a virtual
    * (fpr=0, tpr=0, thr=+inf) start point, so that set is never empty in
    * the reference (its |fpr−target| fallback is unreachable); our
    * [[rocCurve]] omits the anchor from the table, so when no REAL point
    * satisfies the target we return the anchor itself — threshold=+inf,
    * i.e. "predict nothing", which honors the FPR budget exactly as the
    * reference would. A NaN fpr (no negatives) never satisfies the target.
    * Pass the curve through [[dropIntermediate]] first for sklearn parity
    * (the reference selects on roc_curve's thinned points).
    * Returns 1 row (threshold, fpr, tpr). */
  def thresholdAtFpr(curve: DataFrame, fprTarget: Double): DataFrame = {
    val rows = curveRows("thresholdAtFpr", curve)
    val picked = atFpr(column(rows, "threshold")(_.doubleValue),
      column(rows, "fpr")(_.doubleValue), fprTarget)
    val out = curve.select("threshold", "fpr", "tpr").schema
    local(curve.sparkSession, Seq(picked.fold(Row(Double.PositiveInfinity, 0.0, 0.0))(i =>
      Row.fromSeq(out.fieldNames.toSeq.map(rows(i).getAs[Any](_))))), out)
  }

  /** G15 and the test confusion of G16 (BinaryOperational) from ONE
    * collected aggregation: the points of `valDf` and `testDf`, keyed by
    * split. The val points give the threshold at `fprTarget` on the
    * thinned val curve; the test points with score >= it are predicted
    * positive. Labels are 0/1; rows with a null label or score count in no
    * cell. Returns (threshold, tn, fp, fn, tp). */
  private[ops] def operationalCells(valDf: DataFrame, testDf: DataFrame, label: Column,
      score: Column, fprTarget: Double): (Double, Long, Long, Long, Long) = {
    def tagged(df: DataFrame, isVal: Boolean) =
      df.select(lit(isVal).as("is_val"), label.as("y"), score.as("s"))
    val (valPts, testPts) = points("operationalCells",
      tagged(valDf, isVal = true).union(tagged(testDf, isVal = false)),
      Seq(col("is_val")), col("y"), col("s")).partition(_.key.head == true)
    val c = curveOf(valPts)
    val kept = thinned(c.fps, c.tps)
    val thresholds = kept.map(c.threshold)
    val thr = atFpr(thresholds, kept.map(c.fpr), fprTarget)
      .fold(Double.PositiveInfinity)(i => thresholds(i).getOrElse(
        throw new IllegalArgumentException("operationalCells: the val split's " +
          s"null-score point is its threshold at fpr <= $fprTarget; drop null scores first")))
    def cell(predicted: Boolean, count: Point => Option[Long]) = total(testPts
      .filter(_.threshold.exists(s => (MetricsOps.compareDoubles(s, thr) >= 0) == predicted))
      .map(count)).getOrElse(0L)
    (thr, cell(false, _.neg), cell(true, _.neg), cell(false, _.pos), cell(true, _.pos))
  }

  /** pr_auc_micro, pr_auc_macro and roc_auc_macro of every `group` value
    * from ONE collapse of the exploded (group, class, score) pairs: the
    * micro curve sums the classes' points per threshold, the macro fields
    * are class means in class order. A null group has no row. */
  private def multiclassAuc(op: String, df: DataFrame, group: Column, yTrue: Column,
      proba: Column): Seq[Row] = {
    val pairs = df.select(group.as("grp"), yTrue.as("yt"), posexplode(proba))
    val pts = points(op, pairs, Seq(col("grp"), col("pos")), col("yt") === col("pos"), col("col"))
    MetricsOps.groupOn(pts)(_.key.head).collect { case (g, gp) if g != null =>
      val micro = MetricsOps.groupOn(gp)(_.threshold.map(Double.box).orNull).map { case (_, ps) =>
        Point(Nil, ps.head.threshold, total(ps.map(_.pos)), total(ps.map(_.neg)))
      }
      val classes = MetricsOps.groupOn(gp)(_.key(1)).sortBy(_._1.asInstanceOf[Int]).map(c => curveOf(c._2))
      Row(g, v(curveOf(micro).ap), v(mean(classes.map(_.ap))), v(mean(classes.map(_.auc))))
    }
  }

  private val MulticlassAucFields = Seq("pr_auc_micro", "pr_auc_macro", "roc_auc_macro")

  /** The three probability-ranked G13 fields of
    * func_aux/func_test.py:80-97 over a probability array column:
    * `average_precision_score` micro (all (row, class) pairs ranked as one
    * binary problem) and macro, and the one-vs-rest `roc_auc_score` macro
    * — the constant-group case of [[multiclassAucPerGroup]]. Returns one
    * row (pr_auc_micro, pr_auc_macro, roc_auc_macro), nulls on an empty
    * input. */
  def multiclassAucSuite(df: DataFrame, yTrue: Column, proba: Column): DataFrame = {
    val row = multiclassAuc("multiclassAucSuite", df, lit(0), yTrue, proba).headOption
      .fold(Row(null, null, null))(r => Row(r.toSeq.tail: _*))
    local(df.sparkSession, Seq(row), doubles(MulticlassAucFields: _*))
  }

  /** The probability-ranked G13 fields PER GROUP (F10 slices call the full
    * metric dict per state, pipeline_trainingmodels_power.py:235-311):
    * one row per `groupCol` value with `pr_auc_micro` / `pr_auc_macro` /
    * `roc_auc_macro` — thousands of slices cost the same one collapse,
    * never a driver loop over the data. */
  def multiclassAucPerGroup(df: DataFrame, groupCol: String,
      yTrue: Column, proba: Column): DataFrame =
    local(df.sparkSession, multiclassAuc("multiclassAucPerGroup", df, col(groupCol), yTrue, proba),
      StructType(StructField("grp", df.select(col(groupCol)).schema.head.dataType) +:
        doubles(MulticlassAucFields: _*).fields))

  /** Spark's `greatest` / `least` of two nullable doubles: nulls skipped,
    * NaN above every number. */
  private def extreme(a: Option[Double], b: Option[Double], sign: Int): Option[Double] =
    (a ++ b).reduceOption((x, y) => if (sign * MetricsOps.compareDoubles(x, y) >= 0) x else y)

  /** DeLong variance + confidence interval for the ROC AUC (DeLong,
    * DeLong & Clarke-Pearson 1988 — the standard nonparametric AUC CI;
    * what `pROC`/`scikit-posthocs` compute):
    *
    *   V10_i = (#neg below s_i + ½·#neg tied) / n   (per positive i)
    *   V01_j = (#pos above s_j + ½·#pos tied) / m   (per negative j)
    *   AUC = mean(V10) = mean(V01),
    *   Var = S10/m + S01/n   (S = ddof-1 sample variances),
    *   CI  = AUC ± z·√Var.
    *
    * Scale shape — the curve collapse: rows collapse to the distinct-score
    * table first (equal scores share their V values exactly, so grouping
    * is lossless); the below/above counts and the weighted moments run on
    * the driver over it. Rows with a null label or score are dropped, and
    * a label other than 1 is a negative. A ratio over an empty class is
    * NaN. Returns one row (auc, var_auc, ci_lo, ci_hi), CI clipped to
    * [0, 1]. */
  def aucDeLong(df: DataFrame, y: Column, score: Column,
      z: Double = 1.959963984540054): DataFrame = {
    val pts = points("aucDeLong", df.where(y.isNotNull && score.isNotNull), Nil,
      when(y.cast("int") === 1, 1).otherwise(0), score)
    val c = curveOf(pts)
    val np = c.tps.indices.map(i => c.tps(i).get - (if (i == 0) 0L else c.tps(i - 1).get))
    val nn = c.fps.indices.map(i => c.fps(i).get - (if (i == 0) 0L else c.fps(i - 1).get))
    val (m, n) = (np.sum, nn.sum)
    // descending order: the positives above a point precede it, the
    // negatives below it follow it
    val v10 = np.indices.map(i => ratio(n - c.fps(i).get + nn(i) * 0.5, n.toDouble))
    val v01 = np.indices.map(i => ratio(c.tps(i).get - np(i) + np(i) * 0.5, m.toDouble))
    val stats = if (np.isEmpty) None else {
      val auc = ratio(np.indices.foldLeft(0.0)((s, i) => s + np(i) * v10(i)), m.toDouble)
      val ss10 = np.indices.foldLeft(0.0)((s, i) => s + np(i) * v10(i) * v10(i))
      val ss01 = np.indices.foldLeft(0.0)((s, i) => s + nn(i) * v01(i) * v01(i))
      // ddof-1 sample variances of V10 (weighted by np) and V01:
      // S = (Σ w v² − m·auc²) / (m − 1); Var(AUC) = S10/m + S01/n
      Some((auc, ratio(ratio(ss10 - m * auc * auc, (m - 1).toDouble), m.toDouble) +
        ratio(ratio(ss01 - n * auc * auc, (n - 1).toDouble), n.toDouble)))
    }
    val half = stats.map { case (_, vr) => z * math.sqrt(vr) }
    val auc = stats.map(_._1)
    local(df.sparkSession, Seq(Row(v(auc), v(stats.map(_._2)),
      v(extreme(Some(0.0), for (a <- auc; h <- half) yield a - h, 1)),
      v(extreme(Some(1.0), for (a <- auc; h <- half) yield a + h, -1)))),
      doubles("auc", "var_auc", "ci_lo", "ci_hi"))
  }

  /** Lift / cumulative-gains table (the direct-marketing model readout —
    * Berry & Linoff 2004): score-quantile buckets (fitted bounds, so
    * ties share a bucket and no raw-row window is needed), per bucket
    * the response rate, lift vs the base rate, and walking from the
    * BEST bucket down the cumulative population and response shares
    * (the gains curve). One bin collapse (0/1 labels), then the driver
    * walks the at most `buckets` points. */
  def liftCurve(df: DataFrame, label: Column, score: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000, "buckets in [2, 1000]")
    val bounds = Stats.fitQuantileBins(df, score, buckets)
    // null scores out: applyQuantileBins would fold them into bucket 0
    // (every `null > bound` is 0) while the fit ignored them
    val c = curveOf(points("liftCurve", df.where(label.isNotNull && score.isNotNull), Nil,
      label, Stats.applyQuantileBins(score, bounds)))
    val (cumR, cumN) = (c.tps.map(_.get), c.tps.indices.map(i => c.tps(i).get + c.fps(i).get))
    val (r, n) = (cumR.lastOption.getOrElse(0L).toDouble, cumN.lastOption.getOrElse(0L))
    def prev(xs: IndexedSeq[Long], i: Int) = if (i == 0) 0L else xs(i - 1)
    val rows = c.threshold.indices.map { i =>
      val (ni, resp) = (cumN(i) - prev(cumN, i), cumR(i) - prev(cumR, i))
      val rate = resp.toDouble / ni
      Row(c.threshold(i).get.toInt, ni, resp, rate, if (r > 0) rate / (r / n) else null,
        cumN(i).toDouble / n, if (r > 0) cumR(i) / r else null)
    }
    local(df.sparkSession, rows, StructType(Seq(StructField("bucket", IntegerType),
      StructField("n", LongType), StructField("n_resp", LongType)) ++
      doubles("rate", "lift", "cum_pop_share", "cum_gain").fields))
  }
}
