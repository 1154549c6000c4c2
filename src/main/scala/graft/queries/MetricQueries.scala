package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{BinaryOperational, Calibration, Curves, MetricsOps, Sessionize}
import graft.queries.Q._

/** Classification-metric operators bound to the oracle tables (SURVEY
  * §2.5): G9 confusion, G13 multiclass suite, G14 curves/AUC/AP, G15
  * threshold-at-FPR, G12 TTD sessionization, G11 weighted log-loss, G16
  * binary operational composite (its SQL-expressible core; the
  * Clopper–Pearson beta quantiles are ScalaTest-covered).
  *
  * The "model" is the deterministic score of [[Q.scoredEvents]]; the
  * multiclass y_pred is a deterministic perturbation of the encoded
  * event_type so every confusion cell is populated.
  */
object MetricQueries {

  /** Multiclass (y_true, y_pred) pair: y_true = lexicographic id of
    * event_type; y_pred = y_true shifted by 1 (mod k) on rows where
    * event_id % 5 == 0 — a deterministic 20%-error "model". */
  private def multiclassFrame(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ev = table(s, dir, "events")
    // The encoder is k rows (k = |event_type|): collect it once and
    // re-inject as a literal when-chain instead of broadcast-joining it —
    // the fit's distinct+window subtree (plus its broadcast build) then
    // runs ONCE here instead of inside every action of all eight
    // multiclass queries' plans. Same values as encodeLabel's left join:
    // an unseen/null class falls through every branch to null.
    val enc = graft.ops.Labels.fitLabelEncoder(ev, "event_type").collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val k = enc.length
    val yTrue = if (enc.isEmpty) lit(null).cast("int")
      else coalesce(enc.map { case (c, y) =>
        when(col("event_type").cast("string") === c, lit(y)) }.toIndexedSeq: _*)
    val df = ev.withColumn("y_true", yTrue)
      .withColumn("y_pred",
        when(col("event_id") % 5 === 0, pmod(col("y_true") + 1, lit(k)))
          .otherwise(col("y_true")).cast("int"))
    (df, k)
  }

  private val multiclassSql: String =
    """SELECT e.*, y_true,
      |  CAST(CASE WHEN event_id % 5 = 0 THEN (y_true + 1) % k ELSE y_true END AS INT) AS y_pred
      |FROM events e
      |JOIN (SELECT class, CAST(row_number() OVER (ORDER BY class) - 1 AS INT) AS y_true,
      |             CAST(count(*) OVER () AS INT) AS k
      |      FROM (SELECT DISTINCT event_type AS class FROM events) d) m
      |  ON e.event_type = m.class""".stripMargin

  /** Deterministic tie-free per-class score matrix shared by the g13 AUC
    * queries (bit-identical in DuckDB: integer arithmetic + one division). */
  private def probaMatrix(k: Int) = array((0 until k).map { j =>
    (col("event_id").cast("long") * (2 * j + 3)) % 97 / lit(97.0) +
      lit(0.001) * lit(j) +
      when(col("y_true") === j, lit(0.75)).otherwise(lit(0.0))
  }: _*)

  val queries: Map[String, QueryFn] = Map(
    "g9_confusion" -> ((s, dir) => {
      val (df, k) = multiclassFrame(s, dir)
      MetricsOps.confusionMatrix(df, "y_true", "y_pred", 0 until k)
        .orderBy("y_true", "y_pred")
    }),

    "g13_multiclass_metrics" -> ((s, dir) => {
      val (df, k) = multiclassFrame(s, dir)
      val m = MetricsOps.multiclassMetrics(df, "y_true", "y_pred", 0 until k)
      m.select(m.columns.toIndexedSeq.map(c => round(col(c), 6).as(c)): _*)
    }),

    "g13_pr_auc" -> ((s, dir) => {
      // The probability-ranked G13 fields: a deterministic per-class score
      // matrix (integer hash of event_id per class + 0.75 mass on the true
      // class — tie-free across classes by construction), through the full
      // proba overload of multiclassMetrics. The expressions are pure
      // integer arithmetic + one division, so Spark and DuckDB agree
      // bit-for-bit on every score; round(6) absorbs cumsum order.
      val (df, k) = multiclassFrame(s, dir)
      MetricsOps.multiclassMetrics(df, "y_true", probaMatrix(k), 0 until k)
        .select(round(col("pr_auc_micro"), 6).as("pr_auc_micro"),
          round(col("pr_auc_macro"), 6).as("pr_auc_macro"),
          round(col("roc_auc_macro"), 6).as("roc_auc_macro"))
    }),

    "g13_auc_per_group" -> ((s, dir) => {
      // Per-slice probability-ranked fields (F10 slices get the FULL
      // metric dict in the reference) — one pass over the exploded pairs
      // regardless of slice count.
      val (df, k) = multiclassFrame(s, dir)
      val sliced = df.withColumn("state_slice",
        when(col("user_id") % 2 === 0, "charging").otherwise("idle"))
      Curves.multiclassAucPerGroup(sliced, "state_slice", col("y_true"), probaMatrix(k))
        .select(col("grp"),
          round(col("pr_auc_micro"), 6).as("pr_auc_micro"),
          round(col("pr_auc_macro"), 6).as("pr_auc_macro"),
          round(col("roc_auc_macro"), 6).as("roc_auc_macro"))
        .orderBy("grp")
    }),

    "f10_metrics_per_group" -> ((s, dir) => {
      // Per-slice metric suite in ONE shuffle (F10 per-state slices) —
      // user_id % 2 plays the charging/idle state mask.
      val (df, k) = multiclassFrame(s, dir)
      val sliced = df.withColumn("state_slice",
        when(col("user_id") % 2 === 0, "charging").otherwise("idle"))
      val m = MetricsOps.multiclassMetricsPerGroup(sliced, "state_slice", "y_true", "y_pred", 0 until k)
      m.select(col("grp"),
        round(col("accuracy"), 6).as("accuracy"),
        round(col("balanced_accuracy"), 6).as("balanced_accuracy"),
        round(col("precision_macro"), 6).as("precision_macro"),
        round(col("recall_macro"), 6).as("recall_macro"),
        round(col("f1_macro"), 6).as("f1_macro"))
        .orderBy("grp")
    }),

    "g14_roc_curve" -> ((s, dir) => {
      val ev = scoredEvents(s, dir)
      Curves.rocCurve(ev, col("y_true"), col("score"))
        .select(col("threshold"), col("fps"), col("tps"),
          round(col("fpr"), 6).as("fpr"), round(col("tpr"), 6).as("tpr"))
    }),

    "g14_roc_auc" -> ((s, dir) => {
      val ev = scoredEvents(s, dir)
      Curves.rocAuc(ev, col("y_true"), col("score"))
        .select(round(col("roc_auc"), 6).as("roc_auc"))
    }),

    "g_auc_delong" -> ((s, dir) => {
      // DeLong 1988 nonparametric AUC variance + 95% CI — the error bar
      // every AUC comparison needs. Same scored events as g14; rows
      // collapse to the distinct-score table first (lossless: tied
      // scores share their V10/V01 exactly).
      val ev = scoredEvents(s, dir)
      Curves.aucDeLong(ev, col("y_true"), col("score"))
        .select(round(col("auc"), 6).as("auc"),
          round(col("var_auc"), 9).as("var_auc"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
    }),

    "g14_average_precision" -> ((s, dir) => {
      val ev = scoredEvents(s, dir)
      Curves.averagePrecision(ev, col("y_true"), col("score"))
        .select(round(col("average_precision"), 6).as("average_precision"))
    }),

    "g15_threshold_at_fpr" -> ((s, dir) => {
      val ev = scoredEvents(s, dir)
      val curve = Curves.dropIntermediate(Curves.rocCurve(ev, col("y_true"), col("score")))
      Curves.thresholdAtFpr(curve, 0.3)
        .select(round(col("threshold"), 4).as("threshold"),
          round(col("fpr"), 6).as("fpr"), round(col("tpr"), 6).as("tpr"))
    }),

    "g12_ttd" -> ((s, dir) => {
      // Episodes = runs of consecutive error events (y_true=1) with
      // constant user_id, in event_id order; detected iff any y_pred=1
      // inside; delay in windows × hop 1s.
      val ev = scoredEvents(s, dir)
      Sessionize.ttdStats(ev, col("event_id"), col("y_true"), col("y_pred"),
          col("user_id"), hopSeconds = 1.0)
        .select(col("episodes_total"), col("episodes_detected"),
          round(col("avg_ttd_seconds"), 4).as("avg_ttd_seconds"))
    }),

    "g11_weighted_logloss" -> ((s, dir) => {
      // p_true = probability assigned to the true class by the "model"
      // p(attack)=score: p_true = score if y=1 else 1-score; weight = value+1.
      val ev = scoredEvents(s, dir)
      val pTrue = when(col("y_true") === 1, col("score")).otherwise(lit(1.0) - col("score"))
      MetricsOps.weightedLogLoss(ev, pTrue, col("value") + 1)
        .select(round(col("weighted_logloss"), 6).as("weighted_logloss"))
    }),

    "g16_operational" -> ((s, dir) => {
      // Binary operational composite: calibrate on even event_ids (val),
      // score odd event_ids (test), fpr_target=0.1, hop=1s. The oracle now
      // covers the relational core PLUS the operational tail (normal-approx
      // FPR CI, FP/hour, benign/total hours — func_test.py:358-403); only
      // the Clopper-Pearson Beta quantiles stay ScalaTest-checked (no
      // beta_inv in DuckDB).
      val ev = scoredEvents(s, dir)
      val valDf = ev.where(col("event_id") % 2 === 0)
      val testDf = ev.where(col("event_id") % 2 === 1)
      val m = BinaryOperational.evaluate(valDf, testDf, col("y_true"), col("score"),
        fprTarget = 0.1, hopSeconds = 1.0)
      val spark = s
      import spark.implicits._
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((m.threshold, m.tn, m.fp, m.fn, m.tp,
        r6(m.fpr), r6(m.tpr), r6(m.precision), r6(m.f1),
        r6(m.fprCiNormalLow), r6(m.fprCiNormalHigh),
        r4(m.falsePositivesPerHour), r6((m.tn + m.fp) * 1.0 / 3600.0),
        r6(m.totalHoursTest)))
        .toDF("threshold", "tn", "fp", "fn", "tp", "fpr", "tpr", "precision", "f1",
          "fpr_ci_normal_low", "fpr_ci_normal_high", "fp_per_hour",
          "hours_benign", "total_hours_test")
    }),

    "g18_calculators" -> ((s, dir) => {
      // G18 sample-size calculators on a literal (alpha, fpr, sigma,
      // fph, hop) grid — pure scalars, evaluated by the actual Calculators
      // implementation on the driver (their designed home) and re-derived
      // as scalar SQL by the twin. The sigma->alpha map is commons-math
      // erf here vs Abramowitz-Stegun 7.1.26 in DuckDB (no erf there);
      // the approximation error (1.5e-7) rounds identically at 6 decimals
      // on this grid, and every ceil() quotient sits far from an integer
      // boundary (verified offline; the grid is fixed).
      import graft.ops.Calculators
      val spark = s
      import spark.implicits._
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = for {
        alpha <- Seq(0.05, 0.01)
        fpr <- Seq(0.001, 0.01, 0.05)
        sigma <- Seq(1.0, 1.5, 2.0, 2.5, 3.0)
        (fph, hop) <- Seq((0.1, 60.0), (1.0, 60.0), (0.1, 1.0))
      } yield (alpha, fpr, sigma, fph, hop,
        Calculators.minSamplesZeroFpExact(fpr, alpha),
        Calculators.minSamplesZeroFpApprox(fpr, alpha),
        r6(Calculators.sigmaToAlpha(sigma)),
        r6(Calculators.minBenignHoursZeroFp(fph, hop, alpha)),
        r6(Calculators.minBenignWindowsZeroFp(fph, hop, alpha)))
      rows.toDF("alpha", "fpr", "sigma", "fph", "hop", "n_exact", "n_approx",
          "alpha_sigma", "hours_zero_fp", "windows_zero_fp")
        .orderBy("alpha", "fpr", "sigma", "fph", "hop")
    }),

    "g_reliability" -> ((s, dir) => {
      // Equal-width 10-bin reliability table on the deterministic score —
      // one map-side-combined groupBy (Calibration.reliabilityTable).
      val ev = scoredEvents(s, dir)
      Calibration.reliabilityTable(ev, col("y_true"), col("score"), bins = 10)
        .select(col("bin"), col("n"),
          round(col("confidence"), 6).as("confidence"),
          round(col("accuracy"), 6).as("accuracy"),
          round(col("sq_err"), 6).as("sq_err"))
        .orderBy("bin")
    }),

    "g_calibration_errors" -> ((s, dir) => {
      val ev = scoredEvents(s, dir)
      Calibration.calibrationErrors(ev, col("y_true"), col("score"), bins = 10)
        .select(round(col("ece"), 6).as("ece"), round(col("mce"), 6).as("mce"),
          round(col("brier"), 6).as("brier"))
    }),

    "g_cohens_kappa" -> ((s, dir) => {
      val (df, _) = multiclassFrame(s, dir)
      Calibration.cohensKappa(df, col("y_true"), col("y_pred"))
        .select(round(col("po"), 6).as("po"), round(col("pe"), 6).as("pe"),
          round(col("kappa"), 6).as("kappa"))
    }),

    "g_label_noise" -> ((s, dir) => {
      // Confident-learning sweep over the deterministic proba matrix:
      // k-row threshold model broadcast as literals, then one projection.
      val (df, k) = multiclassFrame(s, dir)
      Calibration.labelNoise(df.withColumn("proba", probaMatrix(k)),
          col("event_id"), col("y_true"), col("proba"), k)
        .orderBy("id")
    }),

    "g_platt_scaling" -> ((s, dir) => {
      // Parametric sigmoid calibration: 8 full Newton steps with the
      // 9-dp parameter snap, so the DuckDB twin RECOMPUTES the whole
      // trajectory (no literal replay) and must land on the identical
      // (a, b). Face: the fitted params + the calibrated curve at ten
      // grid scores.
      import s.implicits._
      val ev = scoredEvents(s, dir)
      val m = Calibration.plattFit(ev, col("y_true"), col("score"),
        iterations = 8)
      (0 until 10).map(i => (5 + i * 10) / 100.0).toDF("s")
        .select(col("s"), round(lit(m.a), 6).as("a"),
          round(lit(m.b), 6).as("b"),
          round(Calibration.plattApply(col("s"), m), 6).as("p_cal"))
        .orderBy("s")
    }),

    "g_temperature_scaling" -> ((s, dir) => {
      // Multiclass confidence calibration: 6 Newton steps on the
      // temperature of the probaMatrix "logits", 9-dp-snapped so the
      // twin recomputes the identical β from the long (row, class,
      // logit) form. Face: β/T + the per-class mean calibrated mass.
      // Fused fit+means (r12): k is schema-known (probaMatrix width),
      // so the uniform-width probe pass is skipped, and the means read
      // the SAME persisted flat frame as the Newton loop — the upstream
      // scan+encode executes once, not three times. Per-row p_j replays
      // temperatureApply's IEEE sequence bit-identically; y_true is
      // never null here, so means-over-fit-rows == means-over-all-rows.
      val (df, k) = multiclassFrame(s, dir)
      val withZ = df.withColumn("z", probaMatrix(k))
      val (m, means) = Calibration.temperatureFitWithMeans(withZ,
        col("y_true"), col("z"), iterations = 6, k)
      means
        .select(col("cls"), round(col("mean_p"), 6).as("mean_p_cal"),
          round(lit(m.beta), 6).as("beta"), round(lit(m.t), 6).as("t"))
        .orderBy("cls")
    }),
  )

  val oracle: Map[String, String] = {
    val rocCurveSql =
      s"""SELECT threshold,
         |  CAST(sum(pos) OVER w AS BIGINT) AS tps, CAST(sum(neg) OVER w AS BIGINT) AS fps,
         |  (sum(neg) OVER w) * 1.0 / (sum(neg) OVER ()) AS fpr,
         |  (sum(pos) OVER w) * 1.0 / (sum(pos) OVER ()) AS tpr
         |FROM (
         |  SELECT score AS threshold, sum(y_true) AS pos, sum(1 - y_true) AS neg
         |  FROM (${Q.scoredEventsSql}) se GROUP BY 1)
         |WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

    // Platt trajectory, genuinely RECOMPUTED: the 8 Newton steps unroll
    // as chained CTEs (i0 → i8), each one aggregation over the scored
    // events with the previous round's 9-dp-snapped (a, b) — the
    // pagerank-unroll discipline applied to an optimizer. The snap is
    // what makes cross-engine equality possible: per-step float wobble
    // (~1e-13) dies on the 1e-9 grid before it can compound.
    val plattIters = (1 to 8).map { k =>
      s"""s$k AS (
         |  SELECT a, b, tp, tn,
         |    sum((t - p) * s) AS ga, sum(t - p) AS gb,
         |    sum(p * (1 - p) * s * s) + 1e-12 AS haa,
         |    sum(p * (1 - p) * s) AS hab, sum(p * (1 - p)) + 1e-12 AS hbb
         |  FROM (SELECT pb.s,
         |      CASE WHEN pb.y > 0.5 THEN i.tp ELSE i.tn END AS t,
         |      1.0 / (1.0 + exp(pb.s * i.a + i.b)) AS p,
         |      i.a, i.b, i.tp, i.tn
         |    FROM pbase pb CROSS JOIN i${k - 1} i) x
         |  GROUP BY a, b, tp, tn),
         |i$k AS (SELECT
         |    round(a - (hbb * ga - hab * gb)
         |      / (haa * hbb - hab * hab), 9) AS a,
         |    round(b - (haa * gb - hab * ga)
         |      / (haa * hbb - hab * hab), 9) AS b,
         |    tp, tn FROM s$k)""".stripMargin
    }.mkString(",\n")
    val plattGrid = (0 until 10)
      .map(i => f"(${(5 + i * 10) / 100.0}%.2f)").mkString(", ")
    val plattSql =
      s"""WITH pbase AS (
         |  SELECT score AS s, CAST(y_true AS DOUBLE) AS y
         |  FROM (${Q.scoredEventsSql}) se),
         |c AS (SELECT sum(y) AS np, sum(1.0 - y) AS nn FROM pbase),
         |i0 AS (SELECT CAST(0.0 AS DOUBLE) AS a,
         |    round(ln((nn + 1.0) / (np + 1.0)), 9) AS b,
         |    (np + 1.0) / (np + 2.0) AS tp, 1.0 / (nn + 2.0) AS tn
         |  FROM c),
         |$plattIters,
         |g AS (SELECT CAST(gs AS DOUBLE) AS s FROM (VALUES $plattGrid) v(gs))
         |SELECT g.s, round(i8.a, 6) AS a, round(i8.b, 6) AS b,
         |  round(1.0 / (1.0 + exp(g.s * i8.a + i8.b)), 6) AS p_cal
         |FROM g CROSS JOIN i8 ORDER BY g.s""".stripMargin

    // temperature-scaling trajectory, recomputed like plattSql: per
    // Newton step, two window layers build the per-row softmax (stable
    // lse form) and one grouped pass reduces to (∇, H) — β chains
    // through i0 → i6 on the 9-dp grid
    def tempLayers(k: Int): String =
      s"""w${k}a AS (SELECT rid, cls, z, y_true, z * b AS zb,
         |    max(z * b) OVER (PARTITION BY rid) AS m, b
         |  FROM tpairs CROSS JOIN i${k - 1}),
         |w${k}b AS (SELECT rid, cls, z, y_true, b,
         |    exp(zb - (m + ln(sum(exp(zb - m))
         |      OVER (PARTITION BY rid)))) AS p
         |  FROM w${k}a),
         |g$k AS (SELECT b, sum(e1 - zy) AS g,
         |    sum(e2 - e1 * e1) + 1e-12 AS h
         |  FROM (SELECT b, rid,
         |      max(CASE WHEN cls = y_true THEN z END) AS zy,
         |      sum(z * p) AS e1, sum(z * z * p) AS e2
         |    FROM w${k}b GROUP BY b, rid) x
         |  GROUP BY b),
         |i$k AS (SELECT round(greatest(0.001, least(1000.0,
         |    b - greatest(-1.0, least(1.0, g / h)))), 9) AS b
         |  FROM g$k)""".stripMargin
    val tempSql =
      s"""WITH mc AS ($multiclassSql),
         |tclasses AS (SELECT CAST(row_number() OVER (ORDER BY class) - 1
         |    AS BIGINT) AS j
         |  FROM (SELECT DISTINCT event_type AS class FROM events) d),
         |tpairs AS (
         |  SELECT event_id AS rid, tclasses.j AS cls, y_true,
         |    (CAST(event_id AS BIGINT) * (2 * tclasses.j + 3)) % 97 / 97.0
         |      + 0.001 * tclasses.j
         |      + CASE WHEN y_true = tclasses.j THEN 0.75 ELSE 0.0 END AS z
         |  FROM mc, tclasses),
         |i0 AS (SELECT CAST(1.0 AS DOUBLE) AS b),
         |${(1 to 6).map(tempLayers).mkString(",\n")},
         |fa AS (SELECT rid, cls, z * b AS zb,
         |    max(z * b) OVER (PARTITION BY rid) AS m, b
         |  FROM tpairs CROSS JOIN i6),
         |fb AS (SELECT rid, cls, b,
         |    exp(zb - (m + ln(sum(exp(zb - m))
         |      OVER (PARTITION BY rid)))) AS p
         |  FROM fa)
         |SELECT CAST(cls AS INT) AS cls, round(avg(p), 6) AS mean_p_cal,
         |  round(max(b), 6) AS beta, round(1.0 / max(b), 6) AS t
         |FROM fb GROUP BY cls ORDER BY cls""".stripMargin

    Map(
      "g_platt_scaling" -> plattSql,
      "g_temperature_scaling" -> tempSql,
      "g9_confusion" ->
        s"""WITH mc AS ($multiclassSql),
           |k AS (SELECT count(DISTINCT event_type) AS k FROM events),
           |universe AS (
           |  SELECT a.i AS y_true, b.i AS y_pred
           |  FROM (SELECT unnest(range(CAST((SELECT k FROM k) AS BIGINT))) AS i) a,
           |       (SELECT unnest(range(CAST((SELECT k FROM k) AS BIGINT))) AS i) b),
           |counts AS (SELECT y_true, y_pred, count(*) AS cnt FROM mc GROUP BY 1, 2)
           |SELECT CAST(u.y_true AS INT) AS y_true, CAST(u.y_pred AS INT) AS y_pred,
           |  coalesce(c.cnt, 0) AS cnt
           |FROM universe u LEFT JOIN counts c
           |  ON u.y_true = c.y_true AND u.y_pred = c.y_pred
           |ORDER BY 1, 2""".stripMargin,

      "g13_multiclass_metrics" ->
        s"""WITH mc AS ($multiclassSql),
           |stats AS (
           |  SELECT y_true AS cls,
           |    sum(CASE WHEN y_pred = y_true THEN 1 ELSE 0 END) AS tp,
           |    count(*) AS support
           |  FROM mc GROUP BY 1),
           |pred AS (SELECT y_pred AS cls, count(*) AS predicted FROM mc GROUP BY 1),
           |pc AS (
           |  SELECT s.cls, s.tp, s.support, coalesce(p.predicted, 0) AS predicted,
           |    s.support - s.tp AS fn, coalesce(p.predicted, 0) - s.tp AS fp
           |  FROM stats s LEFT JOIN pred p ON s.cls = p.cls),
           |pr AS (
           |  SELECT *,
           |    coalesce(tp * 1.0 / nullif(tp + fp, 0), 0) AS precision,
           |    coalesce(tp * 1.0 / nullif(tp + fn, 0), 0) AS recall
           |  FROM pc),
           |f AS (
           |  SELECT *,
           |    coalesce(2.0 * precision * recall / nullif(precision + recall, 0), 0) AS f1,
           |    coalesce(5.0 * precision * recall / nullif(4.0 * precision + recall, 0), 0) AS f2,
           |    coalesce(1.25 * precision * recall / nullif(0.25 * precision + recall, 0), 0) AS f0_5
           |  FROM pr)
           |SELECT
           |  round(sum(tp) * 1.0 / sum(support), 6) AS accuracy,
           |  round(avg(CASE WHEN support > 0 THEN recall END), 6) AS balanced_accuracy,
           |  round(avg(precision), 6) AS precision_macro,
           |  round(avg(recall), 6) AS recall_macro,
           |  round(avg(f1), 6) AS f1_macro,
           |  round(avg(f2), 6) AS f2_macro,
           |  round(avg(f0_5), 6) AS f0_5_macro,
           |  round(sum(precision * support) / sum(support), 6) AS precision_weighted,
           |  round(sum(recall * support) / sum(support), 6) AS recall_weighted,
           |  round(sum(f1 * support) / sum(support), 6) AS f1_weighted
           |FROM f""".stripMargin,

      "f10_metrics_per_group" ->
        s"""WITH mc AS ($multiclassSql),
           |sliced AS (
           |  SELECT *, CASE WHEN user_id % 2 = 0 THEN 'charging' ELSE 'idle' END AS grp
           |  FROM mc),
           |k AS (SELECT count(DISTINCT event_type) AS k FROM events),
           |universe AS (
           |  SELECT g.grp, a.i AS cls
           |  FROM (SELECT DISTINCT grp FROM sliced) g,
           |       (SELECT unnest(range(CAST((SELECT k FROM k) AS BIGINT))) AS i) a),
           |stats AS (
           |  SELECT grp, y_true AS cls,
           |    sum(CASE WHEN y_pred = y_true THEN 1 ELSE 0 END) AS tp,
           |    count(*) AS support
           |  FROM sliced GROUP BY 1, 2),
           |pred AS (SELECT grp, y_pred AS cls, count(*) AS predicted FROM sliced GROUP BY 1, 2),
           |pc AS (
           |  SELECT u.grp, u.cls,
           |    coalesce(s.tp, 0) AS tp, coalesce(s.support, 0) AS support,
           |    coalesce(p.predicted, 0) AS predicted,
           |    coalesce(s.support, 0) - coalesce(s.tp, 0) AS fn,
           |    coalesce(p.predicted, 0) - coalesce(s.tp, 0) AS fp
           |  FROM universe u
           |  LEFT JOIN stats s ON u.grp = s.grp AND u.cls = s.cls
           |  LEFT JOIN pred p ON u.grp = p.grp AND u.cls = p.cls),
           |pr AS (
           |  SELECT *,
           |    coalesce(tp * 1.0 / nullif(tp + fp, 0), 0) AS precision,
           |    coalesce(tp * 1.0 / nullif(tp + fn, 0), 0) AS recall
           |  FROM pc),
           |f AS (
           |  SELECT *, coalesce(2.0 * precision * recall / nullif(precision + recall, 0), 0) AS f1
           |  FROM pr)
           |SELECT grp,
           |  round(sum(tp) * 1.0 / sum(support), 6) AS accuracy,
           |  round(avg(CASE WHEN support > 0 THEN recall END), 6) AS balanced_accuracy,
           |  round(avg(precision), 6) AS precision_macro,
           |  round(avg(recall), 6) AS recall_macro,
           |  round(avg(f1), 6) AS f1_macro
           |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

      "g14_roc_curve" ->
        s"""SELECT threshold, fps, tps, round(fpr, 6) AS fpr, round(tpr, 6) AS tpr
           |FROM ($rocCurveSql) ORDER BY threshold DESC""".stripMargin,

      "g_auc_delong" ->
        s"""WITH se AS (${Q.scoredEventsSql}),
           |bys AS (
           |  SELECT score AS s,
           |    sum(CASE WHEN y_true = 1 THEN 1 ELSE 0 END) AS np,
           |    sum(CASE WHEN y_true <> 1 THEN 1 ELSE 0 END) AS nn
           |  FROM se GROUP BY 1),
           |cum AS (
           |  SELECT s, np, nn,
           |    coalesce(sum(nn) OVER (ORDER BY s
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below,
           |    coalesce(sum(np) OVER (ORDER BY s DESC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos_above,
           |    sum(np) OVER () AS m, sum(nn) OVER () AS n
           |  FROM bys),
           |vv AS (
           |  SELECT np, nn, m, n,
           |    (neg_below + nn * 0.5) / n AS v10,
           |    (pos_above + np * 0.5) / m AS v01
           |  FROM cum),
           |agg AS (
           |  SELECT sum(np * v10) / max(m) AS auc, max(m) AS m, max(n) AS n,
           |    sum(np * v10 * v10) AS ss10, sum(nn * v01 * v01) AS ss01
           |  FROM vv),
           |fin AS (
           |  SELECT auc,
           |    ((ss10 - m * auc * auc) / (m - 1)) / m +
           |    ((ss01 - n * auc * auc) / (n - 1)) / n AS var_auc
           |  FROM agg)
           |SELECT round(auc, 6) AS auc, round(var_auc, 9) AS var_auc,
           |  round(greatest(0.0, auc - 1.959963984540054 * sqrt(var_auc)), 6) AS ci_lo,
           |  round(least(1.0, auc + 1.959963984540054 * sqrt(var_auc)), 6) AS ci_hi
           |FROM fin""".stripMargin,

      "g14_roc_auc" ->
        s"""WITH curve AS ($rocCurveSql),
           |pts AS (
           |  SELECT fpr, tpr,
           |    coalesce(lag(fpr) OVER (ORDER BY threshold DESC), 0) AS fpr_prev,
           |    coalesce(lag(tpr) OVER (ORDER BY threshold DESC), 0) AS tpr_prev
           |  FROM curve)
           |SELECT round(sum((fpr - fpr_prev) * (tpr + tpr_prev) / 2), 6) AS roc_auc FROM pts""".stripMargin,

      "g13_pr_auc" ->
        s"""WITH mc AS ($multiclassSql),
           |classes AS (SELECT CAST(row_number() OVER (ORDER BY class) - 1 AS BIGINT) AS j
           |            FROM (SELECT DISTINCT event_type AS class FROM events) d),
           |pairs AS (
           |  SELECT classes.j AS cls,
           |    (CAST(event_id AS BIGINT) * (2*classes.j + 3)) % 97 / 97.0 + 0.001 * classes.j
           |      + CASE WHEN y_true = classes.j THEN 0.75 ELSE 0.0 END AS s,
           |    CASE WHEN y_true = classes.j THEN 1 ELSE 0 END AS y
           |  FROM mc, classes),
           |mcurve AS (
           |  SELECT s AS threshold, sum(y) AS pos, sum(1-y) AS neg FROM pairs GROUP BY 1),
           |mcum AS (
           |  SELECT threshold,
           |    sum(pos) OVER w AS tps, sum(neg) OVER w AS fps,
           |    sum(pos) OVER () AS p_tot
           |  FROM mcurve WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)),
           |mpts AS (
           |  SELECT tps*1.0/(tps+fps) AS precision, tps*1.0/p_tot AS recall,
           |    coalesce(lag(tps*1.0/p_tot) OVER (ORDER BY threshold DESC), 0) AS recall_prev
           |  FROM mcum),
           |micro AS (SELECT sum((recall - recall_prev) * precision) AS pr_auc_micro FROM mpts),
           |ccurve AS (SELECT cls, s AS threshold, sum(y) AS pos, sum(1-y) AS neg FROM pairs GROUP BY 1,2),
           |ccum AS (
           |  SELECT cls, threshold,
           |    sum(pos) OVER w AS tps, sum(neg) OVER w AS fps,
           |    sum(pos) OVER (PARTITION BY cls) AS p_tot,
           |    sum(neg) OVER (PARTITION BY cls) AS n_tot
           |  FROM ccurve WINDOW w AS (PARTITION BY cls ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)),
           |cpts AS (
           |  SELECT cls, tps*1.0/(tps+fps) AS precision, tps*1.0/p_tot AS recall,
           |    coalesce(lag(tps*1.0/p_tot) OVER wc, 0) AS recall_prev,
           |    fps*1.0/n_tot AS fpr,
           |    coalesce(lag(fps*1.0/n_tot) OVER wc, 0) AS fpr_prev
           |  FROM ccum WINDOW wc AS (PARTITION BY cls ORDER BY threshold DESC)),
           |cap AS (SELECT cls, sum((recall - recall_prev) * precision) AS ap,
           |        sum((fpr - fpr_prev) * (recall + recall_prev) / 2) AS auc
           |        FROM cpts GROUP BY 1),
           |macro AS (SELECT avg(ap) AS pr_auc_macro, avg(auc) AS roc_auc_macro FROM cap)
           |SELECT round(pr_auc_micro, 6) AS pr_auc_micro, round(pr_auc_macro, 6) AS pr_auc_macro,
           |  round(roc_auc_macro, 6) AS roc_auc_macro FROM micro, macro""".stripMargin,

      "g13_auc_per_group" ->
        s"""WITH mc AS ($multiclassSql),
           |classes AS (SELECT CAST(row_number() OVER (ORDER BY class) - 1 AS BIGINT) AS j
           |            FROM (SELECT DISTINCT event_type AS class FROM events) d),
           |pairs AS (
           |  SELECT CASE WHEN user_id % 2 = 0 THEN 'charging' ELSE 'idle' END AS grp,
           |    classes.j AS cls,
           |    (CAST(event_id AS BIGINT) * (2*classes.j + 3)) % 97 / 97.0 + 0.001 * classes.j
           |      + CASE WHEN y_true = classes.j THEN 0.75 ELSE 0.0 END AS s,
           |    CASE WHEN y_true = classes.j THEN 1 ELSE 0 END AS y
           |  FROM mc, classes),
           |mcurve AS (
           |  SELECT grp, s AS threshold, sum(y) AS pos, sum(1-y) AS neg FROM pairs GROUP BY 1, 2),
           |mcum AS (
           |  SELECT grp, threshold,
           |    sum(pos) OVER w AS tps, sum(neg) OVER w AS fps,
           |    sum(pos) OVER (PARTITION BY grp) AS p_tot
           |  FROM mcurve WINDOW w AS (PARTITION BY grp ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)),
           |mpts AS (
           |  SELECT grp, tps*1.0/(tps+fps) AS precision, tps*1.0/p_tot AS recall,
           |    coalesce(lag(tps*1.0/p_tot) OVER (PARTITION BY grp ORDER BY threshold DESC), 0) AS recall_prev
           |  FROM mcum),
           |micro AS (SELECT grp, sum((recall - recall_prev) * precision) AS pr_auc_micro
           |          FROM mpts GROUP BY 1),
           |ccurve AS (SELECT grp, cls, s AS threshold, sum(y) AS pos, sum(1-y) AS neg
           |           FROM pairs GROUP BY 1, 2, 3),
           |ccum AS (
           |  SELECT grp, cls, threshold,
           |    sum(pos) OVER w AS tps, sum(neg) OVER w AS fps,
           |    sum(pos) OVER (PARTITION BY grp, cls) AS p_tot,
           |    sum(neg) OVER (PARTITION BY grp, cls) AS n_tot
           |  FROM ccurve WINDOW w AS (PARTITION BY grp, cls ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING)),
           |cpts AS (
           |  SELECT grp, cls, tps*1.0/(tps+fps) AS precision, tps*1.0/p_tot AS recall,
           |    coalesce(lag(tps*1.0/p_tot) OVER wc, 0) AS recall_prev,
           |    fps*1.0/n_tot AS fpr,
           |    coalesce(lag(fps*1.0/n_tot) OVER wc, 0) AS fpr_prev
           |  FROM ccum WINDOW wc AS (PARTITION BY grp, cls ORDER BY threshold DESC)),
           |cap AS (SELECT grp, cls, sum((recall - recall_prev) * precision) AS ap,
           |        sum((fpr - fpr_prev) * (recall + recall_prev) / 2) AS auc
           |        FROM cpts GROUP BY 1, 2),
           |macro AS (SELECT grp, avg(ap) AS pr_auc_macro, avg(auc) AS roc_auc_macro
           |          FROM cap GROUP BY 1)
           |SELECT micro.grp, round(pr_auc_micro, 6) AS pr_auc_micro,
           |  round(pr_auc_macro, 6) AS pr_auc_macro, round(roc_auc_macro, 6) AS roc_auc_macro
           |FROM micro JOIN macro ON micro.grp = macro.grp ORDER BY 1""".stripMargin,

      "g14_average_precision" ->
        s"""WITH curve AS ($rocCurveSql),
           |pr AS (
           |  SELECT threshold, tps * 1.0 / (tps + fps) AS precision, tpr AS recall FROM curve),
           |pts AS (
           |  SELECT precision, recall,
           |    coalesce(lag(recall) OVER (ORDER BY threshold DESC), 0) AS recall_prev
           |  FROM pr)
           |SELECT round(sum((recall - recall_prev) * precision), 6) AS average_precision FROM pts""".stripMargin,

      "g15_threshold_at_fpr" ->
        s"""WITH curve AS ($rocCurveSql),
           |d AS (
           |  SELECT *, fps - lag(fps) OVER w2 AS dfp, lead(fps) OVER w2 - fps AS dfn,
           |         tps - lag(tps) OVER w2 AS dtp, lead(tps) OVER w2 - tps AS dtn
           |  FROM curve WINDOW w2 AS (ORDER BY threshold DESC)),
           |thin AS (
           |  SELECT threshold, fpr, tpr FROM d
           |  WHERE dfp IS NULL OR dfn IS NULL OR dfp != dfn OR dtp != dtn),
           |cand AS (
           |  SELECT round(threshold, 4) AS threshold, round(fpr, 6) AS fpr, round(tpr, 6) AS tpr
           |  FROM thin WHERE fpr <= 0.3
           |  ORDER BY fpr DESC, threshold ASC LIMIT 1)
           |SELECT * FROM cand
           |UNION ALL
           |SELECT CAST('Infinity' AS DOUBLE), 0.0, 0.0
           |WHERE NOT EXISTS (SELECT 1 FROM cand)""".stripMargin,

      "g12_ttd" ->
        s"""WITH se AS (${Q.scoredEventsSql}),
           |flagged AS (
           |  SELECT event_id AS idx, y_true AS yt, y_pred AS yp,
           |    CAST(user_id AS VARCHAR) AS ep,
           |    lag(y_true) OVER (ORDER BY event_id) AS prev_yt,
           |    lag(CAST(user_id AS VARCHAR)) OVER (ORDER BY event_id) AS prev_ep
           |  FROM se),
           |starts AS (
           |  SELECT *, CASE WHEN yt = 1 AND (prev_yt IS NULL OR prev_yt != 1 OR prev_ep != ep)
           |    THEN 1 ELSE 0 END AS is_start FROM flagged),
           |islands AS (
           |  SELECT *, sum(is_start) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS episode
           |  FROM starts),
           |eps AS (
           |  SELECT episode, min(idx) AS start_idx,
           |    min(CASE WHEN yp = 1 THEN idx END) AS det_idx
           |  FROM islands WHERE yt = 1 GROUP BY 1)
           |SELECT count(*) AS episodes_total,
           |  count(det_idx) AS episodes_detected,
           |  round(avg((det_idx - start_idx) * 1.0), 4) AS avg_ttd_seconds
           |FROM eps""".stripMargin,

      "g11_weighted_logloss" ->
        s"""SELECT round(sum(-ln(greatest(least(p_true, 1 - 1e-12), 1e-12)) * w) / sum(w), 6)
           |  AS weighted_logloss
           |FROM (
           |  SELECT CASE WHEN y_true = 1 THEN score ELSE 1 - score END AS p_true,
           |    value + 1 AS w
           |  FROM (${Q.scoredEventsSql}) se) t""".stripMargin,

      "g16_operational" ->
        s"""WITH se AS (${Q.scoredEventsSql}),
           |v AS (SELECT * FROM se WHERE event_id % 2 = 0),
           |tst AS (SELECT * FROM se WHERE event_id % 2 = 1),
           |curve AS (
           |  SELECT threshold, sum(pos) OVER w AS tps, sum(neg) OVER w AS fps,
           |    (sum(neg) OVER w) * 1.0 / (sum(neg) OVER ()) AS fpr
           |  FROM (SELECT score AS threshold, sum(y_true) AS pos, sum(1 - y_true) AS neg
           |        FROM v GROUP BY 1)
           |  WINDOW w AS (ORDER BY threshold DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           |d AS (
           |  SELECT *, fps - lag(fps) OVER w2 AS dfp, lead(fps) OVER w2 - fps AS dfn,
           |         tps - lag(tps) OVER w2 AS dtp, lead(tps) OVER w2 - tps AS dtn
           |  FROM curve WINDOW w2 AS (ORDER BY threshold DESC)),
           |thin AS (
           |  SELECT threshold, fpr FROM d
           |  WHERE dfp IS NULL OR dfn IS NULL OR dfp != dfn OR dtp != dtn),
           |cand AS (SELECT threshold FROM thin WHERE fpr <= 0.1
           |         ORDER BY fpr DESC, threshold ASC LIMIT 1),
           |thr AS (
           |  SELECT threshold FROM cand
           |  UNION ALL
           |  SELECT CAST('Infinity' AS DOUBLE)
           |  WHERE NOT EXISTS (SELECT 1 FROM cand)),
           |cells AS (
           |  SELECT
    |    CAST(sum(CASE WHEN y_true = 0 AND score <  (SELECT threshold FROM thr) THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    |    CAST(sum(CASE WHEN y_true = 0 AND score >= (SELECT threshold FROM thr) THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    |    CAST(sum(CASE WHEN y_true = 1 AND score <  (SELECT threshold FROM thr) THEN 1 ELSE 0 END) AS BIGINT) AS fn,
    |    CAST(sum(CASE WHEN y_true = 1 AND score >= (SELECT threshold FROM thr) THEN 1 ELSE 0 END) AS BIGINT) AS tp
           |  FROM tst)
           |SELECT (SELECT threshold FROM thr) AS threshold, tn, fp, fn, tp,
           |  round(fp * 1.0 / (tn + fp), 6) AS fpr,
           |  round(tp / (tp + fn + 1e-12), 6) AS tpr,
           |  round(tp / (tp + fp + 1e-12), 6) AS precision,
           |  round(CASE WHEN (tp / (tp + fp + 1e-12)) + (tp / (tp + fn + 1e-12)) = 0 THEN 0
           |    ELSE 2 * (tp / (tp + fp + 1e-12)) * (tp / (tp + fn + 1e-12)) /
           |         ((tp / (tp + fp + 1e-12)) + (tp / (tp + fn + 1e-12))) END, 6) AS f1,
           |  round(greatest(0.0, (fp * 1.0 / (tn + fp)) -
           |    1.96 * sqrt((fp * 1.0 / (tn + fp)) * (1 - fp * 1.0 / (tn + fp)) / (tn + fp))), 6)
           |    AS fpr_ci_normal_low,
           |  round(least(1.0, (fp * 1.0 / (tn + fp)) +
           |    1.96 * sqrt((fp * 1.0 / (tn + fp)) * (1 - fp * 1.0 / (tn + fp)) / (tn + fp))), 6)
           |    AS fpr_ci_normal_high,
           |  round(fp / ((tn + fp) * 1.0 / 3600.0), 4) AS fp_per_hour,
           |  round((tn + fp) * 1.0 / 3600.0, 6) AS hours_benign,
           |  round((tn + fp + fn + tp) * 1.0 / 3600.0, 6) AS total_hours_test
           |FROM cells""".stripMargin,

      // Scalar re-derivation of the G18 calculators; erf via
      // Abramowitz-Stegun 7.1.26 (|eps| <= 1.5e-7 — rounds identically to
      // commons-math erf at 6 decimals on this fixed grid).
      "g18_calculators" ->
        """WITH grid AS (
          |  SELECT a.alpha, f.fpr, s.sigma, fh.fph, fh.hop
          |  FROM (VALUES (0.05e0), (0.01e0)) a(alpha)
          |  CROSS JOIN (VALUES (0.001e0), (0.01e0), (0.05e0)) f(fpr)
          |  CROSS JOIN (VALUES (1.0e0), (1.5e0), (2.0e0), (2.5e0), (3.0e0)) s(sigma)
          |  CROSS JOIN (VALUES (0.1e0, 60.0e0), (1.0e0, 60.0e0), (0.1e0, 1.0e0)) fh(fph, hop)),
          |pre AS (
          |  SELECT *, sigma / sqrt(2.0e0) AS x,
          |    1.0e0 / (1.0e0 + 0.3275911e0 * sigma / sqrt(2.0e0)) AS t,
          |    fph * hop / 3600.0e0 AS p
          |  FROM grid)
          |SELECT alpha, fpr, sigma, fph, hop,
          |  CAST(ceil(ln(alpha) / ln(1.0e0 - fpr)) AS BIGINT) AS n_exact,
          |  CAST(ceil(ln(1.0e0 / alpha) / fpr) AS BIGINT) AS n_approx,
          |  round((0.254829592e0 * t - 0.284496736e0 * t * t
          |    + 1.421413741e0 * t * t * t - 1.453152027e0 * t * t * t * t
          |    + 1.061405429e0 * t * t * t * t * t) * exp(-x * x), 6) AS alpha_sigma,
          |  round(ln(alpha) / ln(1.0e0 - p) * hop / 3600.0e0, 6) AS hours_zero_fp,
          |  round(ln(1.0e0 / alpha) / fph * 3600.0e0 / hop, 6) AS windows_zero_fp
          |FROM pre
          |ORDER BY alpha, fpr, sigma, fph, hop""".stripMargin,

      "g_reliability" ->
        s"""SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
           |  count(*) AS n,
           |  round(avg(score), 6) AS confidence,
           |  round(avg(y_true), 6) AS accuracy,
           |  round(sum((score - y_true) * (score - y_true)), 6) AS sq_err
           |FROM (${Q.scoredEventsSql}) se
           |GROUP BY 1 ORDER BY 1""".stripMargin,

      "g_calibration_errors" ->
        s"""WITH rel AS (
           |  SELECT least(floor(score * 10), 9) AS bin, count(*) AS n,
           |    avg(score) AS conf, avg(y_true) AS acc,
           |    sum((score - y_true) * (score - y_true)) AS sq
           |  FROM (${Q.scoredEventsSql}) se GROUP BY 1)
           |SELECT
           |  round(sum(n * abs(acc - conf)) / sum(n), 6) AS ece,
           |  round(max(abs(acc - conf)), 6) AS mce,
           |  round(sum(sq) / sum(n), 6) AS brier
           |FROM rel""".stripMargin,

      "g_cohens_kappa" ->
        s"""WITH mc AS ($multiclassSql),
           |cells AS (SELECT y_true AS t, y_pred AS p, count(*) AS cnt
           |          FROM mc GROUP BY 1, 2),
           |tot AS (SELECT sum(CASE WHEN t = p THEN cnt ELSE 0 END) AS diag,
           |               sum(cnt) AS n FROM cells),
           |rm AS (SELECT t, sum(cnt) AS rn FROM cells GROUP BY 1),
           |cm AS (SELECT p, sum(cnt) AS cn FROM cells GROUP BY 1),
           |pe AS (SELECT sum(rn * cn) AS rc FROM rm JOIN cm ON rm.t = cm.p)
           |SELECT round(diag * 1.0 / n, 6) AS po,
           |  round(rc * 1.0 / (n * n), 6) AS pe,
           |  round((diag * 1.0 / n - rc * 1.0 / (n * n))
           |        / (1 - rc * 1.0 / (n * n)), 6) AS kappa
           |FROM tot, pe""".stripMargin,

      "g_label_noise" ->
        s"""WITH mc AS ($multiclassSql),
           |classes AS (SELECT CAST(row_number() OVER (ORDER BY class) - 1 AS BIGINT) AS j
           |            FROM (SELECT DISTINCT event_type AS class FROM events) d),
           |pairs AS (
           |  SELECT event_id, y_true, CAST(classes.j AS INT) AS j,
           |    (CAST(event_id AS BIGINT) * (2*classes.j + 3)) % 97 / 97.0 + 0.001 * classes.j
           |      + CASE WHEN y_true = classes.j THEN 0.75 ELSE 0.0 END AS p
           |  FROM mc, classes),
           |thr AS (SELECT j, round(avg(p), 9) AS t FROM pairs
           |        WHERE y_true = j GROUP BY 1),
           |cand AS (
           |  SELECT pr.event_id, pr.y_true, pr.j, pr.p,
           |    row_number() OVER (PARTITION BY pr.event_id
           |                       ORDER BY pr.p DESC, pr.j DESC) AS rk
           |  FROM pairs pr JOIN thr ON pr.j = thr.j
           |  WHERE pr.p >= thr.t AND pr.j <> pr.y_true),
           |giv AS (SELECT event_id, p AS p_given FROM pairs WHERE j = y_true)
           |SELECT c.event_id AS id, c.y_true AS y_given, c.j AS y_suggested,
           |  round(c.p - g.p_given, 6) AS margin
           |FROM cand c JOIN giv g ON c.event_id = g.event_id
           |WHERE c.rk = 1
           |ORDER BY 1""".stripMargin,
    )
  }
}
