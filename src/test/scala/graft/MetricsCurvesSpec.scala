package graft

import org.apache.spark.sql.functions._
import graft.ops.{BinaryOperational, Curves, LocalRegime, MetricsOps, Sessionize}

/** sklearn-parity fixtures for G9/G13/G14/G15/G16/G12/G11/G5.
  * Expected values hand-computed / cross-checked against sklearn formulas
  * (SURVEY §5.2 "metric laws"). */
class MetricsCurvesSpec extends SparkSpec {
  import spark.implicits._

  // y_true, score fixture with known curve: scores descending
  // (y, s): (1,.9) (0,.8) (1,.7) (1,.6) (0,.4) (0,.3) -> pos=3 neg=3
  private lazy val scored = Seq((1, 0.9), (0, 0.8), (1, 0.7), (1, 0.6), (0, 0.4), (0, 0.3))
    .toDF("y", "s")

  test("rocCurve cumulative points match hand computation") {
    val pts = Curves.rocCurve(scored, col("y"), col("s"))
      .orderBy(desc("threshold")).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    // threshold desc: (.9: fps0 tps1) (.8: 1,1) (.7: 1,2) (.6: 1,3) (.4: 2,3) (.3: 3,3)
    assert(pts.toSeq == Seq((0.9, 0L, 1L), (0.8, 1L, 1L), (0.7, 1L, 2L),
      (0.6, 1L, 3L), (0.4, 2L, 3L), (0.3, 3L, 3L)))
  }

  test("rocAuc matches sklearn roc_auc_score") {
    // sklearn on this fixture: AUC = 7/9
    val auc = Curves.rocAuc(scored, col("y"), col("s")).head().getDouble(0)
    assert(approx(auc, 7.0 / 9, 1e-12), s"auc=$auc")
  }

  test("aucDeLong: AUC equals the trapezoid rocAuc; variance matches a from-scratch DeLong (ties included)") {
    // fixture WITH a tied score across classes ((1,.6) and (0,.6)) so
    // the ½-tie convention is exercised
    val rows = Seq((1, 0.9), (0, 0.8), (1, 0.7), (1, 0.6), (0, 0.6), (0, 0.3))
    val df = rows.toDF("y", "s")
    val got = graft.ops.Curves.aucDeLong(df, col("y"), col("s")).head()
    // from-scratch DeLong
    val pos = rows.filter(_._1 == 1).map(_._2)
    val neg = rows.filter(_._1 == 0).map(_._2)
    def v10(p: Double) = (neg.count(_ < p) + 0.5 * neg.count(_ == p)) / neg.size
    def v01(nv: Double) = (pos.count(_ > nv) + 0.5 * pos.count(_ == nv)) / pos.size
    val auc = pos.map(v10).sum / pos.size
    def sVar(vs: Seq[Double]) =
      vs.map(v => (v - auc) * (v - auc)).sum / (vs.size - 1)
    val varAuc = sVar(pos.map(v10)) / pos.size + sVar(neg.map(v01)) / neg.size
    assert(approx(got.getAs[Double]("auc"), auc, 1e-12), got.toString)
    assert(approx(got.getAs[Double]("var_auc"), varAuc, 1e-12), got.toString)
    assert(approx(got.getAs[Double]("ci_lo"),
      math.max(0.0, auc - 1.959963984540054 * math.sqrt(varAuc)), 1e-12))
    assert(approx(got.getAs[Double]("ci_hi"),
      math.min(1.0, auc + 1.959963984540054 * math.sqrt(varAuc)), 1e-12))
    // AUC cross-law: DeLong's rank form == the trapezoid curve form
    val trap = graft.ops.Curves.rocAuc(df, col("y"), col("s")).head().getDouble(0)
    assert(approx(got.getAs[Double]("auc"), trap, 1e-12))
  }

  test("averagePrecision matches sklearn average_precision_score") {
    // AP = sum (R_i - R_{i-1}) P_i over thresholds desc:
    // (1/3)(1) + 0 + (1/3)(2/3) + (1/3)(3/4) + 0 + 0 = 0.80555...
    val ap = Curves.averagePrecision(scored, col("y"), col("s")).head().getDouble(0)
    assert(approx(ap, 1.0 / 3 + 2.0 / 9 + 0.25, 1e-12), s"ap=$ap")
  }

  test("thresholdAtFpr picks last point with fpr <= target, falls back to nearest") {
    val curve = Curves.rocCurve(scored, col("y"), col("s"))
    val t1 = Curves.thresholdAtFpr(curve, 1.0 / 3).head()
    assert(t1.getDouble(0) == 0.6) // fpr 1/3 reached down to thr .6
    val t2 = Curves.thresholdAtFpr(curve, 0.5).head()
    assert(t2.getDouble(0) == 0.6) // last fpr <= .5 still 1/3 at thr .6
    // real point with fpr 0 exists → it wins over the virtual anchor
    val t3 = Curves.thresholdAtFpr(curve, 0.0).head()
    assert(t3.getDouble(0) == 0.9 && t3.getDouble(1) == 0.0)
    // NO real point satisfies the target (top score is a negative) →
    // sklearn's virtual (fpr=0, thr=inf) anchor: predict nothing
    val inverted = Seq((0, 0.9), (1, 0.8)).toDF("y", "s")
    val anchor = Curves.thresholdAtFpr(
      Curves.rocCurve(inverted, col("y"), col("s")), 0.3).head()
    assert(anchor.getDouble(0).isPosInfinity && anchor.getDouble(1) == 0.0)
  }

  test("dropIntermediate keeps endpoints and bends only; selection matches sklearn") {
    // (y, s): (1,.9) (1,.8) (0,.7) (0,.6) (0,.5) (1,.4) — cumulative
    // (fps,tps) per thr desc: (0,1) (0,2) (1,2) (2,2) (3,2) (3,3).
    // Interior points .7 and .6 are collinear (constant increments) →
    // sklearn keeps [.9 .8 .5 .4].
    val df = Seq((1, 0.9), (1, 0.8), (0, 0.7), (0, 0.6), (0, 0.5), (1, 0.4)).toDF("y", "s")
    val full = Curves.rocCurve(df, col("y"), col("s"))
    val thin = Curves.dropIntermediate(full)
    assert(thin.orderBy(desc("threshold")).collect().map(_.getDouble(0)).toSeq
      == Seq(0.9, 0.8, 0.5, 0.4))
    // fpr_target = 0.5 falls strictly between kept corners: sklearn's
    // select_threshold_at_fpr (thinned points) returns thr=.8 (fpr=0),
    // while the unthinned curve would return thr=.7 (fpr=1/3).
    assert(Curves.thresholdAtFpr(thin, 0.5).head().getDouble(0) == 0.8)
    assert(Curves.thresholdAtFpr(full, 0.5).head().getDouble(0) == 0.7)
  }

  test("multiclass metrics match sklearn on a 3-class fixture") {
    // y_true: 0,0,1,1,2,2 ; y_pred: 0,1,1,1,2,0
    val df = Seq((0, 0), (0, 1), (1, 1), (1, 1), (2, 2), (2, 0)).toDF("yt", "yp")
    val m = MetricsOps.multiclassMetrics(df, "yt", "yp", Seq(0, 1, 2)).head()
    val get = (n: String) => m.getAs[Double](n)
    assert(approx(get("accuracy"), 4.0 / 6))
    // per-class: P0=1/2 R0=1/2; P1=2/3 R1=1; P2=1 R2=1/2
    assert(approx(get("precision_macro"), (0.5 + 2.0 / 3 + 1.0) / 3))
    assert(approx(get("recall_macro"), (0.5 + 1.0 + 0.5) / 3))
    assert(approx(get("balanced_accuracy"), (0.5 + 1.0 + 0.5) / 3))
    // F1: 0.5, 0.8, 2/3
    assert(approx(get("f1_macro"), (0.5 + 0.8 + 2.0 / 3) / 3))
    assert(approx(get("f1_weighted"), (0.5 * 2 + 0.8 * 2 + 2.0 / 3 * 2) / 6))
  }

  test("proba overload: argmax y_pred (first max wins) + AUC fields on a hand fixture") {
    // 2 classes, probas hand-picked: row 3 ties (0.5, 0.5) → numpy argmax
    // picks class 0 (first max)
    val df = Seq(
      (0, Seq(0.9, 0.1)), (0, Seq(0.4, 0.6)), (1, Seq(0.2, 0.8)), (1, Seq(0.5, 0.5)))
      .toDF("yt", "p")
    val m = MetricsOps.multiclassMetrics(df, "yt", col("p"), Seq(0, 1)).head()
    // y_pred = argmax = [0, 1, 1, 0] → accuracy 2/4
    assert(approx(m.getAs[Double]("accuracy"), 0.5))
    // class-1 scores [.1,.6,.8,.5] labels [0,0,1,1]: ranked desc .8(1) .6(0)
    // .5(1) .1(0) → AP_1 = 1/2·1 + 1/2·(2/3)... wait R steps at .8 and .5:
    // AP = (0.5-0)·1 + (1.0-0.5)·(2/3) = 5/6. class-0 scores [.9,.4,.2,.5]
    // labels [1,1,0,0]: desc .9(1) .5(0) .4(1) .2(0) → AP = 0.5·1 + 0.5·(2/3) = 5/6.
    assert(approx(m.getAs[Double]("pr_auc_macro"), 5.0 / 6))
    // ROC per class: class0 pairs — pos {.9,.4} neg {.5,.2}: of 4 pairs,
    // .9>.5, .9>.2, .4<.5, .4>.2 → AUC 3/4; class1 symmetric 3/4.
    assert(approx(m.getAs[Double]("roc_auc_macro"), 0.75))
    assert(m.getAs[Double]("pr_auc_micro") > 0 && m.getAs[Double]("pr_auc_micro") <= 1)
  }

  test("zero_division=0: class never predicted gets precision 0") {
    val df = Seq((0, 1), (1, 1)).toDF("yt", "yp") // class 0 never predicted
    val m = MetricsOps.multiclassMetrics(df, "yt", "yp", Seq(0, 1)).head()
    assert(approx(m.getAs[Double]("precision_macro"), (0.0 + 0.5) / 2))
  }

  test("confusion matrix densely zero-fills the label universe") {
    val df = Seq((0, 0), (1, 1)).toDF("yt", "yp")
    val cm = MetricsOps.confusionMatrix(df, "yt", "yp", Seq(0, 1, 2))
    assert(cm.count() == 9)
    assert(cm.where(col("cnt") === 0).count() == 7)
  }

  test("classWeights: n/(k*n_c) capped") {
    val df = (Seq.fill(90)("a") ++ Seq.fill(9)("b") ++ Seq("c")).toDF("y")
    val w = MetricsOps.classWeights(df, "y", cap = 10.0).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(approx(w("a"), 100.0 / (3 * 90)))
    assert(approx(w("b"), 100.0 / (3 * 9)))
    assert(approx(w("c"), 10.0)) // uncapped would be 33.3
  }

  test("weightedLogLoss clips probabilities") {
    val df = Seq((1.0, 1.0), (0.0, 1.0)).toDF("p", "w") // p_true=0 would be -inf
    val ll = MetricsOps.weightedLogLoss(df, col("p"), col("w")).head().getDouble(0)
    assert(ll.isFinite && ll > 0)
    assert(approx(ll, -math.log(1e-12) / 2, 1e-6))
  }

  test("TTD sessionization: episode boundaries and delays") {
    // idx: 1..8; yt: 0 1 1 0 1 1 1 0; ep: same except idx5-7 has ep change at 6
    val df = Seq(
      (1L, 0, 0, "e1"), (2L, 1, 0, "e1"), (3L, 1, 1, "e1"), (4L, 0, 0, "e1"),
      (5L, 1, 0, "e2"), (6L, 1, 0, "e3"), (7L, 1, 1, "e3"), (8L, 0, 1, "e3"))
      .toDF("idx", "yt", "yp", "ep")
    val eps = Sessionize.episodes(df, col("idx"), col("yt"), col("yp"), col("ep"))
      .orderBy("episode").collect()
    // episodes: [2,3] e1 (det at 3, delay 1), [5] e2 (undetected), [6,7] e3 (det at 7, delay 1)
    assert(eps.length == 3)
    assert(eps(0).getAs[Long]("start_idx") == 2L && eps(0).getAs[Long]("det_idx") == 3L)
    assert(eps(1).getAs[Long]("start_idx") == 5L && eps(1).isNullAt(eps(1).fieldIndex("det_idx")))
    assert(eps(2).getAs[Long]("start_idx") == 6L && eps(2).getAs[Long]("det_idx") == 7L)
    val stats = Sessionize.ttdStats(df, col("idx"), col("yt"), col("yp"), col("ep"), 2.0).head()
    assert(stats.getLong(0) == 3 && stats.getLong(1) == 2)
    assert(approx(stats.getDouble(2), 2.0)) // mean(1,1)*hop2
  }

  test("TTD sessionization: local fast path == distributed boundary-chained scan (parity)") {
    // seeded pseudo-random sequence: episodes of varying length, id
    // changes inside yt==1 runs (forces the prevEp boundary), detections
    // scattered — wide enough to span several range partitions
    val rows = (1 to 4000).map { i =>
      val yt = if ((i * 2654435761L % 7) < 4) 1 else 0
      val yp = if (i * 40503L % 11 == 0) 1 else 0
      val ep = s"e${i * 69069L % 13 / 4}"
      (i.toLong, yt, yp, ep)
    }
    val df = rows.toDF("idx", "yt", "yp", "ep")
    def run() = Sessionize
      .episodes(df, col("idx"), col("yt"), col("yp"), col("ep"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val local = run()
    val dist = LocalRegime.distributedOnly(run())
    assert(local == dist)
    assert(local.nonEmpty && local.exists(_._4 == -1L) && local.exists(_._4 > 0L))
  }

  test("clopperPearson matches independent beta-quantile reference values") {
    // Reference: bisection on the regularized incomplete beta (Numerical
    // Recipes continued fraction), CP interval for 5 successes of 100.
    val (lo, hi) = BinaryOperational.clopperPearson(5, 100)
    assert(approx(lo, 0.016431879182, 1e-6), s"lo=$lo")
    assert(approx(hi, 0.112834911105, 1e-6), s"hi=$hi")
    // edges
    assert(BinaryOperational.clopperPearson(0, 50)._1 == 0.0)
    assert(BinaryOperational.clopperPearson(50, 50)._2 == 1.0)
  }

  test("binary operational composite on a calibratable fixture") {
    val valDf = Seq((1, 0.9), (1, 0.8), (0, 0.6), (0, 0.4), (0, 0.2)).toDF("y", "s")
    val testDf = Seq((1, 0.95), (1, 0.5), (0, 0.7), (0, 0.3)).toDF("y", "s")
    val m = BinaryOperational.evaluate(valDf, testDf, col("y"), col("s"),
      fprTarget = 0.0, hopSeconds = 3600.0)
    // val curve: thr .8 gives fpr 0, tpr 1 → threshold .8
    assert(m.threshold == 0.8)
    assert(m.tp == 1 && m.fn == 1 && m.tn == 2 && m.fp == 0)
    assert(approx(m.fpr, 0.0))
    assert(approx(m.falsePositivesPerHour, 0.0))
    assert(m.fprCiCpHigh > 0 && m.fprCiCpHigh < 1)
  }
}
