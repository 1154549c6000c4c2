package graft

import org.apache.spark.sql.{Column, DataFrame}
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

  /** The relational G13/F10 algebra `MetricsOps.multiclassMetricsPerGroup`
    * had before its cell-level form: the parity reference for
    * [[MetricsOps.cellMetrics]]. One groupBy over (group, y_true, y_pred)
    * cells, a 2-way explode into per-(group, class) support / tp /
    * predicted, a left join against the per-group label universe, then
    * per-group averages — Spark's summation order, which the cell form
    * replaces with a fixed one. */
  private def relationalPerGroup(df: DataFrame, groupCol: String,
      yTrue: String, yPred: String, labels: Seq[Int]): DataFrame = {
    def safeDiv(num: Column, den: Column): Column =
      coalesce(num / nullif(den, lit(0.0)), lit(0.0))
    val counts = df.groupBy(col(groupCol).as("grp"),
        col(yTrue).cast("int").as("y_true"), col(yPred).cast("int").as("y_pred"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val contrib = counts
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
    val universe = counts.select(col("grp").as("__gu")).distinct()
      .crossJoin(labels.toDF("__cu"))
    def fbeta(b: Double): Column = {
      val b2 = lit(b * b)
      safeDiv((lit(1.0) + b2) * col("precision") * col("recall"),
        b2 * col("precision") + col("recall"))
    }
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

  /** Runs `body` with ANSI arithmetic off: the relational reference
    * divides by a zero support sum on a zero-support group, which ANSI
    * turns into DIVIDE_BY_ZERO and non-ANSI into the null the cell form
    * returns. */
  private def nonAnsi[T](body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, before)
  }

  test("cell-level metric algebra == the relational reference over generated cell tables") {
    for (k <- Seq(2, 3, 5); nGroups <- Seq(1, 3)) {
      val rnd = new scala.util.Random(1000L * k + nGroups)
      val labels = 0 until k
      // a class id: mostly inside the universe, sometimes outside or null
      def cls(): Option[Int] = rnd.nextInt(10) match {
        case 0 => None
        case 1 => Some(k + rnd.nextInt(3))
        case 2 => Some(-1)
        case _ => Some(rnd.nextInt(k))
      }
      val inside = for {
        g <- 0 until nGroups
        _ <- 0 until 4 * k * k
      } yield MetricsOps.Cell(s"g$g", cls(), cls(), 1L + rnd.nextInt(50))
      // one group whose every cell falls outside the universe, and a null group
      val outside = Seq(MetricsOps.Cell("out", Some(k), Some(0), 3L),
        MetricsOps.Cell("out", None, Some(1), 2L), MetricsOps.Cell("out", Some(0), Some(-1), 4L))
      val nullGroup = Seq(MetricsOps.Cell(null, Some(0), Some(0), 5L))
      val cells = inside ++ outside ++ nullGroup
      val rows = cells.flatMap(c => Seq.fill(c.n.toInt)((Option(c.group.asInstanceOf[String]),
        c.yTrue, c.yPred)))
      val df = rnd.shuffle(rows).toDF("grp", "yt", "yp").repartition(4)
      val clue = s"k=$k groups=$nGroups"

      val want = nonAnsi(relationalPerGroup(df, "grp", "yt", "yp", labels).collect())
        .map(r => Option(r.get(0)) -> r.toSeq.tail).toMap
      val cellForm = MetricsOps.cellMetrics(cells, labels)
        .map(g => Option(g.group) -> g.suite.toRow.toSeq).toMap
      val face = MetricsOps.multiclassMetricsPerGroup(df, "grp", "yt", "yp", labels).collect()
        .map(r => Option(r.get(0)) -> r.toSeq.tail).toMap
      assert(want.keySet == (0 until nGroups).map(g => Some(s"g$g")).toSet ++
        Set(Some("out"), None), clue)
      for (got <- Seq(cellForm, face)) {
        assert(got.keySet == want.keySet, clue)
        for ((g, w) <- want; i <- w.indices) {
          val name = MetricsOps.SuiteSchema.fieldNames(i)
          (w(i), got(g)(i)) match {
            case (null, null) =>
            case (x: Double, y: Double) =>
              if (k == 2) assert(x == y, s"$clue group=$g $name: $x vs $y")
              else assert(approx(x, y, 1e-12), s"$clue group=$g $name: $x vs $y")
            case (a, b) => fail(s"$clue group=$g $name: $a vs $b")
          }
        }
      }
      // the all-outside and null groups carry no support
      Seq(Some("out"), None).foreach { g =>
        assert(cellForm(g) == Seq(0.0, null, 0.0, 0.0, 0.0, 0.0, 0.0, null, null, null), s"$clue $g")
      }
    }
  }

  test("multiclassMetricsPerGroup: NaN and binary group keys group as Spark groups them") {
    // two cells per group: (0,0) and (0,1) → accuracy 1/2 in each group
    val byDouble = Seq((Double.NaN, 0, 0), (Double.NaN, 0, 1), (1.0, 0, 0), (1.0, 0, 1))
      .toDF("grp", "yt", "yp")
    val byBinary = Seq((Array[Byte](1), 0, 0), (Array[Byte](1), 0, 1),
      (Array[Byte](2), 0, 0), (Array[Byte](2), 0, 1)).toDF("grp", "yt", "yp")
    for (df <- Seq(byDouble, byBinary)) {
      val m = MetricsOps.multiclassMetricsPerGroup(df, "grp", "yt", "yp", Seq(0, 1)).collect()
      assert(m.length == 2, m.toSeq)
      assert(m.forall(_.getAs[Double]("accuracy") == 0.5), m.toSeq)
    }
  }

  test("metric count table: more cells than the driver limit fails by name") {
    // 2^18 + 1 groups of one cell each: one past the cell limit
    val df = spark.range(0, (1L << 18) + 1).select(col("id").as("grp"),
      lit(0).as("yt"), lit(0).as("yp"))
    val e = intercept[IllegalArgumentException](
      MetricsOps.multiclassMetricsPerGroup(df, "grp", "yt", "yp", Seq(0, 1)))
    assert(e.getMessage.contains("more than 262144 (group, y_true, y_pred) cells"), e.getMessage)
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

  test("binary operational on an empty test frame: zero counts, NaN rates") {
    val valDf = Seq((1, 0.9), (1, 0.8), (0, 0.6), (0, 0.4), (0, 0.2)).toDF("y", "s")
    val testDf = Seq.empty[(Int, Double)].toDF("y", "s")
    val m = BinaryOperational.evaluate(valDf, testDf, col("y"), col("s"),
      fprTarget = 0.0, hopSeconds = 3600.0)
    assert(m.threshold == 0.8)
    assert(m.tn == 0 && m.fp == 0 && m.fn == 0 && m.tp == 0)
    Seq(m.fpr, m.tnr, m.balancedAccuracy, m.fprCiNormalLow, m.fprCiNormalHigh,
      m.fprCiCpLow, m.fprCiCpHigh, m.falsePositivesPerHour).foreach(v => assert(v.isNaN, m))
    assert(m.tpr == 0.0 && m.precision == 0.0 && m.totalHoursTest == 0.0)
  }
}
