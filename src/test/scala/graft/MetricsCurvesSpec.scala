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

  /** The window forms `Curves` had before its driver algebra — the parity
    * reference for the collapse-and-collect faces. Each is the old
    * operator verbatim: a groupBy(score) collapse, then cumulative windows
    * ordered by descending threshold (single-partition without a key). */
  private object WindowCurves {
    import org.apache.spark.sql.expressions.Window

    def rocCurve(df: DataFrame, label: Column, score: Column): DataFrame = {
      val byScore = df
        .select(score.cast("double").as("threshold"), label.cast("int").as("y"))
        .groupBy("threshold")
        .agg(sum(col("y")).as("pos"), sum(lit(1) - col("y")).as("neg"))
      val w = Window.orderBy(col("threshold").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val totals = Window.partitionBy()
      byScore
        .withColumn("tps", sum("pos").over(w))
        .withColumn("fps", sum("neg").over(w))
        .withColumn("fpr", col("fps") / max("fps").over(totals))
        .withColumn("tpr", col("tps") / max("tps").over(totals))
        .select("threshold", "fps", "tps", "fpr", "tpr")
    }

    def rocAuc(df: DataFrame, label: Column, score: Column): DataFrame = {
      val w = Window.orderBy(col("threshold").desc)
      rocCurve(df, label, score)
        .withColumn("fpr_prev", coalesce(lag("fpr", 1).over(w), lit(0.0)))
        .withColumn("tpr_prev", coalesce(lag("tpr", 1).over(w), lit(0.0)))
        .agg(sum((col("fpr") - col("fpr_prev")) * (col("tpr") + col("tpr_prev")) / 2)
          .as("roc_auc"))
    }

    def averagePrecision(df: DataFrame, label: Column, score: Column): DataFrame = {
      val w = Window.orderBy(col("threshold").desc)
      rocCurve(df, label, score)
        .select(col("threshold"),
          (col("tps") / (col("tps") + col("fps"))).as("precision"), col("tpr").as("recall"))
        .withColumn("recall_prev", coalesce(lag("recall", 1).over(w), lit(0.0)))
        .agg(sum((col("recall") - col("recall_prev")) * col("precision")).as("average_precision"))
    }

    def dropIntermediate(curve: DataFrame): DataFrame = {
      val w = Window.orderBy(col("threshold").desc)
      curve
        .withColumn("__dfp", col("fps") - lag("fps", 1).over(w))
        .withColumn("__dfn", lead("fps", 1).over(w) - col("fps"))
        .withColumn("__dtp", col("tps") - lag("tps", 1).over(w))
        .withColumn("__dtn", lead("tps", 1).over(w) - col("tps"))
        .where(col("__dfp").isNull || col("__dfn").isNull ||
          col("__dfp") =!= col("__dfn") || col("__dtp") =!= col("__dtn"))
        .drop("__dfp", "__dfn", "__dtp", "__dtn")
    }

    def thresholdAtFpr(curve: DataFrame, fprTarget: Double): DataFrame = {
      val candidates = curve.where(col("fpr") <= fprTarget)
        .orderBy(col("fpr").desc, col("threshold").asc).limit(1)
        .select(col("threshold"), col("fpr"), col("tpr"))
      val picked = candidates.collect()
      val rows =
        if (picked.nonEmpty) picked
        else Array(org.apache.spark.sql.Row(Double.PositiveInfinity, 0.0, 0.0))
      curve.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), candidates.schema)
    }

    def multiclassAucPerGroup(df: DataFrame, groupCol: String,
        yTrue: Column, proba: Column): DataFrame = {
      val pairs = df.select(col(groupCol).as("grp"), yTrue.as("yt"), posexplode(proba))
        .select(col("grp"), col("pos").as("cls"),
          col("col").cast("double").as("threshold"),
          (col("yt") === col("pos")).cast("int").as("y"))
      val cells = pairs.groupBy("grp", "cls", "threshold")
        .agg(sum(col("y")).as("pos_n"), sum(lit(1) - col("y")).as("neg_n"))
        .localCheckpoint(false)
      val mw = Window.partitionBy("grp").orderBy(col("threshold").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val mtot = Window.partitionBy("grp")
      val mlag = Window.partitionBy("grp").orderBy(col("threshold").desc)
      val micro = cells.groupBy("grp", "threshold")
        .agg(sum("pos_n").as("pos_n"), sum("neg_n").as("neg_n"))
        .withColumn("tps", sum("pos_n").over(mw))
        .withColumn("fps", sum("neg_n").over(mw))
        .withColumn("recall", col("tps") / max("tps").over(mtot))
        .withColumn("precision", col("tps") / (col("tps") + col("fps")))
        .withColumn("recall_prev", coalesce(lag("recall", 1).over(mlag), lit(0.0)))
        .groupBy("grp")
        .agg(sum((col("recall") - col("recall_prev")) * col("precision")).as("pr_auc_micro"))
      val cw = Window.partitionBy("grp", "cls").orderBy(col("threshold").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val ctot = Window.partitionBy("grp", "cls")
      val clag = Window.partitionBy("grp", "cls").orderBy(col("threshold").desc)
      val macroDf = cells
        .withColumn("tps", sum("pos_n").over(cw))
        .withColumn("fps", sum("neg_n").over(cw))
        .withColumn("recall", col("tps") / max("tps").over(ctot))
        .withColumn("fpr", col("fps") / max("fps").over(ctot))
        .withColumn("precision", col("tps") / (col("tps") + col("fps")))
        .withColumn("recall_prev", coalesce(lag("recall", 1).over(clag), lit(0.0)))
        .withColumn("fpr_prev", coalesce(lag("fpr", 1).over(clag), lit(0.0)))
        .groupBy("grp", "cls")
        .agg(sum((col("recall") - col("recall_prev")) * col("precision")).as("ap"),
          sum((col("fpr") - col("fpr_prev")) * (col("recall") + col("recall_prev")) / 2).as("auc"))
        .groupBy("grp")
        .agg(avg("ap").as("pr_auc_macro"), avg("auc").as("roc_auc_macro"))
      val macroR = macroDf.select(col("grp").as("__gmk"),
        col("pr_auc_macro"), col("roc_auc_macro"))
      micro.join(macroR, col("grp") === col("__gmk")).drop("__gmk")
    }

    def aucDeLong(df: DataFrame, y: Column, score: Column,
        z: Double = 1.959963984540054): DataFrame = {
      val byScore = df
        .where(y.isNotNull && score.isNotNull)
        .select(y.cast("int").as("y"), score.cast("double").as("s"))
        .groupBy("s")
        .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("np"),
          sum(when(col("y") =!= 1, 1L).otherwise(0L)).as("nn"))
      val asc = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
      val desc = Window.orderBy(col("s").desc).rowsBetween(Window.unboundedPreceding, -1)
      val tot = Window.partitionBy()
      val v = byScore
        .withColumn("negBelow", coalesce(sum("nn").over(asc), lit(0L)))
        .withColumn("posAbove", coalesce(sum("np").over(desc), lit(0L)))
        .withColumn("m", sum("np").over(tot))
        .withColumn("n", sum("nn").over(tot))
        .withColumn("v10", (col("negBelow") + col("nn") * 0.5) / col("n"))
        .withColumn("v01", (col("posAbove") + col("np") * 0.5) / col("m"))
      v.agg(
          (sum(col("np") * col("v10")) / first("m")).as("auc"),
          first("m").as("m"), first("n").as("n"),
          sum(col("np") * col("v10") * col("v10")).as("ss10"),
          sum(col("nn") * col("v01") * col("v01")).as("ss01"))
        .select(col("auc"),
          (((col("ss10") - col("m") * col("auc") * col("auc")) / (col("m") - 1)) / col("m") +
            ((col("ss01") - col("n") * col("auc") * col("auc")) / (col("n") - 1)) / col("n"))
            .as("var_auc"))
        .select(col("auc"), col("var_auc"),
          greatest(lit(0.0), col("auc") - lit(z) * sqrt(col("var_auc"))).as("ci_lo"),
          least(lit(1.0), col("auc") + lit(z) * sqrt(col("var_auc"))).as("ci_hi"))
    }
  }

  /** Seeded binary inputs for the parity oracle: scores on a coarse grid
    * (ties across classes), plus one null-score and one null-label row
    * when `nulls`, or no rows at all when `n` is 0. */
  private def binaryInput(seed: Long, n: Int, nulls: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = Seq.fill(n)((Option(rnd.nextInt(2)), Option(rnd.nextInt(25) / 25.0))) ++
      (if (nulls) Seq((Some(1), None), (None, Some(0.5)), (None, Some(0.987))) else Nil)
    rows.toDF("y", "s").repartition(3)
  }

  /** Equal as Spark values: doubles bit for bit (NaN equal to NaN). */
  private def sameRows(got: Seq[org.apache.spark.sql.Row], want: Seq[org.apache.spark.sql.Row],
      clue: String): Unit = {
    assert(got.length == want.length, s"$clue: ${got.length} vs ${want.length} rows")
    got.zip(want).foreach { case (g, w) =>
      assert(g.length == w.length, clue)
      for (i <- 0 until g.length) (g.get(i), w.get(i)) match {
        case (a: Double, b: Double) =>
          assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
            s"$clue field $i: $a vs $b")
        case (a, b) => assert(a == b, s"$clue field $i: $a vs $b")
      }
    }
  }

  private def byThreshold(df: DataFrame) =
    df.orderBy(col("threshold").desc_nulls_last).collect().toSeq

  test("curve algebra == the window forms: rocCurve, dropIntermediate, thresholdAtFpr, rocAuc, averagePrecision, aucDeLong") {
    val inputs = Seq(("ties", binaryInput(1L, 300, nulls = false)),
      ("ties+nulls", binaryInput(2L, 300, nulls = true)),
      ("small", binaryInput(3L, 7, nulls = true)),
      ("empty", binaryInput(4L, 0, nulls = false)))
    for ((name, df) <- inputs) {
      val (y, s) = (col("y"), col("s"))
      val curve = Curves.rocCurve(df, y, s)
      val refCurve = WindowCurves.rocCurve(df, y, s)
      sameRows(byThreshold(curve), byThreshold(refCurve), s"$name rocCurve")
      val thin = Curves.dropIntermediate(curve)
      sameRows(byThreshold(thin), byThreshold(WindowCurves.dropIntermediate(refCurve)),
        s"$name dropIntermediate")
      for (c <- Seq(curve, thin); t <- Seq(0.0, 0.1, 0.3, 0.5, 1.0))
        sameRows(Curves.thresholdAtFpr(c, t).collect().toSeq,
          WindowCurves.thresholdAtFpr(c, t).collect().toSeq, s"$name thresholdAtFpr($t)")
      sameRows(Curves.rocAuc(df, y, s).collect().toSeq,
        WindowCurves.rocAuc(df, y, s).collect().toSeq, s"$name rocAuc")
      sameRows(Curves.averagePrecision(df, y, s).collect().toSeq,
        WindowCurves.averagePrecision(df, y, s).collect().toSeq, s"$name averagePrecision")
      sameRows(Curves.aucDeLong(df, y, s).collect().toSeq,
        WindowCurves.aucDeLong(df, y, s).collect().toSeq, s"$name aucDeLong")
    }
  }

  test("curve algebra == the window form: multiclassAucPerGroup over 1 and 3 groups, 2 and 5 classes") {
    for (k <- Seq(2, 5); nGroups <- Seq(1, 3)) {
      val rnd = new scala.util.Random(100L * k + nGroups)
      // probabilities on a coarse grid (ties), every class present in
      // every group, one null label and one null probability
      val rows = (0 until 60 * k).map { i =>
        (s"g${i % nGroups}", Option(i % k),
          Seq.fill(k)(Option(rnd.nextInt(12) / 12.0)))
      } ++ Seq(("g0", None, Seq.fill(k)(Option(0.5))),
        ("g0", Some(0), None +: Seq.fill(k - 1)(Option(0.25))))
      val df = rows.toDF("grp", "yt", "p").repartition(3)
      val clue = s"k=$k groups=$nGroups"
      val got = Curves.multiclassAucPerGroup(df, "grp", col("yt"), col("p"))
        .orderBy("grp").collect().toSeq
      val want = WindowCurves.multiclassAucPerGroup(df, "grp", col("yt"), col("p"))
        .orderBy("grp").collect().toSeq
      assert(got.map(_.get(0)) == want.map(_.get(0)) && got.length == nGroups, clue)
      if (nGroups == 1)
        assert(Curves.multiclassAucSuite(df, col("yt"), col("p")).collect().toSeq ==
          got.map(r => org.apache.spark.sql.Row(r.toSeq.tail: _*)), clue)
      // micro: one curve per group, summed in the same order — bit-equal.
      // macro: Spark's avg adds the class terms in shuffle order and the
      // algebra in class order, which agree bit for bit on two terms only
      sameRows(got.map(r => org.apache.spark.sql.Row(r.get(1))),
        want.map(r => org.apache.spark.sql.Row(r.get(1))), s"$clue pr_auc_micro")
      for ((g, w) <- got.zip(want); i <- Seq(2, 3))
        if (k == 2) sameRows(Seq(org.apache.spark.sql.Row(g.get(i))),
          Seq(org.apache.spark.sql.Row(w.get(i))), s"$clue field $i")
        else assert(approx(g.getDouble(i), w.getDouble(i), 1e-12), s"$clue field $i: $g vs $w")
    }
    val empty = Seq.empty[(String, Int, Seq[Double])].toDF("grp", "yt", "p")
    assert(Curves.multiclassAucPerGroup(empty, "grp", col("yt"), col("p")).count() == 0)
    // the suite is the constant-group case: one row, nulls on no input
    assert(Curves.multiclassAucSuite(empty, col("yt"), col("p")).collect().toSeq ==
      Seq(org.apache.spark.sql.Row(null, null, null)))
  }

  test("multiclassAucSuite: micro/macro AP and macro ROC-AUC equal their pairwise definitions") {
    val k = 3
    val df = spark.range(300).select(
      (col("id") % k).cast("int").as("y"),
      array((0 until k).map(j =>
        (col("id") * (2 * j + 3) % 97) / 97.0 +
          when(col("id") % k === j, 0.6).otherwise(0.0)): _*).as("p"))
    val rows = df.collect().toSeq.map(r => (r.getInt(0), r.getSeq[Double](1)))
    // AP as the mean over positives of the precision at their score;
    // ROC-AUC as the pair count P(s_pos > s_neg) + ½ P(tie)
    def ap(pairs: Seq[(Boolean, Double)]): Double = {
      val pos = pairs.filter(_._1)
      pos.map { case (_, s) =>
        pairs.count(p => p._1 && p._2 >= s).toDouble / pairs.count(_._2 >= s)
      }.sum / pos.size
    }
    def auc(pairs: Seq[(Boolean, Double)]): Double = {
      val (pos, neg) = pairs.partition(_._1)
      pos.map { case (_, sp) =>
        neg.map { case (_, sn) => if (sp > sn) 1.0 else if (sp == sn) 0.5 else 0.0 }.sum
      }.sum / (pos.size.toDouble * neg.size)
    }
    val perClass = (0 until k).map(c => rows.map { case (y, p) => (y == c, p(c)) })
    val got = Curves.multiclassAucSuite(df, col("y"), col("p")).head()
    assert(approx(got.getAs[Double]("pr_auc_micro"), ap(perClass.flatten), 1e-12), got)
    assert(approx(got.getAs[Double]("pr_auc_macro"), perClass.map(ap).sum / k, 1e-12), got)
    assert(approx(got.getAs[Double]("roc_auc_macro"), perClass.map(auc).sum / k, 1e-12), got)
  }

  test("binary operational: a val split with no attack windows calibrates on fpr alone") {
    // val tpr is NaN (no positives, sklearn's answer); the thinned val
    // curve keeps .9 (fpr 1/3) and .3 (fpr 1), so fpr <= .34 picks .9
    val valDf = Seq((0, 0.9), (0, 0.5), (0, 0.3)).toDF("y", "s")
    val testDf = Seq((1, 0.95), (1, 0.5), (0, 0.7), (0, 0.3)).toDF("y", "s")
    val m = BinaryOperational.evaluate(valDf, testDf, col("y"), col("s"),
      fprTarget = 0.34, hopSeconds = 1.0)
    assert(m.threshold == 0.9, m)
    assert(m.tp == 1 && m.fn == 1 && m.fp == 0 && m.tn == 2, m)
    val curve = Curves.rocCurve(valDf, col("y"), col("s")).collect()
    assert(curve.forall(_.getAs[Double]("tpr").isNaN), curve.toSeq)
  }

  test("binary operational: a val split with no benign windows takes the +inf anchor") {
    // val fpr is NaN (no negatives), which meets no FPR target: the
    // threshold is the +inf anchor, where sklearn's argmin fallback lands
    val valDf = Seq((1, 0.9), (1, 0.5)).toDF("y", "s")
    val testDf = Seq((1, 0.95), (1, 0.5), (0, 0.7), (0, 0.3)).toDF("y", "s")
    val m = BinaryOperational.evaluate(valDf, testDf, col("y"), col("s"),
      fprTarget = 0.1, hopSeconds = 1.0)
    assert(m.threshold.isPosInfinity, m)
    assert(m.tp == 0 && m.fn == 2 && m.fp == 0 && m.tn == 2, m)
    assert(m.fpr == 0.0 && m.fprCiCpLow == 0.0, m)
  }

  test("binary operational job budget: one collected aggregation, at most 2 Spark jobs") {
    val valDf = Seq((1, 0.9), (1, 0.8), (0, 0.6), (0, 0.4), (0, 0.2)).toDF("y", "s")
    val testDf = Seq((1, 0.95), (1, 0.5), (0, 0.7), (0, 0.3)).toDF("y", "s")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      org.apache.spark.ProfileBus.drain(sc)
      val j0 = jobs.get
      val m = BinaryOperational.evaluate(valDf, testDf, col("y"), col("s"),
        fprTarget = 0.0, hopSeconds = 3600.0)
      org.apache.spark.ProfileBus.drain(sc)
      val n = jobs.get - j0
      info(s"evaluate jobs $n")
      assert(m.threshold == 0.8)
      assert(n <= 2, s"evaluate jobs $n")
    } finally sc.removeSparkListener(listener)
  }

  test("curve collapse: more points than the driver limit fails by name") {
    // 2^20 + 1 distinct scores: one past the point limit
    val df = spark.range(0, (1L << 20) + 1).select(lit(1).as("y"), col("id").cast("double").as("s"))
    val e = intercept[IllegalArgumentException](Curves.rocAuc(df, col("y"), col("s")))
    assert(e.getMessage.contains("Curves.rocAuc: more than 1048576 distinct (key, score) points"),
      e.getMessage)
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

  test("multiclassMetricsPerGroup: cells outside the label universe drop " +
      "(sklearn labels= rule) and zero-support classes keep zero rows") {
    val df = Seq(
      ("g", 0, 0), ("g", 0, 0), ("g", 1, 0), ("g", 1, 1),
      ("g", 0, 9), // y_pred outside labels: the whole cell must drop
      ("g", 9, 1)  // y_true outside labels: drops too
    ).toDF("grp", "yt", "yp")
    val m = MetricsOps.multiclassMetricsPerGroup(df, "grp", "yt", "yp",
      Seq(0, 1, 2)).head()
    // surviving cells: (0,0)x2, (1,0), (1,1) -> acc 3/4; class 2 empty
    assert(approx(m.getAs[Double]("accuracy"), 0.75))
    // precision: cls0 2/3, cls1 1/1, cls2 0 (zero_division=0) -> macro 5/9
    assert(approx(m.getAs[Double]("precision_macro"), 5.0 / 9.0))
    // balanced accuracy: recall over classes PRESENT in y_true:
    // cls0 2/2, cls1 1/2 -> 0.75
    assert(approx(m.getAs[Double]("balanced_accuracy"), 0.75))
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
