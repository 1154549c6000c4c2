package graft

import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._
import graft.ops.{Calibration, DataQuality, Stats}

/** Round-12 optimization parity pins: every fused/rewritten operator must
  * produce the values of the multi-pass form it replaced.
  *  - temperatureFitWithMeans == temperatureFit + temperatureApply means
  *  - profileCompareSlices == profileCompare on (frame, filtered frame)
  *  - spearman (one-pass cell collapse) == hand-computed midrank Pearson
  *  - cohensKappa melt keeps the null-label marginal convention
  * Plus plan pins: the rewrites exist to cut corpus scans, so the scan
  * counts are asserted (a correct-but-rescanning refactor is a
  * regression). */
class R12FusionSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(n: Int, k: Int) =
    spark.range(n).select(
      (col("id") % k).cast("int").as("y"),
      array((0 until k).map(j =>
        (col("id") * (2 * j + 3) % 97) / 97.0 +
          when(col("id") % k === j, 0.6).otherwise(0.0)): _*).as("z"))

  test("temperatureFitWithMeans: model and means match fit-then-apply") {
    val df = fixture(400, 3)
    val mRef = Calibration.temperatureFit(df, col("y"), col("z"),
      iterations = 6, cache = false)
    val meansRef = df.select(posexplode(
        Calibration.temperatureApply(col("z"), mRef)).as(Seq("cls", "p")))
      .groupBy("cls").agg(avg("p").as("mean_p")).orderBy("cls")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val (m, means) = Calibration.temperatureFitWithMeans(df, col("y"),
      col("z"), iterations = 6, k = 3)
    assert(m.beta == mRef.beta, s"beta ${m.beta} != ${mRef.beta}")
    val got = means.orderBy("cls").collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(got.length == meansRef.length)
    got.zip(meansRef).foreach { case ((c1, p1), (c2, p2)) =>
      assert(c1 == c2 && approx(p1, p2, 1e-12), s"cls $c1: $p1 vs $p2")
    }
  }

  test("temperatureFit kHint skips the probe but fits the same model") {
    val df = fixture(300, 4)
    val a = Calibration.temperatureFit(df, col("y"), col("z"), cache = false)
    val b = Calibration.temperatureFit(df, col("y"), col("z"), cache = false,
      kHint = Some(4))
    assert(a.beta == b.beta)
  }

  test("profileCompareSlices == profileCompare on the filtered pair") {
    val df = spark.range(500).select(col("id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 13)
        .cast("double").as("v"),
      concat(lit("s"), (col("id") % 5).cast("string")).as("s"))
    val ref = DataQuality.profileCompare(df, df.where(col("s") =!= "s0"),
        Seq("v", "id", "s"), nullFracTol = 0.01, meanRelTol = 0.05,
        distinctRelTol = 0.15, exact = true)
      .orderBy("col_name").collect()
    val got = DataQuality.profileCompareSlices(df, lit(true),
        col("s") =!= "s0", Seq("v", "id", "s"), nullFracTol = 0.01,
        meanRelTol = 0.05, distinctRelTol = 0.15, exact = true)
      .orderBy("col_name").collect()
    assert(ref.length == got.length)
    ref.zip(got).foreach { case (a, b) =>
      (0 until a.length).foreach { i =>
        val (x, yv) = (a.get(i), b.get(i))
        val ok = (x, yv) match {
          case (d1: Double, d2: Double) => approx(d1, d2, 1e-9)
          case _ => x == yv
        }
        assert(ok, s"col ${a.getString(0)} field $i: $x vs $yv")
      }
    }
  }

  test("spearman one-pass cell form matches the direct midrank Pearson") {
    // heavy ties on both variables — the midrank lanes are load-bearing
    val data = (1 to 200).map(i => (i % 7 + (i % 3) * 0.5, (i % 5).toDouble))
    val df = data.toDF("x", "y")
    val got = Stats.spearman(df, col("x"), col("y")).head()
    // direct computation: midranks then Pearson
    def ranks(vs: Seq[Double]): Map[Double, Double] = {
      val sorted = vs.sorted
      vs.distinct.map { v =>
        val below = sorted.count(_ < v)
        val ties = sorted.count(_ == v)
        v -> (below + (ties + 1) / 2.0)
      }.toMap
    }
    val rx = ranks(data.map(_._1)); val ry = ranks(data.map(_._2))
    val pts = data.map { case (a, b) => (rx(a), ry(b)) }
    val n = pts.length
    val (mx, my) = (pts.map(_._1).sum / n, pts.map(_._2).sum / n)
    val sxy = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val syy = pts.map(p => (p._2 - my) * (p._2 - my)).sum
    val expected = sxy / math.sqrt(sxx * syy)
    assert(got.getLong(0) == n)
    assert(approx(got.getDouble(1), math.rint(expected * 1e6) / 1e6, 1e-6),
      s"${got.getDouble(1)} vs $expected")
  }

  test("spearman plan reads the corpus exactly once (the checkpointed " +
      "cell collapse is the only subtree that ever touches parquet)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val p = Stats.spearman(df, col("l_quantity"), col("l_extendedprice"))
      .queryExecution.explainString(SimpleMode)
    // downstream plan: every branch reads the one materialized collapse,
    // never the parquet source (was: 3 corpus scans)
    assert(!p.contains("Scan parquet"), p)
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"), p)
  }

  test("cohensKappa: null labels keep their mass in n but join no marginal") {
    val df = Seq[(Option[Int], Option[Int])](
      (Some(0), Some(0)), (Some(0), Some(0)), (Some(1), Some(1)),
      (Some(1), Some(0)), (None, Some(0)), (Some(0), None), (None, None)
    ).toDF("a", "b")
    val r = Calibration.cohensKappa(df, col("a"), col("b")).head()
    // n = 7 (every row), diag = 3 ((0,0)x2 + (1,1); null==null is no match)
    // row marginals: 0->3, 1->2, null->2; col: 0->4, 1->1, null->2
    // rc over non-null classes = 3*4 + 2*1 = 14
    assert(approx(r.getAs[Double]("po"), 3.0 / 7.0))
    assert(approx(r.getAs[Double]("pe"), 14.0 / 49.0))
  }
}
