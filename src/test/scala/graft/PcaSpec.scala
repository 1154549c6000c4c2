package graft

import org.apache.spark.sql.functions._
import graft.ops.Pca

/** Distributed PCA: Jacobi eigensolver laws, covariance parity with
  * Spark's built-in covar_samp, fit axes on known geometry, projection
  * isometry. */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random d-dim rows (hash-based, no RNG). */
  private def fakeRows(n: Int, d: Int): Seq[(Long, Seq[Double])] =
    (0 until n).map { r =>
      (r.toLong, (0 until d).map { c =>
        val h = (r * 2654435761L + c * 40503L + 7) % 1000003
        (h % 2000 - 1000) / 500.0
      })
    }

  test("jacobiEigen solves the textbook 2x2") {
    val (eig, v) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val pairs = eig.zipWithIndex.sortBy(-_._1)
    assert(approx(pairs(0)._1, 3.0, 1e-12) && approx(pairs(1)._1, 1.0, 1e-12))
    val k = pairs(0)._2
    // eigenvector for lambda=3 is +-[1,1]/sqrt(2)
    assert(approx(math.abs(v(0)(k)), 1 / math.sqrt(2), 1e-12))
    assert(approx(v(0)(k), v(1)(k), 1e-12))
  }

  test("covarianceUpper matches covar_samp / var_samp built-ins") {
    val df = fakeRows(200, 3).toDF("id", "v")
    val got = Pca.covarianceUpper(df, col("v"), 3).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val w = df.select((0 until 3).map(i => col("v")(i).as(s"x$i")): _*)
    val exp = w.agg(
      covar_samp(col("x0"), col("x0")), covar_samp(col("x0"), col("x1")),
      covar_samp(col("x0"), col("x2")), covar_samp(col("x1"), col("x1")),
      covar_samp(col("x1"), col("x2")), covar_samp(col("x2"), col("x2"))).head()
    val want = Seq((0, 0), (0, 1), (0, 2), (1, 1), (1, 2), (2, 2))
    want.zipWithIndex.foreach { case (ij, k) =>
      assert(approx(got(ij), exp.getDouble(k), 1e-9), s"$ij: ${got(ij)} vs ${exp.getDouble(k)}")
    }
  }

  test("zero-fan-out moment aggregate matches the exploded baseline") {
    val df = fakeRows(400, 5).toDF("id", "v")
    val (n, mean) = Pca.meanPass(df, col("v"), 5)
    assert(n == 400.0)
    // single partition: both forms reduce to one sequential row-order
    // fold, so the TypedImperativeAggregate must be BIT-equal to the
    // posexplode/groupBy baseline
    val one = df.coalesce(1)
    val a = Pca.centeredMoments(one, col("v"), 5, mean)
    val b = Pca.centeredMomentsExploded(one, col("v"), 5, mean)
    assert(a.length == b.length && a.length == 1 + 5 + 15)
    a.indices.foreach(i => assert(a(i) == b(i), s"pos $i: ${a(i)} vs ${b(i)}"))
    // multi-partition: only the cross-partition merge order may differ
    val c = Pca.centeredMoments(df.repartition(8), col("v"), 5, mean)
    a.indices.foreach { i =>
      assert(approx(c(i), a(i), 1e-9 * math.max(1.0, math.abs(a(i)))),
        s"pos $i: ${c(i)} vs ${a(i)}")
    }
  }

  test("covarianceUpperExact: BIT-stable across 1/4/32 partitions, tracks the double face") {
    val df = fakeRows(300, 4).toDF("id", "v")
    def face(d: org.apache.spark.sql.DataFrame) =
      Pca.covarianceUpperExact(d, col("v"), 4).collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val base = face(df.coalesce(1))
    assert(base.size == 10)
    // exact decimal sums are order-independent: repartitioning must not
    // move a single BIT (this is what keeps the 6-dp oracle face from
    // flipping between engines/runs — the r8/r9 red row)
    for (p <- Seq(4, 32)) {
      val got = face(df.repartition(p))
      base.foreach { case (ij, v) =>
        assert(java.lang.Double.doubleToLongBits(got(ij)) ==
          java.lang.Double.doubleToLongBits(v), s"$p parts $ij: ${got(ij)} vs $v")
      }
    }
    // the 128-bit fixed-point aggregate (the production face) must be
    // BIT-equal to the exploded decimal baseline — integer sums are
    // mechanism-free, so the two physical forms cannot diverge
    val exploded = Pca.covarianceUpperExactExploded(df, col("v"), 4).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    base.foreach { case (ij, v) =>
      assert(java.lang.Double.doubleToLongBits(exploded(ij)) ==
        java.lang.Double.doubleToLongBits(v),
        s"exploded vs agg $ij: ${exploded(ij)} vs $v") }
    // the 9-dp input snap perturbs the covariance invisibly vs the
    // double production face
    val dbl = Pca.covarianceUpper(df, col("v"), 4).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    base.foreach { case (ij, v) => assert(approx(v, dbl(ij), 1e-8),
      s"$ij: exact $v vs double ${dbl(ij)}") }
    // twin generator renders the snapped mean + n as literals
    val (n, mean) = Pca.covarianceMean(df, col("v"), 4)
    assert(n == 300.0 && mean.length == 4)
    val sql = Pca.covarianceUpperExactSql("v", "t", "id", n, mean)
    assert(sql.contains("DECIMAL(14,9)") && sql.contains("300.0"))
  }

  test("ExactMomentsAgg 128-bit lanes == driver BigDecimal reference on adversarial values (carries, signs, magnitude)") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    // values near the ±20 magnitude bound (|k| ~ 2e10 ⇒ |k·k| ~ 4e20
    // crosses the 64-bit low lane every few adds — maximal carry
    // traffic), dense sign flips, exact-half rounding cases, zeros
    val d3 = 3
    val rows = (0 until 3000).map { i =>
      val a = (if (i % 2 == 0) 1 else -1) * (19.0 + (i % 97) / 97.0)
      val b = (if (i % 3 == 0) 1 else -1) * ((i % 1009) * 1e-10 + 5e-10)
      val c0 = if (i % 5 == 0) 0.0 else math.sin(i * 0.7) * 1e-3
      (i.toLong, Seq(a, b, c0))
    }
    val mu = Array(0.123456789, -4.5e-10, 0.0)
    val flat = rows.toDF("id", "v").repartition(7)
      .agg(org.apache.spark.sql.graft.ExactMomentsAgg
        .col(transform(col("v"), x => x.cast("double")), d3, mu.toSeq).as("m"))
      .head().getSeq[java.math.BigDecimal](0)
    // independent reference: the same snap, summed as exact BigDecimal
    def k9(x: Double): JBD = JBD.valueOf(x).setScale(9, RoundingMode.HALF_UP)
    val ks = rows.map { case (_, v) =>
      Array.tabulate(d3)(i => k9(v(i) - mu(i))) }
    val refS = Array.tabulate(d3)(i =>
      ks.foldLeft(JBD.ZERO)((acc, k) => acc.add(k(i))))
    val refP = for { i <- 0 until d3; j <- i until d3 } yield
      ks.foldLeft(JBD.ZERO)((acc, k) => acc.add(k(i).multiply(k(j))))
    assert(flat.head.compareTo(new JBD(3000)) == 0)
    (0 until d3).foreach { i =>
      assert(flat(1 + i).compareTo(refS(i)) == 0,
        s"S_$i: ${flat(1 + i)} vs ${refS(i)}") }
    refP.zipWithIndex.foreach { case (p, t) =>
      assert(flat(1 + d3 + t).compareTo(p) == 0,
        s"P[$t]: ${flat(1 + d3 + t)} vs $p") }
  }

  test("pcaFit: axes and eigenvalues BIT-stable across 1/4/32 partitions; projections stable at 6 dp") {
    // the 9-dp covariance snap before Jacobi is what pins the MODEL
    // across partitionings (the embedding_pca literal-replay twin's
    // contract); the stored mean keeps its ~1e-15 summation wobble,
    // which the projection face cannot see (guards the r8/r9 fix at the
    // fit level — the 10M-row measurement is in SCALE.md "Round 10")
    val df = fakeRows(400, 6).toDF("id", "v")
    val base = Pca.pcaFit(df.coalesce(1), col("v"), d = 6, nComponents = 3)
    val baseProj = df.coalesce(1)
      .select(col("id"), graft.ops.Pca.pcaProject(col("v"), base).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).map(x =>
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)).toSeq).toMap
    for (p <- Seq(4, 32)) {
      val m = Pca.pcaFit(df.repartition(p), col("v"), d = 6, nComponents = 3)
      assert(m.eigenvalues.sameElements(base.eigenvalues), s"$p parts: eigenvalues moved")
      m.components.zip(base.components).zipWithIndex.foreach { case ((a, b), k) =>
        assert(a.sameElements(b), s"$p parts: component $k moved") }
      m.mean.zip(base.mean).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"$p parts: mean wobble ${a - b}") }
      val proj = df.repartition(p)
        .select(col("id"), graft.ops.Pca.pcaProject(col("v"), m).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).map(x =>
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)).toSeq).toMap
      assert(proj == baseProj, s"$p parts: 6-dp projections moved")
    }
  }

  test("pcaFit recovers the dominant axis of a line + orthogonal noise") {
    // points along [1,1,0]/sqrt2 with tiny orthogonal wiggle
    val rows = (0 until 100).map { i =>
      val tpos = (i - 50) / 5.0
      val eps = ((i * 37) % 11 - 5) / 50.0
      (i.toLong, Seq(tpos + eps, tpos - eps, eps / 2))
    }
    val m = Pca.pcaFit(rows.toDF("id", "v"), col("v"), d = 3, nComponents = 2)
    val c0 = m.components(0)
    val s = 1 / math.sqrt(2)
    assert(approx(c0(0), s, 0.02) && approx(c0(1), s, 0.02) && math.abs(c0(2)) < 0.02,
      s"c0=${c0.toSeq}")
    assert(m.eigenvalues(0) > 10 * m.eigenvalues(1))
    assert(m.explainedVarianceRatio(0) > 0.99)
  }

  test("components are orthonormal and satisfy C v = lambda v") {
    val df = fakeRows(300, 6).toDF("id", "v")
    val m = Pca.pcaFit(df, col("v"), d = 6, nComponents = 6)
    // orthonormality
    for (i <- 0 until 6; j <- i until 6) {
      val dot = (0 until 6).map(k => m.components(i)(k) * m.components(j)(k)).sum
      assert(approx(dot, if (i == j) 1.0 else 0.0, 1e-8), s"($i,$j) dot=$dot")
    }
    // eigen residual against the independently collected covariance
    val cov = Array.ofDim[Double](6, 6)
    Pca.covarianceUpper(df, col("v"), 6).collect().foreach { r =>
      cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      cov(r.getInt(1))(r.getInt(0)) = r.getDouble(2)
    }
    for (k <- 0 until 6) {
      val w = m.components(k)
      val res = (0 until 6).map { i =>
        val cvi = (0 until 6).map(j => cov(i)(j) * w(j)).sum
        math.abs(cvi - m.eigenvalues(k) * w(i))
      }.max
      assert(res < 1e-6, s"component $k residual $res")
    }
    // eigenvalues descending
    assert(m.eigenvalues.toSeq == m.eigenvalues.sortBy(-_).toSeq)
  }

  test("sample variance of the first projected coordinate equals lambda1") {
    val df = fakeRows(250, 4).toDF("id", "v")
    val m = Pca.pcaFit(df, col("v"), d = 4, nComponents = 1)
    val v1 = df.select(Pca.pcaProject(col("v"), m)(0).as("y"))
      .agg(var_samp(col("y"))).head().getDouble(0)
    assert(approx(v1, m.eigenvalues(0), 1e-6), s"$v1 vs ${m.eigenvalues(0)}")
  }

  test("pcaWhiten: unit sample variance per axis, decorrelated axes") {
    val df = fakeRows(300, 5).toDF("id", "v")
    val m = Pca.pcaFit(df, col("v"), d = 5, nComponents = 3)
    val z = df.select(Pca.pcaWhiten(col("v"), m).as("z"))
      .select((0 until 3).map(k => col("z")(k).as(s"z$k")): _*)
    // each whitened axis: var_samp == lambda/(lambda+eps) ≈ 1
    val stats = z.agg(
      var_samp(col("z0")), var_samp(col("z1")), var_samp(col("z2")),
      covar_samp(col("z0"), col("z1")), covar_samp(col("z0"), col("z2")),
      covar_samp(col("z1"), col("z2"))).head()
    for (k <- 0 until 3)
      assert(approx(stats.getDouble(k), 1.0, 1e-5), s"var z$k = ${stats.getDouble(k)}")
    for (k <- 3 until 6)
      assert(math.abs(stats.getDouble(k)) < 1e-5, s"cov ${stats.getDouble(k)}")
    // the SQL twin renders one scale literal per axis
    assert(Pca.pcaWhitenSql("v", m).size == 3)
    assert(Pca.pcaWhitenSql("v", m).forall(_.contains("list_dot_product")))
  }

  test("full-rank projection is an isometry (pairwise distances preserved)") {
    val df = fakeRows(50, 5).toDF("id", "v")
    val m = Pca.pcaFit(df, col("v"), d = 5, nComponents = 5)
    val proj = df.select(col("id"), Pca.pcaProject(col("v"), m).as("p"), col("v"))
      .collect().map(r => (r.getSeq[Double](1), r.getSeq[Double](2)))
    def dist(a: Seq[Double], b: Seq[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    for (i <- 0 until 10; j <- i + 1 until 10) {
      val dOrig = dist(proj(i)._2, proj(j)._2)
      val dProj = dist(proj(i)._1, proj(j)._1)
      assert(approx(dProj, dOrig, 1e-7), s"($i,$j): $dProj vs $dOrig")
    }
  }
}
