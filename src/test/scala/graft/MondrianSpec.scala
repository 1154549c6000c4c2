package graft

import org.apache.spark.sql.functions._
import graft.ops.{LocalRegime, Mondrian}

/** Mondrian k-anonymization unit semantics; the `g_mondrian` dynamic
  * oracle pins the leaf table cross-engine (DuckDB re-assigns every row
  * to the literal boxes and recomputes counts/bounds). */
class MondrianSpec extends SparkSpec {
  import spark.implicits._

  private def grid(n: Int) =
    (0 until n).map(i => ((i % 10).toDouble, (i / 10).toDouble)).toDF("x", "y")

  test("every leaf holds >= k rows; leaves partition the fitted rows") {
    val df = grid(100) // 10x10 lattice
    val m = Mondrian.fit(df, Seq("x", "y"), k = 10)
    assert(m.leaves.nonEmpty && m.leaves.forall(_._2 >= 10))
    assert(m.leaves.map(_._2).sum == 100L)
    val out = Mondrian(df, m)
    assert(out.count() == 100)
    // released rows carry their own leaf's bounds, and bounds contain
    // nothing: x/y are DROPPED from the release
    assert(!out.columns.contains("x") && !out.columns.contains("y"))
    val byLeaf = out.groupBy("pid").agg(count(lit(1)).as("n"),
        first("leaf_n").as("ln")).collect()
    byLeaf.foreach(r => assert(r.getLong(1) == r.getLong(2)))
  }

  test("a uniform axis splits first; boxes are disjoint") {
    // x spans 0..99 (wide), y constant: every cut must be on x
    val df = (0 until 100).map(i => (i.toDouble, 1.0)).toDF("x", "y")
    val m = Mondrian.fit(df, Seq("x", "y"), k = 10)
    assert(m.rounds.flatten.forall(_._2._1 == 0)) // dim 0 = x
    // boxes pairwise disjoint on x
    val boxes = m.leaves.map(_._3.head)
    boxes.combinations(2).foreach { case Seq((a1, a2), (b1, b2)) =>
      assert(a2 < b1 || b2 < a1, s"overlap: [$a1,$a2] vs [$b1,$b2]")
    }
  }

  test("too-small inputs stay a single leaf; degenerate inputs refused") {
    val df = grid(15)
    val m = Mondrian.fit(df, Seq("x", "y"), k = 10) // 15 < 2k -> no cut
    assert(m.rounds.isEmpty && m.leaves.size == 1 && m.leaves.head._2 == 15L)
    intercept[IllegalArgumentException](Mondrian.fit(df, Seq.empty, 10))
    intercept[IllegalArgumentException](Mondrian.fit(df, Seq("x"), 1))
    val empty = Mondrian.fit(grid(0), Seq("x", "y"), k = 2)
    assert(empty.leaves.isEmpty)
  }

  test("apply drops rows outside every fitted box (and null QIs)") {
    val df = (0 until 40).map(i => (i.toDouble, 0.0)).toDF("x", "y")
    val m = Mondrian.fit(df, Seq("x", "y"), k = 10)
    val fresh = Seq((1000.0, 0.0), (5.0, 0.0)).toDF("x", "y")
      .union(Seq((Option.empty[Double], Option(0.0))).toDF("x", "y"))
    assert(Mondrian(fresh, m).count() == 1) // only (5.0, 0.0) lands in a box
  }

  test("local fast path == distributed BFS (tree, leaves, and release)") {
    val df = (0 until 500)
      .map(i => (((i * 37) % 101).toDouble, ((i * 53) % 89).toDouble))
      .toDF("x", "y")
    val local = Mondrian.fit(df, Seq("x", "y"), k = 25)
    val dist = LocalRegime.distributedOnly(Mondrian.fit(df, Seq("x", "y"), k = 25))
    assert(local.rounds == dist.rounds)
    assert(local.leaves == dist.leaves)
  }

  test("medianOfSorted matches Spark percentile(v, 0.5)") {
    val vs = Seq(1.0, 2.0, 7.0, 9.0, 100.0)
    val viaSpark = vs.toDF("v").agg(percentile(col("v"), lit(0.5)))
      .head().getDouble(0)
    assert(Mondrian.medianOfSorted(vs.toArray) == viaSpark)
    val even = Seq(1.0, 2.0, 7.0, 9.0)
    val viaSpark2 = even.toDF("v").agg(percentile(col("v"), lit(0.5)))
      .head().getDouble(0)
    assert(Mondrian.medianOfSorted(even.toArray) == viaSpark2)
  }
}
