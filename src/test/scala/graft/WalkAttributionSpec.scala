package graft

import org.apache.spark.sql.functions._
import graft.ops.{Graph, Sessionize, Stats}

/** Hand fixtures for random walks, last-touch attribution, and the
  * order-statistic quantile CI. */
class WalkAttributionSpec extends SparkSpec {
  import spark.implicits._

  test("randomWalks: valid edges, determinism, sink termination, shape") {
    // 1->2, 2->3, 3->1 cycle plus sink 4 (1->4): every step must follow
    // a real edge; walks reaching 4 stop there.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("s", "d")
    val edgeSet = Set((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L))
    def run() = Graph.randomWalks(edges.repartition(3), "s", "d",
        walkLen = 5, walksPerNode = 2, seed = 3L)
      .orderBy("start", "walk", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val a = run()
    assert(a.toSeq == run().toSeq, "walks must be deterministic")
    // step-0 rows: every node (incl. sink 4) x 2 walks
    assert(a.count(_._3 == 0L) == 8)
    // consecutive steps follow edges
    val byWalk = a.groupBy(x => (x._1, x._2)).values
    byWalk.foreach { steps =>
      val path = steps.sortBy(_._3).map(_._4)
      path.sliding(2).foreach {
        case Array(u, v) => assert(edgeSet((u, v)), s"bogus hop $u->$v")
        case _ =>
      }
      // a walk either runs the full length or ends at the sink
      assert(path.length == 6 || path.last == 4L,
        s"short walk not at sink: ${path.mkString("->")}")
    }
    // sink-started walks are exactly the step-0 row
    assert(a.filter(x => x._1 == 4L).forall(_._3 == 0L))
  }

  test("lastTouchAttribution: window, tie-break, and direct fallback") {
    // user 1: view@t1, click@t2, purchase@t3 (within window -> click);
    //         purchase@t100000 (out of 10-unit window -> direct)
    // user 2: two touches at the SAME t, ties 1 and 2 -> tie 2 wins
    val ev = Seq(
      (1L, 1L, 1L, false, "view", 0.0), (1L, 2L, 2L, false, "click", 0.0),
      (1L, 3L, 3L, true, "purchase", 10.0),
      (1L, 100000L, 4L, true, "purchase", 5.0),
      (2L, 7L, 1L, false, "view", 0.0), (2L, 7L, 2L, false, "click", 0.0),
      (2L, 8L, 3L, true, "purchase", 7.0)
    ).toDF("u", "t", "tie", "conv", "label", "v")
    val r = Sessionize.lastTouchAttribution(ev, col("u"), col("t"),
        col("tie"), col("conv"), col("label"), col("v"), lookback = 10L)
      .orderBy("k", "conv_t").collect()
    assert(r.length == 3)
    assert(r(0).getAs[String]("touch_label") == "click") // u1 in-window
    assert(r(1).getAs[String]("touch_label") == null)    // u1 direct
    assert(r(2).getAs[String]("touch_label") == "click") // u2 tie 2 wins
    assert(r(2).getAs[Long]("touch_t") == 7L)
    // one entity per credit fate, lookback 100: fresh touch; touch too
    // old (direct); no touch at all (direct); the latest of several
    // touches, equal-t touches breaking on the larger tie; and a second
    // conversion crediting a touch that arrived after the first
    val fates = Seq(
      (0L, 1000L, 1L, false, "email", 0.0), (0L, 1010L, 2L, true, null, 5.0),
      (1L, 1000L, 1L, false, "ad", 0.0), (1L, 1101L, 2L, true, null, 7.0),
      (2L, 1000L, 1L, true, null, 1.0),
      (3L, 1000L, 1L, false, "email", 0.0), (3L, 1005L, 2L, false, "sms", 0.0),
      (3L, 1005L, 3L, false, "push", 0.0), (3L, 1020L, 4L, true, null, 3.0),
      (4L, 1000L, 1L, false, "ad", 0.0), (4L, 1008L, 2L, true, null, 2.0),
      (4L, 1030L, 3L, false, "social", 0.0), (4L, 1040L, 4L, true, null, 4.0)
    ).toDF("u", "t", "tie", "conv", "label", "v")
    val credited = Sessionize.lastTouchAttribution(fates, col("u"), col("t"),
        col("tie"), col("conv"), col("label"), col("v"), lookback = 100L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("conv_t"),
        Option(r.getAs[String]("touch_label")),
        if (r.isNullAt(r.fieldIndex("touch_t"))) None else Some(r.getAs[Long]("touch_t"))))
      .toSet
    assert(credited == Set(
      (0L, 1010L, Some("email"), Some(1000L)),
      (1L, 1101L, None, None),
      (2L, 1000L, None, None),
      (3L, 1020L, Some("push"), Some(1005L)),
      (4L, 1008L, Some("ad"), Some(1000L)),
      (4L, 1040L, Some("social"), Some(1030L))))
  }

  test("lastTouchAttribution: out-of-contract clock fails loudly") {
    // the guard lives on TOUCH rows (only touches are key-encoded;
    // conversions compare on the raw (t, tie) ordering at any magnitude)
    val ev = Seq((1L, 1L << 50, 1L, false, "view", 0.0),
      (1L, (1L << 50) + 1L, 2L, true, "p", 1.0))
      .toDF("u", "t", "tie", "conv", "label", "v")
    val e = intercept[Exception] {
      Sessionize.lastTouchAttribution(ev, col("u"), col("t"), col("tie"),
        col("conv"), col("label"), col("v"), lookback = 10L).collect()
    }
    assert(e.getMessage.contains("lastTouchAttribution") ||
      e.getCause != null)
  }

  test("quantileCI: exact ranks and bracket on 1..100") {
    // n=100, q=0.5: nq=50, half=1.96*sqrt(25)=9.8 -> ranks 40/50/60.
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val r = Stats.quantileCI(df, col("v"), q = 0.5).collect().head
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("rank_lo") == 40L)
    assert(r.getAs[Long]("rank_mid") == 50L)
    assert(r.getAs[Long]("rank_hi") == 60L)
    assert(r.getAs[Double]("ci_lo") == 40.0)
    assert(r.getAs[Double]("estimate") == 50.0)
    assert(r.getAs[Double]("ci_hi") == 60.0)
  }

  test("quantileCI: rank clamping at the edges and tied values") {
    // extreme q on a tiny frame clamps ranks into [1, n]
    val df = Seq(1.0, 1.0, 1.0, 2.0).toDF("v")
    val r = Stats.quantileCI(df, col("v"), q = 0.9).collect().head
    assert(r.getAs[Long]("rank_lo") >= 1L)
    assert(r.getAs[Long]("rank_hi") == 4L)
    assert(r.getAs[Double]("ci_hi") == 2.0)
    // rank 1..3 all land on the tied value 1.0
    assert(r.getAs[Double]("ci_lo") == 1.0)
  }

  test("node2vecWalks: valid hops, determinism, and p/q actually bias") {
    // dense-ish graph: ring of 12 with chords, both directions
    val base = (0L until 12L).flatMap(i =>
      Seq((i, (i + 1) % 12), (i, (i + 3) % 12)))
    val edges = (base ++ base.map(_.swap)).toDF("s", "d")
    val edgeSet = (base ++ base.map(_.swap)).toSet
    def run(p: Double, q: Double) = Graph.node2vecWalks(
        edges.repartition(3), "s", "d", walkLen = 6, walksPerNode = 4,
        p = p, q = q, seed = 5L)
      .orderBy("start", "walk", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val a = run(0.1, 1.0)
    assert(a.toSeq == run(0.1, 1.0).toSeq, "walks must be deterministic")
    def returns(rows: Array[(Long, Long, Long, Long)]): Int =
      rows.groupBy(x => (x._1, x._2)).values.map { steps =>
        val path = steps.sortBy(_._3).map(_._4)
        // count immediate backtracks v -> w -> v
        path.sliding(3).count(w => w.length == 3 && w(0) == w(2))
      }.sum
    // every hop is a real edge
    a.groupBy(x => (x._1, x._2)).values.foreach { steps =>
      steps.sortBy(_._3).map(_._4).sliding(2).foreach {
        case Array(u, v) => assert(edgeSet((u, v)), s"bogus hop $u->$v")
        case _ =>
      }
    }
    // tiny p (return-happy) must backtrack far more than huge p
    val many = returns(a)
    val few = returns(run(100.0, 1.0))
    assert(many > few * 2,
      s"p-bias missing: returns(p=.1)=$many vs returns(p=100)=$few")
  }
}
