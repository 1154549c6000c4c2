package graft

import org.apache.spark.sql.functions._
import graft.ops.Joins

/** Laws for the time-aware joins: both plan shapes must agree row-for-row
  * with their naive cross-product definitions on small data.
  */
class JoinsSpec extends SparkSpec {
  import spark.implicits._

  // (key, t, id) points; deliberate equal-timestamp collisions at t=30.
  private val leftRows = Seq(
    ("a", 10L, 1L), ("a", 30L, 2L), ("a", 31L, 3L), ("a", 5L, 4L),
    ("b", 30L, 5L), ("b", 100L, 6L), ("c", 7L, 7L))
  private val rightRows = Seq( // (key, t, payload)
    ("a", 8L, 1.5), ("a", 30L, 2.5), ("a", 29L, 9.0),
    ("b", 31L, 3.5), ("c", 7L, 4.5))

  private def naiveAsof(exact: Boolean): Map[Long, Option[Double]] =
    leftRows.map { case (k, t, id) =>
      val prior = rightRows.filter { case (rk, rt, _) =>
        rk == k && (if (exact) rt <= t else rt < t) }
      id -> prior.sortBy(r => (r._2, r._3)).lastOption.map(_._3)
    }.toMap

  test("asofJoin matches the naive latest-prior definition (exact match)") {
    val left = leftRows.toDF("k", "t", "id")
    val right = rightRows.toDF("k", "t", "p")
    val got = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("p"))
      .collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[Any]("p")).map(_.asInstanceOf[Double])).toMap
    assert(got == naiveAsof(exact = true))
    // spot-check the semantics the law encodes: equal-ts right IS visible
    assert(got(2L).contains(2.5))
    // and a left row before every right row has no match
    assert(got(4L).isEmpty)
  }

  test("asofJoin strict (< t) hides the equal-timestamp right row") {
    val left = leftRows.toDF("k", "t", "id")
    val right = rightRows.toDF("k", "t", "p")
    val got = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("p"), exactMatch = false)
      .collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[Any]("p")).map(_.asInstanceOf[Double])).toMap
    assert(got == naiveAsof(exact = false))
    assert(got(2L).contains(9.0)) // t=30 now sees t=29, not t=30
    assert(got(5L).isEmpty)       // b@30 precedes the only b right row @31
  }

  test("asofJoin carries multi-column payload and intra-payload nulls") {
    val left = Seq(("a", 10L)).toDF("k", "t")
    val right = Seq(("a", 5L, Option.empty[Double], "tag")).toDF("k", "t", "v", "s")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "t", Seq("v", "s")).collect()
    assert(out.length == 1)
    assert(out(0).isNullAt(out(0).fieldIndex("v"))) // null INSIDE a matched payload survives
    assert(out(0).getAs[String]("s") == "tag")
  }

  test("rangeJoin matches the naive cross-product filter across bin widths") {
    val points = (0L until 200L by 3L).map(t => (t, s"p$t")).toDF("t", "pid")
    val ivs = Seq((0L, 10L, "i1"), (5L, 50L, "i2"), (49L, 50L, "i3"),
      (150L, 400L, "i4"), (60L, 60L, "i5")) // i5 is empty [60,60)
      .toDF("lo", "hi", "iid")
    val expect = (for {
      t <- 0L until 200L by 3L
      (lo, hi, iid) <- Seq((0L, 10L, "i1"), (5L, 50L, "i2"), (49L, 50L, "i3"),
        (150L, 400L, "i4"), (60L, 60L, "i5"))
      if t >= lo && t < hi
    } yield (t, iid)).toSet
    for (w <- Seq(1.0, 7.0, 64.0, 1000.0)) {
      val got = Joins.rangeJoin(points, "t", ivs, "lo", "hi", w)
        .select("t", "iid").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == expect, s"binWidth=$w")
    }
    // half-open at the right edge: a point AT hi matches nothing
    val edge = Joins.rangeJoin(Seq(1L, 4L, 5L, 12L).toDF("t"), "t",
        Seq((0L, 5L, 100L), (10L, 15L, 200L)).toDF("lo", "hi", "iid"), "lo", "hi", 5.0)
      .select("t", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edge == Set((1L, 100L), (4L, 100L), (12L, 200L)))
  }

  test("bloomFilteredJoin == plain join (long keys), false positives invisible") {
    val big = (1L to 2000L).map(i => (i, s"r$i")).toDF("k", "payload")
    val small = Seq(5L, 10L, 1999L).map(k => (k, s"s$k")).toDF("sk", "sval")
    val got = Joins.bloomFilteredJoin(big, small, "k", "sk", 100L, 0.01)
      .select("k", "sval").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((5L, "s5"), (10L, "s10"), (1999L, "s1999")))
  }

  test("bloomFilteredJoin string keys + null keys dropped") {
    val big = Seq("a", "b", "c", null).map(k => (k, 1)).toDF("k", "x")
    val small = Seq(("b", 2), ("z", 3)).toDF("sk", "y")
    val got = Joins.bloomFilteredJoin(big, small, "k", "sk", 10L, 0.01)
      .select("k").collect().map(_.getString(0)).toSeq
    assert(got == Seq("b"))
  }

  test("bloomFilteredJoin rejects non-scalar key types") {
    val big = Seq((Seq(1), 1)).toDF("k", "x")
    val small = Seq((Seq(1), 2)).toDF("sk", "y")
    intercept[IllegalArgumentException] {
      Joins.bloomFilteredJoin(big, small, "k", "sk", 10L, 0.01)
    }
  }

  test("rangeJoin produces no duplicate pairs when an interval spans many bins") {
    val points = Seq((500L, "p")).toDF("t", "pid")
    val ivs = Seq((0L, 10000L, "wide")).toDF("lo", "hi", "iid")
    val got = Joins.rangeJoin(points, "t", ivs, "lo", "hi", 10.0).collect()
    assert(got.length == 1) // point in exactly one bin -> one pair, no dedup pass
  }

  test("overlapJoin equals the unblocked inequality join for every bin width") {
    val rnd = new scala.util.Random(5)
    val l = (1 to 60).map { i =>
      val lo = rnd.nextInt(1000).toLong; (i.toLong, lo, lo + 1 + rnd.nextInt(200))
    }.toDF("lid", "llo", "lhi")
    val r = (1 to 60).map { i =>
      val lo = rnd.nextInt(1000).toLong; (i.toLong, lo, lo + 1 + rnd.nextInt(200))
    }.toDF("rid", "rlo", "rhi")
    val expected = l.crossJoin(r)
      .where(col("llo") < col("rhi") && col("rlo") < col("lhi"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    for (w <- Seq(7.0, 50.0, 300.0, 5000.0)) {
      val got = Joins.overlapJoin(l, "llo", "lhi", r, "rlo", "rhi", w)
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      assert(got.sorted == expected.sorted, s"binWidth=$w")
      assert(got.size == got.distinct.size, s"duplicates at binWidth=$w")
    }
  }

  test("overlapJoin with keys joins within key only; wide spans emit each pair once") {
    val l = Seq(("u1", 1L, 0L, 1000L), ("u2", 2L, 0L, 1000L)).toDF("k", "lid", "llo", "lhi")
    val r = Seq(("u1", 10L, 500L, 600L)).toDF("k", "rid", "rlo", "rhi")
    val got = Joins.overlapJoin(l, "llo", "lhi", r, "rlo", "rhi", 10.0, keys = Seq("k"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got == Seq((1L, 10L))) // u2 never pairs; 100-bin span -> one row
  }

  test("triangles: matches brute-force enumeration, each triangle once") {
    import graft.ops.Dedup
    // K4 on {1,2,3,4} plus a pendant edge and a duplicate/reversed edge
    val edges = Seq((1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5)).map { case (a, b) => (a.toLong, b.toLong) }.toDF("u", "v")
    val got = Dedup.triangles(edges, "u", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }
}
