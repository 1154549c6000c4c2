package graft

import org.apache.spark.sql.functions._
import graft.ops.{Graph, LocalRegime}

/** PageRank unit semantics (the oracle query `graph_pagerank` pins the
  * distributed parity; these pin the math on graphs small enough to
  * reason about by hand). */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: 2-cycle is the uniform fixed point; ranks sum to 1") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val r = Graph.pageRank(edges, "s", "d", iterations = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(approx(r(1L), 0.5, 1e-12) && approx(r(2L), 0.5, 1e-12))
  }

  test("pageRank: dangling node redistributes mass; sink outranks source") {
    // 1 -> 2, 2 has no out-edges (dangling)
    val edges = Seq((1L, 2L)).toDF("s", "d")
    val rows = Graph.pageRank(edges, "s", "d", iterations = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // iter 1: dm = 0.5; r(1) = 0.075 + 0.85*(0 + 0.25); r(2) = 0.075 + 0.85*(0.5 + 0.25)
    assert(approx(rows(1L), 0.2875, 1e-12))
    assert(approx(rows(2L), 0.7125, 1e-12))
    assert(approx(rows.values.sum, 1.0, 1e-9))
  }

  test("pageRank: local fast path == distributed loop (parity, incl. multi-edges + dangling)") {
    // seeded pseudo-random multigraph with parallel edges, dangling nodes
    // and self-avoiding targets — every semantic branch exercised
    val edges = (0 until 80)
      .map(i => ((i * 37 + 11) % 23L, (i * 53 + 29) % 31L)).toDF("s", "d")
    val local = Graph.pageRank(edges, "s", "d", iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val dist = LocalRegime.distributedOnly {
      Graph.pageRank(edges, "s", "d", iterations = 4)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    }
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) => assert(approx(v, dist(k), 1e-12), s"node $k") }
    assert(approx(local.values.sum, 1.0, 1e-9))
  }

  test("pageRank: null endpoints dropped identically in both regimes") {
    // a null endpoint must not become a node in either regime (the r7
    // advisor found the distributed path kept it in nodes/nTotal)
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)),
      (Some(3L), None), (None, Some(3L))).toDF("s", "d")
    val local = Graph.pageRank(edges, "s", "d", iterations = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val dist = LocalRegime.distributedOnly {
      Graph.pageRank(edges, "s", "d", iterations = 3)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    }
    assert(local.keySet == Set(1L, 2L))
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) => assert(approx(v, dist(k), 1e-12), s"node $k") }
  }

  test("pageRank: hub target accumulates rank; total mass conserved over iterations") {
    // star: 1..5 all point at 10
    val edges = (1L to 5L).map(i => (i, 10L)).toDF("s", "d")
    val r = Graph.pageRank(edges, "s", "d", iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(approx(r.values.sum, 1.0, 1e-9))
    assert((1L to 5L).forall(i => r(10L) > r(i)))
  }

  test("labelPropagation: two cliques with a bridge converge to two communities") {
    // K4 on 1..4, K4 on 11..14, one bridge 4-11; min-label tie-breaks
    // pull each clique to its smallest member
    def clique(ns: Seq[Long]) = for { a <- ns; b <- ns if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(11L, 12L, 13L, 14L))
      :+ (4L, 11L)).toDF("s", "d")
    val out = Graph.labelPropagation(edges, "s", "d", iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(out).distinct.size == 1, out.toString)
    assert(Seq(12L, 13L, 14L).map(out).distinct.size == 1, out.toString)
    assert(out(1L) != out(12L), s"cliques must get distinct labels: $out")
  }

  test("labelPropagation: local fast path == distributed loop (multi-edges, self-loops, nulls)") {
    val edges = ((0 until 90)
      .map(i => (Some((i * 37 + 11) % 23L), Some((i * 53 + 29) % 23L)))
      ++ Seq((Some(7L), Some(7L)), (Some(3L), None), (None, Some(5L)))).toDF("s", "d")
    val local = Graph.labelPropagation(edges, "s", "d", iterations = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val dist = LocalRegime.distributedOnly {
      Graph.labelPropagation(edges, "s", "d", iterations = 3)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    }
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) => assert(v == dist(k), s"node $k: $v vs ${dist(k)}") }
  }

  test("labelPropagation: zero iterations returns self-labels; empty input returns empty") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val out = Graph.labelPropagation(edges, "s", "d", iterations = 0)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(Graph.labelPropagation(Seq.empty[(Long, Long)].toDF("s", "d"),
      "s", "d", iterations = 2).count() == 0)
  }

  test("hits: hubs point, authorities are pointed at; L1 per-round normalization") {
    // 1 -> {2,3}, 4 -> 2: after one round, auth = (2/3 on 2, 1/3 on 3),
    // hub = (0.6 on 1, 0.4 on 4); sinks get hub 0, sources auth 0
    val edges = Seq((1L, 2L), (1L, 3L), (4L, 2L)).toDF("s", "d")
    val out = Graph.hits(edges, "s", "d", iterations = 1)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx(out(1L)._1, 0.6) && approx(out(4L)._1, 0.4))
    assert(out(2L)._1 == 0.0 && out(3L)._1 == 0.0)
    assert(approx(out(2L)._2, 2.0 / 3) && approx(out(3L)._2, 1.0 / 3))
    assert(out(1L)._2 == 0.0 && out(4L)._2 == 0.0)
    // both vectors stay L1-normalized after more rounds
    val o3 = Graph.hits(edges, "s", "d", iterations = 3).collect()
    assert(approx(o3.map(_.getDouble(1)).sum, 1.0))
    assert(approx(o3.map(_.getDouble(2)).sum, 1.0))
    intercept[IllegalArgumentException](Graph.hits(edges, "s", "d", 0))
  }

  test("hits: local fast path == distributed loop") {
    val edges = ((0 until 90)
      .map(i => (Some((i * 37 + 11) % 23L), Some((i * 53 + 29) % 23L)))
      ++ Seq((Some(7L), Some(7L)), (Some(3L), None), (None, Some(5L)))).toDF("s", "d")
    val local = Graph.hits(edges, "s", "d", iterations = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val dist = LocalRegime.distributedOnly {
      Graph.hits(edges, "s", "d", iterations = 2)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    assert(local.keySet == dist.keySet && local.nonEmpty)
    local.foreach { case (k, (h, a)) =>
      assert(approx(h, dist(k)._1, 1e-12) && approx(a, dist(k)._2, 1e-12), s"node $k")
    }
  }

  test("kCore: chain cascades away, cycle and clique survive with in-core degrees") {
    // path 0-1-2-3 hanging off a triangle 10-11-12 (via 3-10): the whole
    // tail peels under k=2, one end at a time (cascade), triangle stays
    val edges = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L))).toDF("s", "d")
    val out = Graph.kCore(edges, "s", "d", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 2L, 11L -> 2L, 12L -> 2L))
    // k = 3 peels everything (triangle degree is 2)
    assert(Graph.kCore(edges, "s", "d", k = 3).count() == 0)
    // k = 1 keeps every non-isolated node at its simple-graph degree
    val k1 = Graph.kCore(edges, "s", "d", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1(0L) == 1L && k1(3L) == 2L && k1(10L) == 3L)
    intercept[IllegalArgumentException](Graph.kCore(edges, "s", "d", k = 0))
    // a cascade longer than maxSweeps is refused loudly, not truncated
    intercept[IllegalArgumentException](
      Graph.kCore(edges, "s", "d", k = 2, maxSweeps = 2))
  }

  test("kCore: local fast path == distributed loop (multi-edges, self-loops, nulls)") {
    val edges = ((0 until 90)
      .map(i => (Some((i * 37 + 11) % 23L), Some((i * 53 + 29) % 23L)))
      ++ Seq((Some(7L), Some(7L)), (Some(3L), None), (None, Some(5L)))).toDF("s", "d")
    val local = Graph.kCore(edges, "s", "d", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = LocalRegime.distributedOnly {
      Graph.kCore(edges, "s", "d", k = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(local.nonEmpty && local == dist)
    // empty input returns an empty (node, deg) frame in both regimes
    val empty = Seq.empty[(Long, Long)].toDF("s", "d")
    assert(Graph.kCore(empty, "s", "d", k = 2).count() == 0)
    assert(LocalRegime.distributedOnly(Graph.kCore(empty, "s", "d", k = 2).count()) == 0)
  }
}
