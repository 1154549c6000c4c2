package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Mondrian multidimensional k-anonymization (LeFevre, DeWitt &
  * Ramakrishnan 2006, "Mondrian Multidimensional k-Anonymity") — the
  * REPAIR step behind the audit triad ([[Stats.kAnonymity]] /
  * [[Stats.lDiversity]] / [[Stats.tCloseness]]): recursively median-cut
  * the numeric quasi-identifier space until no cut leaves both sides
  * with ≥ k rows, then generalize each leaf's QIs to its [lo, hi] box. Every
  * released row is indistinguishable from ≥ k−1 others on the QIs by
  * construction.
  *
  * Determinism: the cut dimension is the widest global-range-normalized
  * spread (ties → lowest dim index), the cut value is the Spark
  * `percentile(·, 0.5)` interpolated median, dims are tried in
  * spread-descending order until a cut keeps both sides ≥ k (leaf if
  * none — the strict variant plus dim fallback, documented). The fitted
  * tree is a pure literal object, so ASSIGNMENT is an engine-portable
  * projection: left = value ≤ cut, right = value > cut.
  *
  * Scale shape (distributed regime): per BFS round, TWO aggregations
  * over the active rows — one for per-leaf count/min/max/median, one for
  * per-dim ≤-median counts at the just-computed medians (the allowable-
  * cut check) — each collecting ≤ |active leaves| rows (leaf-bounded,
  * never data-bounded); the pid relabel is a literal CASE projection,
  * localCheckpointed per round like [[Graph.kCore]] so the ~log2(n/k)
  * rounds keep a flat plan. A QI projection within `LocalRows` (2^21
  * rows, probed by [[LocalRegime.collectAtMost]]) takes the identical
  * recursion on the driver (regime-parity spec).
  * Apply is one broadcast join of the ≤ `maxLeaves` leaf table.
  */
object Mondrian {

  /** Fitted tree: per BFS round, the accepted cuts pid → (dim, at);
    * `leaves` maps the final pid to (n, per-dim [lo, hi]). */
  case class Model(quasi: Seq[String], k: Int,
      rounds: Seq[Map[Long, (Int, Double)]],
      leaves: Seq[(Long, Long, Seq[(Double, Double)])]) {
    def nLeaves: Int = leaves.size
  }

  /** Spark `percentile(v, 0.5)` on a sorted array — the interpolated
    * median both regimes share. */
  private[graft] def medianOfSorted(v: Array[Double]): Double = {
    val n = v.length
    val pos = 0.5 * (n - 1)
    val lo = pos.toInt
    if (lo == n - 1) v(lo) else v(lo) + (pos - lo) * (v(lo + 1) - v(lo))
  }

  /** QI rows under which [[fit]] recurses on the driver ([[LocalRegime]]). */
  private val LocalRows = 1 << 21

  def fit(df: DataFrame, quasi: Seq[String], k: Int, maxLeaves: Int = 4096,
      maxRounds: Int = 64): Model = {
    require(quasi.nonEmpty, "need QI columns")
    require(k >= 2, "k must be >= 2")
    val d = quasi.size
    val proj0 = df.select(quasi.zipWithIndex.map { case (q, i) =>
      col(q).cast("double").as(s"q$i") }: _*)
      .where(quasi.indices.map(i => col(s"q$i").isNotNull).reduce(_ && _))
    LocalRegime.collectAtMost(proj0, LocalRows) match {
      case Some(probe) => return localFit(quasi, k, maxLeaves, maxRounds,
        probe.map(r => Array.tabulate(d)(r.getDouble)))
      case None =>
    }
    var cur = proj0.withColumn("pid", lit(0L)).localCheckpoint()
    // global ranges normalize the spread so dims on different scales
    // compete fairly (the paper's normalized-width heuristic)
    val g = cur.agg(
      quasi.indices.flatMap(i => Seq(min(s"q$i"), max(s"q$i"))).head,
      quasi.indices.flatMap(i => Seq(min(s"q$i"), max(s"q$i"))).tail: _*).head()
    val gRange = Array.tabulate(d) { i =>
      val r = g.getDouble(2 * i + 1) - g.getDouble(2 * i)
      if (r == 0.0) 1.0 else r
    }
    var active = Set(0L)
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[Long, (Int, Double)]]
    var leafCount = 1
    var round = 0
    while (active.nonEmpty && round < maxRounds) {
      // pass 1: per-leaf count + per-dim min/max/median
      val aggs = count(lit(1)).as("n") +: quasi.indices.flatMap(i => Seq(
        min(s"q$i").as(s"lo$i"), max(s"q$i").as(s"hi$i"),
        percentile(col(s"q$i"), lit(0.5)).as(s"med$i")))
      val stats = cur.where(col("pid").isin(active.toSeq: _*))
        .groupBy("pid").agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getLong(0) -> r).toMap
      // pass 2: per-dim counts at each leaf's own median. The medians
      // ship as a BROADCAST-JOINED leaf table, not a per-leaf CASE —
      // a CASE arm per active leaf nests as deep as the leaf count and
      // stack-overflows janino past a few hundred leaves (measured)
      val medSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("pid",
          org.apache.spark.sql.types.LongType) +:
        quasi.indices.map(i => org.apache.spark.sql.types.StructField(
          s"__med$i", org.apache.spark.sql.types.DoubleType)))
      val medRows = stats.toSeq.sortBy(_._1).map { case (p, r) =>
        Row.fromSeq(p +: quasi.indices.map(i => r.getDouble(3 * i + 4)))
      }
      val medDf = cur.sparkSession.createDataFrame(
        java.util.Arrays.asList(medRows.toArray: _*), medSchema)
      val leCols = quasi.indices.map(i =>
        count(when(col(s"q$i") <= col(s"__med$i"), lit(1))).as(s"le$i"))
      val leStats = cur.join(broadcast(medDf), "pid")
        .groupBy("pid").agg(leCols.head, leCols.tail: _*)
        .collect().map(r => r.getLong(0) -> r).toMap
      val cuts = scala.collection.mutable.Map.empty[Long, (Int, Double)]
      active.toSeq.sorted.foreach { pid =>
        val s = stats(pid)
        val n = s.getLong(1)
        if (n >= 2L * k && leafCount < maxLeaves) {
          val order = quasi.indices
            .map(i => (-(s.getDouble(3 * i + 3) - s.getDouble(3 * i + 2)) / gRange(i), i))
            .sorted.map(_._2)
          val pick = order.find { i =>
            val le = leStats(pid).getLong(1 + i)
            le >= k && (n - le) >= k
          }
          pick.foreach { i =>
            cuts(pid) = (i, s.getDouble(3 * i + 4)); leafCount += 1
          }
        }
      }
      if (cuts.nonEmpty) {
        rounds += cuts.toMap
        // relabel via a broadcast-joined cut table (same janino-depth
        // reasoning as pass 2): cut leaves split to (2·pid, 2·pid+1),
        // untouched leaves shift to 2·pid so ids never collide across
        // depths; the d-arm dim-pick ladder is bounded by |quasi|
        val cutSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pid",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("__dim",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("__at",
            org.apache.spark.sql.types.DoubleType)))
        val cutRows = cuts.toSeq.sortBy(_._1).map { case (p, (dim, at)) =>
          Row(p, dim, at)
        }
        val cutDf = cur.sparkSession.createDataFrame(
          java.util.Arrays.asList(cutRows.toArray: _*), cutSchema)
        val qval = quasi.indices.foldLeft(lit(Double.NaN)) { (acc, i) =>
          when(col("__dim") === i, col(s"q$i")).otherwise(acc)
        }
        cur = cur.join(broadcast(cutDf), Seq("pid"), "left")
          .withColumn("pid", when(col("__at").isNull, col("pid") * 2)
            .otherwise(when(qval <= col("__at"), col("pid") * 2)
              .otherwise(col("pid") * 2 + 1)))
          .drop("__dim", "__at")
          .localCheckpoint()
        active = cuts.keySet.flatMap(p => Seq(2 * p, 2 * p + 1)).toSet
      } else active = Set.empty
      round += 1
    }
    val leafAggs = count(lit(1)).as("n") +: quasi.indices.flatMap(i => Seq(
      min(s"q$i").as(s"lo$i"), max(s"q$i").as(s"hi$i")))
    val leaves = cur.groupBy("pid").agg(leafAggs.head, leafAggs.tail: _*)
      .collect().map { r =>
        (r.getLong(0), r.getLong(1),
          quasi.indices.map(i => (r.getDouble(2 * i + 2), r.getDouble(2 * i + 3))))
      }.sortBy(_._1).toSeq
    Model(quasi, k, rounds.toSeq, leaves)
  }

  /** Driver recursion — the identical cut rule over the collected QI
    * projection (same normalized-spread dim order, same interpolated
    * median, same ≥ k both-sides gate, same breadth-first pid space). */
  private def localFit(quasi: Seq[String], k: Int, maxLeaves: Int,
      maxRounds: Int, rows: Array[Array[Double]]): Model = {
    val d = quasi.size
    if (rows.isEmpty) return Model(quasi, k, Seq.empty, Seq.empty)
    val gRange = Array.tabulate(d) { i =>
      if (rows.isEmpty) 1.0
      else {
        val r = rows.map(_(i)).max - rows.map(_(i)).min
        if (r == 0.0) 1.0 else r
      }
    }
    var parts = Map(0L -> rows)
    var active = if (rows.isEmpty) Set.empty[Long] else Set(0L)
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[Long, (Int, Double)]]
    var leafCount = 1
    var round = 0
    while (active.nonEmpty && round < maxRounds) {
      val cuts = scala.collection.mutable.Map.empty[Long, (Int, Double)]
      active.toSeq.sorted.foreach { pid =>
        val rs = parts(pid)
        if (rs.length >= 2 * k && leafCount < maxLeaves) {
          val order = (0 until d)
            .map(i => (-(rs.map(_(i)).max - rs.map(_(i)).min) / gRange(i), i))
            .sorted.map(_._2)
          // LAZY first allowable cut (r13): the eager flatMap sorted the
          // leaf for EVERY dim before taking the head — the widest dim
          // usually admits the cut, so later dims' O(n log n) sorts were
          // pure waste. Same pick, same order, same medians.
          val pick = order.iterator.flatMap { i =>
            val med = medianOfSorted(rs.map(_(i)).sorted)
            val le = rs.count(_(i) <= med)
            if (le >= k && rs.length - le >= k) Some((i, med)) else None
          }.nextOption()
          pick.foreach { c => cuts(pid) = c; leafCount += 1 }
        }
      }
      if (cuts.nonEmpty) {
        rounds += cuts.toMap
        parts = parts.flatMap { case (p, rs) =>
          cuts.get(p) match {
            case Some((dim, at)) =>
              val (l, r) = rs.partition(_(dim) <= at)
              Seq(2 * p -> l, (2 * p + 1) -> r)
            case None => Seq((2 * p) -> rs)
          }
        }
        active = cuts.keySet.flatMap(p => Seq(2 * p, 2 * p + 1)).toSet
      } else active = Set.empty
      round += 1
    }
    val leaves = parts.toSeq.sortBy(_._1).map { case (p, rs) =>
      (p, rs.length.toLong,
        (0 until d).map(i => (rs.map(_(i)).min, rs.map(_(i)).max)))
    }
    Model(quasi, k, rounds.toSeq, leaves)
  }

  /** Release: replace each QI column with its leaf's [lo, hi] bounds
    * (`<q>_lo`/`<q>_hi`) plus the leaf id and size. Assignment is ONE
    * flat CASE over the ≤ maxLeaves leaf BOXES (disjoint by the cut
    * construction, covering for every fitted row) — NOT a replay of the
    * cut tree: chaining per-round pid CASEs looks linear but
    * CollapseProject re-inlines each round's alias (C+1)× into the next,
    * so the optimizer materializes a (cuts+1)^rounds-node expression
    * (measured: a 66-leaf tree spent 80+ s in optimize/codegen before
    * this shape; the flat form is milliseconds). The bounds table joins
    * broadcast. Rows with a null QI, or outside every fitted box (only
    * possible for data the tree was not fitted on), are dropped — a box
    * that does not contain a value must not be its released
    * generalization. */
  def apply(df: DataFrame, m: Model): DataFrame = {
    val d = m.quasi.size
    val qs = m.quasi.zipWithIndex
    val base = qs.foldLeft(df) { case (acc, (q, i)) =>
      acc.withColumn(s"__q$i", col(q).cast("double"))
    }.where((0 until d).map(i => col(s"__q$i").isNotNull).reduce(_ && _))
    val spark = df.sparkSession
    val leafRows = m.leaves.map { case (p, n, bs) =>
      Row.fromSeq(p +: n +: bs.flatMap(b => Seq(b._1, b._2)))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("pid",
        org.apache.spark.sql.types.LongType) ::
      org.apache.spark.sql.types.StructField("leaf_n",
        org.apache.spark.sql.types.LongType) ::
      qs.flatMap { case (q, _) => Seq(
        org.apache.spark.sql.types.StructField(s"${q}_lo",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField(s"${q}_hi",
          org.apache.spark.sql.types.DoubleType))
      }.toList)
    val leafDf = spark.createDataFrame(
      java.util.Arrays.asList(leafRows.toArray: _*), schema)
    // assignment IS the broadcast containment join: boxes are disjoint,
    // so each row matches at most one leaf (a per-leaf CASE would nest
    // as deep as the leaf count — the janino ceiling again)
    val inBox = qs.map { case (q, i) =>
      col(s"__q$i") >= col(s"${q}_lo") && col(s"__q$i") <= col(s"${q}_hi")
    }.reduce(_ && _)
    base.join(broadcast(leafDf), inBox)
      .drop(m.quasi: _*)
      .drop((0 until d).map(i => s"__q$i"): _*)
  }
}
