package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Iterative graph analytics beyond connectivity
  * ([[Dedup.connectedComponents]]): PageRank with proper dangling-mass
  * redistribution — the web-graph quality prior behind PageRank-weighted
  * corpus selection (rank the link graph, join ranks onto documents, feed
  * [[Stats.weightedSample]]).
  *
  * Scale shape per iteration: ONE shuffle join (edges-with-degree ⋈ ranks
  * on src) + one map-side-combined `groupBy(dst)` + one scalar dangling
  * aggregate; the edge set with its out-degrees is computed once and
  * cached across iterations. Ranks are cached and the previous iteration
  * unpersisted (the [[Dedup.connectedComponents]] loop pattern). Fixed
  * small iteration counts keep lineage linear; if you push past ~10
  * iterations, localCheckpoint the ranks periodically.
  */
object Graph {

  /** Edge rows under which [[pageRank]], [[labelPropagation]], [[kCore]]
    * and [[hits]] run their rounds on the driver ([[LocalRegime]]). */
  private val LocalEdges = 1 << 18

  /** PageRank over directed `edges`. Multi-edges are weighted (a src
    * counts each parallel edge in its out-degree and contributes once per
    * edge) — `.distinct()` the edges first for simple-graph semantics.
    * Dangling nodes (no out-edges) redistribute their rank uniformly.
    * Returns (node long, rank double); ranks sum to 1.
    *
    * SMALL-GRAPH REGIME (same split as
    * [[Dedup.connectedComponents]]): each distributed iteration costs two
    * driver actions (dangling-mass scalar + rank materialization) of
    * fixed ~0.3 s scheduling overhead regardless of volume, so a 40-node
    * graph pays ~2.5 s for 3 iterations. When the edge list fits
    * `LocalEdges` (2^18 rows, detected by [[LocalRegime.collectAtMost]]'s
    * limit-probed collect — no separate count job), the identical power
    * iteration (same out-degree weighting, same dangling redistribution,
    * same teleport term) runs on the driver in microseconds and the result is
    * parallelized back. Larger graphs take the distributed loop
    * unchanged; the probed projection is persisted so nothing is paid
    * twice. */
  def pageRank(edges: DataFrame, src: String, dst: String,
      iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(damping > 0.0 && damping < 1.0, "damping in (0, 1)")
    // null / uncastable endpoints are dropped BEFORE the regime split so
    // both paths see the same node universe (the local path skips them
    // while building its index; without this filter the distributed path
    // would keep a null node in nodes.distinct() and nTotal)
    val e0 = edges.select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .persist()
    LocalRegime.collectAtMost(e0, LocalEdges) match {
      case Some(probe) =>
        e0.unpersist()
        return localPageRank(edges.sparkSession, probe, iterations, damping)
      case None =>
    }
    val e = e0
    val nodes = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node"))).distinct().cache()
    val nTotal = nodes.count().toDouble
    // cached: the dangling-mass anti-join re-reads it every iteration
    val outDeg = e.groupBy("u").agg(count(lit(1)).as("deg")).cache()
    val withDeg = e.join(outDeg, "u").cache()
    withDeg.count() // materializes withDeg AND outDeg's cache; e0 no longer needed
    e0.unpersist(blocking = false)
    var ranks = nodes.withColumn("rank", lit(1.0 / nTotal)).cache()
    for (_ <- 0 until iterations) {
      val danglingMass = ranks
        .join(outDeg, ranks("node") === outDeg("u"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0))).head().getDouble(0)
      val contribs = withDeg.join(ranks, col("u") === col("node"))
        .groupBy(col("v").as("cnode"))
        .agg(sum(col("rank") / col("deg")).as("c"))
      val updated = nodes.join(contribs, col("node") === col("cnode"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / nTotal) + lit(damping) *
            (coalesce(col("c"), lit(0.0)) + lit(danglingMass / nTotal))).as("rank"))
        .cache()
      updated.count()
      ranks.unpersist(blocking = false)
      ranks = updated
    }
    nodes.unpersist(blocking = false)
    outDeg.unpersist(blocking = false)
    withDeg.unpersist(blocking = false)
    ranks
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007,
    * "Near linear time algorithm to detect community structures…") made
    * fully deterministic: every node starts labeled with its own id;
    * each round, every node adopts the label that is MOST FREQUENT among
    * its neighbors' current labels, ties broken by the smallest label;
    * isolated nodes keep their own label. Edges are treated as
    * undirected simple edges (symmetrized + distinct). Returns
    * (node long, label long) after `iterations` synchronous rounds —
    * label = community id.
    *
    * Scale shape per round: ONE shuffle join (symmetrized edges ⋈
    * labels on src) + one map-side-combined `groupBy(node, label)` +
    * a per-node window pick (each node's partition is its distinct
    * neighbor-label set — bounded by degree, never the whole graph).
    * Same two-regime split as [[pageRank]]: an edge list within
    * `LocalEdges` runs the identical rounds on the driver. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val e0 = edges.select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .persist()
    LocalRegime.collectAtMost(e0, LocalEdges) match {
      case Some(probe) =>
        e0.unpersist()
        return localLabelProp(edges.sparkSession, probe, iterations)
      case None =>
    }
    import org.apache.spark.sql.expressions.Window
    val sym = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .where(col("u") =!= col("v")).distinct().cache()
    val nodes = sym.select(col("u").as("node")).distinct().cache()
    nodes.count() // materializes sym's cache too; e0 no longer needed
    e0.unpersist(blocking = false)
    var labels = nodes.select(col("node"), col("node").as("label")).cache()
    for (_ <- 0 until iterations) {
      val counts = sym.join(labels, sym("u") === labels("node"))
        .groupBy(sym("v").as("cnode"), col("label"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("cnode").orderBy(col("c").desc, col("label").asc)
      val picked = counts.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1).select(col("cnode"), col("label").as("newl"))
      val updated = nodes.join(picked, col("node") === col("cnode"), "left")
        .select(col("node"), coalesce(col("newl"), col("node")).as("label"))
        .cache()
      updated.count()
      labels.unpersist(blocking = false)
      labels = updated
    }
    sym.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    labels
  }

  /** k-core of the undirected simple graph (Seidman 1983, "Network
    * structure and minimum degree"): the maximal subgraph in which every
    * node has degree ≥ k — the standard link-graph spam/quality filter
    * (a page cited only by a shallow fringe peels away; densely
    * inter-cited cores survive) and the degree-pruning stage before
    * community detection. Edges are symmetrized + de-duplicated and
    * self-loops dropped. Returns the surviving nodes as
    * (node long, deg long) with deg = the node's degree INSIDE the core.
    * The k-core is unique, so the result is independent of peel order.
    *
    * Scale shape per sweep: one map-side-combined degree `groupBy` + one
    * broadcast-able anti-join of the under-k node set against both edge
    * endpoints; each sweep removes ALL currently under-k nodes at once
    * (synchronized peeling), so real graphs converge in a few dozen
    * sweeps, not O(n) — `maxSweeps` bounds the loop loudly. Same
    * two-regime split as [[pageRank]]: an edge list within
    * `LocalEdges` peels on the driver. */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      maxSweeps: Int = 100): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxSweeps >= 1, "maxSweeps must be >= 1")
    val e0 = edges.select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .persist()
    LocalRegime.collectAtMost(e0, LocalEdges) match {
      case Some(probe) =>
        e0.unpersist()
        return localKCore(edges.sparkSession, probe, k, maxSweeps)
      case None =>
    }
    // localCheckpoint per sweep: the peel can run dozens of sweeps, and a
    // cache alone keeps the whole anti-join lineage — the plan tree (and
    // its analysis cost) would grow without bound. Checkpointing
    // truncates lineage to the materialized blocks each sweep, so sweep
    // cost stays flat no matter how long the cascade trickles.
    var cur = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var curCount = cur.count()
    e0.unpersist(blocking = false)
    var sweeps = 0
    var done = curCount == 0L
    while (!done) {
      require(sweeps < maxSweeps,
        s"kCore: no fixpoint after $maxSweeps sweeps — raise maxSweeps")
      val under = cur.groupBy("u").agg(count(lit(1)).as("__d"))
        .where(col("__d") < k).select(col("u").as("__bad"))
      val next = cur
        .join(under, cur("u") === col("__bad"), "left_anti")
        .join(under, cur("v") === col("__bad"), "left_anti")
        .localCheckpoint()
      val nextCount = next.count()
      done = nextCount == curCount
      cur = next
      curCount = nextCount
      sweeps += 1
    }
    cur.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in
    * a hyperlinked environment"): `iterations` synchronous rounds of
    *   a ← Σ over in-edges of h,   h ← Σ over out-edges of a,
    * L1-normalizing both vectors each round (scores sum to 1 — the
    * engine-portable normalization: no sqrt of a sum, so round-trip
    * rounding is stable). The directed complement of [[pageRank]] for
    * link-graph curation: authorities rank well-cited reference pages,
    * hubs rank link farms / directory pages (a high-hub low-authority
    * page is the classic spam signature). Multi-edges count per edge —
    * `.distinct()` first for simple-graph semantics. Returns
    * (node long, hub double, authority double) over all endpoint nodes.
    *
    * Scale shape per round: two shuffle joins (edges ⋈ scores on src,
    * then on dst) each followed by a map-side-combined groupBy + one
    * 2-scalar normalization aggregate; edges cached across rounds, same
    * regime split as [[pageRank]]. */
  def hits(edges: DataFrame, src: String, dst: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e0 = edges.select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .persist()
    LocalRegime.collectAtMost(e0, LocalEdges) match {
      case Some(probe) =>
        e0.unpersist()
        return localHits(edges.sparkSession, probe, iterations)
      case None =>
    }
    val e = e0
    val nodes = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node"))).distinct().cache()
    val n = nodes.count().toDouble
    var scores = nodes.select(col("node"),
      lit(1.0 / n).as("hub"), lit(1.0 / n).as("auth")).cache()
    for (_ <- 0 until iterations) {
      val auth0 = e.join(scores, e("u") === scores("node"))
        .groupBy(e("v").as("anode")).agg(sum("hub").as("a0"))
      // inner join is lossless here: every edge target has an in-edge by
      // construction, so it appears in auth0 — no zero terms are dropped
      val hub0 = e.join(auth0, e("v") === col("anode"))
        .groupBy(e("u").as("hnode")).agg(sum("a0").as("h0"))
      val joined = nodes
        .join(auth0, col("node") === col("anode"), "left")
        .join(hub0, col("node") === col("hnode"), "left")
        .select(col("node"),
          coalesce(col("h0"), lit(0.0)).as("h0"),
          coalesce(col("a0"), lit(0.0)).as("a0"))
        .cache()
      val sums = joined.agg(sum("h0"), sum("a0")).head()
      val (hs, as) = (sums.getDouble(0), sums.getDouble(1))
      val updated = joined.select(col("node"),
          (col("h0") / (if (hs == 0.0) 1.0 else hs)).as("hub"),
          (col("a0") / (if (as == 0.0) 1.0 else as)).as("auth"))
        .cache()
      updated.count()
      joined.unpersist(blocking = false)
      scores.unpersist(blocking = false)
      scores = updated
    }
    nodes.unpersist(blocking = false)
    e0.unpersist(blocking = false)
    scores
  }

  private val hitsSchema = StructType(Seq(
    StructField("node", LongType), StructField("hub", DoubleType),
    StructField("auth", DoubleType)))

  /** Driver-side rounds for [[hits]]'s small-graph regime — the identical
    * synchronous L1-normalized update over the collected edge rows. */
  private def localHits(spark: SparkSession, edgeRows: Array[Row],
      iterations: Int): DataFrame = {
    import scala.collection.mutable
    val index = mutable.HashMap.empty[Long, Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    def idx(n: Long): Int = index.getOrElseUpdate(n, { ids += n; ids.length - 1 })
    val es = edgeRows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (idx(r.getLong(0)), idx(r.getLong(1)))).toArray
    val n = ids.length
    if (n == 0)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), hitsSchema)
    var hub = Array.fill(n)(1.0 / n)
    var auth = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iterations) {
      val a0 = new Array[Double](n)
      es.foreach { case (u, v) => a0(v) += hub(u) }
      val h0 = new Array[Double](n)
      es.foreach { case (u, v) => h0(u) += a0(v) }
      val hs = h0.sum; val as = a0.sum
      hub = h0.map(_ / (if (hs == 0.0) 1.0 else hs))
      auth = a0.map(_ / (if (as == 0.0) 1.0 else as))
    }
    val rows = ids.indices.map(i => Row(ids(i), hub(i), auth(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows.toArray: _*), hitsSchema)
  }

  private val coreSchema = StructType(Seq(
    StructField("node", LongType), StructField("deg", LongType)))

  /** Driver-side synchronized peel for [[kCore]]'s small-graph regime —
    * identical sweeps over the collected edge rows (the k-core is unique,
    * so sweep order cannot change the result, only the sweep count). */
  private def localKCore(spark: SparkSession, edgeRows: Array[Row],
      k: Int, maxSweeps: Int): DataFrame = {
    import scala.collection.mutable
    val adj = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    edgeRows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (u, v) = (r.getLong(0), r.getLong(1))
        if (u != v) {
          adj.getOrElseUpdate(u, mutable.HashSet.empty) += v
          adj.getOrElseUpdate(v, mutable.HashSet.empty) += u
        }
      }
    }
    var sweeps = 0
    var changed = true
    while (changed) {
      require(sweeps < maxSweeps,
        s"kCore: no fixpoint after $maxSweeps sweeps — raise maxSweeps")
      val bad = adj.iterator.collect { case (n, ns) if ns.size < k => n }.toArray
      changed = bad.nonEmpty
      bad.foreach { n =>
        adj.remove(n).foreach(_.foreach(m => adj.get(m).foreach(_ -= n)))
      }
      sweeps += 1
    }
    val rows = adj.toSeq.sortBy(_._1).map { case (n, ns) => Row(n, ns.size.toLong) }
    spark.createDataFrame(java.util.Arrays.asList(rows.toArray: _*), coreSchema)
  }

  private val labelSchema = StructType(Seq(
    StructField("node", LongType), StructField("label", LongType)))

  /** Driver-side rounds for [[labelPropagation]]'s small-graph regime:
    * the identical synchronous update over the collected edge rows. */
  private def localLabelProp(spark: SparkSession, edgeRows: Array[Row],
      iterations: Int): DataFrame = {
    import scala.collection.mutable
    val index = mutable.HashMap.empty[Long, Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    def idx(n: Long): Int = index.getOrElseUpdate(n, { ids += n; ids.length - 1 })
    val adj = mutable.HashSet.empty[(Int, Int)]
    edgeRows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (u, v) = (idx(r.getLong(0)), idx(r.getLong(1)))
        if (u != v) { adj += ((u, v)); adj += ((v, u)) }
      }
    }
    val n = ids.length
    if (n == 0)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), labelSchema)
    val neighbors = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    adj.foreach { case (u, v) => neighbors(v) += u } // v's in-neighbors = all neighbors (sym)
    var labels = Array.tabulate(n)(i => ids(i))
    for (_ <- 0 until iterations) {
      labels = Array.tabulate(n) { v =>
        if (neighbors(v).isEmpty) labels(v)
        else {
          val freq = mutable.HashMap.empty[Long, Int]
          neighbors(v).foreach(u => freq(labels(u)) = freq.getOrElse(labels(u), 0) + 1)
          freq.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
    }
    // only nodes with at least one (non-self) edge exist in the
    // distributed path's node set — mirror that here
    val connected = (0 until n).filter(neighbors(_).nonEmpty)
    val rows = connected.map(i => Row(ids(i), labels(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows.toArray: _*), labelSchema)
  }

  private val rankSchema = StructType(Seq(
    StructField("node", LongType), StructField("rank", DoubleType)))

  /** Driver-side power iteration for [[pageRank]]'s small-graph regime:
    * the same update rule over the collected edge rows. Memory is bounded
    * by `LocalEdges`. */
  private def localPageRank(spark: SparkSession, edgeRows: Array[Row],
      iterations: Int, damping: Double): DataFrame = {
    import scala.collection.mutable
    val index = mutable.HashMap.empty[Long, Int]
    val ids = mutable.ArrayBuffer.empty[Long]
    def idx(n: Long): Int = index.getOrElseUpdate(n, { ids += n; ids.length - 1 })
    val es = edgeRows.iterator
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (idx(r.getLong(0)), idx(r.getLong(1)))).toArray
    val n = ids.length
    if (n == 0)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](), rankSchema)
    val deg = new Array[Long](n)
    es.foreach { case (u, _) => deg(u) += 1 }
    var ranks = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iterations) {
      var danglingMass = 0.0
      var i = 0
      while (i < n) { if (deg(i) == 0) danglingMass += ranks(i); i += 1 }
      val contrib = new Array[Double](n)
      es.foreach { case (u, v) => contrib(v) += ranks(u) / deg(u) }
      val base = (1.0 - damping) / n + damping * danglingMass / n
      ranks = Array.tabulate(n)(j => base + damping * contrib(j))
    }
    val rows = ids.indices.map(i => Row(ids(i), ranks(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows.toArray: _*), rankSchema)
  }

  /** Link prediction over the undirected graph: for every non-adjacent
    * pair at distance 2, the three classic neighborhood scores —
    * common-neighbor count, Jaccard overlap of neighborhoods, and
    * Adamic–Adar Σ 1/ln(deg(w)) over shared neighbors (Adamic & Adar
    * 2003; Liben-Nowell & Kleinberg 2007). The candidate generator for
    * graph-curation tasks (suggest citations, stitch near-duplicate
    * clusters, find missing joins).
    *
    * Scale shape: candidate pairs come from the wedge join (adjacency ⋈
    * adjacency on the shared center), NEVER all pairs — cost is
    * Σ_w deg(w)², so super-hub centers with degree > `maxDegree` are
    * excluded (the standard hub cut: a celebrity node makes every fan
    * pair a "candidate" and drowns the signal; raising `maxDegree`
    * re-admits them). ALL three scores are computed over the
    * degree-CAPPED neighborhood N'(x) = {w ∈ N(x) : deg(w) ≤ maxDegree}
    * — common_neighbors counts only capped centers, adamic_adar sums
    * only over them, and the Jaccard union |N'(a)| + |N'(b)| − common
    * uses capped degrees too, so numerator and denominator describe the
    * SAME neighborhood (mixing capped wedges with full-degree unions
    * would bias jaccard low whenever the cut fires). Consequence of the
    * cut: a pair whose only shared neighbors are hubs produces no
    * candidate at all. One shuffle per join, one aggregation per
    * (a, b); existing edges leave via one anti-join.
    */
  def linkPrediction(edges: DataFrame, src: String, dst: String,
      maxDegree: Int = 10000): DataFrame = {
    require(maxDegree >= 2, "linkPrediction: maxDegree must be >= 2")
    val und = edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      // consumed by both adjacency legs + the existing-edge anti-join:
      // canonicalize once (r12)
      .localCheckpoint(false)
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val centers = adj.join(deg, "node")
      .where(col("deg") <= maxDegree)
      // consumed by both wedge legs + the capped-degree aggregation:
      // build the hub-cut adjacency once (r12)
      .localCheckpoint(false)
    val wedges = centers.select(col("node"), col("nbr").as("pa"), col("deg"))
      .join(centers.select(col("node"), col("nbr").as("pb")), "node")
      .where(col("pa") < col("pb"))
    val scored = wedges.groupBy(col("pa").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(lit(1.0) / log(col("deg").cast("double"))).as("adamic_adar"))
      .join(und, Seq("a", "b"), "left_anti")
    // capped degree |N'(x)|: neighbors-that-are-surviving-centers, the
    // same set the wedge numerator counted — keeps jaccard internally
    // consistent when the hub cut fires (equals plain degree otherwise)
    val cappedDeg = centers.groupBy(col("nbr").as("node"))
      .agg(count(lit(1)).as("deg"))
    scored
      .join(cappedDeg.select(col("node").as("a"), col("deg").as("__da")), "a")
      .join(cappedDeg.select(col("node").as("b"), col("deg").as("__db")), "b")
      .withColumn("jaccard", col("common_neighbors").cast("double")
        / (col("__da") + col("__db") - col("common_neighbors")))
      .select(col("a"), col("b"), col("common_neighbors"),
        col("adamic_adar"), col("jaccard"))
  }

  /** Deterministic uniform random walks (the DeepWalk/node2vec p=q=1
    * corpus generator — Perozzi et al. 2014): `walksPerNode` walks of up
    * to `walkLen` steps from every node, each step choosing the idx-th
    * out-neighbor (neighbors ranked by id) with
    * idx = IntHash.mix(seed, start, walk, step, current) mod out-degree.
    * No rand(): retries, partitionings, and engines replay the same
    * walks. Walks stop early at sinks (no out-edges). Returns one row
    * per visited position: (start, walk, step, node).
    *
    * Scale shape: the adjacency (deduped, rank-indexed — one window per
    * node's neighbor list) is built once; each step is ONE equi-join of
    * the frontier against it on (current node, chosen rank) — walkLen
    * bounded joins total, the pageRank iteration shape. The output is
    * nodes × walksPerNode × (walkLen+1) rows, linear in the requested
    * corpus. */
  def randomWalks(edges: DataFrame, src: String, dst: String,
      walkLen: Int, walksPerNode: Int, seed: Long): DataFrame = {
    require(walkLen >= 1 && walkLen <= 128, "walkLen in [1, 128]")
    require(walksPerNode >= 1 && walksPerNode <= 1024,
      "walksPerNode in [1, 1024]")
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col(src).cast("long").as("u"),
        col(dst).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    val adj = e0.select(col("u").as("node"), col("v").as("nbr"))
      .withColumn("idx", row_number()
        .over(Window.partitionBy("node").orderBy("nbr")) - 1)
      .localCheckpoint(false) // walkLen joins read it; build it once
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val starts = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node"))).distinct()
    val s0 = starts
      .withColumn("walk", explode(sequence(lit(1), lit(walksPerNode))))
      .select(col("node").as("start"), col("walk").cast("long").as("walk"),
        lit(0L).as("step"), col("node").as("cur"))
    val steps = (1 to walkLen).scanLeft(s0) { (prev, t) =>
      val frontier = prev.join(deg, col("cur") === deg("node")).drop("node")
      frontier
        .withColumn("__idx", pmod(graft.ops.IntHash.mix(lit(seed),
          Seq(col("start"), col("walk"), lit(t.toLong), col("cur"))),
          col("deg")))
        .join(adj, frontier("cur") === adj("node")
          && col("__idx") === adj("idx"))
        .select(col("start"), col("walk"), lit(t.toLong).as("step"),
          col("nbr").as("cur"))
        // lazy checkpoint per step: step t feeds BOTH step t+1 and the
        // final union — without it the union re-runs every prefix
        // (O(walkLen²) joins instead of walkLen)
        .localCheckpoint(false)
    }
    steps.reduce(_ unionAll _)
      .select(col("start"), col("walk"), col("step"), col("cur").as("node"))
  }

  /** Biased second-order random walks (node2vec — Grover & Leskovec,
    * KDD 2016): [[randomWalks]]' return/in-out generalization. After a
    * uniform first hop, the step from `cur` (arrived from `prev`)
    * weights each out-neighbor x by 1/p if x = prev (return), 1 if
    * dist(prev, x) = 1 (BFS-ish), 1/q otherwise (DFS-ish). Weights ride
    * an integer grid (round(grid/p), grid, round(grid/q)) so the
    * cumulative ranges, the modulus, and the bucket pick are exact
    * integer arithmetic — IntHash-replayed like every sampler here, no
    * rand().
    *
    * Scale shape per step: ONE equi-join of the frontier against the
    * checkpointed adjacency on the current node (candidates = frontier
    * × out-degree), one membership LEFT join against the same adjacency
    * on (prev, candidate) for the dist-1 test, a per-(start, walk)
    * window over the candidate list (bounded by the max out-degree),
    * and the integer range pick. walkLen bounded steps; per-step lazy
    * checkpoints keep the final union linear.
    */
  def node2vecWalks(edges: DataFrame, src: String, dst: String,
      walkLen: Int, walksPerNode: Int, p: Double, q: Double, seed: Long,
      grid: Long = 1024L): DataFrame = {
    require(walkLen >= 1 && walkLen <= 128, "walkLen in [1, 128]")
    require(walksPerNode >= 1 && walksPerNode <= 1024,
      "walksPerNode in [1, 1024]")
    require(p > 0 && q > 0, "node2vec p, q must be > 0")
    require(grid >= 1 && grid <= (1L << 20), "grid in [1, 2^20]")
    val wRet = math.round(grid / p)
    val wOut = math.round(grid / q)
    require(wRet >= 1 && wOut >= 1,
      s"node2vecWalks: grid $grid too coarse for p=$p / q=$q (zero weight)")
    import org.apache.spark.sql.expressions.Window
    val e0 = edges.select(col(src).cast("long").as("u"),
        col(dst).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    val adj = e0.select(col("u").as("node"), col("v").as("nbr"))
      .withColumn("idx", row_number()
        .over(Window.partitionBy("node").orderBy("nbr")) - 1)
      .localCheckpoint(false)
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val starts = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node"))).distinct()
    val s0 = starts
      .withColumn("walk", explode(sequence(lit(1), lit(walksPerNode))))
      .select(col("node").as("start"), col("walk").cast("long").as("walk"),
        lit(0L).as("step"), lit(null).cast("long").as("prev"),
        col("node").as("cur"))
    val steps = (1 to walkLen).scanLeft(s0) { (prevF, t) =>
      val next =
        if (t == 1) {
          // first hop: uniform, exactly randomWalks' draw
          val fr = prevF.join(deg, col("cur") === deg("node")).drop("node")
          fr.withColumn("__idx", pmod(graft.ops.IntHash.mix(lit(seed),
              Seq(col("start"), col("walk"), lit(1L), col("cur"))),
              col("deg")))
            .join(adj, fr("cur") === adj("node") && col("__idx") === adj("idx"))
            .select(col("start"), col("walk"), lit(1L).as("step"),
              fr("cur").as("prev"), col("nbr").as("cur"))
        } else {
          val cands = prevF
            .join(adj.select(col("node").as("__cn"), col("nbr"),
              col("idx")), col("cur") === col("__cn"))
            .join(adj.select(col("node").as("__en"), col("nbr").as("__ev"),
              lit(1).as("__has")),
              col("prev") === col("__en") && col("nbr") === col("__ev"),
              "left")
            .withColumn("__w",
              when(col("nbr") === col("prev"), lit(wRet))
                .when(col("__has").isNotNull, lit(grid))
                .otherwise(lit(wOut)))
          val wc = Window.partitionBy("start", "walk").orderBy("idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val wAll = Window.partitionBy("start", "walk")
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)
          cands
            .withColumn("__hi", sum("__w").over(wc))
            .withColumn("__lo", col("__hi") - col("__w"))
            .withColumn("__tot", sum("__w").over(wAll))
            .withColumn("__u", pmod(graft.ops.IntHash.mix(lit(seed),
              Seq(col("start"), col("walk"), lit(t.toLong), col("cur"),
                col("prev"))), col("__tot")))
            .where(col("__u") >= col("__lo") && col("__u") < col("__hi"))
            .select(col("start"), col("walk"), lit(t.toLong).as("step"),
              col("cur").as("prev"), col("nbr").as("cur"))
        }
      next.localCheckpoint(false)
    }
    steps.reduce(_ unionAll _)
      .select(col("start"), col("walk"), col("step"), col("cur").as("node"))
  }

  /** Newman modularity per community (Newman & Girvan 2004): over the
    * UNDIRECTED simple graph (edges canonicalized a<b, self-loops
    * dropped), each community c contributes
    *   q_c = L_c/m − (D_c/2m)²
    * (L_c = within-community edges, D_c = total degree of c's nodes,
    * m = total edges); Q = Σ q_c grades any node→community assignment —
    * [[labelPropagation]]'s labels, LSH buckets, or near-dup clusters —
    * against the configuration-model null. Nodes missing from
    * `communities` form their own singleton "§unassigned§" community
    * (their degree mass must stay in the null term or Q inflates).
    * Returns one row per community (community, n_nodes, internal_edges,
    * degree_sum, q_contrib), community-ordered.
    *
    * Scale shape: TWO node-keyed equi-joins tag each edge's endpoint
    * communities (community maps are usually node-sized — shuffle join;
    * Spark broadcasts if small), then everything is bounded-community
    * aggregation. No iteration, no all-pairs. */
  def modularity(edges: DataFrame, src: String, dst: String,
      communities: DataFrame, node: String, community: String): DataFrame = {
    val e = edges.select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
    val cmap = communities.select(col(node).as("__n"),
      coalesce(col(community).cast("string"), lit("§unassigned§")).as("__c"))
    val tagged = e
      .join(cmap.select(col("__n").as("a"), col("__c").as("__ca")),
        Seq("a"), "left")
      .join(cmap.select(col("__n").as("b"), col("__c").as("__cb")),
        Seq("b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("__ca"), concat(lit("§unassigned§"), col("a"))).as("ca"),
        coalesce(col("__cb"), concat(lit("§unassigned§"), col("b"))).as("cb"))
      // five consumers (the m count + three community aggregations, two
      // of them two-legged unions): tag the edges once (r12); the count
      // below materializes the checkpoint
      .localCheckpoint(false)
    val m = tagged.count().toDouble
    require(m > 0, "modularity: graph has no edges")
    // per-community degree sums from the edge endpoints themselves (the
    // community map may list nodes with no edges — they carry no mass)
    val degByC = tagged.select(col("ca").as("community"))
      .unionAll(tagged.select(col("cb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("degree_sum"))
    val nodesByC = tagged.select(col("a").as("__n"), col("ca").as("community"))
      .unionAll(tagged.select(col("b").as("__n"), col("cb").as("community")))
      .distinct()
      .groupBy("community").agg(count(lit(1)).as("n_nodes"))
    val inByC = tagged.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    degByC
      .join(nodesByC, Seq("community"))
      .join(inByC, Seq("community"), "left")
      .withColumn("internal_edges",
        coalesce(col("internal_edges"), lit(0L)))
      .withColumn("q_contrib",
        col("internal_edges") / m
          - pow(col("degree_sum") / (2.0 * m), 2))
      .select(col("community"), col("n_nodes"), col("internal_edges"),
        col("degree_sum"), col("q_contrib"))
      .orderBy("community")
  }

  /** Local clustering coefficient (Watts & Strogatz 1998): per node,
    * c = 2·T/(d(d−1)) — how close the node's neighborhood is to a
    * clique (1 inside duplicate cliques, 0 on hub stars: the per-node
    * refinement of [[Dedup.triangles]]'s cluster-vs-star diagnostic).
    * Nodes of degree < 2 report 0 (no possible triangle). Returns
    * (node, degree, triangles, coef).
    *
    * Scale shape: [[Dedup.triangles]]'s two ordered equi-joins (output
    * linear in true triangles), each triangle exploded to its 3 member
    * nodes for ONE per-node aggregation; degrees are one more
    * aggregation over the canonical edge list. Hub-heavy graphs should
    * pre-cut degree like [[linkPrediction]] — the triangle join's wedge
    * set is quadratic in the max degree. */
  def clusteringCoefficient(edges: DataFrame, src: String, dst: String)
      : DataFrame = {
    val e = edges.select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
      // both degree legs + the triangle join read it: build once (r12)
      .localCheckpoint(false)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = Dedup.triangles(e, "a", "b")
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("coef", when(col("degree") >= 2,
        lit(2.0) * col("triangles")
          / (col("degree") * (col("degree") - 1).cast("double")))
        .otherwise(lit(0.0)))
      .select(col("node"), col("degree"), col("triangles"), col("coef"))
  }
}
