package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float|double>`) — engine extension for training-data
  * pipelines (BASELINE.json north star).
  *
  *  - [[cosine]] / [[dot]]: pure `zip_with`+`aggregate` array expressions,
  *    codegen'd, no UDF.
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set
  *    against the corpus, one window per query for top-k. Scales linearly
  *    in corpus size; use for verification and small query batches.
  *  - [[ivfTopK]]: the scale path — k-means-style inverted-file: assign
  *    every corpus vector to its nearest of C centroids (C as literals),
  *    search only the `nProbe` closest cells per query. Corpus scan drops
  *    from O(N·Q) to O(N·Q·nProbe/C) with one narrow pre-pass.
  *  - [[randomHyperplaneLsh]]: signed-projection LSH bucket key for
  *    cosine — deterministic hash-based hyperplanes, no stored model.
  */
object Similarity {

  /** Codegen'd single-pass dot product (graft.functions.DotProduct) —
    * the HOF form `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is
    * semantically identical but interpreted per element. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot(a, b)

  def norm(a: Column): Column = graft.functions.VectorFunctions.l2norm(a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query row.
    * @param queries small DataFrame (qid, qvec) — broadcast side.
    * @param corpus  (id, vec) — the big side; never shuffled beyond the
    *                final per-query top-k (a k-row window over Q·N pairs,
    *                partitioned by query → fully parallel). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, qid: String, qvec: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val joined = corpus.withColumn("__vn", norm(col(vec)))
      .join(broadcast(queries.withColumn("__qn", norm(col(qvec)))))
      .withColumn("cos", dot(col(qvec), col(vec)) / (col("__qn") * col("__vn")))
    val filtered = if (excludeSelf) joined.where(col(id) =!= col(qid)) else joined
    val w = Window.partitionBy(qid).orderBy(col("cos").desc, col(id).asc)
    filtered.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qid), col(id), col("cos"), col("rank"))
  }

  /** ColBERT-style late-interaction MaxSim score (Khattab & Zaharia
    * 2020, "ColBERT: Efficient and Effective Passage Search…"): for two
    * `array<array<double>>` token-vector columns,
    * `Σ over query tokens of max over doc tokens of cosine`. Pure
    * per-pair HOF projection — no shuffle, no state; the inner
    * dot/norm are the native codegen'd vector expressions, the
    * transform/aggregate loops interpreted. Per-pair cost is
    * |Q|·|D| dot products, so at scale apply it as the RERANK stage
    * after ANN pruning on pooled vectors (the production ColBERT
    * shape), not corpus-wide. Docs with zero token vectors score
    * null. */
  def maxSimScore(qToks: Column, dToks: Column): Column =
    aggregate(qToks, lit(0.0), (acc, qt) =>
      acc + array_max(transform(dToks, dt => cosine(qt, dt))))

  /** Late-interaction top-k retrieval — the multi-vector analogue of
    * [[bruteForceTopK]]: brute MaxSim of each query's token vectors
    * against every doc's, same broadcast shape (queries broadcast, the
    * corpus never shuffled beyond the per-query k-row window). Ranks on
    * the ROUNDED score with an id tiebreak so cross-engine ulp noise
    * cannot flip neighboring ranks. Compose with [[ivfTopK]] over
    * pooled (e.g. mean) vectors for candidate generation at 100 TB. */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, id: String,
      toks: String, qid: String, qToks: String, k: Int,
      scoreRound: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val joined = corpus.join(broadcast(queries))
      .withColumn("score", round(maxSimScore(col(qToks), col(toks)), scoreRound))
    val filtered = if (excludeSelf) joined.where(col(id) =!= col(qid)) else joined
    val w = Window.partitionBy(qid).orderBy(col("score").desc, col(id).asc)
    filtered.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qid), col(id), col("score"), col("rank"))
  }

  /** Deterministic Gaussian hyperplane grid: splitmix64-hashed (plane,
    * dim) coordinates Box–Muller-mapped to N(0,1) — computed ONCE on the
    * driver and shipped as literals, so the per-row cost is nBits
    * codegen'd dot products instead of nBits·dim interpreted hash+trig
    * evaluations. Stable across JVMs, partitioning, and cluster size. */
  private[graft] def gaussianPlanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until nBits).map { p =>
      (0 until dim).map { i =>
        val h1 = splitmix(seed * 1000003L + p * 1048573L + i)
        val h2 = splitmix(h1)
        val u1 = math.max((h1 >>> 11).toDouble / (1L << 53).toDouble, 1e-12)
        val u2 = (h2 >>> 11).toDouble / (1L << 53).toDouble
        math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
      }
    }
  }

  /** Random-hyperplane (sign) LSH: `nBits`-bit bucket key for cosine
    * similarity. Vectors with high cosine collide with high probability.
    * Bucket = Σ_b (sign(v · h_b) > 0) << b. `dim` is the vector
    * dimensionality (hyperplanes are materialized as literals). */
  def randomHyperplaneLsh(vec: Column, nBits: Int, seed: Long, dim: Int): Column =
    gaussianPlanes(nBits, dim, seed).zipWithIndex.map { case (pl, b) =>
      when(dot(vec, typedLit(pl)) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Literal-form threshold on nCells·dim (the generated argmin's term
    * count), applied by [[assignCorpus]] for every IVF and clustering op:
    * at or below it the nearest-centroid argmin is an UNROLLED `least()`
    * over literal structs — whole-stage-codegen'd, the fastest form when
    * it JIT-compiles. Above it the single generated projection blows the
    * JIT method budget (~8k bytecodes) and runs INTERPRETED — measured on
    * 100k×dim-32 vectors: unrolled 2.2–45 s from 512 terms up, hard
    * codegen failure by 131k terms. The criterion uses nCells·dim, not
    * nCells: a 768-dim embedding hits the budget at a handful of cells.
    * Past the threshold the native argmin takes over (see
    * [[assignCells]]) — just as narrow and per-row, with plan size
    * independent of nCells. Both forms assign the same cells to every
    * vector of nonzero norm and raise the same error on a zero-norm one
    * ([[assignCells]]), so the threshold picks a plan, not an answer. */
  private[graft] val DefaultMaxLiteralTerms = 256

  /** Deterministic "centroid" sample: the nCells corpus rows with the
    * smallest xxhash64(id) — stable across partitioning and cluster size.
    * (byHash=false picks the lowest ids instead.) Lazy: each caller
    * collects it exactly once (the index needs the rows on the driver,
    * and every further use would re-run the scan+sort+limit job). */
  private def sampleCentroids(corpus: DataFrame, id: String, vec: String,
      nCells: Int, byHash: Boolean): DataFrame =
    corpus
      .select(col(id).as("cell_id"), col(vec).as("cvec"),
        (if (byHash) xxhash64(col(id)) else col(id)).as("h"))
      .orderBy("h").limit(nCells).drop("h")
      .withColumn("cnorm", norm(col("cvec")))

  /** The IVF index builder behind every IVF and clustering op here:
    * projects the corpus to (id, vec), adds its norm `vnorm` and the
    * nearest of the centroid rows (cell_id, cvec, cnorm) as `cell_id`.
    * The form of the argmin ([[assignCells]]) follows nCells·dim against
    * `maxLiteralTerms`; only specs pass anything but the default, to
    * force each form. */
  private[graft] def assignCorpus(corpus: DataFrame, id: String, vec: String,
      centroidData: Array[Row], maxLiteralTerms: Int = DefaultMaxLiteralTerms): DataFrame = {
    val literal = centroidData.isEmpty ||
      centroidData.length.toLong * centroidData.head.getSeq[Double](1).size <= maxLiteralTerms
    corpus.select(col(id), col(vec)).withColumn("vnorm", norm(col(vec)))
      .withColumn("cell_id", assignCells(vec, centroidData, literal))
  }

  /** Nearest-centroid cell id of `vec` (its norm in `vnorm`), in two
    * physical forms with identical results (spec-enforced) — BOTH narrow
    * (no join, no shuffle, no aggregate):
    *
    *  - `literal`: argmin via `least()` over nCells codegen'd
    *    (d, cell_id) literal structs — the dot products unroll into
    *    whole-stage codegen, fastest at small nCells·dim.
    *  - native: [[graft.functions.VectorFunctions.nearestCentroid]] over
    *    the centroids in ascending id order ([[nativeCentroids]]), so its
    *    strict first-wins compare reproduces least()'s tie→lowest-id and
    *    NaN-greatest order. The matrix rides as one referenced
    *    double[][] — plan size independent of nCells — and the loop is a
    *    primitive static call inside whole-stage codegen.
    *
    * No form joins: a broadcast join of the centroid table + a
    * `groupBy(id)` argmin sort-aggregates N·nCells joined rows (measured
    * 65 GB of spill and an executor OOM at 10M×16d×1000 cells, for a
    * 1.3 GB corpus; SCALE.md).
    *
    * Norms are precomputed once per vector either way — the cosine
    * against each candidate costs one dot product, not three. A
    * zero-norm vector or centroid is out of contract, and both forms
    * raise DIVIDE_BY_ZERO on it (the literal form through ANSI division,
    * the native one through [[org.apache.spark.sql.graft.CosineDivisor]]),
    * at any nCells. */
  private def assignCells(vec: String, centroidData: Array[Row],
      literal: Boolean): Column =
    if (literal) {
      val cellStructs = centroidData.map { r =>
        val cvec = typedLit(r.getSeq[Double](1))
        struct((-dot(col(vec), cvec) / (col("vnorm") * lit(r.getDouble(2)))).as("d"),
          lit(r.get(0)).as("cell_id"))
      }
      // least() rejects a single argument, so a 1-centroid index (tiny
      // training side, e.g. knnJoin against a 1-row corpus) passes its
      // struct twice: the distance is still computed, and a zero divisor
      // still raises, like every other index
      least((if (cellStructs.length == 1) cellStructs ++ cellStructs
        else cellStructs).toIndexedSeq: _*).getField("cell_id")
    } else {
      val (cvecs, cnorms, ids) = nativeCentroids(centroidData)
      element_at(ids, graft.functions.VectorFunctions
        .nearestCentroid(col(vec), col("vnorm"), cvecs, cnorms) + 1)
    }

  /** Centroid rows as the native kernels take them: ascending by id
    * ([[cellIdLess]]), as vectors, norms, and the ids in one
    * constant-folded literal array (kernel index i ↔ element i + 1). */
  private def nativeCentroids(centroidData: Array[Row])
      : (Array[Array[Double]], Array[Double], Column) = {
    val sorted = centroidData.sortWith((a, b) => cellIdLess(a.get(0), b.get(0)))
    (sorted.map(_.getSeq[Double](1).toArray), sorted.map(_.getDouble(2)),
      array(sorted.toIndexedSeq.map(r => lit(r.get(0))): _*))
  }

  /** Ascending order on centroid ids, matching Spark's own orderings
    * (strings compare as UTF-8 bytes, like the distributed `least()`
    * struct form). Loud on unsupported id types — a silently wrong sort
    * would silently break the tie rule. (Shared with the driver-local
    * Lloyd regime and [[Dedup.nearDupIncremental]]'s driver regime, whose
    * "earlier in batch" order is the same contract.) */
  private[graft] def cellIdLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: Int, y: Int) => x < y
    case (x: Short, y: Short) => x < y
    case (x: Double, y: Double) => java.lang.Double.compare(x, y) < 0
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
    case _ => sys.error(s"unsupported centroid id type: ${a.getClass}")
  }

  /** IVF (inverted-file) ANN: centroids from a deterministic sample of the
    * corpus ([[sampleCentroids]]), then [[ivfTopKWithCentroids]] — corpus
    * vectors pre-assigned to their nearest centroid ([[assignCorpus]]),
    * each query probing its `nProbe` nearest cells. Returns approximate
    * top-k per query. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      qid: String, qvec: String, k: Int, nCells: Int, nProbe: Int,
      centroidsByHash: Boolean = true): DataFrame =
    ivfTopKWithCentroids(corpus, sampleCentroids(corpus, id, vec, nCells, centroidsByHash),
      queries, id, vec, qid, qvec, k, nProbe)

  /** One Lloyd iteration over a centroid table: assign every corpus
    * vector to its nearest centroid ([[assignCorpus]] — cosine, the same
    * narrow argmin and tie order as every IVF op), then recompute each
    * cell's centroid as the element-wise mean of its members. Returns the
    * new (cell_id, cvec, cnorm) table (cells that lost all members
    * disappear — standard Lloyd's on empty clusters).
    *
    * Scale shape: the centroid table is collected once (it must not
    * re-run its possibly iterative lineage per use); the mean is computed
    * by exploding members to (cell, dim, value) — the shuffle carries one
    * float per coordinate, map-side combined into (sum, count) partials —
    * then the k·dim means reassemble with a sorted collect per cell (k·dim
    * rows total, never data-sized). `posexplode` keeps coordinate order
    * explicit. */
  def kMeansStep(corpus: DataFrame, centroids: DataFrame, id: String,
      vec: String): DataFrame =
    assignCorpus(corpus, id, vec, centroids.collect())
      .select(col("cell_id"), posexplode(col(vec)))
      .groupBy(col("cell_id"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy("cell_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("dims"))
      .select(col("cell_id"),
        transform(col("dims"), d => d.getField("m")).as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))

  /** Vector elements (rows × dim) under which [[trainIvfCentroids]] runs
    * its Lloyd steps on the driver ([[LocalRegime]]). */
  private val LocalLloydElements = 1 << 23

  /** Train IVF centroids: hash-sampled seeds ([[sampleCentroids]]) refined
    * by `iters` Lloyd iterations. Deterministic (no RNG — seeds are the
    * nCells lowest-hash rows, iterations are pure aggregations).
    *
    * SMALL-CORPUS REGIME (the [[Dedup.connectedComponents]] split,
    * round 8): each distributed [[kMeansStep]] costs a centroid collect
    * plus an exploded groupBy chain — a fixed ~0.5 s of job scheduling
    * per iteration regardless of volume, the dominant cost of `ann_ivf`
    * at sf0.1. When the (id, vec) projection fits a driver element
    * budget (`LocalLloydElements` = 2^23 array cells ≈ 64 MB of doubles,
    * i.e. 2^23 / dim rows, detected by [[LocalRegime.collectAtMost]]'s
    * limit-probed collect — no count job), the IDENTICAL Lloyd iteration
    * runs on the driver: same cosine argmin
    * with the same (distance, cell_id) tie order and NaN-greatest
    * semantics, same drop-empty-cells rule, same sequentially-exact
    * per-dimension mean (partial-sum order cannot diverge for inputs
    * whose sums are FP-associative, e.g. float32-representable
    * embeddings — pinned by the local==distributed parity spec). Larger
    * corpora take the per-iteration aggregation path unchanged. */
  def trainIvfCentroids(corpus: DataFrame, id: String, vec: String,
      nCells: Int, iters: Int, byHash: Boolean = true): DataFrame = {
    val sample = sampleCentroids(corpus, id, vec, nCells, byHash)
    val seedData = sample.collect()
    val seeds = corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(seedData: _*), sample.schema)
    if (iters == 0 || seedData.isEmpty) return seeds
    val dim = seedData.head.getSeq[Double](1).size
    val rowLimit = LocalLloydElements / math.max(dim, 1)
    LocalRegime.collectAtMost(corpus.select(col(id), col(vec)), rowLimit) match {
      case Some(probe) =>
        localLloyd(corpus.sparkSession, probe, seedData, iters, seeds.schema)
      case None => (1 to iters).foldLeft(seeds)((c, _) => kMeansStep(corpus, c, id, vec))
    }
  }

  /** Driver-side finish for [[trainIvfCentroids]]' small-corpus regime:
    * `iters` Lloyd iterations with [[kMeansStep]] semantics — cosine
    * argmin breaking ties to the lowest cell_id in [[cellIdLess]] order
    * with NaN distances greatest (Spark's struct-min order), null vectors
    * contributing to no cell (posexplode emits nothing for them), empty
    * cells dropped. Driver memory is bounded by `LocalLloydElements`. */
  private def localLloyd(spark: org.apache.spark.sql.SparkSession,
      corpusRows: Array[Row], seedData: Array[Row], iters: Int,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val vecs = corpusRows.iterator.filter(r => !r.isNullAt(1))
      .map(_.getSeq[Double](1).toArray).toArray
    val vnorms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
    var cells: Array[Any] = seedData.map(_.get(0))
    var cvecs: Array[Array[Double]] = seedData.map(_.getSeq[Double](1).toArray)
    var cnorms: Array[Double] = seedData.map(_.getDouble(2))
    for (_ <- 1 to iters) {
      val k = cells.length
      val sums = Array.fill(k)(new Array[Double](cvecs.headOption.map(_.length).getOrElse(0)))
      val counts = new Array[Long](k)
      var vi = 0
      while (vi < vecs.length) {
        val v = vecs(vi)
        var best = -1; var bestD = 0.0
        var c = 0
        while (c < k) {
          var dp = 0.0
          val cv = cvecs(c)
          val n = math.min(v.length, cv.length)
          var j = 0
          while (j < n) { dp += v(j) * cv(j); j += 1 }
          // a zero-norm vector or centroid raises DIVIDE_BY_ZERO, as in
          // the distributed regime
          val d = -dp / org.apache.spark.sql.graft.CosineDivisor(vnorms(vi), cnorms(c))
          // struct-min order: smaller d wins; NaN greatest; ties -> lower id
          val wins = best < 0 ||
            java.lang.Double.compare(d, bestD) < 0 ||
            (java.lang.Double.compare(d, bestD) == 0 && cellIdLess(cells(c), cells(best)))
          if (wins) { best = c; bestD = d }
          c += 1
        }
        if (best >= 0 && sums(best).length == v.length) {
          val s = sums(best)
          var j = 0
          while (j < v.length) { s(j) += v(j); j += 1 }
          counts(best) += 1
        } else if (best >= 0 && counts(best) == 0L && v.length > 0) {
          // first member defines the cell's dimensionality when it
          // differs from the seed's (matches the exploded avg, which is
          // per-(cell, pos) — mixed dims would diverge there too; the
          // library contract is uniform dims, this keeps ragged input
          // from crashing the scan)
          sums(best) = v.clone()
          counts(best) = 1
        }
        vi += 1
      }
      val keep = (0 until k).filter(counts(_) > 0L)
      cells = keep.map(cells).toArray
      cvecs = keep.map(i => sums(i).map(_ / counts(i))).toArray
      cnorms = cvecs.map(cv => math.sqrt(cv.map(x => x * x).sum))
    }
    val rows = cells.indices.map(i => Row(cells(i), cvecs(i).toIndexedSeq, cnorms(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows.toArray: _*), schema)
  }

  /** IVF ANN over a centroid table (e.g. [[trainIvfCentroids]]' output,
    * or [[ivfTopK]]'s raw sample): the table is collected once, the
    * corpus assigned to its cells ([[assignCorpus]]), and each query
    * probes its `nProbe` nearest cells ([[searchCells]]). */
  def ivfTopKWithCentroids(corpus: DataFrame, centroids: DataFrame,
      queries: DataFrame, id: String, vec: String, qid: String, qvec: String,
      k: Int, nProbe: Int): DataFrame = {
    val centroidData = centroids.collect()
    searchCells(assignCorpus(corpus, id, vec, centroidData), centroidData,
      queries, id, vec, qid, qvec, k, nProbe)
  }

  /** Per-query nProbe nearest cells as a NARROW projection: one native
    * [[graft.functions.VectorFunctions.nearestCells]] call per query row
    * ((d asc, cell_id asc) probe order, NaN-greatest), indices mapped to
    * ids through [[nativeCentroids]]' literal array, exploded. Replaces
    * the former broadcast(centroids) join + window rank (an extra
    * exchange + window stage per search) — and its literal-array
    * `array_sort` successor, whose 2·nCells typedLit forest measurably
    * taxed every Catalyst pass of the ANN plans. Appends the query
    * norm `qnorm` and `cell_id` (of type `cellType`) to `queries`; an
    * empty index probes no cell. */
  private def probeCells(queries: DataFrame, qvec: String,
      centroidData: Array[Row], nProbe: Int,
      cellType: org.apache.spark.sql.types.DataType): DataFrame = {
    val queriesN = queries.withColumn("qnorm", norm(col(qvec)))
    if (centroidData.isEmpty)
      queriesN.where(lit(false)).withColumn("cell_id", lit(null).cast(cellType))
    else {
      val (cvecs, cnorms, ids) = nativeCentroids(centroidData)
      val idxs = graft.functions.VectorFunctions.nearestCells(
        col(qvec), col("qnorm"), cvecs, cnorms, nProbe)
      queriesN.withColumn("cell_id",
        explode(transform(idxs, i => element_at(ids, i + 1))))
    }
  }

  /** Probe + scan + per-query top-k over a (centroids, assigned) pair —
    * the shared tail of [[ivfTopKWithCentroids]] and [[ivfTopKFromIndex]]. */
  private[graft] def searchCells(assigned: DataFrame, centroidData: Array[Row],
      queries: DataFrame, id: String, vec: String, qid: String, qvec: String,
      k: Int, nProbe: Int): DataFrame = {
    val probes = probeCells(queries, qvec, centroidData, nProbe,
        assigned.schema("cell_id").dataType)
      .select(col(qid), col(qvec), col("qnorm"), col("cell_id"))
    val candidates = assigned.join(broadcast(probes), Seq("cell_id"))
      .where(col(id) =!= col(qid))
      .withColumn("cos", dot(col(qvec), col(vec)) / (col("qnorm") * col("vnorm")))
    val w = Window.partitionBy(qid).orderBy(col("cos").desc, col(id).asc)
    candidates.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qid), col(id), col("cos"), col("rank"))
  }

  /** IVF-PQ (FAISS IVFADC layout): the inverted file prunes WHICH rows a
    * query scans (nProbe/nCells of the corpus), product quantization
    * shrinks WHAT the scan reads (m small ints per row instead of 4·dim
    * bytes of floats) — composing the library's two ANN halves, each of
    * which carries its own exact oracle.
    *
    * Plan shape: centroid sample + cell assignment as [[ivfTopK]]
    * ([[assignCorpus]]), PQ encode as a narrow projection, per-query
    * probe cells as [[probeCells]]' narrow projection, then
    * [[Pq.adcTopKProbed]] — the only data-sized stage reads
    * (id, cell_id, codes) and touches only probed cells. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      qid: String, qvec: String, k: Int, nCells: Int, nProbe: Int,
      cb: Pq.Codebooks, centroidsByHash: Boolean = true): DataFrame = {
    val centroidData = sampleCentroids(corpus, id, vec, nCells, centroidsByHash).collect()
    val assigned = assignCorpus(corpus, id, vec, centroidData)
    val encoded = Pq.encode(assigned, vec, cb).select(col(id), col("cell_id"), col("codes"))
    val probes = probeCells(queries, qvec, centroidData, nProbe,
        assigned.schema("cell_id").dataType)
      .select(col(qid), col("cell_id"))
    Pq.adcTopKProbed(encoded, queries, probes, id, qid, qvec, cb, k)
  }

  /** Persist an IVF index: `path/centroids` (nCells rows) and
    * `path/assigned` parquet PARTITIONED BY cell_id — the on-disk
    * inverted file. A probe against the index reads only its nProbe
    * cells' files: the broadcast probe join on the partition column gives
    * dynamic partition pruning, so query cost is O(N·nProbe/nCells) I/O,
    * not a full scan. Build once, query many. */
  def buildIvfIndex(corpus: DataFrame, id: String, vec: String, nCells: Int,
      path: String, centroidsByHash: Boolean = true): Unit = {
    val sample = sampleCentroids(corpus, id, vec, nCells, centroidsByHash)
    val centroidData = sample.collect()
    corpus.sparkSession.createDataFrame(java.util.Arrays.asList(centroidData: _*), sample.schema)
      .write.mode("overwrite").parquet(s"$path/centroids")
    assignCorpus(corpus, id, vec, centroidData)
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$path/assigned")
  }

  /** Query a persisted IVF index (see [[buildIvfIndex]]). Result equals
    * [[ivfTopK]] with the same parameters on the indexed corpus. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, id: String, vec: String, qid: String, qvec: String,
      k: Int, nProbe: Int): DataFrame = {
    // nCells rows — collecting them feeds the narrow probe projection and
    // keeps the probe join a pure partition-prune on `assigned`
    val centroidData = spark.read.parquet(s"$path/centroids")
      .select(col("cell_id"), col("cvec"), col("cnorm")).collect()
    val assigned = spark.read.parquet(s"$path/assigned")
    searchCells(assigned, centroidData, queries, id, vec, qid, qvec, k, nProbe)
  }

  /** Two-stage retrieval — [[ivfPqTopK]] shortlist refined by an EXACT
    * cosine rerank (the standard FAISS deployment shape: the compressed
    * scan proposes `shortlistFactor · k` candidates per query, the full
    * vectors re-score only those). Recovers the recall that PQ's code
    * resolution loses at the cost of ONE extra corpus probe that reads
    * full vectors for Q·shortlistFactor·k ids (broadcast semi-join into
    * the scan — the corpus is never shuffled, and column pruning keeps
    * the probe to (id, vec)). Output ranks by exact cosine, ties to
    * lowest id, like [[bruteForceTopK]]. */
  def ivfPqTopKReranked(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, qid: String, qvec: String, k: Int, nCells: Int, nProbe: Int,
      cb: Pq.Codebooks, shortlistFactor: Int = 4,
      centroidsByHash: Boolean = true): DataFrame = {
    require(shortlistFactor >= 1, "shortlistFactor must be >= 1")
    val shortlist = ivfPqTopK(corpus, queries, id, vec, qid, qvec,
        k * shortlistFactor, nCells, nProbe, cb, centroidsByHash)
      .select(col(qid), col(id))
    val vecs = corpus.select(col(id), col(vec).cast("array<double>").as("__v"))
      .withColumn("__vn", norm(col("__v")))
    val queriesN = queries
      .select(col(qid), col(qvec).cast("array<double>").as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val w = Window.partitionBy(qid).orderBy(col("cos").desc, col(id).asc)
    vecs.join(broadcast(shortlist), Seq(id))
      .join(broadcast(queriesN), Seq(qid))
      .withColumn("cos", dot(col("__qv"), col("__v")) / (col("__qn") * col("__vn")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qid), col(id), col("cos"), col("rank"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — public method): cluster
    * the embedding space with the deterministic Lloyd trainer
    * ([[trainIvfCentroids]]), then flag within-cluster semantic
    * duplicates — a row is a duplicate iff a LOWER-id cluster-mate sits
    * at cosine ≥ `simThreshold` (one deterministic representative per
    * semantic ball; the paper keeps one point per ε-ball, with the
    * keep-choice a free parameter).
    *
    * Scale shape: clustering IS the blocking — the pairwise cosine join
    * is quadratic only WITHIN a cell (one shuffle of (cell, id, vec),
    * join keyed by cell). Pick `nCells ≈ N/1e4` so cells stay ~1e4 rows
    * — exactly the published recipe (they run k-means with large k for
    * this reason); the assignment pass is the IVF narrow argmin
    * ([[assignCorpus]]), and the final flag join is a broadcast of the (usually
    * small) duplicate-id set when AQE sees it fit, else a key shuffle.
    *
    * Returns (id, cell_id, is_dup) for every input row; downstream keeps
    * `!is_dup` (compose with [[Dedup.dedupByComponent]]-style keep-lists
    * or a plain filter). */
  def semanticDedup(corpus: DataFrame, id: String, vec: String,
      nCells: Int, iters: Int, simThreshold: Double,
      byHash: Boolean = true): DataFrame = {
    val centroidData = trainIvfCentroids(corpus, id, vec, nCells, iters, byHash).collect()
    // persisted: the plan below consumes `assigned` THREE times (both
    // sides of the within-cell self-join + the final flag rejoin) —
    // without the cache each consumer re-runs the nCells-way argmin over
    // the whole corpus
    val assigned = assignCorpus(corpus, id, vec, centroidData).persist()
    val a = assigned.select(col("cell_id"), col(id).as("__ia"),
      col(vec).as("__va"), col("vnorm").as("__na"))
    val b = assigned.select(col("cell_id"), col(id).as("__ib"),
      col(vec).as("__vb"), col("vnorm").as("__nb"))
    val dupIds = a.join(b, Seq("cell_id"))
      .where(col("__ib") > col("__ia") &&
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")) >= simThreshold)
      .select(col("__ib").as(id)).distinct()
      .withColumn("__dup", lit(true))
    assigned.select(col(id), col("cell_id"))
      .join(dupIds, Seq(id), "left")
      .select(col(id), col("cell_id"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  /** Approximate k-NN JOIN: the k nearest `right` rows for EVERY `left`
    * row by cosine — the two-corpus generalization of [[ivfTopK]], whose
    * query side must be broadcast-small. This is the semantic-similarity
    * join at corpus × corpus scale: cross-lingual document alignment,
    * semantic decontamination of a training set against a whole eval
    * corpus, embedding-based record linkage.
    *
    * Scale shape: centroids train on `right` (bounded model, collected
    * once); `right` assigns narrowly ([[assignCorpus]] — no
    * shuffle); each `left` row ranks its `nProbe` nearest cells IN-ROW
    * ([[probeCells]] — still narrow) and explodes to nProbe rows. The ONLY
    * corpus-sized shuffle is the cell-keyed equi-join of left×nProbe
    * against right, and the per-left top-k runs as a WindowGroupLimit
    * window. Each right row lives in exactly one cell, so candidate
    * pairs are already distinct — no dedup pass.
    *
    * `nProbe >= nCells` degenerates to exact brute force (the oracle
    * pins this); smaller nProbe trades recall exactly like IVF search.
    * `lid` and `rid` must differ (both appear in the output). Returns
    * (lid, rid, cos, rank), rank 1..k by cosine desc, ties to the
    * lowest right id. */
  def knnJoin(left: DataFrame, lid: String, lvec: String,
      right: DataFrame, rid: String, rvec: String, k: Int, nCells: Int,
      nProbe: Int, iters: Int = 1, byHash: Boolean = true): DataFrame = {
    require(k >= 1 && nProbe >= 1, "k and nProbe must be >= 1")
    require(lid != rid, s"left and right id columns must differ (both '$lid')")
    val centroidData = trainIvfCentroids(right, rid, rvec, nCells, iters, byHash).collect()
    require(centroidData.nonEmpty, "right corpus is empty — no centroids")
    val assigned = assignCorpus(right, rid, rvec, centroidData)
    val rightAssigned = assigned
      .select(col("cell_id"), col(rid), col(rvec).as("__rv"), col("vnorm").as("__rn"))
    // per-left-row probe cells via the native nearestCells expression
    // (same (d asc, cell_id asc) order the literal array_sort form had) —
    // the interpreted 2·nCells typedLit struct sort this replaces was the
    // per-row bottleneck past a few hundred cells
    val probed = probeCells(left.select(col(lid), col(lvec)), lvec, centroidData,
        math.min(nProbe, centroidData.length), assigned.schema("cell_id").dataType)
      .select(col(lid), col(lvec), col("qnorm").as("__ln"), col("cell_id"))
    val w = Window.partitionBy(lid).orderBy(col("cos").desc, col(rid).asc)
    probed.join(rightAssigned, Seq("cell_id"))
      .withColumn("cos", dot(col(lvec), col("__rv")) / (col("__ln") * col("__rn")))
      // explicit projection BEFORE the top-k window: the candidate volume
      // is |left|·nProbe·(N/nCells) rows, and the WindowGroupLimit sort
      // must never carry the two dim-wide vectors through its spill —
      // 3 scalar columns per candidate, not optimizer-dependent pruning
      .select(col(lid), col(rid), col("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(lid), col(rid), col("cos"), col("rank"))
  }

  /** Cluster-balanced corpus sampling (topic diversity): Lloyd-cluster
    * the embedding space, assign every vector to its nearest-cosine
    * cell, then keep AT MOST `quota` rows per cell via the deterministic
    * seeded-hash tournament of [[Stats.quotaPerGroup]] — the embedding
    * analogue of per-language quotas, flattening over-represented
    * semantic regions instead of over-represented languages (the cluster
    * step of cluster-then-balance data curation; cf. the k-means
    * blocking [[semanticDedup]] shares).
    *
    * Scale shape = SemDeDup's: centroid training is the only iterative
    * part (bounded model, collected to the driver), assignment is the
    * narrow argmin ([[assignCorpus]]), and the quota is the two-level
    * tournament — no per-cell single-partition funnel. Deterministic
    * across partitioning, reruns, and engines; a smaller quota selects a
    * subset of a larger one. Returns the KEPT rows as (id, cell_id). */
  def clusterBalancedSample(corpus: DataFrame, id: String, vec: String,
      nCells: Int, quota: Int, iters: Int = 1, seed: Long = 42L,
      byHash: Boolean = true): DataFrame = {
    require(quota >= 1, "quota must be >= 1")
    val centroidData = trainIvfCentroids(corpus, id, vec, nCells, iters, byHash).collect()
    val assigned = assignCorpus(corpus, id, vec, centroidData)
    Stats.quotaPerGroup(assigned.select(col(id), col("cell_id")),
      col(id), col("cell_id"), Map.empty, quota, seed)
  }

  /** Signed random projection (Achlioptas 2003 / JL-sketch with ±1
    * entries — public method): project a `dim`-vector to `outDim`
    * components, out_j = (1/√outDim) · Σ_i v_i · s(j,i), where s(j,i) ∈
    * {−1, +1} comes from the engine-portable [[IntHash.mix]] — the
    * projection "matrix" is a HASH, so there is nothing to broadcast,
    * nothing to store, and every row projects identically on any
    * cluster/engine (exact DuckDB twin `embedding_srp`). The cheap
    * pre-step that makes 100 TB ANN/clustering tractable: distances are
    * preserved within JL distortion at a dim/outDim cost reduction.
    *
    * A pure per-row expression (outDim × dim multiply-adds folded in
    * index order — deterministic FP), no shuffle, no UDF. */
  def randomProjection(vec: Column, outDim: Int, seed: Long): Column = {
    require(outDim >= 1, "outDim must be >= 1")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(
        transform(vec, (x, i) =>
          x * when(pmod(IntHash.mix(lit(seed), Seq(j, i)), lit(2)) === 0,
            lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0), _ + _) * lit(scale))
  }

  /** DuckDB twin of [[randomProjection]] over a double-list SQL
    * expression `v` (1-based list indexing → the hash sees `i − 1`). */
  def randomProjectionSql(v: String, outDim: Int, seed: Long): String = {
    val sign = IntHash.mixSql(seed.toString, Seq("j", "(i - 1)"))
    s"""list_transform(range(0, $outDim), j ->
       |  list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
       |    list_transform(range(1, len($v) + 1), i ->
       |      $v[i] * (CASE WHEN ($sign) % 2 = 0 THEN 1.0 ELSE -1.0 END))),
       |    (a, b) -> a + b) / sqrt(CAST($outDim AS DOUBLE)))""".stripMargin
  }

  /** Semantic (embedding-space) decontamination — the similarity twin of
    * [[Dedup.decontaminate]]'s n-gram overlap scan: flag every corpus row
    * whose NEAREST benchmark/eval embedding is at cosine ≥ `threshold`
    * (paraphrased or lightly-reworded contamination that shares no long
    * n-gram). A [[knnJoin]] composition with the bench side as the
    * (small) indexed right: centroids train on the bench set, the corpus
    * streams through cell routing — the corpus is never shuffled beyond
    * its per-row top-1 window, and `nProbe >= nCells` makes the scan
    * exact (the oracle regime; lower nProbe trades recall like IVF).
    * Returns (corpus id, bench_id of the nearest match, cos) for flagged
    * rows only. */
  def decontaminateSemantic(corpus: DataFrame, cid: String, cvec: String,
      bench: DataFrame, bid: String, bvec: String, threshold: Double,
      nCells: Int, nProbe: Int, iters: Int = 1,
      byHash: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    knnJoin(corpus, cid, cvec, bench, bid, bvec, k = 1, nCells, nProbe,
        iters, byHash)
      .where(col("cos") >= threshold)
      .select(col(cid), col(bid), col("cos"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining in Low-Resource Conditions" / Schwenk 2018 —
    * public method): mine aligned (left, right) pairs from two embedding
    * corpora (e.g. two languages' sentence embeddings) by RATIO margin —
    * raw cosine divided by the mean cosine of each side's k-nearest
    * neighborhood:
    *
    *   margin(x, y) = cos(x, y) / (avgF(x)/2 + avgB(y)/2)
    *
    * where avgF(x) = mean cosine of x's k-NN in `right` and avgB(y) =
    * mean cosine of y's k-NN in `left`. The neighborhood normalizer
    * cancels hubness: a vector that is "close to everything" has a high
    * denominator, so raw-cosine false positives drop out — the reason
    * margin mining beats absolute-threshold mining for parallel-corpus
    * construction (ccMatrix/WikiMatrix shape).
    *
    * Candidates are the union of both directions' k-NN pairs; the "max"
    * strategy keeps each left row's best candidate by margin (ties to the
    * lowest right id), gated at `threshold`. Ranking and the gate use the
    * margin ROUNDED to `marginRound` dp so cross-engine ulp noise cannot
    * flip neighboring candidates (cf. [[maxSimTopK]]).
    *
    * Scale shape: two [[knnJoin]]s (each: narrow cell assignment + ONE
    * cell-keyed shuffle + per-row top-k window), two k-NN-sized averages,
    * and candidate-sized joins — never all-pairs. `nProbe >= nCells`
    * makes both legs exact (the oracle regime); smaller nProbe trades
    * recall exactly like IVF. Returns (lid, rid, cos, margin). */
  def bitextMarginMine(left: DataFrame, lid: String, lvec: String,
      right: DataFrame, rid: String, rvec: String, k: Int,
      threshold: Double, nCells: Int, nProbe: Int, iters: Int = 1,
      byHash: Boolean = true, marginRound: Int = 6): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // each leg feeds BOTH its neighborhood-mean aggregate and the
    // candidate union: checkpoint the bounded (rows × k) neighbor
    // tables so the whole k-NN join (centroid fit + assignment + probe
    // ranking) runs once per direction, not twice (r12)
    val fwd = knnJoin(left, lid, lvec, right, rid, rvec, k, nCells, nProbe,
      iters, byHash).localCheckpoint(false)
    val bwd = knnJoin(right, rid, rvec, left, lid, lvec, k, nCells, nProbe,
      iters, byHash).localCheckpoint(false)
    val avgF = fwd.groupBy(lid).agg(avg("cos").as("__af"))
    val avgB = bwd.groupBy(rid).agg(avg("cos").as("__ab"))
    // forward and backward legs compute bit-equal cosines for the same
    // pair (commutative per-element products, identical fold order), so
    // the union-distinct cannot keep two copies of one pair
    val cand = fwd.select(col(lid), col(rid), col("cos"))
      .union(bwd.select(col(lid), col(rid), col("cos")))
      .distinct()
    val w = Window.partitionBy(lid).orderBy(col("margin").desc, col(rid).asc)
    cand.join(avgF, lid).join(avgB, rid)
      .withColumn("margin",
        round(col("cos") / (col("__af") / 2 + col("__ab") / 2), marginRound))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1 && col("margin") >= threshold)
      .select(col(lid), col(rid), col("cos"), col("margin"))
  }

  /** Centroid-based (simplified) silhouette over cosine distance
    * (Rousseeuw 1987's silhouette with the standard centroid
    * approximation — per-point cost O(nCells), not O(N), which is what
    * makes the diagnostic computable on a 100 TB corpus): for each
    * vector, a = 1 − cos to its OWN (nearest) centroid, b = 1 − cos to
    * the second-nearest centroid, s = (b − a) / max(a, b) ∈ [−1, 1].
    * High s = the point sits firmly inside its cluster; s near 0 = on a
    * boundary; the per-cell mean is the standard cluster-quality score
    * for picking nCells / auditing a clustered curation run.
    *
    * Scale shape: after the bounded centroid train/collect this is a
    * PURE per-row projection — the nCells distances evaluate against
    * literal centroid arrays (same constant-folded form as
    * [[knnJoin]]'s probe ranking), sorted in-row; no join, no shuffle,
    * no state. Assignment ties break to the lowest cell_id, matching
    * the IVF argmin convention. Returns (id, cell_id, silhouette). */
  def silhouette(corpus: DataFrame, id: String, vec: String, nCells: Int,
      iters: Int = 1, byHash: Boolean = true): DataFrame = {
    require(nCells >= 2, "silhouette needs >= 2 cells")
    val centroidData =
      trainIvfCentroids(corpus, id, vec, nCells, iters, byHash).collect()
    require(centroidData.length >= 2,
      s"got ${centroidData.length} trained cells — silhouette needs >= 2")
    val nC = centroidData.length
    val vecs = array(centroidData.toIndexedSeq.map(r => typedLit(r.getSeq[Double](1))): _*)
    val norms = array(centroidData.toIndexedSeq.map(r => lit(r.getDouble(2))): _*)
    val ids = array(centroidData.toIndexedSeq.map(r => lit(r.get(0))): _*)
    val cand = transform(sequence(lit(0), lit(nC - 1)), i =>
      struct((lit(1.0) - dot(col(vec), element_at(vecs, i + 1)) /
          (col("__n") * element_at(norms, i + 1))).as("d"),
        element_at(ids, i + 1).as("cell_id")))
    val a = col("__s").getItem(0).getField("d")
    val b = col("__s").getItem(1).getField("d")
    corpus.select(col(id), col(vec))
      .withColumn("__n", norm(col(vec)))
      .withColumn("__s", slice(array_sort(cand), 1, 2))
      .select(col(id), col("__s").getItem(0).getField("cell_id").as("cell_id"),
        when(greatest(a, b) > 0, (b - a) / greatest(a, b))
          .otherwise(lit(0.0)).as("silhouette"))
  }

  /** Embedding-space distribution drift between two corpora via cluster
    * occupancy (the histogram core of MAUVE, Pillutla et al. 2021, with
    * k-means cells standing in for the quantized embedding space —
    * public method): train centroids on the REFERENCE corpus `a`, assign
    * both corpora to those shared cells, normalize the per-cell counts
    * to distributions p (reference) and q (candidate), and report each
    * cell's Jensen–Shannon term
    * 0.5·p·ln(p/m) + 0.5·q·ln(q/m), m = (p+q)/2, with 0·ln 0 := 0.
    * Σ terms = JS divergence in nats ∈ [0, ln 2]: ~0 = same embedding
    * distribution; the per-cell table localizes WHERE the corpora
    * diverge (which topics grew/vanished) — the embedding twin of the
    * per-feature [[graft.ops.Stats.psi]].
    *
    * Scale shape: after the bounded centroid train/collect, each corpus
    * makes ONE narrow assignment pass ([[assignCorpus]]' literal or
    * native argmin — no join) into a map-side-combined nCells-row count;
    * the JS arithmetic runs on 2·nCells rows. Returns
    * (cell_id, n_a, n_b, js_term), cells with at least one member. */
  def embeddingDriftJs(a: DataFrame, b: DataFrame, id: String, vec: String,
      nCells: Int, iters: Int = 1, byHash: Boolean = true): DataFrame = {
    val centroidData = trainIvfCentroids(a, id, vec, nCells, iters, byHash).collect()
    require(centroidData.nonEmpty, "reference corpus is empty — no centroids")
    def cellCounts(df: DataFrame, out: String) =
      assignCorpus(df, id, vec, centroidData)
        .groupBy("cell_id").agg(count(lit(1)).as(out))
    val joined = cellCounts(a, "n_a")
      .join(cellCounts(b, "n_b"), Seq("cell_id"), "full_outer")
      .select(col("cell_id"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = joined.agg(sum("n_a").as("__ta"), sum("n_b").as("__tb"))
    val p = col("n_a").cast("double") / col("__ta")
    val q = col("n_b").cast("double") / col("__tb")
    val m = (p + q) / 2
    def term(x: Column) = when(x > 0, x * log(x / m)).otherwise(lit(0.0))
    joined.crossJoin(totals)
      .select(col("cell_id"), col("n_a"), col("n_b"),
        ((term(p) + term(q)) / 2).as("js_term"))
  }

  /** Per-group embedding centroids — the domain-prototype table behind
    * centroid-distance quality pruning (flag vectors far from their
    * group's prototype — likely noise/outliers/mislabels) and corpus
    * drift dashboards.
    *
    * Shape: posexplode to (group, dim, x) — a ×dim fan-out that
    * map-side combines straight down to |groups|·dim partial means, so
    * the shuffle carries partials, not vectors — then one re-group to
    * array form. Components are rounded to `roundTo` decimals (the
    * [[Stats.outlierStats]] fence pattern) so downstream distances are
    * ulp-robust across engines/partitionings. Returns
    * (group, centroid array<double>, n). */
  def groupCentroids(df: DataFrame, group: Column, vec: Column,
      roundTo: Int = 6): DataFrame =
    df.select(group.as("group"), posexplode(vec.cast("array<double>"))
        .as(Seq("__i", "__x")))
      .groupBy(col("group"), col("__i"))
      .agg(avg(col("__x")).as("__m"), count(lit(1)).as("__n"))
      .groupBy(col("group"))
      .agg(
        transform(array_sort(collect_list(struct(col("__i"), col("__m")))),
          s => round(s.getField("__m"), roundTo)).as("centroid"),
        max(col("__n")).as("n"))

  /** Cosine similarity of every vector to ITS OWN group's centroid —
    * join the (tiny, broadcast) [[groupCentroids]] table back and score
    * in-row. Low similarity = far from the group prototype: the
    * SemDeDup-family quality-pruning signal, but per labeled group
    * instead of per discovered cluster. Returns the input plus
    * (cos_to_centroid). */
  def centroidSimilarity(df: DataFrame, group: Column, vec: Column,
      roundTo: Int = 6): DataFrame = {
    val cents = groupCentroids(df, group, vec, roundTo)
    df.withColumn("group", group)
      .join(broadcast(cents.select(col("group"), col("centroid"))), Seq("group"))
      .withColumn("cos_to_centroid",
        cosine(vec.cast("array<double>"), col("centroid")))
      .drop("centroid")
  }

  /** Matryoshka truncation recall (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): for each prefix budget d in `dims`, rank
    * the corpus by cosine over the FIRST d dimensions only and measure
    * the overlap with the full-dimension exact top-k — the dial that
    * decides how far an MRL embedding column can be truncated (4× fewer
    * bytes per vector) before retrieval quality pays. Cosine over a
    * prefix re-normalizes by the prefix norms, so no explicit renorm
    * pass is needed. Returns one row per budget:
    * (dim, n_hits, n_queries, recall) with recall = hits / (k·|queries|)
    * — micro-averaged over queries, ties broken (cos desc, id asc) like
    * [[bruteForceTopK]].
    *
    * Scale shape (fused, round 13): ONE broadcast-join pass over the
    * corpus (the query side is the broadcast side) computes every
    * prefix-budget cosine AND the full-dim cosine per pair via the
    * native cumulative [[graft.functions.VectorFunctions.prefixDots]] /
    * `prefixNorms` expressions — bit-identical to the per-budget sliced
    * passes (prefix accumulation IS the sliced accumulation), so the
    * per-budget rankings are ulp-for-ulp the old ones. The pairs then
    * explode ×(|dims|+1) into one (query, budget)-partitioned top-k
    * window; the bounded (≤ (|dims|+1)·k·|queries| rows) top-k table is
    * lineage-pinned once and the budget legs semi-join the full leg on
    * it. Replaces |dims|+1 corpus passes (and |dims|+1 windows over the
    * pair set) with exactly one of each. This is the ground-truth EVAL
    * harness — run it over a sampled corpus slice / query panel, the
    * same regime as [[bruteForceTopK]]; production retrieval at the
    * chosen budget then goes through the IVF/PQ paths. */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, qid: String, qvec: String, k: Int,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0), "need positive dims")
    require(dims.distinct.size == dims.size, "duplicate dims")
    import graft.functions.VectorFunctions.{prefixDots, prefixNorms}
    val nQ = queries.count()
    require(nQ > 0, "empty query panel")
    val cuts = dims.sorted
    // FULL-dim leg rides as sentinel budget -1 (dims are all positive):
    // same dot/norm expression shape as bruteForceTopK's cos column.
    val budgets = cuts.zipWithIndex.map { case (d, i) =>
      struct(lit(d).as("dim"),
        (element_at(col("__pd"), i + 1) /
          (element_at(col("__qn"), i + 1) * element_at(col("__vn"), i + 1)))
          .as("cos"))
    } :+ struct(lit(-1).as("dim"),
      (dot(col(qvec), col(vec)) / (col("__qnF") * col("__vnF"))).as("cos"))
    val exploded = corpus
      .withColumn("__vn", prefixNorms(col(vec).cast("array<double>"), cuts))
      .withColumn("__vnF", norm(col(vec)))
      .join(broadcast(queries
        .withColumn("__qn", prefixNorms(col(qvec).cast("array<double>"), cuts))
        .withColumn("__qnF", norm(col(qvec)))))
      .where(col(id) =!= col(qid))
      .withColumn("__pd", prefixDots(col(qvec).cast("array<double>"),
        col(vec).cast("array<double>"), cuts))
      .select(col(qid), col(id), explode(array(budgets: _*)).as("__b"))
      .select(col(qid), col(id), col("__b.dim").as("__dim"),
        col("__b.cos").as("cos"))
    val w = Window.partitionBy(col(qid), col("__dim"))
      .orderBy(col("cos").desc, col(id).asc)
    // bounded: (|dims|+1)·k·|queries| rows — pin it so the full-leg /
    // budget-leg semi-join below doesn't re-run the corpus pass twice
    val topk = exploded.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qid), col(id), col("__dim"))
      .localCheckpoint(false)
    // fresh exprIds on the semi-join's build side (`.as` re-aliases; a
    // bare select would share attribute ids with the probe side and the
    // USING join could resolve both legs to the same attributes)
    val full = topk.where(col("__dim") === -1)
      .select(col(qid).as(qid), col(id).as(id))
    val hits = topk.where(col("__dim") =!= -1)
      .join(full, Seq(qid, id), "left_semi")
      .groupBy(col("__dim")).agg(count(lit(1)).as("__h"))
    corpus.sparkSession.range(1)
      .select(explode(lit(dims.toArray)).as("dim"))
      .join(hits, col("dim") === col("__dim"), "left")
      .select(col("dim"), coalesce(col("__h"), lit(0L)).as("n_hits"),
        lit(nQ).as("n_queries"),
        round(coalesce(col("__h"), lit(0L)).cast("double") / (k * nQ), 6)
          .as("recall"))
  }
}
