package graft

import org.apache.spark.sql.functions._
import graft.ops.{LocalRegime, Multimodal, Similarity}

class SimilarityMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("groupCentroids: exact per-dim means in dim order; centroidSimilarity flags the outlier") {
    val df = Seq(
      (1L, "a", Seq(1.0, 0.0)), (2L, "a", Seq(0.0, 1.0)),   // centroid (.5, .5)
      (3L, "a", Seq(0.5, 0.5)),                             // on the centroid
      (4L, "a", Seq(-1.0, -1.0)),                           // antipodal outlier
      (5L, "b", Seq(2.0, 0.0))                              // own group
    ).toDF("id", "g", "v")
    val cents = Similarity.groupCentroids(df, col("g"), col("v")).collect()
      .map(r => r.getString(0) -> (r.getSeq[Double](1), r.getLong(2))).toMap
    assert(cents("a")._1 == Seq(0.125, 0.125) && cents("a")._2 == 4L)
    assert(cents("b")._1 == Seq(2.0, 0.0) && cents("b")._2 == 1L)
    val sims = Similarity.centroidSimilarity(df, col("g"), col("v")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("cos_to_centroid")).toMap
    assert(approx(sims(3L), 1.0, 1e-9))  // exactly on the prototype
    assert(approx(sims(4L), -1.0, 1e-9)) // antipodal
    assert(sims(4L) < sims(1L) && sims(4L) < sims(2L))
    assert(approx(sims(5L), 1.0, 1e-9))  // singleton group: self-centroid
  }

  test("randomProjection: JL norm preservation in expectation, linearity, seed sensitivity") {
    val rnd = new scala.util.Random(3)
    val vecs = (1 to 200).map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian())))
    val df = vecs.toDF("id", "v")
    val p = Similarity.randomProjection(col("v"), 16, seed = 7L)
    val ratios = df.select(
        (aggregate(p, lit(0.0), (a, x) => a + x * x) /
         aggregate(col("v"), lit(0.0), (a, x) => a + x * x)).as("r"))
      .collect().map(_.getDouble(0))
    val meanR = ratios.sum / ratios.length
    // E[||Pv||^2] = ||v||^2 for the 1/sqrt(k)-scaled sign projection
    assert(math.abs(meanR - 1.0) < 0.15, s"mean norm ratio $meanR")
    // linearity: P(a + b) == P(a) + P(b) (same hash signs)
    val two = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 4.0))).toDF("a", "b")
    val lin = two.select(
      Similarity.randomProjection(zip_with(col("a"), col("b"), _ + _), 4, 7L).as("pab"),
      zip_with(Similarity.randomProjection(col("a"), 4, 7L),
        Similarity.randomProjection(col("b"), 4, 7L), _ + _).as("papb"))
      .collect()(0)
    lin.getSeq[Double](0).zip(lin.getSeq[Double](1))
      .foreach { case (x, y) => assert(approx(x, y, 1e-9)) }
    // different seed -> different projection
    val d = df.limit(1).select(
      Similarity.randomProjection(col("v"), 16, 7L).as("p7"),
      Similarity.randomProjection(col("v"), 16, 8L).as("p8")).collect()(0)
    assert(d.getSeq[Double](0) != d.getSeq[Double](1))
  }

  test("decontaminateSemantic: planted paraphrase flagged with its bench id, clean rows pass") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0)), (4L, Seq(1.0, 1.0, 0.0))
    ).toDF("id", "v")
    val bench = Seq(
      (100L, Seq(0.99, 0.05, 0.0)), // ~ corpus 1 (a paraphrase stand-in)
      (101L, Seq(0.0, -1.0, 0.0))   // antiparallel to 2: NOT contamination
    ).toDF("bid", "bv")
    val out = Similarity.decontaminateSemantic(corpus, "id", "v",
        bench, "bid", "bv", threshold = 0.95, nCells = 2, nProbe = 2,
        iters = 0, byHash = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 100L), s"got $out")
  }

  test("cosine: parallel = 1, orthogonal = 0, antiparallel = -1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(2.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 3.0)),
      (Seq(1.0, 2.0), Seq(-1.0, -2.0))).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(approx(out(0), 1.0) && approx(out(1), 0.0) && approx(out(2), -1.0))
  }

  test("bruteForceTopK returns k nearest by cosine, excluding self") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 1.0)), (4L, Seq(-1.0, 0.0)))
      .toDF("id", "v")
    val queries = Seq((1L, Seq(1.0, 0.0))).toDF("qid", "qv")
    val out = Similarity.bruteForceTopK(corpus, queries, "id", "v", "qid", "qv", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(2L, 3L))
  }

  test("ivfTopK recall vs brute force on clustered corpus") {
    // Two tight clusters; IVF with enough probes must match brute force.
    val corpus = ((1 to 20).map(i => (i.toLong, Seq(1.0 + i * 0.001, 0.1))) ++
      (21 to 40).map(i => (i.toLong, Seq(0.1, 1.0 + i * 0.001)))).toDF("id", "v")
    val queries = Seq((1L, Seq(1.0, 0.1)), (21L, Seq(0.1, 1.0))).toDF("qid", "qv")
    val brute = Similarity.bruteForceTopK(corpus, queries, "id", "v", "qid", "qv", k = 3)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, "id", "v", "qid", "qv",
      k = 3, nCells = 4, nProbe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute)
  }

  test("ivfTopK broadcast-join assignment path == literal least() path") {
    // 60 vectors in 3 lobes, 8 cells. The index builder at
    // maxLiteralTerms = 0 forces the native argmin (the form that replaced
    // the broadcast join), Int.MaxValue the unrolled least() — results
    // (incl. rank ties) must be identical, and equal ivfTopK's.
    val corpus = (1 to 60).map { i =>
      val lobe = i % 3
      (i.toLong, Seq(
        if (lobe == 0) 1.0 + i * 0.003 else 0.05 * lobe,
        if (lobe == 1) 1.0 + i * 0.002 else 0.07,
        if (lobe == 2) 1.0 + i * 0.001 else 0.11 * (lobe + 1)))
    }.toDF("id", "v")
    val queries = Seq((3L, Seq(1.0, 0.1, 0.2)), (4L, Seq(0.1, 1.0, 0.1)),
      (5L, Seq(0.1, 0.1, 1.0))).toDF("qid", "qv")
    // iters = 0: the raw hash sample, ivfTopK's own centroids
    val cents = Similarity.trainIvfCentroids(corpus, "id", "v", nCells = 8, iters = 0).collect()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    def run(maxTerms: Int) =
      rows(Similarity.searchCells(Similarity.assignCorpus(corpus, "id", "v", cents, maxTerms),
        cents, queries, "id", "v", "qid", "qv", k = 5, nProbe = 3))
    assert(run(0) == run(Int.MaxValue), "join-path assignment must equal literal-path")
    assert(run(Int.MaxValue) == rows(Similarity.ivfTopK(corpus, queries, "id", "v", "qid", "qv",
      k = 5, nCells = 8, nProbe = 3)))
  }

  test("assignCorpus: a zero-norm vector raises DIVIDE_BY_ZERO in both argmin forms, at 1 and 2 cells") {
    // both forms divide by vnorm · cnorm: the literal least() form through
    // ANSI division, the native kernel through CosineDivisor; a 1-cell
    // index still computes its one distance. repartition keeps the
    // projection in a task (no driver-side local-relation folding).
    val corpus = Seq((1L, Seq(0.0, 0.0))).toDF("id", "v").repartition(1)
    val cents = Seq((1L, Seq(1.0, 0.0), 1.0), (2L, Seq(0.0, 1.0), 1.0))
      .toDF("cell_id", "cvec", "cnorm").collect()
    def conditions(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .collect { case e: org.apache.spark.SparkThrowable => e.getCondition }
        .toSeq
    for (nCells <- Seq(1, 2); maxTerms <- Seq(0, Int.MaxValue)) {
      val e = intercept[Exception](Similarity.assignCorpus(corpus, "id", "v",
        cents.take(nCells), maxTerms).collect())
      assert(conditions(e).contains("DIVIDE_BY_ZERO"),
        s"nCells=$nCells maxLiteralTerms=$maxTerms: $e")
    }
  }

  test("kMeansStep converges to true cluster means; trained IVF matches brute force") {
    // two tight, well-separated clusters around (1,0) and (0,1)
    val corpus = ((1 to 30).map(i => (i.toLong, Seq(1.0 + (i % 5) * 0.01, 0.02 * (i % 3)))) ++
      (31 to 60).map(i => (i.toLong, Seq(0.02 * (i % 3), 1.0 + (i % 5) * 0.01)))).toDF("id", "v")
    val trained = Similarity.trainIvfCentroids(corpus, "id", "v", nCells = 2, iters = 3)
      .collect().map(_.getSeq[Double](1)).sortBy(_.head)
    assert(trained.length == 2)
    // one centroid near (0,1)-ish, the other near (1,0)-ish
    assert(trained(0)(1) > 0.9 && trained(0)(0) < 0.1)
    assert(trained(1)(0) > 0.9 && trained(1)(1) < 0.1)
    val queries = Seq((1L, Seq(1.0, 0.05)), (31L, Seq(0.05, 1.0))).toDF("qid", "qv")
    val brute = Similarity.bruteForceTopK(corpus, queries, "id", "v", "qid", "qv", k = 3)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.trainIvfCentroids(corpus, "id", "v", nCells = 2, iters = 2)
    val ivf = Similarity.ivfTopKWithCentroids(corpus, cents, queries,
        "id", "v", "qid", "qv", k = 3, nProbe = 1)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute) // nProbe=1 suffices once centroids are trained
  }

  test("trainIvfCentroids: driver-local Lloyd == distributed kMeansStep chain (parity)") {
    // dyadic-rational coordinates -> every per-dim sum is FP-exact in any
    // association, so local and distributed means are bit-identical.
    // 3 clusters, uneven sizes, ids shuffled so byHash seeds are
    // nontrivial. (Zero vectors are out of contract: both regimes raise
    // DIVIDE_BY_ZERO.)
    val corpus = ((1 to 40).map(i => (i.toLong, Seq(1.0 + (i % 8) / 64.0, (i % 4) / 32.0, 0.0))) ++
      (41 to 70).map(i => (i.toLong, Seq((i % 4) / 32.0, 1.0 + (i % 8) / 64.0, 0.25))) ++
      (71 to 90).map(i => (i.toLong, Seq(0.5, (i % 8) / 64.0, 1.0 + (i % 4) / 32.0)))).toDF("id", "v")
    def collectCents(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList, r.getDouble(2)))
        .sortBy(_._1).toList
    for (iters <- Seq(1, 3); byHash <- Seq(true, false)) {
      val local = collectCents(Similarity.trainIvfCentroids(
        corpus, "id", "v", nCells = 5, iters = iters, byHash = byHash))
      val dist = LocalRegime.distributedOnly(collectCents(Similarity.trainIvfCentroids(
        corpus, "id", "v", nCells = 5, iters = iters, byHash = byHash)))
      assert(local == dist, s"iters=$iters byHash=$byHash\n$local\nvs\n$dist")
    }
    // a tie between two identical seeds goes to the lower id in Spark's
    // UTF-8 order in both regimes: U+FFFF sorts before U+1F600 in UTF-8,
    // after it in Java's UTF-16 String order; every other id sorts after
    // both, so the byHash = false seeds are exactly the tied pair
    val tied = Seq(("\uFFFF", Seq(1.0, 0.5)), ("\uD83D\uDE00", Seq(1.0, 0.5)),
      ("\uD83D\uDE01", Seq(1.0, 0.25)), ("\uD83D\uDE02", Seq(0.5, 0.5))).toDF("id", "v")
    def collectTied(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getSeq[Double](1).toList, r.getDouble(2)))
        .sortBy(_._1).toList
    val localTied = collectTied(Similarity.trainIvfCentroids(
      tied, "id", "v", nCells = 2, iters = 1, byHash = false))
    val distTied = LocalRegime.distributedOnly(collectTied(Similarity.trainIvfCentroids(
      tied, "id", "v", nCells = 2, iters = 1, byHash = false)))
    assert(localTied == distTied, s"tied seeds\n$localTied\nvs\n$distTied")
    assert(localTied.map(_._1) == List("\uFFFF"), localTied)
  }

  test("semanticDedup: near-copies flagged within cluster, representatives kept, distant points clean") {
    // two tight clusters around orthogonal directions + a near-copy in
    // each; one Lloyd iteration refines the seed centroids (the
    // averaged-centroid regime the oracle query deliberately avoids)
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.999, 0.01, 0.0)), // pair A
      (3L, Seq(0.0, 1.0, 0.0)), (4L, Seq(0.01, 0.999, 0.0)), // pair B
      (5L, Seq(0.7, 0.7, 0.2))                               // mixed, no dup
    ).toDF("vec_id", "v")
    val out = Similarity.semanticDedup(vecs, "vec_id", "v",
        nCells = 2, iters = 1, simThreshold = 0.99, byHash = false)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // the lower id of each semantic ball is the kept representative
    assert(!out(1L) && out(2L), out.toString)
    assert(!out(3L) && out(4L), out.toString)
    assert(!out(5L), out.toString)
  }

  test("randomHyperplaneLsh: similar vectors collide more than dissimilar") {
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.5, 0.2)), (2L, Seq(0.99, 0.01, 0.5, 0.2)),
      (3L, Seq(-1.0, 0.3, -0.5, 0.9))).toDF("id", "v")
    val buckets = df.select(col("id"), Similarity.randomHyperplaneLsh(col("v"), 8, 42L, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(1L) == buckets(2L))
    assert(buckets(1L) != buckets(3L))
  }

  test("multimodal extractFeatures: deterministic per-partition decode, schema appended") {
    val ids = (1L to 30L).toDF("doc_id")
    val media = Multimodal.syntheticMedia(spark, ids.toDF("doc_id"), "doc_id")
    val feats = Multimodal.extractFeatures(media, "payload")
    assert(feats.schema.fieldNames.contains("features"))
    val rows = feats.select("media_id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows.values.forall(_.size == Multimodal.FakeDecoder.featureDim))
    // deterministic across recomputation and partitioning
    val again = Multimodal.extractFeatures(media.repartition(7), "payload")
      .select("media_id", "features").collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows == again)
    // f_len = payload byte length > 0
    assert(rows.values.forall(_.head > 0))
  }

  test("sampleFrames: keeps every step-th of nFrames, slices payload bytes") {
    val ids = (1L to 5L).toDF("doc_id")
    val media = Multimodal.syntheticMedia(spark, ids.toDF("doc_id"), "doc_id")
    val frames = Multimodal.sampleFrames(media, "payload", nFrames = 16, step = 4)
    val perDoc = frames.groupBy("media_id").count().collect().map(_.getLong(1))
    assert(perDoc.forall(_ == 4)) // frames 0,4,8,12
    assert(frames.where(length(col("frame")) === 0).count() == 0)
  }

  test("resizeMedia: exact nearest-neighbor bytes, geometry rewritten, empty payload safe") {
    val ids = (1L to 5L).toDF("doc_id")
    val media = Multimodal.syntheticMedia(spark, ids, "doc_id")
    val out = Multimodal.resizeMedia(media, "payload", targetW = 3, targetH = 2)
    val rows = out.select("media_id", "payload", "resized", "meta.width", "meta.height")
      .collect()
    rows.foreach { r =>
      val p = r.getAs[Array[Byte]](1)
      val got = r.getAs[Array[Byte]](2)
      val want = Array.tabulate(6)(i => p((i.toLong * p.length / 6).toInt))
      assert(got.toSeq == want.toSeq)
      assert(r.getInt(3) == 3 && r.getInt(4) == 2)
    }
    // degenerate payload
    val empty = Multimodal.FakeResizer.resize(Array.emptyByteArray, 6)
    assert(empty.isEmpty)
    assert(Multimodal.FakeResizer.resize(null, 6).isEmpty)
  }

  test("persisted IVF index answers queries identically to the in-memory path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val e = graft.queries.Q.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queries = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    Similarity.buildIvfIndex(e, "vec_id", "v", nCells = 16, dir, centroidsByHash = false)
    val fromIndex = Similarity.ivfTopKFromIndex(spark, dir, queries,
        "vec_id", "v", "qid", "qv", k = 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val inMemory = Similarity.ivfTopK(e, queries, "vec_id", "v", "qid", "qv",
        k = 3, nCells = 16, nProbe = 4, centroidsByHash = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(fromIndex == inMemory && fromIndex.nonEmpty)
  }

  test("knnJoin: nProbe = nCells equals brute force; nProbe = 1 stays in the query's lobe") {
    val right = ((1 to 20).map(i => (i.toLong, Seq(1.0 + i * 0.001, 0.1))) ++
      (21 to 40).map(i => (i.toLong, Seq(0.1, 1.0 + i * 0.001)))).toDF("id", "v")
    val left = Seq((101L, Seq(1.0, 0.1)), (102L, Seq(0.1, 1.0))).toDF("qid", "v")
    val exact = Similarity.knnJoin(left, "qid", "v", right, "id", "v", k = 3,
        nCells = 2, nProbe = 2, iters = 1, byHash = false)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(right,
        left.select(col("qid"), col("v").as("qv")), "id", "v", "qid", "qv",
        k = 3, excludeSelf = false)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exact == brute && exact.nonEmpty)
    val probe1 = Similarity.knnJoin(left, "qid", "v", right, "id", "v", k = 3,
        nCells = 2, nProbe = 1, iters = 1, byHash = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe1.count(_._1 == 101L) == 3 && probe1.count(_._1 == 102L) == 3)
    assert(probe1.forall { case (q, id) => if (q == 101L) id <= 20 else id >= 21 })
  }

  test("clusterBalancedSample: at most quota per cell, smaller quota nests, both cells kept") {
    val corpus = ((1 to 30).map(i => (i.toLong, Seq(1.0 + i * 0.001, 0.1))) ++
      (31 to 40).map(i => (i.toLong, Seq(0.1, 1.0 + i * 0.001)))).toDF("id", "v")
    val kept5 = Similarity.clusterBalancedSample(corpus, "id", "v",
      nCells = 2, quota = 5, iters = 1, seed = 7L, byHash = false)
    val perCell = kept5.groupBy("cell_id").count().collect().map(_.getLong(1))
    assert(perCell.length == 2 && perCell.forall(_ <= 5))
    // the over-represented cluster is capped, the small one survives
    val kept3 = Similarity.clusterBalancedSample(corpus, "id", "v",
      nCells = 2, quota = 3, iters = 1, seed = 7L, byHash = false)
    val s5 = kept5.select("id").collect().map(_.getLong(0)).toSet
    val s3 = kept3.select("id").collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s5)) // quota nesting, like stratifiedSample
  }

  test("perceptualHash: hand-computed aHash bits, empty/null payload -> 0") {
    // "aaZZ" bytes 97,97,90,90; nBits=2 -> blocks [194, 180], total 374.
    // bit0: 194*4 > 374*2 (776 > 748) -> 1; bit1: 720 > 748 -> 0. sig = 1.
    val df = Seq((1L, "aaZZ"), (2L, "")).toDF("id", "s")
      .select(col("id"), encode(col("s"), "UTF-8").as("payload"))
      .unionByName(Seq(3L).toDF("id")
        .select(col("id"), lit(null).cast("binary").as("payload")))
    val out = Multimodal.perceptualHash(df, "payload", nBits = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(r.length - 1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 0L, 3L -> 0L))
  }

  test("phashNearDuplicates: banding equals brute force (pigeonhole losslessness)") {
    val ids = (0L until 60L).toDF("doc_id")
    val base = Multimodal.syntheticMedia(spark, ids, "doc_id")
      .select(col("media_id"), col("payload"))
    def pstr = decode(col("payload"), "UTF-8")
    val near = base.select((col("media_id") + 1000).as("media_id"),
      encode(concat(substring(pstr, 1, 4), lit("zzzz"),
        pstr.substr(lit(9), length(pstr))), "UTF-8").as("payload"))
    val exact = base.where(col("media_id") < 10)
      .select((col("media_id") + 2000).as("media_id"), col("payload"))
    val media = base.unionByName(near).unionByName(exact)
    val maxDist = 4
    val banded = Multimodal.phashNearDuplicates(media, "media_id", "payload", maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ph = Multimodal.perceptualHash(media, "payload", "ph")
    val a = ph.select(col("media_id").as("id_a"), col("ph").as("pa"))
    val b = ph.select(col("media_id").as("id_b"), col("ph").as("pb"))
    val brute = a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.ops.Dedup.hamming64(col("pa"), col("pb")).cast("long").as("h"))
      .where(col("h") <= maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute)
    // every planted exact copy is found at hamming 0
    val zeroPairs = banded.filter(_._3 == 0L).map(p => (p._1, p._2))
    assert((0L until 10L).forall(i => zeroPairs.contains((i, i + 2000))))
  }

  test("maxSimScore: per-query-token best match sums; orthogonal tokens add nothing") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(Seq(1.0, 0.0))),
      (2L, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)), Seq(Seq(2.0, 0.0), Seq(0.0, 3.0))),
      (3L, Seq(Seq(1.0, 1.0)), Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))))
      .toDF("id", "qt", "dt")
    val out = rows.select(col("id"),
        round(Similarity.maxSimScore(col("qt"), col("dt")), 6).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // q1 matches the single doc token exactly, q2 is orthogonal to it
    assert(out(1L) == 1.0)
    // scale-invariant cosine: both query tokens find a perfect match
    assert(out(2L) == 2.0)
    // [1,1] vs axis tokens: max cosine = 1/sqrt(2) either way
    assert(out(3L) == BigDecimal(1.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("maxSimTopK: ranks by rounded score, excludes self, ties break by id") {
    import spark.implicits._
    def tok(xs: (Double, Double)*) = xs.map(x => Seq(x._1, x._2))
    val corpus = Seq(
      (10L, tok((1.0, 0.0), (0.0, 1.0))), // perfect on both query tokens
      (11L, tok((1.0, 0.0))),             // perfect on q1, zero on q2 -> 1.0
      (12L, tok((1.0, 0.1))),             // ~0.995 on q1 PLUS ~0.0995 on q2 -> ~1.0945
      (13L, tok((-1.0, 0.0), (0.0, -1.0))), // anti-aligned
      (99L, tok((1.0, 0.0), (0.0, 1.0)))  // the query itself (excluded)
    ).toDF("id", "dt")
    val qs = Seq((99L, tok((1.0, 0.0), (0.0, 1.0)))).toDF("qid", "qt")
    val out = Similarity.maxSimTopK(corpus, qs, "id", "dt", "qid", "qt", k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"), r.getAs[Int]("rank")))
    assert(out.map(_._1).toSeq == Seq(10L, 12L, 11L))
    assert(out(0)._2 == 2.0)
    assert(!out.map(_._1).contains(99L))
  }
}
