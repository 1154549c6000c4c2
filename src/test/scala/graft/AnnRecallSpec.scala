package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Pq, Similarity}

/** Retrieval QUALITY of the approximate ANN paths, not algorithm
  * exactness (the oracles `ann_ivf`/`ann_ivfpq` prove the latter):
  * recall@10 versus brute-force ground truth on a clustered fixture at
  * realistic cell counts, swept over nProbe. The numbers land in
  * SCALE.md §ANN recall.
  *
  * Fixture: 2000 corpus vectors in 16 dims drawn from 40 cluster centers
  * (splitmix64-seeded — deterministic across JVMs), 25 queries each near
  * a center. IVF uses the production path (hash-sampled centroids), so
  * the measured recall reflects what a user gets without Lloyd
  * refinement; the PQ variant adds trained codebooks on top.
  */
class AnnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val nCenters = 40
  private val perCenter = 50
  private val nQueries = 25
  private val k = 10

  private def sm64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def u01(x: Long): Double = (sm64(x) >>> 11).toDouble / (1L << 53).toDouble
  private def centerCoord(c: Int, d: Int): Double = u01(c * 1009L + d) * 2 - 1
  // unit-normalized: cosine and L2 orderings coincide, so the PQ path
  // (ADC approximates L2) is judged against the same ground truth as the
  // cosine-ranked IVF path; noise 0.3 overlaps neighboring clusters
  // enough that probing more cells genuinely matters
  private def noisy(c: Int, seed: Long): Seq[Double] = {
    val raw = (0 until dim).map(d => centerCoord(c, d) + 0.3 * (u01(seed * 131L + d) * 2 - 1))
    val n = math.sqrt(raw.map(x => x * x).sum)
    raw.map(_ / n)
  }

  private lazy val corpus: DataFrame = (0 until nCenters * perCenter)
    .map(i => (i.toLong, noisy(i % nCenters, 7000L + i)))
    .toDF("id", "vec").cache()
  private lazy val queries: DataFrame = (0 until nQueries)
    .map(i => (1000000L + i, noisy(i % nCenters, 900000L + i)))
    .toDF("qid", "qvec").cache()

  private lazy val truth: Set[(Long, Long)] =
    Similarity.bruteForceTopK(corpus, queries, "id", "vec", "qid", "qvec", k)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallAt10(ann: DataFrame): Double = {
    val got = ann.select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (got intersect truth).size.toDouble / truth.size
  }

  test("streaming queries against the persisted IVF index == batch index search") {
    // the ingest-time retrieval shape: the index is built ONCE on disk;
    // query vectors arrive as a stream and are scored per micro-batch
    // via foreachBatch + ivfTopKFromIndex (the index is static state,
    // so no stateful operator is needed — this pins the composition)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("graft_ivfix").toString
    Similarity.buildIvfIndex(corpus, "id", "vec", nCells = 16, path)
    val batchWant = Similarity.ivfTopKFromIndex(spark, path, queries,
        "id", "vec", "qid", "qvec", k, nProbe = 4)
      .select("qid", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val qRows = queries.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val input = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val q = input.toDF().toDF("qid", "qvec").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= Similarity.ivfTopKFromIndex(spark, path, batch,
            "id", "vec", "qid", "qvec", k, nProbe = 4)
          .select("qid", "id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        ()
      }.start()
    try {
      val (a, b) = qRows.splitAt(qRows.length / 2)
      input.addData(a.toSeq); q.processAllAvailable()
      input.addData(b.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == batchWant)
  }

  test("ivfTopK recall@10 rises with nProbe and clears the stated bounds") {
    val sweep = Seq(1, 2, 4, 8).map { nProbe =>
      nProbe -> recallAt10(Similarity.ivfTopK(
        corpus, queries, "id", "vec", "qid", "qvec", k, nCells = nCenters, nProbe = nProbe))
    }
    info(s"ivf recall@10 by nProbe: ${sweep.map { case (p, r) => s"$p->${f"$r%.3f"}" }.mkString(", ")}")
    // monotone within noise: more probes never cost recall on this fixture
    sweep.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
      assert(r2 >= r1 - 1e-9, s"recall fell from nProbe=$p1 ($r1) to nProbe=$p2 ($r2)")
    }
    val byProbe = sweep.toMap
    assert(byProbe(1) >= 0.30, s"nProbe=1 recall ${byProbe(1)}")
    assert(byProbe(4) >= 0.75, s"nProbe=4 recall ${byProbe(4)}")
    assert(byProbe(8) >= 0.90, s"nProbe=8 recall ${byProbe(8)}")
  }

  /** `body`'s Spark job count, read after the listener bus drains. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try {
      body
      org.apache.spark.ProfileBus.drain(sc)
      sc.statusTracker.getJobIdsForGroup(group).length
    } finally sc.clearJobGroup()
  }

  test("job budget: ivfTopK and ivfPqTopK collect their centroid sample once") {
    corpus.count(); queries.count() // materialize the cached fixture first
    val cb = Pq.trainCodebooks(corpus, "id", "vec", m = 4, k = 16, iters = 3)
    val ivf = jobsOf("ann-budget-ivf") {
      Similarity.ivfTopK(corpus, queries, "id", "vec", "qid", "qvec", k,
        nCells = nCenters, nProbe = 4).collect()
    }
    val pq = jobsOf("ann-budget-ivfpq") {
      Similarity.ivfPqTopK(corpus, queries, "id", "vec", "qid", "qvec", k,
        nCells = nCenters, nProbe = 4, cb).collect()
    }
    info(s"jobs: ivfTopK $ivf, ivfPqTopK $pq")
    // pinned at the counts measured before both ops shared one index
    // body; a second collect of the centroid sample adds a job to either
    assert(ivf <= 4, s"ivfTopK jobs $ivf")
    assert(pq <= 7, s"ivfPqTopK jobs $pq")
  }

  test("Lloyd-refined centroids beat the raw hash sample at equal nProbe") {
    val refined = Similarity.trainIvfCentroids(corpus, "id", "vec", nCenters, iters = 2)
    val rRefined = recallAt10(Similarity.ivfTopKWithCentroids(
      corpus, refined, queries, "id", "vec", "qid", "qvec", k, nProbe = 4))
    val rRaw = recallAt10(Similarity.ivfTopK(
      corpus, queries, "id", "vec", "qid", "qvec", k, nCells = nCenters, nProbe = 4))
    info(f"nProbe=4 recall@10: hash-sampled $rRaw%.3f, Lloyd-refined $rRefined%.3f")
    assert(rRefined >= rRaw - 1e-9, s"refined $rRefined below raw $rRaw")
    assert(rRefined >= 0.85, s"refined recall $rRefined")
  }

  test("ivfPqTopK recall@10 clears the stated bound at nProbe=8 and scales with code resolution") {
    def pqRecall(m: Int, codes: Int): Double = {
      val cb = Pq.trainCodebooks(corpus, "id", "vec", m = m, k = codes, iters = 3)
      recallAt10(Similarity.ivfPqTopK(
        corpus, queries, "id", "vec", "qid", "qvec", k, nCells = nCenters, nProbe = 8, cb))
    }
    // recall is bounded by code resolution — the price of scanning m
    // small ints instead of dim floats; the knob is (m, codebook size)
    val coarse = pqRecall(4, 16) // 4 subspaces x 16 codes over 16 dims
    val fine = pqRecall(8, 64)   // 8 subspaces x 64 codes
    info(f"ivfpq recall@10 at nProbe=8: m=4/k=16 $coarse%.3f, m=8/k=64 $fine%.3f")
    assert(fine > coarse, s"finer codebooks should raise recall ($coarse -> $fine)")
    assert(fine >= 0.60, s"ivfpq recall $fine")
  }

  test("exact rerank recovers the recall PQ's code resolution loses") {
    val cb = Pq.trainCodebooks(corpus, "id", "vec", m = 4, k = 16, iters = 3)
    val plain = recallAt10(Similarity.ivfPqTopK(
      corpus, queries, "id", "vec", "qid", "qvec", k, nCells = nCenters, nProbe = 8, cb))
    val reranked = Similarity.ivfPqTopKReranked(
      corpus, queries, "id", "vec", "qid", "qvec", k, nCells = nCenters, nProbe = 8, cb,
      shortlistFactor = 8)
    val r = recallAt10(reranked)
    info(f"ivfpq m=4/k=16 at nProbe=8: plain $plain%.3f, reranked(x8) $r%.3f")
    assert(r > plain, s"rerank should raise recall ($plain -> $r)")
    assert(r >= 0.85, s"reranked recall $r")
    // the rerank is EXACT: every returned cosine equals the brute-force
    // cosine for that (query, doc) pair (same expression, same vectors)
    val bruteCos = Similarity.bruteForceTopK(corpus, queries, "id", "vec", "qid", "qvec", 200)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1)) -> r2.getDouble(2)).toMap
    reranked.collect().foreach { row =>
      val key = (row.getLong(0), row.getLong(1))
      bruteCos.get(key).foreach(expected =>
        assert(row.getDouble(2) == expected, s"rerank cosine diverges at $key"))
    }
  }

  test("sq8TopK: int8 codes keep recall@10 >= 0.95 at 1 byte/dim") {
    import graft.ops.ScalarQuant
    val r = recallAt10(ScalarQuant.sq8TopK(
      corpus, queries, "id", "vec", "qid", "qvec", k, dim))
    info(f"sq8 recall@10 $r%.3f (4x narrower corpus scan than float32)")
    assert(r >= 0.95, s"sq8 recall $r")
  }

  test("sq8 encode contract: tinyint codes, dequant error <= scale/2, schema is 1 byte/dim") {
    import graft.ops.ScalarQuant
    val m = ScalarQuant.fitSq8(corpus, "vec", dim)
    // an all-zero dimension stays zero after normalization → min = max
    // → scale 0, and encode must not divide by it
    val augmented = corpus.withColumn("vec",
      concat(col("vec"), array(lit(0.0))))
    val m2 = ScalarQuant.fitSq8(augmented, "vec", dim + 1)
    assert(m2.scales.last == 0.0, "constant dim should fit scale 0")
    val zeroCodes = ScalarQuant.encodeCorpus(augmented, "id", "vec", m2)
      .select(element_at(col("codes"), dim + 1).as("c")).distinct().collect()
    assert(zeroCodes.map(_.getByte(0)).toSeq == Seq(-128.toByte), "scale-0 dim encodes to code 0")
    val enc = ScalarQuant.encodeCorpus(corpus, "id", "vec", m)
    // storage width: the codes column is array<tinyint> — 1 byte/dim
    assert(enc.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType, containsNull = false),
      enc.schema("codes").dataType.toString)
    // roundtrip error per dimension is bounded by scale/2 (+1 ulp slack)
    val maxScale = m.scales.max
    val errs = enc
      .select(ScalarQuant.dequantSq8(col("codes"), m).as("dv"), col("id"))
      .join(corpus, "id")
      .withColumn("__n", graft.functions.VectorFunctions.l2norm(col("vec")))
      .select(aggregate(
        zip_with(col("dv"), transform(col("vec"), x => x / col("__n")),
          (a, b) => abs(a - b)),
        lit(0.0), (acc, e) => greatest(acc, e)).as("maxerr"))
      .agg(max("maxerr")).head().getDouble(0)
    assert(errs <= maxScale / 2 + 1e-12, s"dequant error $errs vs scale/2 ${maxScale / 2}")
  }

  test("sq8 fit: a dimension with no finite value fits min 0 and scale 0; roundtrip has no NaN") {
    import graft.ops.ScalarQuant
    // the third element is always null
    val df = (0 until 40).map { i =>
      (i.toLong, Seq[Option[Double]](Some(1.0 + i % 5), Some(-2.0 + i % 3), None,
        Some(0.5 * i)))
    }.toDF("id", "vec")
    val m = ScalarQuant.fitSq8(df, "vec", 4)
    assert((m.mins ++ m.scales).forall(x => java.lang.Double.isFinite(x)),
      s"mins ${m.mins.toSeq} scales ${m.scales.toSeq}")
    assert(m.mins(2) == 0.0 && m.scales(2) == 0.0)
    val dv = ScalarQuant.encodeCorpus(df, "id", "vec", m)
      .select(ScalarQuant.dequantSq8(col("codes"), m).as("dv")).collect()
      .map(_.getSeq[Any](0))
    assert(dv.length == 40)
    assert(dv.forall(_.forall(x => x != null && !x.asInstanceOf[Double].isNaN)),
      dv.take(3).toSeq)
  }
}
