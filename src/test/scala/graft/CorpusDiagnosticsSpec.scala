package graft

import org.apache.spark.sql.functions._
import graft.ops.{Similarity, Stats, TextOps}

/** Round-9 corpus-diagnostic operators: Benjamini–Hochberg FDR, Zipf
  * rank–frequency fit, padding-efficiency audit, centroid silhouette,
  * and margin-based bitext mining. */
class CorpusDiagnosticsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- bhFdr

  // the worked example from Benjamini & Hochberg 1995 (§4): m = 15 tests,
  // q = 0.05 rejects exactly the 4 smallest p-values
  private val bh95 = Seq(
    0.0001, 0.0004, 0.0019, 0.0095, 0.0201, 0.0278, 0.0298, 0.0344,
    0.0459, 0.3240, 0.4262, 0.5719, 0.6528, 0.7590, 1.0000)

  test("bhFdr reproduces the BH-1995 worked example (4 rejections at q=0.05)") {
    val df = bh95.zipWithIndex.map { case (p, i) => (s"h${i + 1}", p) }
      .toDF("id", "p")
    val out = Stats.bhFdr(df, col("id"), col("p"), q = 0.05)
      .orderBy("rank").collect()
    assert(out.length == 15)
    assert(out.map(_.getAs[Boolean]("reject")).toSeq ==
      (Seq.fill(4)(true) ++ Seq.fill(11)(false)))
    // ranks follow ascending p; ids carried through
    assert(out.map(_.getAs[String]("id")).take(4).toSeq ==
      Seq("h1", "h2", "h3", "h4"))
    // adjusted p is the step-up running min, clipped at 1, and monotone
    // non-decreasing in rank
    val padj = out.map(_.getAs[Double]("p_adj"))
    assert(approx(padj(3), 0.0095 * 15 / 4, 1e-12))
    assert(padj.last == 1.0)
    assert(padj.sliding(2).forall(w => w(0) <= w(1) + 1e-15))
    // the standard equivalence: reject ⇔ p_adj <= q
    out.foreach(r => assert(
      r.getAs[Boolean]("reject") == (r.getAs[Double]("p_adj") <= 0.05 + 1e-15)))
  }

  test("bhFdr with nothing significant rejects nothing; cutoff null-safe") {
    val df = Seq(("a", 0.4), ("b", 0.7), ("c", 0.9)).toDF("id", "p")
    val out = Stats.bhFdr(df, col("id"), col("p"), q = 0.05).collect()
    assert(out.forall(!_.getAs[Boolean]("reject")))
  }

  // -------------------------------------------------------------- zipfFit

  test("zipfFit recovers slope -1 / r2 1 on an exact Zipf corpus") {
    // tf(rank) = 840 / rank exactly for ranks 1..8 → ln tf = ln 840 − ln rank
    val tfs = (1 to 8).map(r => (s"w$r", 840 / r))
    val docs = tfs.zipWithIndex.map { case ((w, n), i) =>
      (i.toLong, Seq.fill(n)(w).mkString(" "))
    }.toDF("doc_id", "text")
    val row = TextOps.zipfFit(docs, col("doc_id"), col("text"), nRanks = 8).head()
    assert(row.getAs[Long]("n_ranks") == 8L)
    assert(approx(row.getAs[Double]("slope"), -1.0, 1e-9))
    assert(approx(row.getAs[Double]("intercept"), math.log(840.0), 1e-9))
    assert(approx(row.getAs[Double]("r2"), 1.0, 1e-9))
  }

  // ---------------------------------------------------- paddingEfficiency

  test("paddingEfficiency buckets, truncates at the top edge, handles blanks") {
    val docs = Seq(0, 10, 32, 33, 64, 2000).zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("t").mkString(" "))
    }.toDF("doc_id", "text")
    val out = TextOps.paddingEfficiency(docs, col("text"), Seq(32, 64))
      .orderBy("seq_len").collect()
    assert(out.length == 2)
    val b32 = out(0); val b64 = out(1)
    assert(b32.getAs[Long]("seq_len") == 32L)
    assert(b32.getAs[Long]("n_docs") == 3L)       // 0, 10, 32 tokens
    assert(b32.getAs[Long]("sum_tokens") == 42L)
    assert(b32.getAs[Long]("pad_tokens") == 3 * 32 - 42)
    assert(approx(b32.getAs[Double]("efficiency"), 42.0 / 96))
    assert(b64.getAs[Long]("n_docs") == 3L)       // 33, 64, 2000(truncated)
    assert(b64.getAs[Long]("sum_tokens") == 33 + 64 + 64)
    assert(b64.getAs[Long]("pad_tokens") == 3 * 64 - 161)
  }

  // ------------------------------------------------------------ silhouette

  private def ang(deg: Double): Seq[Double] = {
    val r = math.toRadians(deg)
    Seq(math.cos(r), math.sin(r))
  }

  test("silhouette: tight clusters near 1, seeds exactly 1, boundary point 0") {
    // ids ordered so the two iters=0/byHash=false seeds are one per cluster
    val pts = Seq(
      (1L, ang(0)), (2L, ang(90)),            // seeds → cell 1, cell 2
      (3L, ang(2)), (4L, ang(88)),            // firmly inside each cluster
      (5L, ang(45)))                          // equidistant boundary point
      .toDF("vec_id", "v")
    val out = Similarity.silhouette(pts, "vec_id", "v", nCells = 2,
        iters = 0, byHash = false)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell_id"), r.getAs[Double]("silhouette"))).toMap
    assert(out(1) == (1L, 1.0) && out(2) == (2L, 1.0)) // a = 0 at the seed
    assert(out(3)._1 == 1L && out(3)._2 > 0.9)
    assert(out(4)._1 == 2L && out(4)._2 > 0.9)
    // equidistant: a == b → s = 0, tie-break to the lowest cell_id
    assert(out(5)._1 == 1L && math.abs(out(5)._2) < 1e-9)
  }

  // ------------------------------------------------------ bitextMarginMine

  test("bitextMarginMine matches a brute-force reference and cancels hubness") {
    // left at 40°/50°; right has a "hub" at 41° (raw-cosine top-1 for the
    // 40° source) that margin scoring demotes below the 38° candidate,
    // because the hub's own neighborhood average is high.
    val left = Seq((1L, ang(40)), (2L, ang(50))).toDF("src_id", "v")
    val rightData = Seq((10L, ang(38)), (11L, ang(41)), (12L, ang(52)))
    val right = rightData.toDF("vec_id", "v")
    val k = 2
    val out = Similarity.bitextMarginMine(left, "src_id", "v",
        right, "vec_id", "v", k = k, threshold = 0.0, nCells = 2,
        nProbe = 2, iters = 0, byHash = false)
      .collect().map(r => r.getAs[Long]("src_id") ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("margin"))).toMap

    // brute-force reference of the same semantics
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val lv = Map(1L -> ang(40), 2L -> ang(50))
    val rv = rightData.toMap
    def topK(c: Map[Long, Double]) = c.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
    val fwd = lv.map { case (l, v) => l -> topK(rv.map { case (r, w) => r -> cos(v, w) }) }
    val bwd = rv.map { case (r, w) => r -> topK(lv.map { case (l, v) => l -> cos(v, w) }) }
    val avgF = fwd.map { case (l, nn) => l -> nn.map(_._2).sum / k }
    val avgB = bwd.map { case (r, nn) => r -> nn.map(_._2).sum / k }
    val cand = fwd.flatMap { case (l, nn) => nn.map { case (r, c) => (l, r, c) } } ++
      bwd.flatMap { case (r, nn) => nn.map { case (l, c) => (l, r, c) } }
    val best = cand.toSeq.distinct
      .map { case (l, r, c) => (l, r, c / (avgF(l) / 2 + avgB(r) / 2)) }
      .groupBy(_._1).map { case (l, cs) =>
        val (_, r, m) = cs.minBy { case (_, r, m) => (-m, r) }
        l -> (r, m)
      }
    assert(out.keySet == best.keySet)
    best.foreach { case (l, (r, m)) =>
      assert(out(l)._1 == r, s"src $l mined ${out(l)._1}, expected $r")
      assert(approx(out(l)._2, math.rint(m * 1e6) / 1e6, 1e-9))
    }
    // the hubness point: raw top-1 for src 1 is the hub (41°), but the
    // mined pair is the 38° candidate
    assert(fwd(1L).head._1 == 11L)
    assert(out(1L)._1 == 10L)
  }

  // ---------------------------------------------------- distinctNgramStats

  test("distinctNgramStats counts totals/distincts per n; blanks contribute 0") {
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.distinctNgramStats(docs, col("text"), Seq(1, 2, 3))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1) == (5L, 2L, 0.4))           // a×3, b×2
    assert(out(2) == (3L, 2L, 2.0 / 3))       // "a b"×2, "b a"
    assert(out(3) == (1L, 1L, 1.0))           // "a b a"
  }

  // ---------------------------------------------------- krippendorffAlpha

  test("krippendorffAlpha: perfect 1, chance 0, hand-computed mixed case") {
    def alpha(ratings: Seq[(Int, String)]): Double =
      Stats.krippendorffAlpha(ratings.toDF("item", "label"),
        col("item"), col("label")).head().getDouble(0)
    // both items unanimous → 1
    assert(alpha(Seq(1 -> "a", 1 -> "a", 2 -> "b", 2 -> "b")) == 1.0)
    // canonical chance case: Do == De → 0
    assert(math.abs(alpha(Seq(1 -> "a", 1 -> "a", 2 -> "a", 2 -> "b"))) < 1e-12)
    // (a,a,b) + (b,b,b): Do' = 2, n = 6, Σn_c² = 20 → 1 − 5·2/16 = 0.375
    val m = alpha(Seq(1 -> "a", 1 -> "a", 1 -> "b", 2 -> "b", 2 -> "b", 2 -> "b"))
    assert(approx(m, 0.375, 1e-12))
    // single-rating items carry no information and are excluded
    val withSingleton = alpha(Seq(1 -> "a", 1 -> "a", 2 -> "b", 2 -> "b", 3 -> "q"))
    assert(withSingleton == 1.0)
  }

  // -------------------------------------------------------- retentionCurve

  test("retentionCurve counts survivors and token mass per threshold") {
    val docs = Seq((0.1, 10L), (0.5, 100L), (0.5, 20L), (0.9, 1L))
      .toDF("score", "n_tokens")
    val out = Stats.retentionCurve(docs, col("score"), col("n_tokens"),
        Seq(0.0, 0.5, 0.8, 1.0))
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(0.0) == (4L, 1.0, 131L, 1.0))
    assert(out(0.5) == (3L, 0.75, 121L, 121.0 / 131))
    assert(out(0.8) == (1L, 0.25, 1L, 1.0 / 131))
    assert(out(1.0) == (0L, 0.0, 0L, 0.0)) // empty survivor set → 0, not null
  }

  // -------------------------------------------------------------- heapsFit

  test("heapsFit recovers beta on an exact power-law vocabulary growth") {
    // doc i introduces exactly one NEW token and repeats old ones so that
    // after d docs: V = d, N = d² → V = N^0.5 exactly (beta = 0.5,
    // ln K = 0, r² = 1). Doc d has 2d−1 tokens: token "t<d>" once plus
    // earlier tokens padded; simplest exact form: doc d = t1..t(d) with
    // t(d) repeated d times? Use N(d) = d²: doc d carries 2d−1 tokens —
    // one new token and 2d−2 copies of t1.
    val docs = (1 to 20).map { d =>
      val body = (s"t$d" +: Seq.fill(2 * d - 2)("t1")).mkString(" ")
      (d.toLong, body)
    }.toDF("doc_id", "text")
    val row = TextOps.heapsFit(docs, col("doc_id"), col("text"),
      nCheckpoints = 10).head()
    assert(row.getAs[Long]("n_checkpoints") == 10L)
    assert(approx(row.getAs[Double]("beta"), 0.5, 1e-9))
    assert(approx(row.getAs[Double]("ln_k"), 0.0, 1e-9))
    assert(approx(row.getAs[Double]("r2"), 1.0, 1e-9))
  }

  // ----------------------------------------------------------------- chao1

  test("chao1 estimates unseen vocabulary from the frequency-of-frequencies") {
    // tokens: a×3, b×2, c×1, d×1 → N=7, V=4, f1=2, f2=1
    val docs = Seq((1L, "a a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val r = TextOps.chao1(docs, col("text")).head()
    assert(r.getAs[Long]("n_tokens") == 7L && r.getAs[Long]("vocab") == 4L)
    assert(r.getAs[Long]("f1") == 2L && r.getAs[Long]("f2") == 1L)
    assert(approx(r.getAs[Double]("v_chao1"), 4 + 2.0 * 1 / (2 * 2), 1e-12))
    assert(approx(r.getAs[Double]("p_unseen"), 2.0 / 7, 1e-12))
    // saturated corpus: no hapax → v_chao1 == vocab, p_unseen == 0
    val sat = TextOps.chao1(Seq((1L, "x x y y")).toDF("doc_id", "text"),
      col("text")).head()
    assert(sat.getAs[Double]("v_chao1") == 2.0 && sat.getAs[Double]("p_unseen") == 0.0)
  }

  // -------------------------------------------------------------- pmiPairs

  test("pmiPairs scores collocations; count gate filters hapax pairs") {
    // "strong tea" always collocates; "weak tea" appears once (gated out)
    val docs = (Seq.fill(5)("strong tea is strong tea") :+ "weak tea")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = TextOps.pmiPairs(docs, col("text"), minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(!out.contains(("weak", "tea"))) // n_pair = 1 < minCount
    // hand-check "strong tea": c_ab = 10, T = 21 bigrams,
    // c_strong = 10, c_tea = 11, U = 27 tokens
    val (n, pmi) = out(("strong", "tea"))
    assert(n == 10L)
    assert(approx(pmi, math.log((10.0 / 21) / ((10.0 / 27) * (11.0 / 27))), 1e-12))
  }

  // --------------------------------------------------------------- rboTopK

  private def ranking(rows: Seq[(String, Long, Int)]) =
    rows.toDF("qid", "doc_id", "rank")

  test("rboTopK: identical lists → 1 − p^k, disjoint → 0, known mixed case") {
    val a = ranking((1 to 10).map(d => ("q", d.toLong, d)))
    val same = graft.ops.Retrieval.rboTopK(a, a, "qid", "doc_id", k = 10, p = 0.9)
      .head().getDouble(1)
    assert(approx(same, 1.0 - math.pow(0.9, 10), 1e-12))
    val b = ranking((1 to 10).map(d => ("q", d.toLong + 100, d)))
    val disj = graft.ops.Retrieval.rboTopK(a, b, "qid", "doc_id", k = 10, p = 0.9)
      .head().getDouble(1)
    assert(disj == 0.0)
    // A=[1,2,3], B=[1,3,2], k=3, p=0.5 → RBO = (1−p)(1·1 + 0.5·0.5 + 0.25·1)
    val a3 = ranking(Seq(("q", 1L, 1), ("q", 2L, 2), ("q", 3L, 3)))
    val b3 = ranking(Seq(("q", 1L, 1), ("q", 3L, 2), ("q", 2L, 3)))
    val mixed = graft.ops.Retrieval.rboTopK(a3, b3, "qid", "doc_id", k = 3, p = 0.5)
      .head().getDouble(1)
    assert(approx(mixed, 0.75, 1e-12))
  }

  // ------------------------------------------------------ embeddingDriftJs

  test("embeddingDriftJs: zero on identical corpora, per-cell JS terms on drift") {
    val a = Seq((1L, ang(0)), (2L, ang(90)), (3L, ang(1))).toDF("vec_id", "v")
    val zero = Similarity.embeddingDriftJs(a, a, "vec_id", "v", nCells = 2,
        iters = 0, byHash = false)
      .collect()
    assert(zero.forall(r => math.abs(r.getAs[Double]("js_term")) < 1e-15))
    // b sits entirely in cell 2: p = (2/3, 1/3), q = (0, 1)
    val b = Seq((7L, ang(89)), (8L, ang(91))).toDF("vec_id", "v")
    val out = Similarity.embeddingDriftJs(a, b, "vec_id", "v", nCells = 2,
        iters = 0, byHash = false)
      .collect().map(r => r.getAs[Long]("cell_id") ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Double]("js_term"))).toMap
    assert(out(1L)._1 == 2L && out(1L)._2 == 0L)
    assert(out(2L)._1 == 1L && out(2L)._2 == 2L)
    def jsTerm(p: Double, q: Double): Double = {
      val m = (p + q) / 2
      val tp = if (p > 0) p * math.log(p / m) else 0.0
      val tq = if (q > 0) q * math.log(q / m) else 0.0
      (tp + tq) / 2
    }
    assert(approx(out(1L)._3, jsTerm(2.0 / 3, 0.0), 1e-12))
    assert(approx(out(2L)._3, jsTerm(1.0 / 3, 1.0), 1e-12))
    // total JS is bounded by ln 2
    assert(out.values.map(_._3).sum <= math.log(2.0) + 1e-12)
    // a reference of two topic clusters: a sample with the same mix
    // barely drifts, one collapsed onto the second topic drifts far
    val ref = Seq((1L, ang(0)), (2L, ang(90)), (3L, ang(2)), (4L, ang(88)),
      (5L, ang(1)), (6L, ang(89))).toDF("vec_id", "v")
    def totalJs(sample: Seq[Double]*): Double =
      Similarity.embeddingDriftJs(ref,
          sample.zipWithIndex.map { case (v, i) => (100L + i, v) }.toDF("vec_id", "v"),
          "vec_id", "v", nCells = 2, iters = 0, byHash = false)
        .agg(sum("js_term")).head().getDouble(0)
    val stable = totalJs(ang(1), ang(89), ang(3), ang(87))
    val shifted = totalJs(ang(88), ang(89), ang(90), ang(91))
    assert(stable < 0.01 && shifted > 0.2, s"stable $stable, shifted $shifted")
  }

  test("bitextMarginMine threshold gates low-margin sources") {
    val left = Seq((1L, ang(40))).toDF("src_id", "v")
    val right = Seq((10L, ang(38)), (11L, ang(41))).toDF("vec_id", "v")
    val hi = Similarity.bitextMarginMine(left, "src_id", "v", right,
      "vec_id", "v", k = 2, threshold = 99.0, nCells = 2, nProbe = 2,
      iters = 0, byHash = false)
    assert(hi.count() == 0)
  }

  // ----------------------------------------------------------- canaryScan

  test("canaryScan counts non-overlapping hits and keeps clean canaries") {
    val docs = Seq(
      (1L, "the canary sat on the canary tree"), // 2 hits of "canary"
      (2L, "aaaa"),                              // "aa": non-overlap -> 2
      (3L, "no secrets here")
    ).toDF("doc_id", "text")
    val out = TextOps.canaryScan(docs, col("doc_id"), col("text"),
        Seq("canary", "aa", "zzz_never"))
      .orderBy("canary").collect()
    assert(out.length == 3)
    val byC = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(byC("canary") == ((2L, 1L, Some(1L))))
    assert(byC("aa") == ((2L, 1L, Some(2L))))
    // the clean canary still appears — with zero hits and a null first_doc
    assert(byC("zzz_never") == ((0L, 0L, None)))
  }

  test("canaryScan refuses empty, duplicate, and oversized canary lists") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.canaryScan(docs, col("doc_id"), col("text"), Seq.empty) }
    intercept[IllegalArgumentException] {
      TextOps.canaryScan(docs, col("doc_id"), col("text"), Seq("a", "a")) }
    intercept[IllegalArgumentException] {
      TextOps.canaryScan(docs, col("doc_id"), col("text"), Seq("a", "")) }
    intercept[IllegalArgumentException] {
      TextOps.canaryScan(docs, col("doc_id"), col("text"),
        (1 to 10).map("c" + _), maxCanaries = 5) }
  }

  // -------------------------------------------------------------- oovRate

  test("oovRate: vocab fit by (freq desc, token asc), OOV scored per doc") {
    // freqs: common x4, mid x2, rare x1, tie broken lexicographically
    val docs = Seq(
      (1L, "common common mid rare"),
      (2L, "common common mid tie1"),
      (3L, "tie2")
    ).toDF("doc_id", "text")
    // vocabSize 2 -> vocab = {common(4), mid(2)}; rare/tie1/tie2 OOV
    val out = TextOps.oovRate(docs, col("doc_id"), col("text"), vocabSize = 2)
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 4L, 1L), (2L, 4L, 1L), (3L, 1L, 1L)))
    assert(approx(out(0).getDouble(3), 0.25))
    assert(approx(out(2).getDouble(3), 1.0))
    // boundary tie at vocabSize 4: mid(2) in, then tie1 vs tie2 both
    // count 1 -> lexicographic keeps tie1
    val v4 = TextOps.oovRate(docs, col("doc_id"), col("text"), vocabSize = 4)
      .orderBy("doc_id").collect()
    assert(v4(1).getLong(2) == 0L)  // tie1 now in-vocab
    assert(v4(2).getLong(2) == 1L)  // tie2 still OOV
  }

  test("oovRate handles token-free docs and refuses huge vocab requests") {
    val docs = Seq((1L, "  "), (2L, "w")).toDF("doc_id", "text")
    val out = TextOps.oovRate(docs, col("doc_id"), col("text"), vocabSize = 1)
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 0L && out(0).getDouble(3) == 0.0)
    assert(out(1).getLong(2) == 0L)
    intercept[IllegalArgumentException] {
      TextOps.oovRate(docs, col("doc_id"), col("text"), vocabSize = 100000) }
  }

  // ----------------------------------------------------- matryoshkaRecall

  test("matryoshkaRecall: prefix ranking recovers full top-k as dims grow") {
    // q = e1; a duplicates q; b hides its mass in dim 3 (prefix-2 cosine
    // ties with a at 1.0, full cosine ~0.0995); c is a near-duplicate.
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 10.0, 0.0)),
      (3L, Seq(0.9, 0.1, 0.0, 0.0))
    ).toDF("vec_id", "v")
    val queries = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("qid", "qv")
    val out = Similarity.matryoshkaRecall(corpus, queries, "vec_id", "v",
        "qid", "qv", k = 2, dims = Seq(2, 4))
      .orderBy("dim").collect()
    // full top-2 = {1, 3}; prefix-2 top-2 = {1, 2} (tie at cos 1.0 broken
    // by id) -> 1 hit of 2; prefix-4 = full -> 2 hits
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2, 1L, 1L), (4, 2L, 1L)))
    assert(out(0).getDouble(3) == 0.5 && out(1).getDouble(3) == 1.0)
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaRecall(corpus, queries, "vec_id", "v",
        "qid", "qv", k = 2, dims = Seq.empty) }
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaRecall(corpus, queries, "vec_id", "v",
        "qid", "qv", k = 2, dims = Seq(2, 2)) }
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaRecall(corpus, queries.limit(0), "vec_id", "v",
        "qid", "qv", k = 2, dims = Seq(2)) }
  }

  test("tokenEntropy: uniform=ln(n) normalized to 1, constant=0, skewed in between, empty dropped") {
    import graft.ops.TextOps
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),          // uniform over 4 -> H = ln 4, norm = 1
      (2L, "x x x x"),          // one distinct -> H = 0, norm = 0 by convention
      (3L, "a a a b"),          // skewed -> 0 < H < ln 2
      (4L, "   "),              // zero tokens -> dropped
      (5L, "Tok tok TOK")       // case-folded to one distinct
    ).toDF("doc_id", "text")
    val out = TextOps.tokenEntropy(df, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L))
    assert(out(1L)._1 == 4 && out(1L)._2 == 4)
    assert(math.abs(out(1L)._3 - math.log(4)) < 1e-6 && out(1L)._4 == 1.0)
    assert(out(2L)._3 == 0.0 && out(2L)._4 == 0.0)
    val h3 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(out(3L)._3 - h3) < 1e-6)
    assert(out(3L)._4 > 0 && out(3L)._4 < 1)
    assert(out(5L)._2 == 1 && out(5L)._3 == 0.0)
  }

  test("lengthSortedBatches: per-shard length-desc batches, pad accounting beats arrival order") {
    import graft.ops.TextOps
    import spark.implicits._
    def doc(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    // shard A: lengths 10,1,9,2,8,3 -> sorted batches of 2: {10,9},{8,3},{2,1}
    val rows = Seq(10, 1, 9, 2, 8, 3).zipWithIndex.map { case (n, i) =>
      (i.toLong, "A", doc(n)) } :+ ((100L, "B", doc(5)))
    val out = TextOps.lengthSortedBatches(rows.toDF("doc_id", "lang", "text"),
        "doc_id", col("text"), shard = col("lang"), batchSize = 2)
      .select("doc_id", "batch_id", "n_tokens", "pad_to", "pad_tokens")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // batch members pad to the batch max
    assert(out(0L) == (0L, 10L, 10L, 0L) && out(2L) == (0L, 9L, 10L, 1L))
    assert(out(4L) == (1L, 8L, 8L, 0L) && out(5L) == (1L, 3L, 8L, 5L))
    assert(out(3L) == (2L, 2L, 2L, 0L) && out(1L) == (2L, 1L, 2L, 1L))
    // singleton shard: its own batch 0, zero pad
    assert(out(100L) == (0L, 5L, 5L, 0L))
    // total sorted waste (1+5+1=7) < arrival-order batching {10,1},{9,2},{8,3}
    val sortedWaste = out.filterKeys(_ != 100L).values.map(_._4).sum
    assert(sortedWaste == 7 && sortedWaste < (9 + 7 + 5))
  }
}
