package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test => SCTest}
import graft.ops.{ChronoSplit, Dedup, Robustness, SlidingWindows, Stats}

/** Property-based laws (SURVEY §5.2): windowing count law, split
  * partition/fraction laws, standardization moments, degradation
  * identity/multiset laws — randomized over parameter space with
  * ScalaCheck generators (8 cases per law; each case runs Spark jobs). */
object LawsProps extends Properties("GraftLaws") {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  override def overrideParameters(p: SCTest.Parameters): SCTest.Parameters =
    p.withMinSuccessfulTests(8)

  private val smallN = Gen.choose(1, 120)
  private val seqLenG = Gen.choose(1, 12)
  private val stepG = Gen.choose(1, 9)
  private val seedG = Gen.choose(Long.MinValue / 4, Long.MaxValue / 4)

  property("window count law: n_windows = max(0, 1 + (n - seqLen) / step)") =
    Prop.forAll(smallN, seqLenG, stepG) { (n, seqLen, step) =>
      val df = (1 to n).map(i => (i.toLong, i.toDouble)).toDF("t", "x")
      val got = SlidingWindows.slideGlobal(df, Seq(col("t")), col("x"), seqLen, step).count()
      val expected = if (n < seqLen) 0L else 1L + (n - seqLen) / step
      got == expected
    }

  property("streaming windower == global windower for any rangePartitions") =
    Prop.forAll(Gen.choose(13, 90), seqLenG, stepG, Gen.choose(1, 24)) { (n, seqLen, step, parts) =>
      val df = (1 to n).map(i => (i.toLong, i.toDouble)).toDF("t", "x").repartition(3)
      val a = SlidingWindows.slideGlobal(df, Seq(col("t")), col("x"), seqLen, step)
        .select("win_id", "window").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).sortBy(_._1).toList
      val b = SlidingWindows.slideGlobalStreaming(df, Seq(col("t")), col("x"), seqLen, step,
          rangePartitions = parts)
        .select("win_id", "window").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).sortBy(_._1).toList
      a == b
    }

  property("split is a partition; fractions within one row; test nonempty") =
    Prop.forAll(Gen.choose(1, 200), Gen.choose(1, 4)) { (n, groups) =>
      val df = (0 until n).map(i => (s"g${i % groups}", i.toLong)).toDF("g", "t")
      val counts = ChronoSplit.withSplit(df, Seq("g"), Seq(col("t")))
        .groupBy("g", "split").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        .withDefaultValue(0L)
      (0 until groups).filter(g => (0 until n).exists(_ % groups == g)).forall { gi =>
        val g = s"g$gi"
        val gn = (0 until n).count(_ % groups == gi)
        val (tr, va, te) = (counts((g, "train")), counts((g, "val")), counts((g, "test")))
        tr + va + te == gn &&
          te >= 1 &&
          math.abs(tr - 0.7 * gn) <= 1 + 1e-9 * gn &&
          math.abs(va - 0.15 * gn) <= 1 + 1e-9 * gn
      }
    }

  property("salted chrono split == window chrono split on random skewed frames") =
    Prop.forAll(
      Gen.listOfN(4, Gen.choose(1, 40)), // group sizes (incl. guard-sized)
      Gen.choose(1, 7),                  // ts duplication factor
      Gen.oneOf(2, 3, 8)                 // bucket count
    ) { (sizes, dup, buckets) =>
      val rows = sizes.zipWithIndex.flatMap { case (sz, g) =>
        (1 to sz).map(i => (s"g$g", (i / dup).toLong, (g * 1000 + i).toLong))
      }
      val df = rows.toDF("g", "t", "id").repartition(5)
      def m(d: org.apache.spark.sql.DataFrame) =
        d.select("g", "t", "id", "split").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getString(3)).toMap
      m(ChronoSplit.withSplitSalted(df, Seq("g"), col("t"), Seq(col("id")),
        buckets = buckets)) ==
        m(ChronoSplit.withSplit(df, Seq("g"), Seq(col("t"), col("id"))))
    }

  property("train standardization: mean ~ 0, pop std ~ 1 (nonconstant column)") =
    Prop.forAll(Gen.choose(5, 60), Gen.choose(1L, 9999L)) { (n, salt) =>
      val df = (1 to n).map(i => ((i * salt % 101).toDouble + i * 0.01)).toDF("x")
      val scaler = Stats.fitStandardScaler(df, Seq("x"))
      val z = Stats.applyStandardScaler(df, scaler)
        .agg(avg("x"), stddev_pop(col("x"))).head()
      math.abs(z.getDouble(0)) < 1e-7 &&
        (scaler("x")._2 == 1.0 || math.abs(z.getDouble(1) - 1.0) < 1e-7)
    }

  property("severity-0 degradations are identity for any seed") =
    Prop.forAll(seedG) { seed =>
      val wins = Seq((1L, Seq(Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(5.0, 6.0))))
        .toDF("win_id", "window")
      val out = wins.select(
        flatten(Robustness.packetLoss(col("window"), col("win_id"), 0.0, seed)).as("a"),
        flatten(Robustness.drift(col("window"), col("win_id"), 0.0, seed)).as("b"),
        flatten(col("window")).as("o")).head()
      out.getSeq[Double](0) == out.getSeq[Double](2) &&
        out.getSeq[Double](1) == out.getSeq[Double](2)
    }

  property("clock offset preserves the per-window multiset for any severity/seed") =
    Prop.forAll(Gen.choose(0.0, 1.0), seedG) { (sev, seed) =>
      val wins = Seq((7L, (1 to 6).map(i => Seq(i.toDouble)).toSeq)).toDF("win_id", "window")
      val r = wins.select(flatten(col("window")).as("o"),
        flatten(Robustness.clockOffset(col("window"), col("win_id"), sev, seed)).as("d")).head()
      r.getSeq[Double](0).sorted == r.getSeq[Double](1).sorted
    }

  property("shingle count law: distinct n-grams <= max(0, tokens - n + 1)") =
    Prop.forAll(Gen.choose(0, 12), Gen.choose(1, 4), Gen.choose(0L, 999L)) { (tokens, n, salt) =>
      val text = (1 to tokens).map(i => s"w${(i * (salt + 1)) % 5}").mkString(" ")
      val sh = Seq(text).toDF("t")
        .select(Dedup.shingles(col("t"), n)).head().getSeq[String](0)
      val expectedMax = math.max(0, tokens - n + 1)
      sh.size <= expectedMax && (tokens < n) == sh.isEmpty
    }

  property("packing law: offsets < budget; bin*budget + offset == token prefix sum") =
    Prop.forAll(Gen.choose(1, 40), Gen.choose(1, 64), Gen.choose(0L, 999L)) { (nDocs, budget, salt) =>
      val docs = (1 to nDocs)
        .map(i => (i.toLong, (0 until ((i * (salt + 3)) % 7).toInt).map(j => s"t$j").mkString(" ")))
        .toDF("id", "t")
      val out = graft.ops.TextOps
        .packSequences(docs, col("t"), Seq(col("id")), budget)
        .select("id", "n_tokens", "bin", "offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val prefixes = out.map(_._2).scanLeft(0L)(_ + _).init
      out.forall(_._4 < budget) &&
        out.zip(prefixes).forall { case ((_, _, bin, off), pre) => bin * budget + off == pre }
    }

  property("split packing law: pieces cover each doc exactly; every bin but the last is full") =
    Prop.forAll(Gen.choose(1, 40), Gen.choose(1, 64), Gen.choose(0L, 999L)) { (nDocs, budget, salt) =>
      val docs = (1 to nDocs)
        .map(i => (i.toLong, (0 until ((i * (salt + 3)) % 7).toInt).map(j => s"t$j").mkString(" ")))
        .toDF("id", "t")
      val out = graft.ops.TextOps
        .packSequencesSplit(docs, col("t"), Seq(col("id")), budget)
        .select("id", "n_tokens", "bin", "offset", "piece_len", "token_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      val perDoc = out.groupBy(_._1)
      val coverage = perDoc.values.forall { ps =>
        val sorted = ps.toSeq.sortBy(_._6)
        sorted.map(_._5).sum == sorted.head._2 && // piece lengths sum to n_tokens
          sorted.head._6 == 0L && // first piece starts at token 0
          sorted.sliding(2).forall { // contiguous token ranges
            case Seq(a, b) => a._6 + a._5 == b._6
            case _ => true
          }
      }
      val byBin = out.groupBy(_._3).view.mapValues(_.map(_._5).sum).toMap
      val lastBin = if (byBin.isEmpty) -1L else byBin.keys.max
      val fullBins = byBin.forall { case (b, tok) =>
        if (b == lastBin) tok <= budget else tok == budget
      }
      coverage && fullBins && out.forall(p => p._4 >= 0 && p._4 + p._5 <= budget)
    }

  property("pageRank law: ranks sum to 1 and respect the (1-d)/n floor on any digraph") =
    Prop.forAll(Gen.choose(2, 12), Gen.choose(1, 30), Gen.choose(0L, 999L), Gen.choose(0, 4)) {
      (nNodes, nEdges, salt, iters) =>
        val edges = (1 to nEdges)
          .map(i => (((i * (salt + 7)) % nNodes).toLong, ((i * i + salt) % nNodes).toLong))
          .toDF("s", "d")
        val ranks = graft.ops.Graph.pageRank(edges, "s", "d", iters)
          .collect().map(_.getDouble(1))
        val n = ranks.length
        math.abs(ranks.sum - 1.0) < 1e-9 &&
          ranks.forall(_ >= (1.0 - 0.85) / n - 1e-12)
    }

  property("quota tournament == naive single-window top-k for any buckets/quota") =
    Prop.forAll(Gen.choose(1, 200), Gen.choose(1, 12), Gen.choose(1, 9), seedG) {
      (n, quota, buckets, seed) =>
        val df = (1L to n.toLong).map(i => (i, (i % 3).toString)).toDF("id", "g")
        val fast = Stats.quotaPerGroup(df, col("id"), col("g"),
            Map("0" -> quota), quota + 1, seed, numBuckets = buckets)
          .collect().map(_.getLong(0)).toSet
        // naive reference: rank the whole group in one window
        val u = Robustness.seededUniform(seed, col("id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(u.asc, col("id").asc)
        val q = coalesce(element_at(typedLit(Map("0" -> quota)), col("g")), lit(quota + 1))
        val naive = df.withColumn("rk", row_number().over(w)).where(col("rk") <= q)
          .collect().map(_.getLong(0)).toSet
        fast == naive
    }

  property("connected components: component ids are class representatives (min member)") =
    Prop.forAll(Gen.choose(2, 20), Gen.choose(0, 25), seedG) { (n, nEdges, seed) =>
      val rnd = new scala.util.Random(seed)
      val edges = (0 until nEdges).map(_ => (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
      val nodes = (1L to n.toLong).toDF("id")
      val comp = Dedup.connectedComponents(nodes,
          edges.toDF("a", "b"), "id", "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference union-find
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map { i =>
        val members = (1 to n).filter(j => find(j) == find(i))
        i.toLong -> members.min.toLong
      }.toMap
      comp == expected
    }

  property("overlapJoin == brute inequality join for any intervals/width/key") =
    Prop.forAll(Gen.choose(5, 40), Gen.choose(1.0, 500.0), seedG) { (n, width, seed) =>
      val rnd = new scala.util.Random(seed)
      def mk = (1 to n).map { i =>
        val lo = rnd.nextInt(800).toLong
        (s"k${i % 3}", i.toLong, lo, lo + 1 + rnd.nextInt(150))
      }
      val l = mk.toDF("k", "lid", "llo", "lhi")
      val r = mk.toDF("k", "rid", "rlo", "rhi")
      val got = graft.ops.Joins.overlapJoin(l, "llo", "lhi", r, "rlo", "rhi",
          width, keys = Seq("k"))
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      val want = l.join(r, Seq("k"))
        .where(col("llo") < col("rhi") && col("rlo") < col("lhi"))
        .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      got.sorted == want.sorted && got.size == got.distinct.size
    }

  property("ewma: matches the sequential fold for any alpha/series/partitioning") =
    Prop.forAll(Gen.choose(1, 80), Gen.choose(0.05, 1.0), seedG) { (n, alpha, seed) =>
      val rnd = new scala.util.Random(seed)
      val xs = Vector.fill(n)(rnd.nextDouble() * 100 - 50)
      val df = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) }
        .toDF("k", "t", "x").repartition(1 + (n % 5))
      val got = Stats.ewma(df, "k", Seq("t"), "x", alpha)
        .orderBy("t").collect().map(_.getDouble(3)).toVector
      val expected = xs.tail.scanLeft(xs.head)((y, x) => (1 - alpha) * y + alpha * x)
      got == expected
    }

  property("quantile bins: assignment is monotone and spans 0..k-1 on distinct data") =
    Prop.forAll(Gen.choose(20, 200), Gen.choose(2, 8)) { (n, k) =>
      val df = (1 to n).map(i => i * 3.0).toDF("v")
      val bounds = Stats.fitQuantileBins(df, col("v"), k)
      val bins = df.withColumn("b", Stats.applyQuantileBins(col("v"), bounds))
        .orderBy("v").collect().map(_.getInt(1)).toVector
      bins == bins.sorted && bins.head == 0 && bins.last == k - 1
    }

  property("vocabulary: df_docs <= tf, and tf sums to the corpus token count") =
    Prop.forAll(Gen.choose(1, 30), seedG) { (nDocs, seed) =>
      val rnd = new scala.util.Random(seed)
      val words = Vector("a", "b", "c", "d", "e")
      val docs = (1 to nDocs).map(i =>
        (i.toLong, Vector.fill(1 + rnd.nextInt(12))(words(rnd.nextInt(5))).mkString(" ")))
      val df = docs.toDF("id", "text")
      val vocab = graft.ops.TextOps.vocabulary(df, col("id"), col("text"), 1L, 100)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val totalTokens = docs.map(_._2.split(" ").length).sum
      vocab.forall { case (_, tf, dfd) => dfd <= tf && dfd >= 1 } &&
        vocab.map(_._2).sum == totalTokens
    }

  property("c4Clean is idempotent: every line of the cleaned text passes the line filter") =
    Prop.forAll(Gen.choose(1, 12), seedG) { (nLines, seed) =>
      val rnd = new scala.util.Random(seed)
      val words = Vector("alpha", "beta", "gamma", "delta", "JavaScript", "x")
      val lines = (1 to nLines).map { _ =>
        val n = 1 + rnd.nextInt(8)
        val tail = if (rnd.nextBoolean()) "." else ""
        Vector.fill(n)(words(rnd.nextInt(words.size))).mkString(" ") + tail
      }
      val df = Seq(lines.mkString("\n")).toDF("t")
      val once = df.select(graft.ops.TextOps.c4Clean(col("t"))
        .getField("cleaned_text").as("c"))
      val twice = once.select(graft.ops.TextOps.c4Clean(col("c")).as("r"))
        .select(col("r.cleaned_text"), col("r.n_lines"), col("r.n_lines_kept"))
        .head()
      val c1 = once.head().getString(0)
      // re-cleaning keeps every surviving line and changes nothing
      twice.getString(0) == c1 &&
        (c1.isEmpty || twice.getInt(2) == twice.getInt(1))
    }

  property("softDedupWeights at beta=1: total weight = #distinct texts") =
    Prop.forAll(Gen.choose(1, 40), seedG) { (n, seed) =>
      val rnd = new scala.util.Random(seed)
      val texts = Vector("t one", "t two", "t three", "t four")
      val df = (1 to n).map(i => (i.toLong, texts(rnd.nextInt(texts.size))))
        .toDF("id", "t")
      val distinct = df.select("t").distinct().count()
      val total = Dedup.softDedupWeights(df, "id", "t")
        .agg(sum("sample_weight")).head().getDouble(0)
      math.abs(total - distinct) < 1e-6
    }

  property("containment laws: join == brute at any threshold; threshold-monotone; self-contained prefixes found") =
    Prop.forAll(Gen.choose(5, 25), Gen.choose(0.3, 1.0), seedG) { (n, t, seed) =>
      val rnd = new scala.util.Random(seed)
      val docs = (1L to n.toLong).map { i =>
        val len = 2 + rnd.nextInt(8)
        (i, Seq.fill(len)(s"w${rnd.nextInt(9)}").mkString(" "))
      }
      val df = docs.toDF("id", "t")
      def pairsOf(th: Double) = Dedup.containmentJoin(df, "id", "t", 1, th)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = Dedup.containmentPairs(df, "id", "t", 1, t)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val joined = pairsOf(t)
      // lossless, and raising the threshold can only remove pairs
      joined == brute && pairsOf(math.min(1.0, t + 0.2)).subsetOf(joined)
    }

  property("packSequencesWhole laws: no split, no overflow (except oversize-alone), order-preserving, all docs present") =
    Prop.forAll(Gen.choose(1, 60), Gen.choose(3, 12), seedG) { (n, budget, seed) =>
      val rnd = new scala.util.Random(seed)
      val docs = (1L to n.toLong).map { i =>
        val len = rnd.nextInt(2 * budget) // includes 0-token and oversize
        (i, (1 to len).map(k => s"x$k").mkString(" "))
      }
      val out = graft.ops.TextOps.packSequencesWhole(docs.toDF("id", "t"),
          "id", col("t"), Seq(col("id")), budget)
        .select("id", "n_tokens", "bin", "offset").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val allPresent = out.map(_._1).sorted.toSeq == (1L to n.toLong)
      val noOverflow = out.groupBy(_._3).values.forall { rows =>
        val positive = rows.filter(_._2 > 0)
        positive.map(_._2).sum <= budget || positive.length == 1
      }
      val ordered = out.sortBy(_._1).sliding(2).forall {
        case Array(a, b) => a._3 < b._3 || (a._3 == b._3 && a._4 <= b._4)
        case _ => true
      }
      allPresent && noOverflow && ordered
    }

  property("tokenAugment: kept fraction concentrates near 1 - dropRate over many tokens") =
    Prop.forAll(Gen.choose(0.1, 0.9), seedG) { (rate, seed) =>
      val df = (1L to 50L).map(i => (i, (1 to 40).map(t => s"w$t").mkString(" ")))
        .toDF("id", "t")
      val r = df.select(graft.ops.TextOps.tokenAugment(col("id"), col("t"),
          rate, 0.0, seed).as("a"))
        .agg(sum(col("a.n_kept")), sum(col("a.n_tokens"))).head()
      val kept = r.getLong(0).toDouble / r.getLong(1)
      // 2000 Bernoulli draws: |kept - (1-rate)| within 5 sigma
      val bound = 5 * math.sqrt(rate * (1 - rate) / 2000.0)
      math.abs(kept - (1 - rate)) <= bound
    }

  property("materializeMixture: integer weights are exact per-group multipliers") =
    Prop.forAll(Gen.choose(1, 40), Gen.choose(0, 4), seedG) { (n, w, seed) =>
      val df = (1L to n.toLong).map(i => (i, "g")).toDF("id", "g")
      val out = Stats.materializeMixture(df, col("id"), col("g"),
        Map("g" -> w.toDouble), seed)
      out.count() == n.toLong * w
    }

  private val rankingG: Gen[Seq[Long]] =
    Gen.choose(1, 20).flatMap(k => Gen.pick(k, 1L to 30L).map(_.toSeq))

  property("rboTopK: self-identity 1 - p^k, symmetry, bounds") =
    Prop.forAll(rankingG, rankingG, Gen.choose(0.05, 0.95)) { (a, b, p) =>
      def rk(docs: Seq[Long]) = docs.zipWithIndex
        .map { case (d, i) => ("q", d, i + 1) }.toDF("qid", "doc_id", "rank")
      val k = 10
      def rbo(x: Seq[Long], y: Seq[Long]): Double =
        graft.ops.Retrieval.rboTopK(rk(x), rk(y), "qid", "doc_id", k, p)
          .head().getDouble(1)
      val self = rbo(a, a)
      // self-RBO: per depth d the overlap is min(d, |a|) (rankings
      // shorter than k keep contributing their full prefix)
      val expected = (1 - p) * (1 to k)
        .map(d => math.pow(p, d - 1) * math.min(d, a.size) / d).sum
      val ident = math.abs(self - expected) < 1e-9
      val ab = rbo(a, b)
      ident && math.abs(ab - rbo(b, a)) < 1e-12 && ab >= 0.0 && ab <= self + 1e-12
    }

  property("bhFdr: rejections are a rank prefix; reject == (p_adj <= q); p_adj monotone") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0.0, 1.0)), Gen.choose(0.01, 0.5)) { (ps, q) =>
      val df = ps.zipWithIndex.map { case (p, i) => (s"h$i", p) }.toDF("id", "p")
      val out = Stats.bhFdr(df, col("id"), col("p"), q)
        .orderBy("rank")
        .select("p_adj", "reject").collect()
        .map(r => (r.getDouble(0), r.getBoolean(1)))
      val prefix = !out.map(_._2).dropWhile(identity).contains(true)
      val equiv = out.forall { case (padj, rej) => rej == (padj <= q + 1e-15) }
      val mono = out.map(_._1).sliding(2).forall(w => w.length < 2 || w(0) <= w(1) + 1e-15)
      prefix && equiv && mono
    }

  property("retentionCurve: survivors monotone non-increasing; fractions in [0,1]") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(1L, 50L)))) { rows =>
      val df = rows.toDF("s", "w")
      val out = Stats.retentionCurve(df, col("s"), col("w"),
          Seq(0.0, 0.25, 0.5, 0.75, 1.0))
        .orderBy("threshold").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      val monotone = out.sliding(2).forall(w =>
        w.length < 2 || (w(0)._1 >= w(1)._1 && w(0)._3 >= w(1)._3))
      val bounds = out.forall(r => r._2 >= 0 && r._2 <= 1 && r._4 >= 0 && r._4 <= 1)
      val keepAll = out.head._1 == rows.size.toLong // every score >= 0.0
      monotone && bounds && keepAll
    }

  property("chao1: v_chao1 >= vocab; doubling the corpus kills hapaxes") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(1, 30))) { words =>
      val text = words.map(w => s"w$w").mkString(" ")
      val df = Seq((1L, text)).toDF("id", "t")
      val one = graft.ops.TextOps.chao1(df, col("t")).head()
      val both = graft.ops.TextOps.chao1(
        Seq((1L, text), (2L, text)).toDF("id", "t"), col("t")).head()
      one.getAs[Double]("v_chao1") >= one.getAs[Long]("vocab") &&
        one.getAs[Double]("p_unseen") >= 0 && one.getAs[Double]("p_unseen") <= 1 &&
        both.getAs[Long]("f1") == 0L &&
        both.getAs[Double]("v_chao1") == both.getAs[Long]("vocab").toDouble
    }

  property("mannWhitneyU: U_a + U_b = n_a*n_b; swapping groups swaps U and negates z") =
    Prop.forAll(Gen.choose(2, 40), Gen.choose(2, 40), seedG) { (na, nb, seed) =>
      def v(i: Int) = math.abs((i * 2654435761L + seed) % 13).toDouble // heavy ties
      val rows = (0 until na).map(i => ("a", v(i))) ++
        (0 until nb).map(i => ("b", v(i + na)))
      val df = rows.toDF("g", "x")
      val f = Stats.mannWhitneyU(df, col("x"), col("g"), "a", "b").head()
      val r = Stats.mannWhitneyU(df, col("x"), col("g"), "b", "a").head()
      val (ua, ub, z) = (f.getDouble(0), f.getDouble(1), f.getDouble(2))
      math.abs(ua + ub - na.toLong * nb) < 1e-9 &&
        math.abs(r.getDouble(0) - ub) < 1e-9 &&
        (z.isNaN && r.getDouble(2).isNaN || math.abs(r.getDouble(2) + z) < 1e-6) &&
        f.getLong(3) == na && f.getLong(4) == nb
    }

  property("chi2Drift: zero on exact independence; chi2 >= 0, V in [0,1]") =
    Prop.forAll(Gen.listOfN(3, Gen.choose(1, 3)), Gen.listOfN(3, Gen.choose(1, 3))) { (as, bs) =>
      // cell (i, j) with multiplicity a_i*b_j IS the product distribution
      val rows = for {
        (a, i) <- as.zipWithIndex; (b, j) <- bs.zipWithIndex
        _ <- 0 until a * b
      } yield (s"g$i", s"c$j")
      val r = Stats.chi2Drift(rows.toDF("g", "c"), col("g"), col("c")).head()
      r.getDouble(0) >= 0 && r.getDouble(0) < 1e-9 &&
        r.getDouble(2) >= 0 && r.getDouble(2) <= 1 &&
        r.getLong(1) == 4L && r.getLong(3) == rows.size.toLong
    }

  property("tCloseness: a lone QI group sits at zero distance; distances in [0,1]") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0, 5)), Gen.choose(2, 4)) { (svs, nq) =>
      val lone = svs.map(s => ("only", s"s$s")).toDF("q", "s")
      val l = Stats.tCloseness(lone, Seq("q"), "s", t = 0.5).head()
      val spread = svs.zipWithIndex.map { case (s, i) => (s"q${i % nq}", s"s$s") }
        .toDF("q", "s")
      val all = Stats.tCloseness(spread, Seq("q"), "s", t = 0.5).collect()
      l.getDouble(2) == 0.0 && l.getDouble(3) == 0.0 && !l.getBoolean(4) &&
        all.forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 1 &&
          r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
    }

  property("kCore: every core degree >= k; the (k+1)-core nests inside the k-core") =
    Prop.forAll(Gen.choose(10, 60), Gen.choose(1, 4), seedG) { (ne, k, seed) =>
      def n(i: Int, j: Int) = math.abs((i * 40503L + j * 2654435761L + seed) % 12)
      val edges = (0 until ne).map(i => (n(i, 1), n(i, 2))).toDF("s", "d")
      val core = graft.ops.Graph.kCore(edges, "s", "d", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val tighter = graft.ops.Graph.kCore(edges, "s", "d", k + 1)
        .collect().map(r => r.getLong(0)).toSet
      core.values.forall(_ >= k) && tighter.subsetOf(core.keySet)
    }

  property("hits: non-negative scores, both vectors L1-normalized") =
    Prop.forAll(Gen.choose(5, 40), seedG) { (ne, seed) =>
      def n(i: Int, j: Int) = math.abs((i * 48611L + j * 2654435761L + seed) % 9)
      val edges = (0 until ne).map(i => (n(i, 1), n(i, 2)))
        .filter { case (u, v) => u != v }
      if (edges.isEmpty) Prop.passed
      else {
        val out = graft.ops.Graph.hits(edges.toDF("s", "d"), "s", "d", 2).collect()
        Prop(out.forall(r => r.getDouble(1) >= 0 && r.getDouble(2) >= 0) &&
          math.abs(out.map(_.getDouble(1)).sum - 1.0) < 1e-9 &&
          math.abs(out.map(_.getDouble(2)).sum - 1.0) < 1e-9)
      }
    }

  property("bradleyTerry: geo-mean-1 normalized, order-invariant, " +
      "games symmetric, rank a permutation") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 4), Gen.choose(0, 4)))
        .map(_.filter(p => p._1 != p._2).map(p => (s"i${p._1}", s"i${p._2}"))),
        Gen.choose(1, 6)) { (games0, iters) =>
      if (games0.isEmpty) Prop.passed
      else {
        // symmetrize so Ford's condition holds by construction (every
        // item wins and loses at least once); a second copy of the raw
        // log keeps the ratings non-uniform
        val games = games0 ++ games0 ++ games0.map(_.swap)
        val a = graft.ops.Eval.bradleyTerry(games.toDF("w", "l"),
            col("w"), col("l"), iters)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        val b = graft.ops.Eval.bradleyTerry(games.reverse.toDF("w", "l"),
            col("w"), col("l"), iters)
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        Prop(a.sortBy(_._1).sameElements(b.sortBy(_._1)) &&
          math.abs(a.map(x => math.log(x._2._3)).sum) < 1e-6 && // geo mean 1
          a.map(_._2._2).sum == 2L * games.size && // every game counted on both sides
          a.forall { case (_, (w, g, p, _)) => w > 0 && w < g && p > 0 } &&
          a.map(_._2._4).sorted.sameElements(1L to a.length.toLong))
      }
    }

  property("conformal: the band covers >= ceil((n+1)(1-alpha)) calibration rows") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-50.0, 50.0)),
        Gen.choose(0.1, 0.6)) { (ys0, alpha) =>
      val ys = 0.0 :: ys0 // n >= 2
      val n = ys.size
      val k = math.ceil((n + 1) * (1.0 - alpha)).toLong
      if (k > n) Prop.passed // infinite-band regime is refused (specced)
      else {
        val cal = ys.map((_, 0.0)).toDF("y", "yhat")
        val q = Stats.conformalFit(cal, col("y"), col("yhat"), alpha)
        Prop(ys.count(y => math.abs(y) <= q) >= k)
      }
    }

  property("canaryScan: planted occurrences are counted exactly, order-free") =
    Prop.forAll(Gen.choose(0, 5), Gen.choose(1, 8), seedG) { (hits, nDocs, seed) =>
      val docs = (0 until nDocs).map { i =>
        val pad = s"w${math.abs((seed + i) % 97)}"
        val body = if (i == 0) (Seq.fill(hits)("XCANARYX") ++ Seq(pad)).mkString(" ")
          else s"$pad plain text"
        (i.toLong, body)
      }
      val out = graft.ops.TextOps.canaryScan(docs.toDF("id", "t"), col("id"),
          col("t"), Seq("XCANARYX")).head()
      out.getLong(1) == hits.toLong &&
        out.getLong(2) == (if (hits > 0) 1L else 0L)
    }

  property("oovRate: rates in [0,1], n_oov <= n_tokens; full vocab -> zero OOV") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(1, 9)), Gen.choose(1, 5)) { (ws, vs) =>
      val docs = ws.zipWithIndex.map { case (w, i) => (i.toLong, s"w$w t${w % 3}") }
      val df = docs.toDF("id", "t")
      val out = graft.ops.TextOps.oovRate(df, col("id"), col("t"), vs).collect()
      val full = graft.ops.TextOps.oovRate(df, col("id"), col("t"), 64).collect()
      out.forall(r => r.getDouble(3) >= 0 && r.getDouble(3) <= 1 &&
          r.getLong(2) <= r.getLong(1)) &&
        full.forall(_.getLong(2) == 0L)
    }

  property("clusterAgreement: identity partition scores 1; ARI in [-1,1], rates in [0,1]") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 4), Gen.choose(0, 4)))) { pairsIn =>
      val df = pairsIn.map { case (p, t) => (s"p$p", s"t$t") }.toDF("p", "t")
      val r = Stats.clusterAgreement(df, col("p"), col("t")).head()
      val self = Stats.clusterAgreement(df, col("p"), col("p")).head()
      val rates = Seq(2, 3, 4, 5, 7, 8, 9).forall { i =>
        r.isNullAt(i) || (r.getDouble(i) >= -1e-12 && r.getDouble(i) <= 1 + 1e-12)
      }
      val ariBound = r.isNullAt(6) || (r.getDouble(6) >= -1 - 1e-12 && r.getDouble(6) <= 1 + 1e-12)
      val selfPerfect = Seq(2, 3, 4, 5).forall(i =>
        self.isNullAt(i) || self.getDouble(i) == 1.0)
      rates && ariBound && selfPerfect
    }

  property("effectiveSampleSize: 1 <= ESS <= n; uniform weights give ESS = n") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(1, 50))) { ws =>
      val df = ws.map(_.toDouble).toDF("w")
      val r = Stats.effectiveSampleSize(df, col("w")).head()
      val u = Stats.effectiveSampleSize(
        ws.map(_ => 2.5).toDF("w"), col("w")).head()
      r.getDouble(2) >= 1.0 - 1e-9 && r.getDouble(2) <= ws.size + 1e-9 &&
        math.abs(u.getDouble(2) - ws.size) < 1e-6 && u.getDouble(3) == 1.0
    }

  property("mondrian: every leaf >= k, leaves partition the input, boxes nest in bounds") =
    Prop.forAll(Gen.choose(10, 200), Gen.choose(2, 12), seedG) { (n, k, seed) =>
      def v(i: Int, j: Int) = ((i * 2654435761L + j * 40503L + seed) % 97).toDouble
      val df = (0 until n).map(i => (v(i, 1), v(i, 2))).toDF("x", "y")
      val m = graft.ops.Mondrian.fit(df, Seq("x", "y"), k)
      m.leaves.forall(_._2 >= k) &&
        m.leaves.map(_._2).sum == n.toLong &&
        m.leaves.forall(_._3.forall { case (lo, hi) => lo <= hi })
    }

  property("silhouette: centroid form is in [0, 1]; cell is the argmin centroid") =
    Prop.forAll(Gen.choose(3, 25), seedG) { (n, seed) =>
      def coord(i: Long, j: Int) =
        1.0 + math.abs((i * 2654435761L + j * 40503L + seed) % 1000) / 1000.0
      val pts = (1L to n.toLong).map(i => (i, Seq(coord(i, 0), coord(i, 1))))
      val df = pts.toDF("id", "v")
      val out = graft.ops.Similarity.silhouette(df, "id", "v", nCells = 2,
          iters = 0, byHash = false)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val seeds = pts.take(2).map { case (i, v) => i -> v }.toMap
      def cos(a: Seq[Double], b: Seq[Double]) = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      pts.forall { case (i, v) =>
        val (cell, s) = out(i)
        val best = seeds.toSeq.map { case (sid, sv) => (1.0 - cos(v, sv), sid) }
          .minBy { case (d, sid) => (d, sid) }._2
        s >= -1e-12 && s <= 1 + 1e-12 && cell == best
      }
    }

  property("keepBestPerCluster: exactly one survivor per cluster, and it is argmax(score, -id)") =
    Prop.forAll(Gen.choose(5, 60), Gen.choose(1, 8), seedG) { (n, k, seed) =>
      val rows = (0 until n).map { i =>
        val h = (i * 2654435761L + seed) % 1000003
        (i.toLong, (math.abs(h) % k).toLong, (math.abs(h / 7) % 5).toDouble)
      }
      val kept = Dedup.keepBestPerCluster(rows.toDF("id", "cl", "s"),
        "id", col("cl"), col("s"))
        .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
      val want = rows.groupBy(_._2).map { case (cl, g) =>
        cl -> g.minBy { case (id, _, s) => (-s, id) }._1
      }
      kept == want
    }

  property("funnel: per-step counts are non-increasing and bounded by entities") =
    Prop.forAll(Gen.choose(10, 150), Gen.choose(2, 5), seedG) { (n, steps, seed) =>
      val names = (0 until steps).map(i => s"s$i")
      val ev = (0 until n).map { i =>
        val h = math.abs((i * 40503L + seed) % 1000003)
        ((h % 7).toLong, i.toLong, names((h % steps.toLong).toInt))
      }
      val out = Stats.funnel(ev.toDF("u", "ts", "et"), col("u"), col("ts"),
        col("et"), names, maxSpan = n.toDouble * 2)
        .orderBy("step_idx").collect().map(_.getAs[Long]("n_entities"))
      out.sliding(2).forall { case Array(a, b) => b <= a; case _ => true } &&
        out.head <= 7
    }

  property("histogram: counts sum to the non-null rows; every count lands in a declared cell") =
    Prop.forAll(Gen.choose(1, 200), Gen.choose(2, 12), seedG) { (n, bins, seed) =>
      val vals = (0 until n).map(i =>
        ((i * 2654435761L + seed) % 400 - 100).toDouble / 2.0)
      val out = Stats.histogram(vals.toDF("v"), col("v"), -25.0, 25.0, bins)
        .collect()
      out.length == bins + 2 && out.map(_.getAs[Long]("n")).sum == n
    }

  property("preferencePairs: margins respect the gate; chosen outscores rejected") =
    Prop.forAll(Gen.choose(5, 80), Gen.choose(0.0, 0.4), seedG) { (n, gate, seed) =>
      val rows = (0 until n).map { i =>
        val h = math.abs((i * 48271L + seed) % 1000003)
        ((h % 9).toLong, i.toLong, (h % 11).toDouble / 10.0)
      }
      val got = graft.ops.Sft.preferencePairs(rows.toDF("p", "r", "s"),
        "p", "r", col("s"), minMargin = gate).collect()
      got.forall { r =>
        val m = r.getAs[Double]("margin")
        m >= gate && m > 0 &&
          r.getAs[Long]("chosen_id") != r.getAs[Long]("rejected_id")
      }
    }

  property("cdcMerge: an empty log is the identity; a full-delete log empties the base") =
    Prop.forAll(Gen.choose(1, 40)) { n =>
      import graft.ops.Changelog
      val base = (1 to n).map(i => (i.toLong, s"a$i")).toDF("k", "attr")
      val empty = Seq.empty[(Long, Long, String, String)]
        .toDF("k", "ts", "op", "attr")
      val id = Changelog.cdcMerge(base, empty, "k", "ts", "op", Seq("attr"))
        .orderBy("k").collect().map(_.getLong(0)).toSeq
      val wipe = (1 to n).map(i => (i.toLong, 1L, "D", "x"))
        .toDF("k", "ts", "op", "attr")
      val gone = Changelog.cdcMerge(base, wipe, "k", "ts", "op", Seq("attr"))
        .count()
      id == (1 to n).map(_.toLong) && gone == 0L
    }

  property("scd2: versions partition each key's observed span; no zero-width interior gaps") =
    Prop.forAll(Gen.choose(2, 40), seedG) { (n, seed) =>
      import graft.ops.Changelog
      val log = (0 until n).map { i =>
        val h = math.abs((i * 69621L + seed) % 1000003)
        ((h % 3).toLong, i.toLong, (h % 4).toString)
      }
      val out = Changelog.scd2(log.toDF("k", "ts", "attr"), "k", "ts",
        Seq("attr")).collect()
        .map(r => (r.getLong(0), r.getAs[Long]("valid_from"),
          Option(r.getAs[Any]("valid_to")).map(_.asInstanceOf[Long])))
      out.groupBy(_._1).forall { case (k, vs) =>
        val sorted = vs.sortBy(_._2)
        val first = log.filter(_._1 == k).map(_._2).min
        sorted.head._2 == first && sorted.last._3.isEmpty &&
          sorted.sliding(2).forall {
            case Array(a, b) => a._3.contains(b._2)
            case _ => true
          }
      }
    }
}
