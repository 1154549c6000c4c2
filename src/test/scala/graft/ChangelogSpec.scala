package graft

import org.apache.spark.sql.functions._
import graft.ops.{Changelog, Skew}

/** Change-log operators (SCD-2 build, CDC latest-wins merge) and the
  * key-skew diagnosis report. */
class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- scd2

  private val log = Seq(
    // key 1: A → A (no-op) → B → B (no-op) → A : three versions
    (1L, 10L, 1, "A"), (1L, 20L, 2, "A"), (1L, 30L, 3, "B"),
    (1L, 40L, 4, "B"), (1L, 50L, 5, "A"),
    // key 2: single row → one open version
    (2L, 15L, 1, "X")
  ).toDF("k", "ts", "seq", "attr")

  test("scd2: no-op rows collapse; versions chain half-open; last is current") {
    val out = Changelog.scd2(log, "k", "ts", Seq("attr"), Seq(col("seq")))
      .orderBy("k", "valid_from").collect()
    assert(out.length == 4)
    val k1 = out.filter(_.getAs[Long]("k") == 1L)
    assert(k1.map(r => (r.getAs[Long]("valid_from"),
      Option(r.getAs[Any]("valid_to")), r.getAs[String]("attr"))).toSeq ==
      Seq((10L, Some(30L), "A"), (30L, Some(50L), "B"), (50L, None, "A")))
    assert(k1.map(_.getAs[Boolean]("is_current")).toSeq ==
      Seq(false, false, true))
    val k2 = out.filter(_.getAs[Long]("k") == 2L)
    assert(k2.length == 1 && k2.head.getAs[Boolean]("is_current"))
  }

  test("scd2: null attrs compare null-safe (null→null is a no-op)") {
    val l = Seq((1L, 10L, Option("A")), (1L, 20L, None: Option[String]),
      (1L, 30L, None: Option[String]), (1L, 40L, Option("A")))
      .toDF("k", "ts", "attr")
    val out = Changelog.scd2(l, "k", "ts", Seq("attr"))
      .orderBy("valid_from").collect()
    // A → null → (null no-op) → A = three versions
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("valid_from")).toSeq == Seq(10L, 20L, 40L))
  }

  // ------------------------------------------------------------ cdcMerge

  private val base = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    .toDF("k", "attr", "v")

  test("cdcMerge: upsert updates, tombstone deletes, insert adds, untouched survives") {
    val log = Seq(
      (1L, 10L, "U", "a2", 1.5),  // stale update…
      (1L, 20L, "U", "a3", 1.9),  // …overridden by the later one
      (2L, 10L, "D", "x", 0.0),   // delete key 2
      (4L, 10L, "U", "d", 4.0),   // insert new key 4
      (5L, 10L, "D", "x", 0.0)    // dangling delete: no-op
    ).toDF("k", "ts", "op", "attr", "v")
    val out = Changelog.cdcMerge(base, log, "k", "ts", "op",
      Seq("attr", "v")).orderBy("k").collect()
    assert(out.map(r => (r.getAs[Long]("k"), r.getAs[String]("attr"),
      r.getAs[Double]("v"))).toSeq ==
      Seq((1L, "a3", 1.9), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("cdcMerge: a delete-then-reinsert keeps the latest upsert") {
    val log = Seq((2L, 10L, "D", "x", 0.0), (2L, 20L, "U", "b2", 2.5))
      .toDF("k", "ts", "op", "attr", "v")
    val out = Changelog.cdcMerge(base, log, "k", "ts", "op",
      Seq("attr", "v")).orderBy("k").collect()
    assert(out.map(_.getAs[Long]("k")).toSeq == Seq(1L, 2L, 3L))
    assert(out(1).getAs[String]("attr") == "b2")
  }

  test("cdcMerge: unknown ops are refused loudly") {
    val log = Seq((1L, 10L, "UPSERT", "a", 1.0)).toDF("k", "ts", "op", "attr", "v")
    intercept[IllegalArgumentException](
      Changelog.cdcMerge(base, log, "k", "ts", "op", Seq("attr", "v")))
  }

  // ---------------------------------------------------------- skewReport

  test("skewReport: hand-computed shares and salt factor") {
    // keys: a×6, b×2, c×2 → 10 rows, 3 keys
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c"))
      .toDF("k")
    val r = Skew.skewReport(df, col("k"), parallelism = 5).head()
    assert(r.getAs[Long]("n_rows") == 10L)
    assert(r.getAs[Long]("n_keys") == 3L)
    assert(r.getAs[Long]("max_key_rows") == 6L)
    assert(r.getAs[String]("top1_key") == "a")
    assert(approx(r.getAs[Double]("max_share"), 0.6, 1e-9))
    // skew ratio: 6 / (10/3) = 1.8
    assert(approx(r.getAs[Double]("skew_ratio"), 1.8, 1e-9))
    // ideal partition = 10/5 = 2 rows → the 6-row key needs salt 3
    assert(r.getAs[Long]("suggested_salt") == 3L)
  }

  test("skewReport: uniform keys → ratio 1, salt 1; count ties pick the smaller key") {
    val df = Seq("a", "a", "b", "b").toDF("k")
    val r = Skew.skewReport(df, col("k"), parallelism = 2).head()
    assert(approx(r.getAs[Double]("skew_ratio"), 1.0, 1e-9))
    assert(r.getAs[Long]("suggested_salt") == 1L)
    assert(r.getAs[String]("top1_key") == "a")
  }

  test("cdcMerge: incremental batch application == one-shot merge (per-key-ordered batches)") {
    // the streaming deployment shape: foreachBatch applies each micro-
    // batch onto the running snapshot; with batch boundaries respecting
    // per-key ts order this must equal the one-shot merge of the full log
    val b1 = Seq((1L, 10L, "U", "a1", 1.1), (2L, 10L, "D", "x", 0.0),
      (4L, 10L, "U", "d", 4.0)).toDF("k", "ts", "op", "attr", "v")
    val b2 = Seq((1L, 20L, "U", "a2", 1.2), (4L, 20L, "D", "x", 0.0),
      (5L, 20L, "U", "e", 5.0)).toDF("k", "ts", "op", "attr", "v")
    val incremental = Changelog.cdcMerge(
      Changelog.cdcMerge(base, b1, "k", "ts", "op", Seq("attr", "v")),
      b2, "k", "ts", "op", Seq("attr", "v")).orderBy("k").collect()
    val oneShot = Changelog.cdcMerge(base, b1.unionByName(b2),
      "k", "ts", "op", Seq("attr", "v")).orderBy("k").collect()
    assert(incremental.map(_.toSeq).toSeq == oneShot.map(_.toSeq).toSeq)
    assert(incremental.map(_.getAs[Long]("k")).toSeq == Seq(1L, 3L, 5L))
  }

  test("cdcMerge: streaming foreachBatch snapshot maintenance == one-shot merge") {
    // the deployment shape: the change log ARRIVES as a stream; each
    // micro-batch folds into a parquet snapshot via cdcMerge (the log is
    // collapsed per batch — no stateful operator needed, the snapshot IS
    // the state). Batches respect per-key ts order, so the incremental
    // law above guarantees parity with the one-shot merge.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val snap = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    base.write.mode("overwrite").parquet(snap)
    val rows = Seq(
      (1L, 10L, "U", "a1", 1.1), (2L, 10L, "D", "x", 0.0),
      (4L, 10L, "U", "d", 4.0), (1L, 20L, "U", "a2", 1.2),
      (4L, 20L, "D", "x", 0.0), (5L, 20L, "U", "e", 5.0))
    val input = MemoryStream[(Long, Long, String, String, Double)]
    val q = input.toDF().toDF("k", "ts", "op", "attr", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val cur = spark.read.parquet(snap)
        val merged = Changelog.cdcMerge(cur, batch, "k", "ts", "op",
          Seq("attr", "v"))
        // write-then-swap: collect the (tiny) merged snapshot before
        // overwriting the path it was read from
        val out = merged.collect()
        spark.createDataFrame(
          spark.sparkContext.parallelize(out.toIndexedSeq), merged.schema)
          .write.mode("overwrite").parquet(snap)
        ()
      }.start()
    try {
      input.addData(rows.take(3)); q.processAllAvailable()
      input.addData(rows.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(snap).orderBy("k").collect()
    val oneShot = Changelog.cdcMerge(base,
      rows.toDF("k", "ts", "op", "attr", "v"), "k", "ts", "op",
      Seq("attr", "v")).orderBy("k").collect()
    assert(streamed.map(_.toSeq).toSeq == oneShot.map(_.toSeq).toSeq)
  }

  // ------------------------------------------------------ purgedTimeSplit

  test("purgedTimeSplit: folds, eval slice, embargo zone, and the last-fold case") {
    import graft.ops.ChronoSplit
    // 100 rows at ts 1..100 → 5 folds of 20; eval fold 2 = (40, 60];
    // embargo 5 ⇒ ts 61..65 embargoed
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("id", "ts")
    val out = ChronoSplit.purgedTimeSplit(df, col("ts"), nFolds = 5,
      evalFold = 2, embargo = 5.0).collect()
    val byRole = out.groupBy(_.getAs[String]("role"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("id")).sorted.toSeq }
    assert(byRole("eval") == (41L to 60L))
    assert(byRole("embargoed") == (61L to 65L))
    assert(byRole("train") == ((1L to 40L) ++ (66L to 100L)))
    // eval on the LAST fold has no after-zone: nothing embargoed
    val last = ChronoSplit.purgedTimeSplit(df, col("ts"), nFolds = 5,
      evalFold = 4, embargo = 5.0).collect()
    assert(!last.exists(_.getAs[String]("role") == "embargoed"))
    // fold sizes are the quantile split
    assert(out.count(_.getAs[Int]("fold") == 0) == 20)
  }

  test("purgedTimeSplit: guards") {
    import graft.ops.ChronoSplit
    val df = Seq((1L, 1.0)).toDF("id", "ts")
    intercept[IllegalArgumentException](
      ChronoSplit.purgedTimeSplit(df, col("ts"), 1, 0, 0.0))
    intercept[IllegalArgumentException](
      ChronoSplit.purgedTimeSplit(df, col("ts"), 5, 5, 0.0))
    intercept[IllegalArgumentException](
      ChronoSplit.purgedTimeSplit(df, col("ts"), 5, 0, -1.0))
  }

  // ---------------------------------------------------------------- funnel

  test("funnel: strict step order, span cutoff, hand-computed conversions") {
    import graft.ops.Stats
    val ev = Seq(
      // u1 completes all three in order within span
      (1L, 10L, "s"), (1L, 20L, "c"), (1L, 30L, "p"),
      // u2: purchase BEFORE click → step 3 not reached
      (2L, 10L, "s"), (2L, 30L, "c"), (2L, 20L, "p"),
      // u3: click outside the span
      (3L, 10L, "s"), (3L, 200L, "c"),
      // u4: never signs up — not in the funnel at all
      (4L, 10L, "c"), (4L, 20L, "p")
    ).toDF("u", "ts", "et")
    val out = Stats.funnel(ev, col("u"), col("ts"), col("et"),
      Seq("s", "c", "p"), maxSpan = 50.0).orderBy("step_idx").collect()
    assert(out.map(_.getAs[Long]("n_entities")).toSeq == Seq(3L, 2L, 1L))
    assert(approx(out(1).getAs[Double]("conversion"), 2.0 / 3, 1e-6))
    assert(approx(out(2).getAs[Double]("conversion"), 1.0 / 3, 1e-6))
    // 60 entities, ten of each fate: full conversion; stall after click;
    // stall at signup; never signs up; a purchase before signup, then the
    // full chain (the early purchase is ignored); a click past the span
    val fates = (0 until 60).flatMap { i =>
      val u = i.toLong
      val t = i.toLong
      i % 6 match {
        case 0 => Seq((u, t, "s"), (u, t + 5, "c"), (u, t + 9, "p"))
        case 1 => Seq((u, t, "s"), (u, t + 3, "c"))
        case 2 => Seq((u, t, "s"))
        case 3 => Seq((u, t, "c"), (u, t + 1, "p"))
        case 4 => Seq((u, t, "p"), (u, t + 1, "s"), (u, t + 2, "c"), (u, t + 3, "p"))
        case _ => Seq((u, t, "s"), (u, t + 60, "c"))
      }
    }.toDF("u", "ts", "et")
    val byFate = Stats.funnel(fates, col("u"), col("ts"), col("et"),
      Seq("s", "c", "p"), maxSpan = 30.0).orderBy("step_idx").collect()
    assert(byFate.map(_.getAs[Long]("n_entities")).toSeq == Seq(50L, 30L, 20L))
  }

  // ------------------------------------------------------ joinCardinality

  test("joinCardinality: predicts the exact join output without running it") {
    val a = Seq((1L, "x"), (1L, "y"), (2L, "z"), (3L, "w")).toDF("k", "va")
    val b = Seq((1L, "p"), (1L, "q"), (1L, "r"), (4L, "s")).toDF("k", "vb")
    val r = Skew.joinCardinality(a, b, col("k"), col("k")).head()
    // only key 1 joins: 2 × 3 = 6 output rows
    assert(r.getAs[Long]("rows_a") == 4L && r.getAs[Long]("rows_b") == 4L)
    assert(r.getAs[Long]("output_rows") == 6L)
    assert(r.getAs[Long]("n_keys_joined") == 1L)
    assert(r.getAs[Long]("max_key_output") == 6L)
    assert(r.getAs[String]("top1_key") == "1")
    assert(approx(r.getAs[Double]("amplification"), 1.5, 1e-9))
    // the prediction equals the actual join size
    assert(a.join(b, "k").count() == 6L)
    // disjoint keys → zero output, no null top-key crash
    val d = Skew.joinCardinality(a, b.where(col("k") === 4L),
      col("k"), col("k")).head()
    assert(d.getAs[Long]("output_rows") == 0L)
  }

  // ------------------------------------------------------------ histogram

  test("histogram: fixed shape, under/overflow cells, empty bins emitted") {
    import graft.ops.Stats
    val df = Seq(-5.0, 0.0, 4.9, 5.0, 12.0, 100.0, 250.0, Double.NaN)
      .toDF("v").where(!isnan(col("v")))
    val out = Stats.histogram(df, col("v"), lo = 0.0, hi = 100.0, bins = 20)
      .collect()
    assert(out.length == 22) // 20 cells + underflow + overflow
    val byBin = out.map(r => r.getAs[Int]("bin") -> r.getAs[Long]("n")).toMap
    assert(byBin(-1) == 1L)            // -5
    assert(byBin(0) == 2L)             // 0.0, 4.9
    assert(byBin(1) == 1L)             // 5.0 lands in [5, 10)
    assert(byBin(2) == 1L)             // 12
    assert(byBin(20) == 2L)            // 100 (hi is exclusive) + 250
    assert(byBin.values.sum == 7L)
    // edges: underflow has null lo; overflow has null hi; cell 1 = [5, 10)
    val cell1 = out.find(_.getAs[Int]("bin") == 1).get
    assert(cell1.getAs[Double]("bin_lo") == 5.0)
    assert(cell1.getAs[Double]("bin_hi") == 10.0)
    assert(out.find(_.getAs[Int]("bin") == -1).get.isNullAt(1))
    assert(out.find(_.getAs[Int]("bin") == 20).get.isNullAt(2))
    intercept[IllegalArgumentException](
      Stats.histogram(df, col("v"), 5.0, 5.0, 10))
  }

  test("funnel: same-timestamp step counts (inclusive order); empty step-1 → zero row") {
    import graft.ops.Stats
    val ev = Seq((1L, 10L, "s"), (1L, 10L, "c")).toDF("u", "ts", "et")
    val out = Stats.funnel(ev, col("u"), col("ts"), col("et"),
      Seq("s", "c"), maxSpan = 5.0).orderBy("step_idx").collect()
    assert(out.map(_.getAs[Long]("n_entities")).toSeq == Seq(1L, 1L))
    val none = Stats.funnel(ev.where(col("et") =!= "s"), col("u"),
      col("ts"), col("et"), Seq("s", "c"), maxSpan = 5.0)
      .orderBy("step_idx").collect()
    assert(none.map(_.getAs[Long]("n_entities")).toSeq == Seq(0L, 0L))
    assert(none.map(_.getAs[Double]("conversion")).toSeq == Seq(0.0, 0.0))
  }
}
