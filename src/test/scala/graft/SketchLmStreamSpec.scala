package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.TextOps
import graft.streaming.StreamingOps

/** Round-3 wave 2: unigram LM scoring, streaming token-budget admission
  * against the batch prefix rule, and the approximate-sketch surface
  * (HLL distinct, t-digest percentiles, frequent items) checked against
  * exact answers.
  * Sketch results are engine-specific by construction (no DuckDB twin
  * possible) — the specs pin error bounds and supersets instead.
  */
class SketchLmStreamSpec extends SparkSpec {
  import spark.implicits._

  // ---- lmScore ----

  test("lmScore: hand-computed Laplace unigram log-probs") {
    // corpus: "a a b" and "a c" -> counts a=3 b=1 c=1, total=5, V=3, denom=8
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("id", "text")
    val got = TextOps.lmScore(df, "id", col("text"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val (lpA, lpB, lpC) =
      (math.log(4.0 / 8), math.log(2.0 / 8), math.log(2.0 / 8))
    assert(got(0)._2 == 3 && approx(got(0)._3, (2 * lpA + lpB) / 3))
    assert(got(1)._2 == 2 && approx(got(1)._3, (lpA + lpC) / 2))
  }

  test("lmScore: repetitive in-vocabulary docs score lower perplexity than rare-token docs") {
    val common = (1 to 20).map(i => (i.toLong, "the cat sat on the mat"))
    val rare = Seq((99L, "zyx qwv jkl pqr mno abc"))
    val df = (common ++ rare).toDF("id", "text")
    val ppl = TextOps.lmScore(df, "id", col("text"))
      .select(col("id"), col("ppl")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(ppl(1L) < ppl(99L))
  }

  // ---- streaming quota admission ----

  private def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)

  test("QuotaAdmission: multi-batch prefix admission equals the batch prefix rule; overflow closes the group") {
    implicit val sqlCtx = spark.sqlContext
    def d(g: String, s: Int, id: Long, n: Long) =
      StreamingOps.QuotaDoc(g, ts(s), id, n, s"doc$id")
    val input = MemoryStream[StreamingOps.QuotaDoc]
    val q = StreamingOps.QuotaAdmission.run(input.toDS(), budgetTokens = 100L)
      .writeStream.format("memory").queryName("quotastream")
      .outputMode("append").start()
    try {
      // batch 1: a gets 40 + 40 (cum 80); shuffled arrival re-sorts by ts
      input.addData(d("a", 2, 11L, 40L), d("a", 1, 10L, 40L), d("b", 1, 20L, 99L))
      q.processAllAvailable()
      // batch 2: a's 30 overflows (80+30 > 100) and CLOSES the group —
      // the later 10-token doc would fit but must NOT be admitted;
      // b's 1-token doc hits the budget exactly (inclusive boundary)
      input.addData(d("a", 3, 12L, 30L), d("a", 4, 13L, 10L), d("b", 2, 21L, 1L))
      q.processAllAvailable()
      val online = spark.table("quotastream")
        .select("group", "id", "cumTokens").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(online == Set(("a", 10L, 40L), ("a", 11L, 80L),
        ("b", 20L, 99L), ("b", 21L, 100L)))
      // batch twin: the same docs in (ts, id) order, window prefix sum,
      // admitted = the longest prefix with cum <= budget
      import org.apache.spark.sql.expressions.Window
      val all = Seq(("a", 1L, 10L, 40L), ("a", 2L, 11L, 40L), ("a", 3L, 12L, 30L),
        ("a", 4L, 13L, 10L), ("b", 1L, 20L, 99L), ("b", 2L, 21L, 1L))
        .toDF("group", "t", "id", "n")
      val w = Window.partitionBy("group").orderBy("t", "id")
      val batch = all.withColumn("cum", sum("n").over(w))
        .withColumn("bad", max(when(col("cum") > 100L, col("t"))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where(col("cum") <= 100L && col("bad").isNull)
        .select("group", "id", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(online == batch)
    } finally q.stop()
  }

  test("fuzzyJoin: cross-table LSH matching equals the brute-force pair set") {
    val mk = (i: Int) => (1 to 30).map(j => s"w${(i * 13 + j * 7) % 40}").mkString(" ")
    val left = (0 until 10).map(i => (i.toLong, mk(i))).toDF("lid", "text")
    val right = ((5 until 10).map(i => (100L + i, mk(i))) ++
      (50 until 55).map(i => (100L + i, mk(i)))).toDF("rid", "text")
    val got = graft.ops.Dedup.fuzzyJoin(left, "lid", "text", right, "rid", "text",
        threshold = 0.9, numShingleWords = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (5 until 10).map(i => (i.toLong, 100L + i)).toSet)
  }

  test("streaming ingestion: foreachBatch + incremental dedup across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest")
    val (store, out) = (s"$tmp/store", s"$tmp/out")
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.ops.Dedup.dedupExactIncremental(batch, "id", "text", store)
          .write.mode("append").parquet(out)
      }
      .start()
    try {
      input.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      input.addData((10L, "alpha"), (11L, "gamma"))
      q.processAllAvailable()
      val kept = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 2L, 11L)) // cross-batch 'alpha' dropped
    } finally q.stop()
  }

  test("bloom-prefiltered incremental dedup matches the plain anti-join across batches") {
    val tmpA = java.nio.file.Files.createTempDirectory("graft_bloom_a")
    val tmpB = java.nio.file.Files.createTempDirectory("graft_bloom_b")
    val batches = Seq(
      Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")),
      Seq((10L, "alpha"), (11L, "gamma"), (12L, "gamma")),
      Seq((20L, "beta"), (21L, "delta")))
    val (plain, bloom) = batches.map { rows =>
      val df = rows.toDF("id", "text")
      val p = graft.ops.Dedup.dedupExactIncremental(df, "id", "text", s"$tmpA/store")
        .select("id").as[Long].collect().toSet
      val b = graft.ops.Dedup.dedupExactIncrementalBloom(df, "id", "text",
          s"$tmpB/store", expectedItems = 1000L)
        .select("id").as[Long].collect().toSet
      (p, b)
    }.unzip
    assert(plain == bloom)
    assert(plain == Seq(Set(1L, 2L), Set(11L), Set(21L)))
    // filter artifact persisted next to the store
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmpB/store_bloom")))
  }

  test("bloom incremental dedup: lost sidecar is rebuilt from the store, not an empty filter") {
    // Store built by the NON-Bloom variant (no sidecar ever existed) — an
    // empty filter would mark every row "definitely new", skip the history
    // anti-join, and silently re-admit past duplicates.
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_lost")
    val store = s"$tmp/store"
    graft.ops.Dedup.dedupExactIncremental(
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "text"), "id", "text", store)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${store}_bloom")))
    val kept = graft.ops.Dedup.dedupExactIncrementalBloom(
      Seq((10L, "alpha"), (11L, "gamma")).toDF("id", "text"), "id", "text",
      store, expectedItems = 1000L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L)) // 'alpha' from history still dropped
    // and the rebuilt sidecar now exists for the next batch
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${store}_bloom")))
  }

  test("compactFingerprintStore: fewer files, same hashes, dedup behavior preserved") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact")
    val store = s"$tmp/store"
    // three appends -> at least three part files
    Seq(Seq((1L, "alpha"), (2L, "beta")), Seq((3L, "gamma")), Seq((4L, "delta")))
      .foreach(rows => graft.ops.Dedup.dedupExactIncremental(
        rows.toDF("id", "text"), "id", "text", store))
    def partFiles = new java.io.File(store).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(partFiles >= 3)
    val before = spark.read.parquet(store).as[String].collect().sorted.toSeq
    graft.ops.Dedup.compactFingerprintStore(spark, store, targetPartitions = 1)
    assert(partFiles == 1)
    assert(spark.read.parquet(store).as[String].collect().sorted.toSeq == before)
    // history still effective after the rewrite
    val kept = graft.ops.Dedup.dedupExactIncremental(
      Seq((10L, "alpha"), (11L, "epsilon")).toDF("id", "text"), "id", "text", store)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L))
  }

  // ---- sketch surface ----

  test("approx_count_distinct (HLL) lands within its rsd bound of exact") {
    val df = (1 to 20000).map(i => (i % 4831).toLong).toDF("v")
    val Array(approxN, exactN) = df
      .agg(approx_count_distinct(col("v"), rsd = 0.02).as("a"),
        countDistinct(col("v")).as("e"))
      .head().toSeq.map(_.toString.toLong).toArray
    assert(math.abs(approxN - exactN).toDouble / exactN < 0.08,
      s"approx $approxN vs exact $exactN") // 4 sigma of the 2% rsd
  }

  test("approx_percentile (t-digest) tracks exact percentile on a skewed column") {
    val df = (1 to 10000).map(i => math.pow(i.toDouble, 2)).toDF("v")
    val row = df.agg(
      percentile(col("v"), lit(0.9)).as("exact"),
      percentile_approx(col("v"), lit(0.9), lit(1000)).as("approx")).head()
    val (e, a) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(a - e) / e < 0.02, s"approx $a vs exact $e")
  }

  test("freqItems returns a superset of the true heavy hitters") {
    // 3 values cover 75% of rows; support 0.1 must surface all of them
    val df = ((1 to 2500).map(_ => "x") ++ (1 to 2500).map(_ => "y") ++
      (1 to 2500).map(_ => "z") ++ (1 to 2500).map(i => s"rare$i")).toDF("v")
    val items = df.stat.freqItems(Array("v"), 0.1)
      .head().getSeq[String](0).toSet
    assert(Set("x", "y", "z").subsetOf(items))
  }
}
