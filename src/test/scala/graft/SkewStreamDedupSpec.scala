package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.{LocalRegime, Skew}
import graft.streaming.StreamingOps

/** Skew-salting transparency (salted == unsalted) + streaming exact dedup. */
class SkewStreamDedupSpec extends SparkSpec {
  import spark.implicits._

  // heavily skewed: one hot key with many distinct values + tail keys
  private lazy val skewed = (
    (1 to 500).map(i => ("hot", s"v${i % 97}")) ++
      (1 to 20).map(i => (s"k$i", s"v$i"))
    ).toDF("key", "value")

  test("countDistinctSalted equals exact countDistinct for every key") {
    val expected = skewed.groupBy("key")
      .agg(count_distinct(col("value")).as("n_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (nSalts <- Seq(1, 4, 13)) {
      val got = Skew.countDistinctSalted(skewed, Seq("key"), col("value"), nSalts)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected, s"nSalts=$nSalts")
    }
  }

  test("saltedJoin equals the plain inner join (multiset of matches)") {
    val big = skewed
    val small = ((1 to 3).map(i => ("hot", i)) ++ Seq(("k1", 99), ("absent", 7)))
      .toDF("key", "payload")
    val expected = big.join(small, Seq("key"))
      .groupBy("key", "value", "payload").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    val got = Skew.saltedJoin(big, small, Seq("key"), nSalts = 5)
      .groupBy("key", "value", "payload").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == expected)
  }

  test("dedupExactStream keeps the first-seen row per content hash") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val input = MemoryStream[(Long, Timestamp, String)]
    val deduped = StreamingOps.dedupExactStream(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", "text", "1 minute")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0), "alpha"), (2L, ts(1), "beta"), (3L, ts(2), "alpha"))
      q.processAllAvailable()
      input.addData((4L, ts(3), "beta"), (5L, ts(4), "gamma"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      // duplicates 3 ("alpha") and 4 ("beta") dropped across batches
      assert(kept == Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("nearDupStream: stream == batch near-dedup keep-first; chains collapse across micro-batches") {
    import graft.ops.Dedup
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    // A ~ B (1 word changed), B ~ C (3 words changed from A) with
    // J(A, C) below threshold — the chain only collapses to {A} if the
    // stream also compares against DROPPED docs (batch CC transitivity)
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tB = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo mike"
    val tC = "yank zulu charlie delta echo foxtrot golf hotel india juliet kilo mike"
    val tD = "a completely unrelated document about mountain hiking and autumn weather"
    val tF = "cooking pasta with garlic and fresh basil is a joy every evening"
    val tE = "tiny" // zero 2-shingles -> never an LSH candidate, bypasses
    val fixture = Seq((1L, ts(0), tA), (2L, ts(1), tB), (3L, ts(2), tD),
      (4L, ts(3), tA), (5L, ts(4), tC), (6L, ts(5), tE), (7L, ts(6), tF))
    val (thr, w, bands, rows) = (0.6, 2, 8, 2)

    // batch reference: verified pairs -> connected components -> keep the
    // lowest id (= first-seen, ids ordered by ts) per component
    val batchDf = fixture.toDF("id", "ts", "text")
    val pairs = Dedup.minhashNearDuplicates(batchDf, "id", "text", thr, w, bands, rows)
    val comps = Dedup.connectedComponents(batchDf, pairs, "id", "id_a", "id_b")
    // fixture sanity: the chain is one component (A~B and B~C candidated
    // and verified) even though J(A, C) < thr
    val pairSet = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((1L, 2L)) && pairSet.contains((2L, 5L)), pairSet)
    assert(!pairSet.contains((1L, 5L)), pairSet)
    val expected = comps.where(col("component") === col("id"))
      .select("id").as[Long].collect().toSet
    assert(expected == Set(1L, 3L, 6L, 7L), expected)

    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.nearDupStream(input.toDF().toDF("id", "ts", "text"),
      "ts", "id", "text", thr, w, bands, rows, watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("nd")
      .outputMode("append").start()
    try {
      // chunk 1: A, B (same-batch near-dup), D, A-copy; chunk 2: C (near
      // dup of the DROPPED B, across the batch boundary), E, F
      input.addData(fixture.take(4).toSeq: _*)
      q.processAllAvailable()
      input.addData(fixture.drop(4).toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("nd").select("id").as[Long].collect().toSet
      assert(got == expected, s"stream $got vs batch $expected")
    } finally q.stop()
  }

  test("nearDupIncremental: persisted-store batch ingestion == stream semantics across batches") {
    import graft.ops.Dedup
    // same chain fixture as the nearDupStream parity test: A ~ B, B ~ C,
    // J(A, C) < thr — C must still drop because the DROPPED B is in the
    // store (every analyzed doc is stored, duplicate or not)
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tB = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo mike"
    val tC = "yank zulu charlie delta echo foxtrot golf hotel india juliet kilo mike"
    val tD = "a completely unrelated document about mountain hiking and autumn weather"
    val tF = "cooking pasta with garlic and fresh basil is a joy every evening"
    val tE = "tiny" // zero 2-shingles: bypasses unexamined and unstored
    val (thr, w, bands, rows) = (0.6, 2, 8, 2)
    val store = java.nio.file.Files.createTempDirectory("ndinc").toString + "/store"
    def run(docs: Seq[(Long, String)]): Set[Long] =
      Dedup.nearDupIncremental(docs.toDF("id", "text"), "id", "text",
        store, thr, w, bands, rows).select("id").as[Long].collect().toSet
    // batch 1: A, B (in-batch near-dup), D, A-copy
    assert(run(Seq((1L, tA), (2L, tB), (3L, tD), (4L, tA))) == Set(1L, 3L))
    // batch 2: C (near-dup of the dropped B, cross-batch), E (bypass), F
    assert(run(Seq((5L, tC), (6L, tE), (7L, tF))) == Set(6L, 7L))
    // batch 3: exact re-ingestion of a past survivor and a past dup both drop
    assert(run(Seq((8L, tA), (9L, tC))) == Set.empty[Long])
  }

  test("nearDupIncremental: driver regime == distributed regime, batch for batch") {
    import graft.ops.Dedup
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tB = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo mike"
    val tC = "yank zulu charlie delta echo foxtrot golf hotel india juliet kilo mike"
    val tD = "a completely unrelated document about mountain hiking and autumn weather"
    val tF = "cooking pasta with garlic and fresh basil is a joy every evening"
    val tE = "tiny"
    val batches = Seq(
      Seq((1L, tA), (2L, tB), (3L, tD), (4L, tA)),
      Seq((5L, tC), (6L, tE), (7L, tF)),
      Seq((8L, tA), (9L, tC), (10L, tD)))
    val sLocal = java.nio.file.Files.createTempDirectory("ndinc_l").toString + "/s"
    val sDist = java.nio.file.Files.createTempDirectory("ndinc_d").toString + "/s"
    def run(store: String)(docs: Seq[(Long, String)]): Set[Long] =
      Dedup.nearDupIncremental(docs.toDF("id", "text"), "id", "text",
        store, 0.6, 2, 8, 2)
        .select("id").as[Long].collect().toSet
    batches.foreach { b =>
      // distributedOnly forces the distributed path on any input
      val local = run(sLocal)(b)
      val dist = LocalRegime.distributedOnly(run(sDist)(b))
      assert(local == dist, s"batch $b: local $local vs distributed $dist")
    }
  }

  test("curateStream with nearDupId: exact + near dups and junk dropped in one stream stage") {
    import graft.pipelines.CorpusPipeline
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val prose = "the quick brown fox jumps over the lazy dog near a quiet river bank today"
    val proseNear = "the quick brown fox jumps over the lazy dog near a quiet river bank tonight"
    val other = "cooking pasta with garlic and fresh basil is a joy every single evening at home"
    val junk = "spam spam spam spam spam spam spam spam spam spam"
    val cfg = CorpusPipeline.CurationConfig(
      shingleWords = 2, jaccardThreshold = 0.6, minQuality = 0.1)
    val input = MemoryStream[(Long, Timestamp, String)]
    val curated = CorpusPipeline.curateStream(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", "text", cfg, "1 minute",
      nearDupId = Some("doc_id"))
    val q = curated.writeStream.format("memory").queryName("cur_nd")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0), prose), (2L, ts(1), prose), // exact dup
        (3L, ts(2), junk), (4L, ts(3), other))
      q.processAllAvailable()
      input.addData((5L, ts(4), proseNear)) // near dup across batches
      q.processAllAvailable()
      val got = spark.table("cur_nd").select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 4L), got)
    } finally q.stop()
  }

  test("curateAdmitStream: near-dup + quality + quota admission in ONE streaming query") {
    import graft.pipelines.CorpusPipeline
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val prose = "the quick brown fox jumps over the lazy dog near a quiet river bank today" // 15 tokens
    val proseNear = "the quick brown fox jumps over the lazy dog near a quiet river bank tonight"
    val otherA = "cooking pasta with garlic and fresh basil is a joy every single evening at home" // 15
    val otherB = "a completely different document about mountain hiking and quiet autumn weather patterns" // 12
    val junk = "spam spam spam spam spam spam spam spam spam spam"
    val cfg = CorpusPipeline.CurationConfig(
      shingleWords = 2, jaccardThreshold = 0.6, minQuality = 0.1)
    val input = MemoryStream[(Long, Timestamp, String)]
    // group = doc_id parity; budget 30 tokens per group (inclusive prefix)
    val admitted = CorpusPipeline.curateAdmitStream(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", "doc_id", "text",
      group = pmod(col("doc_id"), lit(2)).cast("string"), budgetTokens = 30,
      cfg = cfg, watermark = "1 minute")
    val q = admitted.toDF().writeStream.format("memory").queryName("cur_admit")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0), prose), (2L, ts(1), prose), // 2 = exact dup
        (3L, ts(2), junk), (4L, ts(3), otherB))
      q.processAllAvailable()
      input.addData((5L, ts(4), proseNear), // near-dup of 1, cross-batch
        (7L, ts(5), otherA), (9L, ts(6), otherB)) // 9 overflows group "1"
      q.processAllAvailable()
      val got = spark.table("cur_admit")
        .select("id", "cumTokens").as[(Long, Long)].collect().toMap
      // group "1" (odd): 1 admitted (cum 15), junk 3 filtered, near-dup 5
      // dropped, 7 admitted (cum 30 — inclusive boundary), 9 would
      // overflow -> group closes. group "0" (even): dup 2 dropped by
      // exact dedup BEFORE it could consume quota, 4 admitted (cum 12).
      assert(got == Map(1L -> 15L, 7L -> 30L, 4L -> 12L), got)
    } finally q.stop()
  }

  test("CorpusPipeline.curateStream equals batch curate") {
    import graft.ops.TextOps
    import graft.pipelines.CorpusPipeline
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val prose1 = "the quick brown fox jumps over the lazy dog near a quiet river bank today"
    val prose3 = "cooking pasta with garlic and fresh basil is a joy every single evening at home"
    val prose5 = "a completely different document about mountain hiking and quiet autumn weather patterns"
    val junk4 = "spam spam spam spam spam spam spam spam spam spam"
    // No near-dups and an empty benchmark, so the batch pipeline's
    // cluster/decontam stages are pass-throughs and curate reduces to the
    // streamable composition: exact dedup -> quality+repetition filter ->
    // sample(1.0) -> pack.
    val cfg = CorpusPipeline.CurationConfig(
      jaccardThreshold = 0.99, minQuality = 0.1, maxTopWordRatio = 0.5,
      defaultSampleRate = 1.0, packBudgetTokens = 16)
    val batchDocs = Seq((1L, prose1), (2L, prose1), (3L, prose3),
      (4L, junk4), (5L, prose5)).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
    val expected = CorpusPipeline.curate(batchDocs, "doc_id", "text",
        col("lang"), Seq.empty[String].toDF("btext"), "btext", cfg)
      .select("doc_id", "n_tokens", "bin", "offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val input = MemoryStream[(Long, Timestamp, String)]
    // the stream-native stage: watermarked exact dedup + quality/repetition
    // filters; packing needs a global prefix sum -> composed via foreachBatch
    val filtered = CorpusPipeline.curateStream(
      input.toDF().toDF("doc_id", "ts", "text"), "ts", "text", cfg, "1 minute")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = filtered.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= TextOps
          .packSequences(batch, col("text"), Seq(col("doc_id")), cfg.packBudgetTokens)
          .select("doc_id", "n_tokens", "bin", "offset").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        ()
      }.start()
    try {
      // all keepers arrive in batch 1; batch 2 is only the cross-batch dup
      input.addData((1L, ts(0), prose1), (3L, ts(1), prose3),
        (4L, ts(2), junk4), (5L, ts(3), prose5))
      q.processAllAvailable()
      input.addData((2L, ts(4), prose1))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected)
    assert(got.map(_._1).toSet == Set(1L, 3L, 5L)) // dup 2 and junk 4 gone
  }

  test("streaming incremental data card: per-micro-batch snapshots == batch card of the curated survivors") {
    import graft.ops.TextOps
    import graft.pipelines.CorpusPipeline
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val prose1 = "the quick brown fox jumps over the lazy dog near a quiet river bank today"
    val prose2 = "cooking pasta with garlic and fresh basil is a joy every single evening at home"
    val prose3 = "a completely different document about mountain hiking and quiet autumn weather patterns"
    val junk = "spam spam spam spam spam spam spam spam spam spam"
    val cfg = CorpusPipeline.CurationConfig(minQuality = 0.1, maxTopWordRatio = 0.5)
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val curated = CorpusPipeline.curateStream(
      input.toDF().toDF("doc_id", "ts", "text", "lang"), "ts", "text", cfg, "1 minute")
    val store = java.nio.file.Files.createTempDirectory("graft_scard").toString
    val q = curated.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        TextOps.corpusStatsSnapshot(batch, col("text"), col("lang"), id)
          .write.mode("append").parquet(store)
        ()
    }.start()
    val survivors = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    try {
      input.addData((1L, ts(0), prose1, "en"), (2L, ts(1), prose1, "en"), // dup
        (3L, ts(2), junk, "en"), (4L, ts(3), prose2, "de"))
      q.processAllAvailable()
      input.addData((5L, ts(4), prose3, "de"))
      q.processAllAvailable()
    } finally q.stop()
    val streamCard = TextOps.corpusStatsReport(spark.read.parquet(store))
      .where(!col("metric").endsWith("_est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // batch truth: the same survivors (1, 4, 5), carded in one shot
    val batchCard = TextOps.corpusReport(
        Seq((1L, prose1, "en"), (4L, prose2, "de"), (5L, prose3, "de"))
          .toDF("doc_id", "text", "lang"),
        col("doc_id"), col("text"), col("lang"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (m <- Seq("n_docs", "n_tokens", "avg_tokens", "avg_chars",
        "empty_rate", "group_entropy"))
      assert(streamCard(m) == batchCard(m), s"$m: ${streamCard(m)} vs ${batchCard(m)}")
  }
}
