package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** Structured Streaming operators driven through MemoryStream — the
  * per-window drift and coverage monitors, batch-fitted scorers run on a
  * stream, and the online episode detector. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)

  test("psiStream: per-window drift vs a batch-fitted reference == batch psi; shift alarms") {
    import graft.ops.Stats
    implicit val sqlCtx = spark.sqlContext
    def tmin(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    val ref = (1 to 200).map(i => (i % 100) * 0.1).toDF("v")
    val input = MemoryStream[(Timestamp, Double)]
    val out = StreamingOps.psiStream(input.toDF().toDF("ts", "v"), "ts",
      col("v"), ref, col("v"), k = 5, alpha = 0.5,
      windowDur = "10 minutes", watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("psi_stream")
      .outputMode("append").start()
    try {
      val w1 = (1 to 100).map(i => (tmin(1), (i % 100) * 0.1))
      val w2 = (1 to 100).map(i => (tmin(11), (i % 100) * 0.1 + 50.0))
      input.addData(w1: _*); input.addData(w2: _*)
      input.addData((tmin(40), 0.0)) // advance the watermark: close both
      q.processAllAvailable()
      val got = spark.table("psi_stream")
        .select(col("window.start").cast("long").as("s"), col("n"), col("psi"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val (n1, psi1) = got(1699999800L) // 10-min windows align to epoch
      val (n2, psi2) = got(1700000400L)
      assert(n1 == 100 && n2 == 100)
      // batch parity: same bins, same alpha, ref as 'a', the window slice as 'b'
      def batchPsi(slice: Seq[Double]): Double = Stats.psi(
        ref.select(col("v"), lit("a").as("g")).unionByName(
          slice.map(v => (v, "b")).toDF("v", "g")),
        col("v"), col("g"), "a", "b", k = 5, alpha = 0.5)
        .collect()(0).getDouble(0)
      assert(approx(psi1, batchPsi(w1.map(_._2)), 1e-9), s"$psi1")
      assert(approx(psi2, batchPsi(w2.map(_._2)), 1e-9), s"$psi2")
      assert(psi1 < 0.1 && psi2 > 0.25, s"stable $psi1, shifted $psi2")
    } finally q.stop()
  }

  test("coverageStream: per-window band coverage == batch conformalApply; shift alarms") {
    import graft.ops.Stats
    implicit val sqlCtx = spark.sqlContext
    def tmin(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // calibration residuals 1..40 around yhat = 0, alpha = 0.25
    val cal = (1 to 40).map(i => (i.toDouble, 0.0)).toDF("y", "yhat")
    val qhat = Stats.conformalFit(cal, col("y"), col("yhat"), alpha = 0.25)
    val input = MemoryStream[(Timestamp, Double, Double)]
    val out = StreamingOps.coverageStream(input.toDF().toDF("ts", "y", "yhat"),
      "ts", col("y"), col("yhat"), qhat,
      windowDur = "10 minutes", watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("cov_stream")
      .outputMode("append").start()
    try {
      // window 1: same regime as calibration; window 2: residuals doubled
      val w1 = (1 to 40).map(i => (tmin(1), i.toDouble, 0.0))
      val w2 = (1 to 40).map(i => (tmin(11), 2.0 * i, 0.0))
      input.addData(w1: _*); input.addData(w2: _*)
      input.addData((tmin(40), 0.0, 0.0))
      q.processAllAvailable()
      val got = spark.table("cov_stream")
        .select(col("window.start").cast("long").as("s"), col("n"),
          col("n_covered"), col("coverage"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      def batch(rows: Seq[(Timestamp, Double, Double)]): Long =
        Stats.conformalApply(rows.map(t => (t._2, t._3)).toDF("y", "yhat"),
          col("y"), col("yhat"), qhat)
          .where(col("conf_covered")).count()
      val (n1, c1, cov1) = got(1699999800L)
      val (n2, c2, cov2) = got(1700000400L)
      assert(n1 == 40 && n2 == 40) // the tmin(40) closer's own window never emits
      assert(c1 == batch(w1) && cov1 >= 0.75) // the conformal guarantee regime
      assert(c2 == batch(w2) && cov2 < cov1)  // doubled residuals alarm
    } finally q.stop()
  }

  test("a batch-fitted model scores a live stream (projection-only transform)") {
    implicit val sqlCtx = spark.sqlContext
    // train on batch windows with a separable signal
    val train = (1 to 200).map { i =>
      val y = i % 2
      (Seq(Seq(y * 10.0 + 1.0), Seq(y * 10.0 + 2.0)), y)
    }.toDF("window", "y")
    val model = graft.model.Scorers.Logistic(maxIter = 20).fit(train)
    // stream windows through the fitted model
    val input = MemoryStream[(Long, Seq[Seq[Double]])]
    val scored = model.transform(input.toDF().toDF("id", "window"))
    val q = scored.writeStream.format("memory").queryName("scored_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, Seq(Seq(11.0), Seq(12.0))), (2L, Seq(Seq(1.0), Seq(2.0))))
      q.processAllAvailable()
      val preds = spark.table("scored_stream").select("id", "y_pred").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(preds == Map(1L -> 1, 2L -> 0))
    } finally q.stop()
  }

  test("batch-fitted DSIR scorer scores a live stream; stream == batch weights") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.TextOps
    import org.apache.spark.sql.functions.{col, round => sround}
    val corpus = Seq(
      (1L, "a b c a b", true), (2L, "b c a b c", true),
      (3L, "x y z x y", false), (4L, "y z x y z", false),
      (5L, "a b x y", true)).toDF("id", "text", "tgt")
    val score = TextOps.dsirScorer(corpus, col("text"), col("tgt"),
      n = 2, numBuckets = 1024)
    // batch reference: the joined/aggregated form over the same corpus
    val batch = TextOps.dsirWeights(corpus, "id", col("text"), col("tgt"),
        n = 2, numBuckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // stream NEW docs (incl. an unseen-vocab one) through the fitted model
    val input = MemoryStream[(Long, String)]
    val scored = input.toDF().toDF("id", "text")
      .select(col("id"), sround(score(col("text")), 9).as("w"))
    val q = scored.writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    try {
      input.addData((1L, "a b c a b"), (3L, "x y z x y"), (9L, "qq ww ee"))
      q.processAllAvailable()
      val got = spark.table("dsir_stream").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // known docs: the stateless projection reproduces the batch weights
      assert(approx(got(1L), batch(1L), 1e-6), s"$got vs $batch")
      assert(approx(got(3L), batch(3L), 1e-6), s"$got vs $batch")
      // unseen vocabulary: finite smoothed fallback, not NaN/null
      assert(!got(9L).isNaN && !got(9L).isInfinite)
    } finally q.stop()
  }

  test("batch-fitted Fellegi-Sunter model scores a live pair stream; stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.RecordLinkage
    import org.apache.spark.sql.functions.{col, round => sround}
    val pairs = (0 until 300).map(i =>
      (i.toLong, i < 30 || i % 9 == 0, i % 3 == 0, i % 2 == 0))
      .toDF("pid", "g1", "g2", "g3")
    val model = RecordLinkage.fellegiSunterFit(pairs, Seq("g1", "g2", "g3"), iters = 4)
    val batch = RecordLinkage.fellegiSunterScore(pairs, model)
      .select(col("pid"), sround(col("match_prob"), 9).as("p")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the literal-projection scorer applies to a stream with no state
    val input = MemoryStream[(Long, Boolean, Boolean, Boolean)]
    val scored = RecordLinkage.fellegiSunterScore(
        input.toDF().toDF("pid", "g1", "g2", "g3"), model)
      .select(col("pid"), sround(col("match_prob"), 9).as("p"))
    val q = scored.writeStream.format("memory").queryName("fs_stream")
      .outputMode("append").start()
    try {
      // gammas replicate batch pids 5 (T,F,F) and 100 (F,F,T) exactly
      input.addData((5L, true, false, false), (100L, false, false, true))
      q.processAllAvailable()
      val got = spark.table("fs_stream").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got(5L) == batch(5L) && got(100L) == batch(100L), s"$got vs $batch")
    } finally q.stop()
  }

  test("EpisodeDetector: episodes open/close per entity, delay measured to first detection") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.Event]
    val episodes = StreamingOps.EpisodeDetector.detect(input.toDS())
    val q = episodes.writeStream.format("memory").queryName("eps")
      .outputMode("append").start()
    try {
      input.addData(
        StreamingOps.Event("a", ts(0), 0, 0),
        StreamingOps.Event("a", ts(1), 1, 0), // episode opens
        StreamingOps.Event("a", ts(3), 1, 1), // first detection (+2s)
        StreamingOps.Event("a", ts(4), 0, 0), // closes
        StreamingOps.Event("b", ts(2), 1, 0),
        StreamingOps.Event("b", ts(5), 0, 0)) // closes undetected
      q.processAllAvailable()
      val rows = spark.table("eps").as[StreamingOps.Episode].collect()
        .map(e => e.entity -> e).toMap
      assert(rows("a").detected && rows("a").delayMs == 2000L)
      assert(!rows("b").detected && rows("b").delayMs == -1L)
    } finally q.stop()
  }

  test("curation ops compose with streams: redact + quality + stream-static decontamination") {
    // The text/curation layer is pure projections + a stream-static
    // broadcast semi-join, so it runs unchanged on a stream of documents —
    // the shape of an ingest-time curation filter.
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{Dedup, IntHash, TextOps}
    val benchGrams = Seq("the secret benchmark sentence stays out").toDF("btext")
      .select(explode(Dedup.shingles(col("btext"), 3)).as("g"))
      .select(IntHash.stringHash(col("g")).as("h")).distinct()
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val curated = docs
      .withColumn("text", TextOps.redactPii(col("text")))
      .withColumn("q", TextOps.qualityScore(col("text")))
      .select(col("doc_id"), col("text"), col("q"),
        explode_outer(Dedup.shingles(col("text"), 3)).as("g"))
      .withColumn("h", IntHash.stringHash(col("g")))
      .join(broadcast(benchGrams), Seq("h"), "left_anti")
      .groupBy("doc_id").agg(first("text").as("text"), first("q").as("q"),
        count(lit(1)).as("n_clean_grams"))
    val q = curated.writeStream.format("memory").queryName("cur")
      .outputMode("complete").start()
    try {
      input.addData(
        (1L, "a perfectly normal document about rivers and trees today mail me at a@b.co"),
        (2L, "prefix words then the secret benchmark sentence stays out suffix"))
      q.processAllAvailable()
      val out = spark.table("cur").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
      assert(out(1L)._1.contains("<EMAIL>")) // redaction applied in-stream
      // doc 2: 10 tokens → 8 3-grams, 4 shared with the benchmark → 4 clean
      assert(out(2L)._2 == 4L)
    } finally q.stop()
  }
}
