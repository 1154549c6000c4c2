package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, PermImportance, Robustness, SlidingWindows, TextOps}
import graft.queries.Q._

/** The robustness/permutation/LSH/harvest surface. Most of these now carry
  * full DuckDB oracles: the seeded RNG is integer-exact in both engines
  * ([[Robustness.seededUniformSql]]), the LSH paths are oracled against
  * their brute-force ground truth (a 100%-recall proof on this corpus —
  * deterministic, since the hashes are fixed), and the harvest join's
  * fixture values are a plain aggregate. The mm_* queries are oracled
  * too: the synthetic payload is an md5/sha256 hash chain both engines
  * produce byte-identically, so DuckDB rebuilds the exact bytes via a
  * positions-table join (mm_features, mm_phash_dedup) or substring
  * arithmetic (mm_frame_sample).
  *
  * Every query returns a deterministically-ordered aggregate (not raw
  * blobs) so reruns are diffable.
  */
object RowsOnlyQueries {

  private val ord = Seq(col("ts").asc, col("event_id").asc)

  /** Shared windowed events: seq_len=8, step=8 (tumbling), one feature.
    * Uses the streaming windower — the one scale path, byte-equal to the
    * global form (proven by the w1_streaming_parity oracle query): one
    * range exchange + two jobs, no single-partition stage. */
  private def wins(s: org.apache.spark.sql.SparkSession, dir: String) =
    SlidingWindows.slideGlobalStreaming(scoredEvents(s, dir), ord, array(col("value")),
      seqLen = 8, step = 8)
      .select(col("win_id").cast("long").as("win_id"), col("window"), col("y_true"))

  private def winChecksum(c: org.apache.spark.sql.Column) =
    round(aggregate(flatten(c), lit(0.0), (a, x) => a + x), 4)

  val queries: Map[String, QueryFn] = Map(
    "r1_packet_loss" -> ((s, dir) =>
      wins(s, dir)
        .withColumn("degraded",
          Robustness.packetLoss(col("window"), col("win_id"), severity = 0.3, seed = 42L))
        .select(col("win_id"), winChecksum(col("window")).as("sum_before"),
          winChecksum(col("degraded")).as("sum_after"))
        .orderBy("win_id")),

    "r2_missing_vars" -> ((s, dir) =>
      wins(s, dir)
        .withColumn("degraded",
          Robustness.missingVariables(col("window"), col("win_id"), severity = 0.3, seed = 42L))
        .select(col("win_id"), winChecksum(col("degraded")).as("sum_after"))
        .orderBy("win_id")),

    "r3_clock_offset" -> ((s, dir) =>
      wins(s, dir)
        .withColumn("degraded",
          Robustness.clockOffset(col("window"), col("win_id"), severity = 0.4, seed = 42L))
        // roll preserves the multiset: sum is invariant, first element moves
        .select(col("win_id"), winChecksum(col("degraded")).as("sum_after"),
          round(element_at(element_at(col("degraded"), 1), 1), 4).as("first_val"))
        .orderBy("win_id")),

    "r4_drift" -> ((s, dir) =>
      wins(s, dir)
        .withColumn("degraded",
          Robustness.drift(col("window"), col("win_id"), severity = 0.2, seed = 42L))
        .select(col("win_id"), winChecksum(col("degraded")).as("sum_after"))
        .orderBy("win_id")),

    "g_isotonic" -> ((s, dir) => {
      // Binned-PAVA isotonic calibration of the scored events: fit is
      // one reliability pass + driver PAVA over <= 10 rows; application
      // is a literal-array projection. Fully oracled via the fit-time
      // literal-replay twin in [[dynamicOracle]].
      val ev = graft.queries.Q.scoredEvents(s, dir)
      val m = graft.ops.Calibration.isotonicFit(
        ev, col("y_true"), col("score"), bins = 10)
      ev.select(col("event_id"), col("score"),
          round(graft.ops.Calibration.isotonicApply(col("score"), m), 6)
            .as("calibrated"))
        .orderBy("event_id")
    }),

    "r5_perm_importance" -> ((s, dir) => {
      // Permute the single feature across all windows/timesteps; global
      // sum is preserved (permutation = reordering) — the per-window sums
      // change deterministically under the seed.
      val w = wins(s, dir).where(col("win_id") <= 800)
      PermImportance.permuteFeature(w, "win_id", "window", featureIdx = 0, seed = 7L)
        .select(col("win_id"), winChecksum(col("window")).as("sum_permuted"))
        .orderBy("win_id")
    }),

    "dedup_minhash_lsh" -> ((s, dir) => {
      // LSH candidate near-dup pairs verified at Jaccard >= 0.8 — the
      // scale path of dedup_jaccard_pairs (bucketed join, not N²).
      val docs = table(s, dir, "documents").where(col("doc_id") < 120)
      Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.8,
          numShingleWords = 1, numBands = 16, rowsPerBand = 2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "dedup_neardup_incremental" -> ((s, dir) => {
      // Two-batch incremental near-dup ingestion through a fresh persisted
      // signature store: batch 1 = docs 0..59, batch 2 = docs 60..119 plus
      // id-shifted exact copies of docs 0..29 (cross-batch dups). Kept =
      // docs with no EARLIER neighbor at Jaccard >= 0.8 (earlier = prior
      // batch, or smaller id in-batch; dropped dups still count — the
      // greedy stream rule, not CC). Same banding params as
      // dedup_minhash_lsh, whose oracle already certifies 100% candidate
      // recall on this corpus, so the brute all-pairs twin is ground
      // truth here too.
      val docs = table(s, dir, "documents").where(col("doc_id") < 120)
        .select("doc_id", "text")
      val store = java.nio.file.Files.createTempDirectory("ndinc_q")
        .toString + "/store"
      def run(batch: org.apache.spark.sql.DataFrame) =
        Dedup.nearDupIncremental(batch, "doc_id", "text", store,
          threshold = 0.8, numShingleWords = 1, numBands = 16, rowsPerBand = 2)
      val kept1 = run(docs.where(col("doc_id") < 60))
      val b2 = docs.where(col("doc_id") >= 60).unionByName(
        docs.where(col("doc_id") < 30)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val kept2 = run(b2)
      kept1.select(lit(1).as("batch"), col("doc_id"))
        .unionByName(kept2.select(lit(2).as("batch"), col("doc_id")))
        .orderBy("batch", "doc_id")
    }),

    "dedup_embedding_lsh" -> ((s, dir) => {
      // Multi-table hyperplane-LSH near-dup pairs on the same synthesized
      // corpus as dedup_embedding_brute — the scale path (bucketed join).
      val e = table(s, dir, "embeddings").where(col("vec_id") < 400)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val corpus = e.unionByName(e.select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), (x, i) =>
          x + lit(0.15) * element_at(col("v"), size(col("v")) - i)).as("v")))
      Dedup.embeddingNearDuplicates(corpus, "vec_id", "v", threshold = 0.9,
          nBits = 8, nTables = 6)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy("id_a", "id_b")
    }),

    "dedup_simhash" -> ((s, dir) => {
      // SimHash fingerprints + hamming distance of adjacent docs.
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      val a = docs.select(col("doc_id"), col("fp"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"), col("fp").as("fp2"))
      a.join(b, "doc_id")
        .select(col("doc_id"),
          Dedup.hamming64(col("fp"), col("fp2")).cast("long").as("hamming"))
        .orderBy("doc_id")
    }),

    "text_fingerprint" -> ((s, dir) =>
      table(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"), TextOps.rollingFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    "s8_harvest_join" -> ((s, dir) => {
      // S8 + J3: write per-run metrics.json/config.json trees, harvest
      // recursively, flatten nested structs, join metrics ⋈ config by
      // run_dir (func_plot.py:648-697). Deterministic fixture derived
      // from the events table; exercises the full harvest path.
      import graft.sources.Sources
      val base = java.nio.file.Files.createTempDirectory("graft_harvest").toString
      val byType = table(s, dir, "events").groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("mean_value"))
        .collect()
      byType.foreach { r =>
        val runDir = s"$base/run_${r.getString(0)}"
        new java.io.File(runDir).mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$runDir/metrics.json"),
          s"""{"metrics": {"n": ${r.getLong(1)}, "mean_value": ${r.getDouble(2)}}}""")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$runDir/config.json"),
          s"""{"config": {"task": "${r.getString(0)}"}}""")
      }
      val harvested = Sources.flattenStructs(Sources.harvestJson(s, base))
      val metrics = harvested.where(col("metrics_n").isNotNull)
        .select("run_dir", "metrics_n", "metrics_mean_value")
      val config = harvested.where(col("config_task").isNotNull)
        .select("run_dir", "config_task")
      metrics.join(config, "run_dir")
        .select(col("config_task"), col("metrics_n"), col("metrics_mean_value"))
        .orderBy("config_task")
    }),

    "mm_resize" -> ((s, dir) => {
      // Resize contract: nearest-neighbor byte subsampling to a 6x4
      // geometry; the ASCII hash-chain payload lets the oracle rebuild
      // the EXACT resized bytes (md5) plus the rewritten meta geometry.
      val media = Multimodal.syntheticMedia(
        s, table(s, dir, "documents").where(col("doc_id") < 300), "doc_id")
      Multimodal.resizeMedia(media, "payload", targetW = 6, targetH = 4)
        .select(col("media_id"), col("kind"), md5(col("resized")).as("h"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("media_id")
    }),

    "mm_features" -> ((s, dir) => {
      // Multimodal plumbing: synthetic media from doc ids → per-partition
      // batched "decode" → feature aggregation by kind. The payload is a
      // DuckDB-reproducible hash chain, so the oracle pins feature CONTENT
      // (byte mean/std/min/max/first/last), not just counts — everything
      // except the JVM-hash 8th feature.
      val media = Multimodal.syntheticMedia(s, table(s, dir, "documents"), "doc_id")
      Multimodal.extractFeatures(media, "payload")
        .select(col("kind"),
          element_at(col("features"), 1).as("f_len"),
          element_at(col("features"), 2).as("f_mean"),
          element_at(col("features"), 3).as("f_std"),
          element_at(col("features"), 4).as("f_min"),
          element_at(col("features"), 5).as("f_max"),
          element_at(col("features"), 6).as("f_first"),
          element_at(col("features"), 7).as("f_last"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), round(avg("f_len"), 2).as("avg_len"),
          round(avg("f_mean"), 2).as("avg_byte_mean"),
          round(avg("f_std"), 2).as("avg_byte_std"),
          min("f_min").cast("long").as("min_byte"),
          max("f_max").cast("long").as("max_byte"),
          round(avg("f_first"), 2).as("avg_first"),
          round(avg("f_last"), 2).as("avg_last"))
        .orderBy("kind")
    }),

    "mm_frame_sample" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(s, table(s, dir, "documents"), "doc_id")
        .where(col("media_id") < 50)
      Multimodal.sampleFrames(media, "payload", nFrames = 16, step = 4)
        .groupBy("kind").agg(count(lit(1)).as("n_frames"),
          round(avg(length(col("frame"))), 2).as("avg_frame_bytes"))
        .orderBy("kind")
    }),

    "text_bpe_encode" -> ((s, dir) => {
      // End-to-end BPE: train 30 merge rules on the sub-corpus, re-encode
      // it, count subword tokens per source. Fully oracled via the
      // literal-replay twin in [[dynamicOracle]]: training is
      // deterministic (UTF-8 tie-break), so Verify refits the same rule
      // list and DuckDB replays the encode as an unrolled replace() chain
      // (TextOps.bpeEncodeSqlExpr).
      val docs = table(s, dir, "documents").where(col("doc_id") < 300)
      val merges = TextOps.bpeTrain(docs, col("text"), nMerges = 30)
      TextOps.bpeEncode(docs.select("doc_id", "text", "source"),
          col("text"), merges)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("bpe_tokens_n").as("n_subwords"))
        .orderBy("source")
    }),

    "text_wordpiece" -> ((s, dir) => {
      // WordPiece (BERT-family) greedy longest-match encode under a
      // deterministic self-fitted vocab (top-150 words + chars with
      // count >= 5 in start and ## form; rarer glyphs exercise [UNK]).
      // Fully oracled via the dynamic twin: the vocab rides a literal
      // VALUES table, the greedy cursor walk unrolls one stage per
      // character position.
      val fitDocs = table(s, dir, "documents").where(col("doc_id") < 300)
      val vocab = TextOps.wordpieceVocabFit(fitDocs, col("text"),
        topWords = 150, minCharCount = 5L)
      TextOps.wordpieceEncode(
          table(s, dir, "documents").where(col("doc_id") < 250)
            .select("doc_id", "text"),
          col("text"), vocab)
        .where(col("wp_n_words") > 0)
        .select(col("doc_id"), col("wp_n_words").as("n_words"),
          col("wp_n_tokens").as("n_tokens"),
          col("wp_n_unk_words").as("n_unk_words"))
        .orderBy("doc_id")
    }),

    "text_unigram_lm" -> ((s, dir) => {
      // Unigram-LM tokenizer (Kudo 2018, SentencePiece `unigram`):
      // deterministic hard-EM fit (2 iterations, 9-dp model faces), then
      // per-doc Viterbi scores. Fully oracled via the dynamic twin: the
      // fitted pieces ride a literal VALUES table and the DP is unrolled
      // to one CTE stage per word position.
      val docs = table(s, dir, "documents").where(col("doc_id") < 250)
        .select("doc_id", "text")
      val m = graft.ops.UnigramLm.unigramTrain(docs, col("text"),
        vocabSize = 300, maxPieceLen = 4, iters = 2, seedSize = 1200)
      graft.ops.UnigramLm.unigramScore(docs, "doc_id", col("text"), m)
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_oov_words"), round(col("logp"), 6).as("logp"))
        .orderBy("doc_id")
    }),

    "text_fertility" -> ((s, dir) => {
      // Tokenizer-equity audit (Rust 2021): per-language fertility
      // (subwords/word) and bytes/subword under the same 30-rule BPE fit
      // as text_bpe_encode; all group totals are exact integer sums, the
      // ratios one division each — replayed by the dynamic twin.
      val docs = table(s, dir, "documents").where(col("doc_id") < 300)
      val merges = TextOps.bpeTrain(docs, col("text"), nMerges = 30)
      TextOps.tokenizerFertility(docs.select("doc_id", "lang", "text"),
          col("text"), merges, "lang")
        .orderBy("lang")
    }),

    "text_compression_ratio" -> ((s, dir) =>
      // Deflate-ratio repetitiveness signal, aggregated per source so
      // reruns are diffable. Deflate isn't DuckDB-expressible, so the
      // twin is a [[dynamicOracle]] literal replay: an INDEPENDENT
      // driver-side java.util.zip.Deflater (separate code path from the
      // DeflateRatio expression) recompresses every fixture text and the
      // per-source aggregates ride as a VALUES table. DeflateSpec
      // additionally pins the repetitive < prose < random ordering.
      table(s, dir, "documents")
        .select(col("source"), TextOps.compressionRatio(col("text")).as("r"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), round(avg("r"), 6).as("avg_ratio"),
          round(min("r"), 6).as("min_ratio"), round(max("r"), 6).as("max_ratio"))
        .orderBy("source")),

    "mm_phash_dedup" -> ((s, dir) => {
      // Perceptual-hash (aHash) near-dup media pairs: originals + planted
      // 4-byte perturbations (+100000) + exact copies (+200000, every 7th
      // id). The banding join is pigeonhole-LOSSLESS at maxDist = 4 and
      // the bit test is exact integer cross-multiplication, so the oracle
      // replays the whole thing brute-force and must agree pair-for-pair.
      val base = Multimodal.syntheticMedia(s,
          table(s, dir, "documents").where(col("doc_id") < 300), "doc_id")
        .select(col("media_id"), col("payload"))
        // three corpus slices derive from it: synthesize once (r12)
        .localCheckpoint(false)
      def pstr = decode(col("payload"), "UTF-8")
      val near = base.select((col("media_id") + 100000).as("media_id"),
        encode(concat(substring(pstr, 1, 4), lit("zzzz"),
          pstr.substr(lit(9), length(pstr))), "UTF-8").as("payload"))
      val exact = base.where(pmod(col("media_id"), lit(7)) === 0)
        .select((col("media_id") + 200000).as("media_id"), col("payload"))
      val media = base.unionByName(near).unionByName(exact)
      Multimodal.phashNearDuplicates(media, "media_id", "payload", maxDist = 4)
        .orderBy("id_a", "id_b")
    }),
  )

  /** SQL twin of [[wins]]: tumbling seq_len=8 windows over the scored
    * events, window = the flat value list (single feature). */
  private val winsSql: String =
    s"""SELECT rn AS win_id, "window" FROM (
       |  SELECT row_number() OVER (ORDER BY ts, event_id) AS rn,
       |    list(value) OVER (ORDER BY ts, event_id
       |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS "window"
       |  FROM (${Q.scoredEventsSql}) se) t
       |WHERE rn >= 8 AND (rn - 8) % 8 = 0""".stripMargin

  /** Left-fold sum matching `aggregate(xs, 0.0, _+_)` bit-for-bit
    * (0.0 + x0 == x0, and both engines fold left). */
  private def foldSum(listExpr: String) = s"list_reduce($listExpr, (a, b) -> a + b)"

  /** DuckDB twin of [[Multimodal.syntheticMedia]]'s payload (md5 + sha256
    * hash chain — identical hex in both engines). */
  private val mediaSql: String =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS kind,
      |  concat_ws('-', CAST(doc_id AS VARCHAR), md5(CAST(doc_id AS VARCHAR)),
      |    sha256(CAST(doc_id AS VARCHAR))) AS payload
      |FROM documents""".stripMargin

  val oracle: Map[String, String] = {
    val u_r1 = Robustness.seededUniformSql("42", Seq("win_id", "(i - 1)"))
    val u_r2 = Robustness.seededUniformSql("42", Seq("win_id", "0"))
    val u_r3 = Robustness.seededUniformSql("42", Seq("win_id"))
    val n_r4 = Robustness.seededNormalSql("42", Seq("win_id", "0"))
    val u_r5 = Robustness.seededUniformSql("7", Seq("win_id", "t"))

    Map(
      "r1_packet_loss" ->
        s"""WITH wins AS ($winsSql)
           |SELECT win_id,
           |  round(${foldSum("\"window\"")}, 4) AS sum_before,
           |  round(${foldSum(s"""list_transform(range(1, len("window") + 1), i ->
           |    CASE WHEN $u_r1 < 0.3 THEN 0.0 ELSE "window"[i] END)""")}, 4) AS sum_after
           |FROM wins ORDER BY win_id""".stripMargin,

      "r2_missing_vars" ->
        s"""WITH wins AS ($winsSql)
           |SELECT win_id,
           |  CASE WHEN $u_r2 < 0.3 THEN 0.0
           |       ELSE round(${foldSum("\"window\"")}, 4) END AS sum_after
           |FROM wins ORDER BY win_id""".stripMargin,

      "r3_clock_offset" ->
        s"""WITH wins AS ($winsSql),
           |-- severity .4, T=8: maxShift = floor(.4*8) = 3, span 7
           |sh AS (
           |  SELECT win_id, "window",
           |    CAST(floor($u_r3 * 7) AS BIGINT) - 3 AS shift
           |  FROM wins),
           |rolled AS (
           |  SELECT win_id,
           |    list_transform(range(0, 8), i ->
           |      "window"[((i - shift) % 8 + 8) % 8 + 1]) AS r
           |  FROM sh)
           |SELECT win_id, round(${foldSum("r")}, 4) AS sum_after,
           |  round(r[1], 4) AS first_val
           |FROM rolled ORDER BY win_id""".stripMargin,

      "r4_drift" ->
        s"""WITH wins AS ($winsSql),
           |wn AS (SELECT win_id, "window", $n_r4 AS nrm FROM wins)
           |SELECT win_id,
           |  round(${foldSum(s"""list_transform(range(0, 8), i ->
           |    "window"[i + 1] + (CAST(i AS DOUBLE) / 7.0) * nrm * 0.2)""")}, 4) AS sum_after
           |FROM wn ORDER BY win_id""".stripMargin,

      "r5_perm_importance" ->
        s"""WITH wins AS ($winsSql),
           |w8 AS (SELECT win_id, "window" FROM wins WHERE win_id <= 800),
           |cells AS (
           |  SELECT win_id, t, "window"[t + 1] AS v
           |  FROM w8, (SELECT unnest(range(0, 8)) AS t) ts),
           |a AS (SELECT win_id, t, row_number() OVER (ORDER BY win_id, t) AS r FROM cells),
           |b AS (SELECT v, row_number() OVER (ORDER BY $u_r5, win_id, t) AS r FROM cells),
           |j AS (SELECT a.win_id, a.t, b.v FROM a JOIN b USING (r))
           |SELECT win_id, round(${foldSum("list(v ORDER BY t)")}, 4) AS sum_permuted
           |FROM j GROUP BY win_id ORDER BY win_id""".stripMargin,

      // The LSH scale paths are checked against their exact brute-force
      // ground truth: banding/table parameters give ~1e-7 miss probability
      // per true pair, and the hashes are fixed — so 100% recall on this
      // corpus is a deterministic fact, proven by the oracle match.
      "dedup_minhash_lsh" -> DedupTextQueries.oracle("dedup_jaccard_pairs"),

      // greedy earlier-wins near-dup over two ingestion batches: the
      // brute all-pairs twin is ground truth because candidate recall is
      // 100% on this corpus at these banding params (certified by the
      // dedup_minhash_lsh oracle above)
      "dedup_neardup_incremental" ->
        """WITH al AS (
          |  SELECT doc_id, text, 1 AS batch, CAST(doc_id AS BIGINT) AS ord
          |  FROM documents WHERE doc_id < 60
          |  UNION ALL SELECT doc_id, text, 2, doc_id
          |  FROM documents WHERE doc_id >= 60 AND doc_id < 120
          |  UNION ALL SELECT doc_id + 1000000, text, 2, doc_id + 1000000
          |  FROM documents WHERE doc_id < 30),
          |sh AS (SELECT doc_id, batch, ord,
          |  list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
          |  FROM al),
          |dup AS (
          |  SELECT DISTINCT b.doc_id FROM sh a JOIN sh b
          |  ON (a.batch < b.batch OR (a.batch = b.batch AND a.ord < b.ord))
          |  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
          |        len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
          |SELECT batch, al.doc_id FROM al
          |WHERE al.doc_id NOT IN (SELECT doc_id FROM dup)
          |ORDER BY 1, 2""".stripMargin,
      "dedup_embedding_lsh" -> SimilarityQueries.oracle("dedup_embedding_brute"),

      // The harvest fixture derives per-run metrics.json values from the
      // events table; the JSON round-trip is value-exact (shortest-repr
      // doubles), so the flattened join equals this aggregate.
      "s8_harvest_join" ->
        """SELECT event_type AS config_task, count(*) AS metrics_n,
          |  round(avg(value), 4) AS metrics_mean_value
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

      "dedup_simhash" ->
        s"""WITH fps AS (
           |  SELECT doc_id, ${graft.ops.Dedup.simhashSql("text")} AS fp
           |  FROM documents)
           |SELECT a.doc_id, CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
           |FROM fps a JOIN fps b ON b.doc_id = a.doc_id + 1
           |ORDER BY a.doc_id""".stripMargin,

      "text_fingerprint" ->
        s"""SELECT doc_id, ${graft.ops.TextOps.rollingFingerprintSql("text")} AS fp
           |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

      // FakeDecoder twin: per-payload byte stats via a positions-table
      // join (payload is ASCII, so ord(char) == byte). Float32 casts mirror
      // the decoder's Array[Float]; round(2) absorbs avg order.
      // rebuild the exact resized bytes: out[i] = payload[(i*len) // 24]
      // (0-based) for i in 0..23, re-joined as a string (ASCII payload,
      // so char ops == byte ops)
      "mm_resize" ->
        s"""WITH media AS (
           |  SELECT media_id, kind, payload FROM ($mediaSql)
           |  WHERE media_id < 300)
           |SELECT media_id, kind,
           |  md5(array_to_string(list_transform(range(0, 24), i ->
           |    substr(payload,
           |      CAST((i * length(payload)) // 24 AS INT) + 1, 1)), ''))
           |    AS h,
           |  6 AS width, 4 AS height
           |FROM media ORDER BY media_id""".stripMargin,

      "mm_features" ->
        s"""WITH media AS ($mediaSql),
           |bytes AS (
           |  SELECT m.media_id, m.kind, length(m.payload) AS n, p.range AS i,
           |    ord(substr(m.payload, CAST(p.range AS INT), 1)) AS b
           |  FROM media m JOIN range(1, 201) p ON p.range <= length(m.payload)),
           |feat AS (
           |  SELECT media_id, kind,
           |    CAST(max(n) AS FLOAT) AS f_len,
           |    CAST(sum(b) * 1.0 / max(n) AS FLOAT) AS f_mean,
           |    CAST(sqrt(greatest(0.0, sum(CAST(b AS BIGINT)*b) * 1.0 / max(n) -
           |      (sum(b) * 1.0 / max(n)) * (sum(b) * 1.0 / max(n)))) AS FLOAT) AS f_std,
           |    CAST(min(b) AS FLOAT) AS f_min, CAST(max(b) AS FLOAT) AS f_max,
           |    CAST(max(CASE WHEN i = 1 THEN b END) AS FLOAT) AS f_first,
           |    CAST(max(CASE WHEN i = n THEN b END) AS FLOAT) AS f_last
           |  FROM bytes GROUP BY 1, 2)
           |SELECT kind, count(*) AS n, round(avg(f_len), 2) AS avg_len,
           |  round(avg(f_mean), 2) AS avg_byte_mean, round(avg(f_std), 2) AS avg_byte_std,
           |  CAST(min(f_min) AS BIGINT) AS min_byte, CAST(max(f_max) AS BIGINT) AS max_byte,
           |  round(avg(f_first), 2) AS avg_first, round(avg(f_last), 2) AS avg_last
           |FROM feat GROUP BY 1 ORDER BY 1""".stripMargin,

      // perceptualHash twin: positions-table bytes → 32 pooled blocks
      // (0-based floor((i-1)*32/n), matching the JVM loop), bit g on
      // exact integer cross-multiplication, brute all-pairs hamming.
      "mm_phash_dedup" ->
        s"""WITH m0 AS (
           |  SELECT media_id, payload FROM ($mediaSql) WHERE media_id < 300),
           |media AS (
           |  SELECT media_id, payload FROM m0
           |  UNION ALL
           |  SELECT media_id + 100000,
           |    concat(substr(payload, 1, 4), 'zzzz', substr(payload, 9))
           |  FROM m0
           |  UNION ALL
           |  SELECT media_id + 200000, payload FROM m0 WHERE media_id % 7 = 0),
           |bytes AS (
           |  SELECT m.media_id, length(m.payload) AS n, p.range AS i,
           |    ord(substr(m.payload, CAST(p.range AS INT), 1)) AS b
           |  FROM media m JOIN range(1, 301) p ON p.range <= length(m.payload)),
           |blocks AS (
           |  SELECT media_id, ((i - 1) * 32) // n AS g,
           |    sum(b) AS bsum, count(*) AS blen, max(n) AS n
           |  FROM bytes GROUP BY 1, 2),
           |tot AS (SELECT media_id, sum(b) AS total FROM bytes GROUP BY 1),
           |ph AS (
           |  SELECT b.media_id,
           |    sum(CASE WHEN b.bsum * b.n > t.total * b.blen
           |        THEN (CAST(1 AS BIGINT) << CAST(b.g AS INT))
           |        ELSE CAST(0 AS BIGINT) END) AS sig
           |  FROM blocks b JOIN tot t USING (media_id) GROUP BY 1),
           |pairs AS (
           |  SELECT a.media_id AS id_a, b.media_id AS id_b,
           |    CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
           |  FROM ph a JOIN ph b ON a.media_id < b.media_id)
           |SELECT id_a, id_b, hamming FROM pairs
           |WHERE hamming <= 4 ORDER BY 1, 2""".stripMargin,

      // sampleFrames twin: same substring arithmetic; trunc() mirrors
      // Spark's toward-zero double→int cast (DuckDB CAST rounds).
      "mm_frame_sample" ->
        s"""WITH media AS ($mediaSql),
           |frames AS (
           |  SELECT m.kind,
           |    substr(m.payload,
           |      CAST(trunc(f.range * (length(m.payload) / 16.0) + 1) AS INT),
           |      CAST(trunc(greatest(length(m.payload) / 16.0, 1)) AS INT)) AS frame
           |  FROM media m JOIN range(0, 16) f ON f.range % 4 = 0
           |  WHERE m.media_id < 50)
           |SELECT kind, count(*) AS n_frames,
           |  round(avg(length(frame)), 2) AS avg_frame_bytes
           |FROM frames GROUP BY 1 ORDER BY 1""".stripMargin,
    )
  }

  /** Data-dependent oracle (literal-replay at fit time): Verify retrains
    * the same 30 deterministic merge rules the query trains, then the
    * DuckDB twin replays the encode per word as an unrolled
    * boundary-safe `replace()` chain and counts subword tokens. Docs
    * with null/blank text keep n_docs membership via the LEFT JOIN
    * (matching bpeEncode's 0-token rows). */
  val dynamicOracle: Map[String, (org.apache.spark.sql.SparkSession, String) => String] = Map(
    // cross-IMPLEMENTATION deflate check: a driver-side Deflater written
    // independently of the DeflateRatio expression (one-shot grown
    // buffer vs reset/chunk loop) recompresses every fixture text; the
    // per-source aggregates (same count/avg/min/max faces, same 6-dp
    // HALF_UP rounding as the Spark plan) ride as a literal VALUES
    // table. A drift in either deflate loop, the empty-text convention,
    // or the UTF-8 byte accounting hash-mismatches.
    "text_compression_ratio" -> ((s, dir) => {
      def ratio(t: String): Double = {
        val raw = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (raw.isEmpty) 1.0 else {
          val d = new java.util.zip.Deflater(6)
          d.setInput(raw); d.finish()
          var buf = new Array[Byte](raw.length + 1024)
          var total = 0
          while (!d.finished()) {
            if (total == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
            total += d.deflate(buf, total, buf.length - total)
          }
          d.end()
          total.toDouble / raw.length
        }
      }
      def r6(x: Double): String = java.lang.Double.toString(
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val docs = table(s, dir, "documents").select("source", "text")
        .collect().map(r => (r.getString(0), Option(r.getString(1))))
      val rows = docs.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, rs) =>
        val ratios = rs.flatMap(_._2).map(ratio)
        def agg(f: Seq[Double] => Double): String =
          if (ratios.isEmpty) "CAST(NULL AS DOUBLE)" else r6(f(ratios.toSeq))
        s"('${src.replace("'", "''")}', ${rs.length}, ${agg(v => v.sum / v.length)}, " +
          s"${agg(_.min)}, ${agg(_.max)})"
      }.mkString(", ")
      s"""SELECT source, CAST(n AS BIGINT) AS n,
         |  CAST(avg_ratio AS DOUBLE) AS avg_ratio,
         |  CAST(min_ratio AS DOUBLE) AS min_ratio,
         |  CAST(max_ratio AS DOUBLE) AS max_ratio
         |FROM (VALUES $rows) t(source, n, avg_ratio, min_ratio, max_ratio)
         |ORDER BY source""".stripMargin
    }),
    // fitted leaf boxes interpolated as full-precision literals; DuckDB
    // independently re-assigns EVERY row by box membership and
    // recomputes counts and bounds — overlapping, leaky, or under-k
    // boxes would all hash-mismatch
    "g_mondrian" -> ((s, dir) => {
      val src = table(s, dir, "events").select(col("value"),
        (col("user_id") % 97).cast("double").as("uid"))
      val m = graft.ops.Mondrian.fit(src, Seq("value", "uid"), k = 100)
      val boxes = m.leaves.map { case (pid, _, bs) =>
        val Seq((vlo, vhi), (ulo, uhi)) = bs
        s"($pid, ${java.lang.Double.toString(vlo)}, ${java.lang.Double.toString(vhi)}, " +
          s"${java.lang.Double.toString(ulo)}, ${java.lang.Double.toString(uhi)})"
      }.mkString(", ")
      s"""WITH src AS (
         |  SELECT CAST(value AS DOUBLE) AS v,
         |    CAST(user_id % 97 AS DOUBLE) AS u
         |  FROM events WHERE value IS NOT NULL),
         |boxes AS (SELECT * FROM (VALUES $boxes)
         |          t(pid, vlo, vhi, ulo, uhi)),
         |asn AS (
         |  SELECT b.pid, s.v, s.u FROM src s JOIN boxes b
         |  ON s.v BETWEEN b.vlo AND b.vhi AND s.u BETWEEN b.ulo AND b.uhi)
         |SELECT CAST(pid AS BIGINT) AS pid, count(*) AS n,
         |  round(min(v), 6) AS value_lo, round(max(v), 6) AS value_hi,
         |  round(min(u), 6) AS uid_lo, round(max(u), 6) AS uid_hi,
         |  count(*) >= 100 AS ok_k
         |FROM asn GROUP BY pid ORDER BY pid""".stripMargin
    }),

    // the fitted per-bin step function interpolated as a literal array;
    // binning replayed identically (floor clamp into the last bin)
    "g_isotonic" -> ((s, dir) => {
      val ev = graft.queries.Q.scoredEvents(s, dir)
      val m = graft.ops.Calibration.isotonicFit(
        ev, col("y_true"), col("score"), bins = 10)
      val arr = m.calibrated.mkString("[", ", ", "]")
      s"""WITH s AS (${graft.queries.Q.scoredEventsSql})
         |SELECT event_id, score,
         |  round(CAST(($arr)[CAST(least(floor(score * 10), 9) AS INT) + 1]
         |    AS DOUBLE), 6) AS calibrated
         |FROM s ORDER BY event_id""".stripMargin
    }),

    "text_bpe_encode" -> ((s, dir) => {
      val docs = table(s, dir, "documents").where(col("doc_id") < 300)
      val merges = TextOps.bpeTrain(docs, col("text"), nMerges = 30)
      val enc = TextOps.bpeEncodeSqlExpr("w", merges)
      s"""WITH d AS (SELECT doc_id, source, text FROM documents WHERE doc_id < 300),
         |w AS (
         |  SELECT doc_id,
         |    unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      x -> x <> '')) AS w
         |  FROM d),
         |e AS (SELECT doc_id, $enc AS s FROM w),
         |per AS (
         |  SELECT doc_id,
         |    sum((length(s) - length(replace(s, chr(31), ''))) // 2) AS nt
         |  FROM e GROUP BY 1)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(coalesce(sum(per.nt), 0) AS BIGINT) AS n_subwords
         |FROM d LEFT JOIN per USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    "text_wordpiece" -> ((s, dir) => {
      val fitDocs = table(s, dir, "documents").where(col("doc_id") < 300)
      val vocab = TextOps.wordpieceVocabFit(fitDocs, col("text"),
        topWords = 150, minCharCount = 5L)
      val maxLen = table(s, dir, "documents").where(col("doc_id") < 250)
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          t => t =!= lit(""))).as("w"))
        .agg(max(length(col("w")))).head().getInt(0)
      TextOps.wordpieceEncodeSql(
        "SELECT doc_id, text FROM documents WHERE doc_id < 250",
        vocab, "[UNK]", maxLen)
    }),

    "text_unigram_lm" -> ((s, dir) => {
      val docs = table(s, dir, "documents").where(col("doc_id") < 250)
        .select("doc_id", "text")
      val m = graft.ops.UnigramLm.unigramTrain(docs, col("text"),
        vocabSize = 300, maxPieceLen = 4, iters = 2, seedSize = 1200)
      val maxLen = docs
        .select(explode(filter(split(lower(trim(col("text"))), "\\s+"),
          t => t =!= lit(""))).as("w"))
        .agg(max(length(col("w")))).head().getInt(0)
      graft.ops.UnigramLm.unigramScoreSql(
        "SELECT doc_id, text FROM documents WHERE doc_id < 250", m, maxLen)
    }),

    "text_fertility" -> ((s, dir) => {
      val docs = table(s, dir, "documents").where(col("doc_id") < 300)
      val merges = TextOps.bpeTrain(docs, col("text"), nMerges = 30)
      val enc = TextOps.bpeEncodeSqlExpr("w", merges)
      s"""WITH d AS (SELECT doc_id, lang, text FROM documents WHERE doc_id < 300),
         |w AS (
         |  SELECT doc_id,
         |    unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      x -> x <> '')) AS w
         |  FROM d),
         |e AS (SELECT doc_id, $enc AS s FROM w),
         |per AS (
         |  SELECT doc_id, count(*) AS nw,
         |    sum((length(s) - length(replace(s, chr(31), ''))) // 2) AS nt
         |  FROM e GROUP BY 1)
         |SELECT d.lang, count(*) AS n_docs,
         |  CAST(coalesce(sum(per.nw), 0) AS BIGINT) AS n_words,
         |  CAST(coalesce(sum(per.nt), 0) AS BIGINT) AS n_subwords,
         |  CAST(sum(strlen(d.text)) AS BIGINT) AS n_bytes,
         |  CASE WHEN coalesce(sum(per.nw), 0) > 0
         |    THEN round(CAST(coalesce(sum(per.nt), 0) AS DOUBLE)
         |      / CAST(coalesce(sum(per.nw), 0) AS DOUBLE), 6) END AS fertility,
         |  CASE WHEN coalesce(sum(per.nt), 0) > 0
         |    THEN round(CAST(sum(strlen(d.text)) AS DOUBLE)
         |      / CAST(coalesce(sum(per.nt), 0) AS DOUBLE), 6) END AS bytes_per_subword
         |FROM d LEFT JOIN per USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }),
  )
}
