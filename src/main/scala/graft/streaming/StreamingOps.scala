package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY §2.6 note: the reference is
  * batch/count-based; these are the event-time forms a production
  * deployment needs). Only streams with a stateful or monitoring shape
  * of their own live here; a stream whose batch twin answers the same
  * question over a prefix is that batch operator, run on a stream.
  *
  *  - [[dedupExactStream]], [[nearDupStream]], [[QuotaAdmission]]: the
  *    stages [[graft.pipelines.CorpusPipeline.curateStream]] and
  *    `curateAdmitStream` chain (exact dedup, MinHash-LSH near-dup
  *    keep-first, per-group token-budget admission).
  *  - [[EpisodeDetector]]: G12's online form — per-entity
  *    flatMapGroupsWithState sessionization emitting (episode start,
  *    first detection, delay) as episodes close.
  *  - [[psiStream]], [[coverageStream]]: per-window monitors against a
  *    model fitted once on a batch reference (input drift, conformal
  *    coverage).
  */
object StreamingOps {

  /** Streaming exact dedup (the online form of `Dedup.dedupExact`):
    * first-seen row per content hash wins, duplicates within the
    * watermark horizon are dropped. State = one (hash, ts) entry per
    * distinct document inside the horizon — bounded by the watermark,
    * partitioned by hash across executors. `dropDuplicatesWithinWatermark`
    * evicts state once the hash's event time passes the watermark (an
    * unbounded-retention variant would use `dropDuplicates`, whose state
    * grows with corpus cardinality). */
  def dedupExactStream(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__dup_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__dup_hash")
      .drop("__dup_hash")

  final case class NearDupBucketRow(band: Int, bucket: Long, id: Long,
      ts: Timestamp, text: String, sh: Array[Long])
  final case class NearDupEntry(docId: Long, tsMs: Long, sh: Array[Long])
  final case class NearDupBucketState(entries: Seq[NearDupEntry])
  final case class NearDupVerdict(id: Long, ts: Timestamp, text: String, hit: Boolean)
  final case class NearDupGatherState(seen: Int, hit: Boolean, tsMs: Long, text: String)
  final case class NearDupOut(id: Long, ts: Timestamp, text: String)

  /** Streaming MinHash-LSH near-duplicate dedup — the online form of the
    * batch `minhashNearDuplicates → connectedComponents → keep-first`
    * funnel stage: the FIRST-seen document of each near-dup cluster
    * survives; later documents whose verified n-gram Jaccard against ANY
    * retained document reaches `threshold` are dropped.
    *
    * Shape (two chained append-mode `flatMapGroupsWithState` operators —
    * Spark supports multiple arbitrary stateful operators when all are in
    * append mode):
    *
    *  1. the same banding math as [[graft.ops.Dedup.lshBuckets]] (native
    *     [[org.apache.spark.sql.graft.MinHashSig]] signature, one bucket
    *     hash per band) as a NARROW projection, exploded to one row per
    *     (band, bucket);
    *  2. state keyed by (band, bucket): the xxhash64'd shingle SETS of
    *     every document seen in that bucket inside the retention horizon.
    *     Each arriving document is verified (exact set Jaccard over the
    *     64-bit shingle hashes) against the bucket's retained entries and
    *     emits one per-band verdict. Documents are retained EVEN WHEN
    *     DROPPED — a doc near-dup to a dropped doc joins the same batch
    *     connected component, so comparing against dropped docs is what
    *     reproduces the batch funnel's transitive clustering (chain
    *     A—B—C with J(A,C) < t still collapses to {A}). State is evicted
    *     two ways: entries older than `watermark − retentionMs` are
    *     pruned on access, and idle buckets time out wholesale via
    *     EventTimeTimeout — bounded by (docs in horizon) × numBands.
    *  3. state keyed by doc id: OR the `numBands` per-band verdicts
    *     (drop iff ANY band found a verified near-dup — the batch
    *     candidate semantics, where sharing one bucket suffices). All of
    *     a doc's verdicts are produced in the micro-batch it arrives in,
    *     so this state is transient (written only under re-delivery of a
    *     partial band set, which micro-batch execution doesn't produce).
    *
    * Per-doc cost matches the batch path (|bucket members| verifications
    * per band, quadratic only within buckets); at 1000 executors state is
    * partitioned by bucket hash — no global structure. Documents with no
    * shingles (blank/short) are never LSH candidates in batch and bypass
    * here unchanged. Output columns: (id, ts, text) survivors only —
    * project other columns back by joining the source on id downstream.
    *
    * Exact-hash parity caveat: verification runs over xxhash64(shingle)
    * sets, not shingle strings — identical to string-set Jaccard unless
    * two distinct shingles collide in 64 bits (~2⁻⁶⁴ per pair).
    *
    * CONF: chained arbitrary-stateful operators trip Spark's static
    * global-watermark correctness check (the generic risk: an upstream
    * stateful op may emit rows a downstream WATERMARK-FILTERING stateful
    * op would discard as late). The gather stage here never discards —
    * NoTimeout, no watermark predicate, it folds whatever arrives — so
    * the flagged failure mode cannot occur, and this method takes the
    * programming-guide escape hatch: it sets
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * on the session (a static-analysis toggle only; it changes no runtime
    * behavior of any query). */
  def nearDupStream(docs: DataFrame, tsCol: String, idCol: String,
      textCol: String, threshold: Double = 0.8, numShingleWords: Int = 3,
      numBands: Int = 8, rowsPerBand: Int = 4,
      watermark: String = "10 minutes",
      retentionMs: Long = 60L * 60 * 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0, 1]")
    require(numBands >= 1 && rowsPerBand >= 1, "bands/rows >= 1")
    val spark = docs.sparkSession
    // safe for THIS operator chain — see the scaladoc CONF paragraph
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    import spark.implicits._
    import org.apache.spark.sql.graft.MinHashShim
    val projected = docs.select(col(idCol).cast("long").as("id"),
      col(tsCol).as("ts"), col(textCol).as("text"))
    // an upstream stage (e.g. curateStream's exact dedup) may already have
    // watermarked the ts column; re-defining it downstream of a stateful
    // operator is disallowed under multiple-stateful-operator propagation
    val base = (if (docs.schema(tsCol).metadata.contains("spark.watermarkDelayMs"))
        projected
      else projected.withWatermark("ts", watermark))
      .withColumn("__sh", MinHashShim.shinglesCol(col("text"), numShingleWords))
    def out(df: DataFrame): DataFrame = df.select(col("id").as(idCol),
      col("ts").as(tsCol), col("text").as(textCol))
    val zeroShingle = base.where(size(col("__sh")) === 0)
    val bucketed = base.where(size(col("__sh")) > 0)
      .withColumn("__sig",
        MinHashShim.minhashCol(col("__sh"), numBands * rowsPerBand))
      .select(col("id"), col("ts"), col("text"),
        transform(col("__sh"), s => xxhash64(s)).as("sh"),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)), b =>
          xxhash64(array_join(transform(
            slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string")), ","), b)))
          .as(Seq("band", "bucket")))
      .as[NearDupBucketRow]
    val verdicts = bucketed.groupByKey(r => (r.band, r.bucket))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), rows: Iterator[NearDupBucketRow],
            state: GroupState[NearDupBucketState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            val buf = scala.collection.mutable.ArrayBuffer.empty[NearDupEntry]
            state.getOption.foreach(_.entries
              .foreach(e => if (e.tsMs + retentionMs > wm) buf += e))
            val outRows = rows.toSeq.sortBy(r => (r.ts.getTime, r.id)).map { r =>
              val hit = buf.exists(e =>
                e.docId != r.id && hashSetJaccard(e.sh, r.sh) >= threshold)
              buf += NearDupEntry(r.id, r.ts.getTime, r.sh)
              NearDupVerdict(r.id, r.ts, r.text, hit)
            }
            state.update(NearDupBucketState(buf.toSeq))
            state.setTimeoutTimestamp(
              math.max(buf.iterator.map(_.tsMs).max + retentionMs, wm + 1))
            outRows.iterator
          }
        })
    val survivors = verdicts.groupByKey(_.id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (id: Long, rows: Iterator[NearDupVerdict],
            state: GroupState[NearDupGatherState]) => {
          val prior = state.getOption.getOrElse(NearDupGatherState(0, false, 0L, ""))
          var seen = prior.seen
          var hit = prior.hit
          var tsMs = prior.tsMs
          var text = prior.text
          rows.foreach { v =>
            seen += 1; hit = hit || v.hit; tsMs = v.ts.getTime; text = v.text
          }
          if (seen >= numBands) {
            if (state.exists) state.remove()
            if (hit) Iterator.empty
            else Iterator.single(NearDupOut(id, new Timestamp(tsMs), text))
          } else { state.update(NearDupGatherState(seen, hit, tsMs, text)); Iterator.empty }
        })
    out(survivors.toDF()).unionByName(out(zeroShingle))
  }

  /** Exact set Jaccard over two duplicate-free Long arrays (the
    * xxhash64'd shingle sets [[nearDupStream]] stores in bucket state). */
  private[streaming] def hashSetJaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val sa = new java.util.HashSet[Long](a.length * 2)
    a.foreach(x => sa.add(x))
    var inter = 0
    b.foreach(x => if (sa.contains(x)) inter += 1)
    val union = sa.size + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  final case class QuotaDoc(group: String, ts: Timestamp, id: Long,
      nTokens: Long, text: String)
  final case class QuotaState(used: Long, closed: Boolean)
  final case class QuotaOut(group: String, ts: Timestamp, id: Long,
      nTokens: Long, cumTokens: Long, text: String)

  /** Streaming per-group token-budget admission — ingest-time
    * enforcement of a data-mixing budget, the online counterpart of
    * [[graft.ops.TextOps.selectByTokenBudget]]. Batch selection orders
    * by score and takes the best prefix; a stream cannot reorder the
    * future, so admission is ARRIVAL-ORDER PREFIX semantics: docs are
    * admitted while the group's running total stays ≤ `budgetTokens`
    * (inclusive, the batch op's boundary rule); the first doc that
    * would overflow CLOSES the group — nothing later is admitted, even
    * if it would fit. (Skip-and-continue would admit a different SET
    * than the batch prefix on the same order; closing keeps
    * stream == batch-prefix parity exact, which the spec pins across
    * micro-batches.)
    *
    * State = one (used, closed) pair per group — bounded by group
    * cardinality, partitioned across executors by the groupByKey; rows
    * within a micro-batch fold in (ts, id) order. */
  object QuotaAdmission {
    def run(docs: Dataset[QuotaDoc], budgetTokens: Long): Dataset[QuotaOut] = {
      require(budgetTokens > 0, "budgetTokens must be > 0")
      import docs.sparkSession.implicits._
      docs.groupByKey(_.group)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (group: String, rows: Iterator[QuotaDoc], state: GroupState[QuotaState]) => {
            var st = state.getOption.getOrElse(QuotaState(0L, closed = false))
            val out = scala.collection.mutable.Buffer[QuotaOut]()
            rows.toSeq.sortBy(r => (r.ts.getTime, r.id)).foreach { d =>
              if (!st.closed) {
                val cum = st.used + d.nTokens
                if (cum <= budgetTokens) {
                  st = QuotaState(cum, closed = false)
                  out += QuotaOut(group, d.ts, d.id, d.nTokens, cum, d.text)
                } else st = st.copy(closed = true)
              }
            }
            state.update(st)
            out.iterator
          })
    }
  }

  final case class Event(entity: String, ts: Timestamp, yTrue: Int, yPred: Int)
  final case class EpisodeState(startMs: Long, firstDetMs: Long, anyDetected: Boolean)
  final case class Episode(entity: String, startMs: Long, detected: Boolean, delayMs: Long)

  /** G12 online: per-entity episode sessionization. An episode opens on
    * yTrue=1 and closes on the next yTrue=0 event for that entity; emits
    * detection flag and first-detection delay on close. State is one small
    * record per entity with an OPEN episode — bounded by entity
    * cardinality, partitioned across executors by the groupByKey.
    * (A production deployment would add an event-time timeout to close
    * abandoned episodes; ProcessingTimeTimeout keeps the query
    * perpetually re-triggering under processAllAvailable, so the
    * deterministic core stays timeout-free.) */
  object EpisodeDetector {
    def detect(events: Dataset[Event]): Dataset[Episode] = {
      import events.sparkSession.implicits._
      events.groupByKey(_.entity)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (entity: String, rows: Iterator[Event], state: GroupState[EpisodeState]) => {
            val out = scala.collection.mutable.Buffer[Episode]()
            var st = state.getOption
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              (e.yTrue, st) match {
                case (1, None) =>
                  val det = e.yPred == 1
                  st = Some(EpisodeState(e.ts.getTime, if (det) e.ts.getTime else -1L, det))
                case (1, Some(s)) if e.yPred == 1 && !s.anyDetected =>
                  st = Some(s.copy(firstDetMs = e.ts.getTime, anyDetected = true))
                case (0, Some(s)) =>
                  out += Episode(entity, s.startMs, s.anyDetected,
                    if (s.anyDetected) s.firstDetMs - s.startMs else -1L)
                  st = None
                case _ => ()
              }
            }
            st match {
              case Some(s) => state.update(s)
              case None => if (state.exists) state.remove()
            }
            out.iterator
          })
    }
  }

  /** Streaming PSI drift monitor — [[graft.ops.Stats.psi]]'s production
    * deployment shape: fit the bin model ONCE on a batch reference
    * (quantile bounds + Laplace-smoothed reference proportions — a
    * k-bin model, collected to literals), then emit one PSI per
    * event-time window of the stream. The whole stream side is a single
    * watermarked window aggregation with k conditional counters and a
    * literal fold for the PSI formula — no join, no second stateful
    * stage, state bounded by the watermark horizon. Batch parity:
    * a window's PSI equals `Stats.psi(reference ∪ window-slice)` with
    * the same k/alpha (spec-pinned). Returns
    * (window, n, psi) per closed window. */
  def psiStream(stream: DataFrame, tsCol: String, value: Column,
      reference: DataFrame, refValue: Column, k: Int = 10,
      alpha: Double = 0.5, windowDur: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.ops.Stats
    require(k >= 2 && alpha > 0.0, "need k >= 2 and alpha > 0")
    val bounds = Stats.fitQuantileBins(reference, refValue, k)
    val refCounts = reference
      .select(Stats.applyQuantileBins(refValue, bounds).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap // <= k rows
    val nRef = refCounts.values.sum.toDouble
    def p(b: Int): Double =
      (refCounts.getOrElse(b, 0L) + alpha) / (nRef + alpha * k)
    val bin = Stats.applyQuantileBins(value, bounds)
    val cnts = (0 until k).map(b =>
      sum(when(bin === b, 1L).otherwise(0L)).as(s"__c$b"))
    val total = (0 until k).map(b => col(s"__c$b")).reduce(_ + _)
    def psiExpr: Column = (0 until k).map { b =>
      val q = (col(s"__c$b") + lit(alpha)) / (col("__n") + lit(alpha * k))
      (lit(p(b)) - q) * log(lit(p(b)) / q)
    }.reduce(_ + _)
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur))
      .agg(cnts.head, cnts.tail: _*)
      .withColumn("__n", total)
      .select(col("window"), col("__n").as("n"), psiExpr.as("psi"))
  }

  /** Streaming conformal-coverage monitor —
    * [[graft.ops.Stats.conformalFit]]'s production deployment shape:
    * fit the radius q̂ ONCE on a batch calibration set, then audit each
    * event-time window of the live stream for the fraction of rows whose
    * realized y landed inside ŷ ± q̂. Under exchangeability coverage
    * stays ≥ 1 − α; a window dropping below it is the distribution-shift
    * alarm (the supervised complement of [[psiStream]], which watches
    * the INPUT distribution — this watches the model's error
    * distribution). One watermarked window aggregation over pure
    * projections; q̂ ships as a literal, no join, no extra state.
    * Returns (window, n, n_covered, coverage). */
  def coverageStream(stream: DataFrame, tsCol: String, yTrue: Column,
      yPred: Column, qhat: Double, windowDur: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    require(qhat >= 0.0, "need qhat >= 0")
    val covered = abs(yTrue.cast("double") - yPred.cast("double")) <= qhat
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("n"),
        sum(when(covered, 1L).otherwise(0L)).as("n_covered"))
      .select(col("window"), col("n"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n"), 6).as("coverage"))
  }
}
