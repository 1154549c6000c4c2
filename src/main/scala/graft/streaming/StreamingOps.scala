package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming analogues of the batch operators (SURVEY §2.6
  * note: the reference is batch/count-based; these are the event-time
  * extensions a production deployment of the same semantics needs).
  *
  *  - [[slidingFeatureWindows]]: W1's event-time form — sliding
  *    window(aggregates) with watermark, per entity.
  *  - [[EpisodeDetector]]: G12's online form — per-entity
  *    flatMapGroupsWithState sessionization emitting (episode start,
  *    first detection, delay) as episodes close.
  */
object StreamingOps {

  /** Sliding event-time feature windows per entity: mean/std/min/max of
    * `valueCol` over `windowDur` sliding by `slideDur`, watermarked —
    * the streaming W1/G6. Late data beyond the watermark is dropped
    * (state is bounded; at 1000 executors state is partitioned by
    * (entity, window) — no global order needed, unlike batch W1). */
  def slidingFeatureWindows(events: DataFrame, tsCol: String, entityCol: String,
      valueCol: String, windowDur: String, slideDur: String,
      watermark: String = "10 seconds"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(entityCol), window(col(tsCol), windowDur, slideDur))
      .agg(
        avg(valueCol).as("mean_value"),
        coalesce(stddev_pop(col(valueCol)), lit(0.0)).as("std_value"),
        min(valueCol).as("min_value"),
        max(valueCol).as("max_value"),
        count(lit(1)).as("n"))

  /** Streaming heavy hitters — the online G10 value_counts: per
    * event-time tumbling window, keys whose count reaches `minCount`.
    * Append mode emits each window's final counts once the watermark
    * passes its end; state is (window × distinct keys), bounded by the
    * watermark horizon. The count is exact per window (not sketched) —
    * at 1000 executors the groupBy partial-aggregates map-side, so the
    * shuffle carries one row per (window, key). */
  def heavyHittersStream(events: DataFrame, tsCol: String, keyCol: String,
      windowDur: String, minCount: Long,
      watermark: String = "10 seconds"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(keyCol), col("n"))

  /** Gap-based sessionization on a stream — the online form of
    * `Sessionize.byGap`, expressed with Spark's native `session_window`
    * (dynamic, merging event-time sessions; a session closes once event
    * time passes its end + watermark). State is one open session per
    * entity, partitioned by key across executors — no global order, no
    * growing state. Emits (entity, session_start, session_end, n_events,
    * sum_value) per closed session. */
  def sessionizeStream(events: DataFrame, tsCol: String, entityCol: String,
      valueCol: String, gap: String, watermark: String = "10 seconds"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(entityCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"), sum(valueCol).as("sum_value"))
      .select(col(entityCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

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

  /** Stream-stream interval join — the online form of
    * [[graft.ops.Joins.rangeJoin]]: every `points` row pairs with the
    * `intervals` rows of the same `key` whose start lies in
    * `(pointTs − windowDur, pointTs]`, i.e. point ∈ [start, start +
    * windowDur). Both sides are watermarked, so the join state Spark
    * buffers (rows awaiting possible matches from the other stream) is
    * evicted once event time passes `watermark + windowDur` — bounded,
    * partitioned by key across executors. Timestamp columns must be named
    * differently on the two sides; the duplicate key column is dropped. */
  def intervalJoin(points: DataFrame, pointTs: String, intervals: DataFrame,
      ivTs: String, key: String, windowDur: String,
      watermark: String = "10 seconds"): DataFrame = {
    require(pointTs != ivTs, "timestamp columns must have distinct names")
    val l = points.withWatermark(pointTs, watermark).alias("l")
    val r = intervals.withWatermark(ivTs, watermark).alias("r")
    l.join(r, expr(
        s"l.$key = r.$key AND l.$pointTs >= r.$ivTs AND l.$pointTs < r.$ivTs + interval $windowDur"))
      .drop(col(s"r.$key"))
  }

  /** LEFT OUTER [[intervalJoin]]: points with no covering interval still
    * emit (interval columns null) — but only once the watermark proves no
    * match can arrive, so unmatched rows surface with watermark latency.
    * Same bounded state as the inner form; Spark requires the time-range
    * condition on both sides for outer stream-stream joins, which the
    * interval predicate supplies. */
  def intervalJoinOuter(points: DataFrame, pointTs: String, intervals: DataFrame,
      ivTs: String, key: String, windowDur: String,
      watermark: String = "10 seconds"): DataFrame = {
    require(pointTs != ivTs, "timestamp columns must have distinct names")
    val l = points.withWatermark(pointTs, watermark).alias("l")
    val r = intervals.withWatermark(ivTs, watermark).alias("r")
    l.join(r, expr(
        s"l.$key = r.$key AND l.$pointTs >= r.$ivTs AND l.$pointTs < r.$ivTs + interval $windowDur"),
      "left_outer")
      .drop(col(s"r.$key"))
  }

  /** Stream-static enrichment: join a stream against a slowly-changing
    * dimension table (labels, user attributes, model thresholds). The
    * static side re-resolves per micro-batch (file-source dims pick up
    * new files) and broadcasts — no stream-side state at all, unlike a
    * stream-stream join. Left join keeps unmatched events flowing. */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  final case class Point(entity: String, ts: Timestamp, x: Double)
  final case class EwmaState(y: Double, lastTsMs: Long)
  final case class EwmaOut(entity: String, tsMs: Long, x: Double, ewma: Double)

  /** Streaming EWMA — the online form of [[graft.ops.Stats.ewma]]: the
    * same `y_1 = x_1; y_t = (1−α)·y + α·x` recurrence carried across
    * micro-batches in per-entity state (2 scalars per entity, partitioned
    * across executors by the groupByKey). Rows WITHIN a micro-batch are
    * folded in event-time order; rows older than the entity's last
    * processed timestamp (late arrivals across batches) are passed
    * through with the CURRENT smoothed value rather than retro-folded —
    * the standard online-smoothing tradeoff, matched by the spec against
    * the batch op on in-order streams. */
  object EwmaStream {
    def run(points: Dataset[Point], alpha: Double): Dataset[EwmaOut] = {
      require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
      import points.sparkSession.implicits._
      val decay = 1.0 - alpha
      points.groupByKey(_.entity)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (entity: String, rows: Iterator[Point], state: GroupState[EwmaState]) => {
            var st = state.getOption
            val out = rows.toSeq.sortBy(_.ts.getTime).map { p =>
              val t = p.ts.getTime
              st match {
                case None =>
                  st = Some(EwmaState(p.x, t))
                case Some(s) if t >= s.lastTsMs =>
                  st = Some(EwmaState(decay * s.y + alpha * p.x, t))
                case Some(_) => () // late row: emit current y, don't fold
              }
              EwmaOut(entity, t, p.x, st.get.y)
            }
            st.foreach(state.update)
            out.iterator
          })
    }
  }

  final case class CusumState(sUp: Double, sDn: Double, lastTsMs: Long)
  final case class CusumOut(entity: String, tsMs: Long, x: Double,
      cusumUp: Double, cusumDn: Double, alarmUp: Boolean, alarmDn: Boolean)

  /** Streaming CUSUM — the online form of [[graft.ops.Stats.cusum]]:
    * the textbook recursion `S⁺ = max(0, S⁺ + x − target − slack)` /
    * `S⁻ = max(0, S⁻ + target − x − slack)` carried across micro-batches
    * in per-entity state (2 scalars + a watermark timestamp per entity —
    * the batch op's prefix-scan trick isn't needed online because the
    * recursion IS the online form). Rows within a micro-batch fold in
    * event-time order; late arrivals (older than the entity's last
    * processed timestamp) emit the current statistics without folding,
    * the same tradeoff [[EwmaStream]] documents. The parity spec pins
    * stream == batch on in-order streams in the exact-integer regime. */
  object CusumStream {
    def run(points: Dataset[Point], target: Double, slack: Double = 0.0,
        threshold: Double = Double.PositiveInfinity): Dataset[CusumOut] = {
      require(slack >= 0.0, "slack must be >= 0")
      import points.sparkSession.implicits._
      points.groupByKey(_.entity)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (entity: String, rows: Iterator[Point], state: GroupState[CusumState]) => {
            var st = state.getOption.getOrElse(CusumState(0.0, 0.0, Long.MinValue))
            val out = rows.toSeq.sortBy(_.ts.getTime).map { p =>
              val t = p.ts.getTime
              if (t >= st.lastTsMs)
                st = CusumState(
                  math.max(0.0, st.sUp + (p.x - target - slack)),
                  math.max(0.0, st.sDn + (target - p.x - slack)), t)
              CusumOut(entity, t, p.x, st.sUp, st.sDn,
                st.sUp > threshold, st.sDn > threshold)
            }
            state.update(st)
            out.iterator
          })
    }
  }

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

  /** Streaming train/test-leak scan — [[graft.ops.Dedup.decontaminate]]'s
    * semantics applied at ingest time: per arriving corpus doc, the count
    * of distinct word n-gram hashes it shares with a STATIC benchmark
    * set. Emits (ts, id, n_shared_grams) for contaminated docs only, as
    * the watermark closes each doc's event time (append mode).
    *
    * Scale shape: the benchmark side collapses to distinct 31-bit gram
    * hashes ONCE (static subplan, broadcast into the stream-static
    * left-semi join — no state); the per-doc distinct is row-local
    * (`array_distinct` over the hashed shingle array, identical collision
    * behavior to batch's (id, hash) distinct); the only stateful operator
    * is the watermarked (ts, id) count over matched grams, whose state is
    * bounded by matches inside the watermark, not by the corpus. Batch
    * parity: run on a batch frame, the same plan reproduces
    * `decontaminate` plus the ts column (spec-pinned). */
  def decontaminateStream(docs: DataFrame, tsCol: String, idCol: String,
      textCol: String, benchmark: DataFrame, benchText: String, n: Int,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.ops.{Dedup, IntHash}
    val benchGrams = benchmark
      .select(explode(Dedup.shingles(col(benchText), n)).as("g"))
      .select(IntHash.stringHash(col("g")).as("h")).distinct()
    docs
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), col(idCol), explode(array_distinct(
        transform(Dedup.shingles(col(textCol), n),
          g => IntHash.stringHash(g)))).as("h"))
      .join(broadcast(benchGrams), Seq("h"), "left_semi")
      .groupBy(col(tsCol), col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
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
  /** Streaming A/B monitor — [[graft.ops.Experiment.abConversion]]'s
    * live-dashboard shape: per event-time window and arm, the UNIT-level
    * totals (units seen, units converted, conversion rate). Chained
    * stateful aggregations: the first windowed agg collapses events to
    * one row per (window, arm, unit) — a late event for a unit that
    * already converted cannot double-count — the second counts units per
    * (window, arm); both keyed on the same event-time window, watermark-
    * bounded state. Feed two arms' rows to the batch z-test for the
    * readout; SRM falls out of comparing n_units across arms. */
  def abConversionStream(stream: DataFrame, tsCol: String, arm: Column,
      unit: Column, isConv: Column, windowDur: String,
      watermark: String): DataFrame = {
    val perUnit = stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur), arm.as("arm"),
        unit.as("unit"))
      .agg(max(isConv.cast("int")).as("conv"))
    perUnit
      .groupBy(window(col("window"), windowDur).as("window"), col("arm"))
      .agg(count(lit(1)).as("n_units"), sum("conv").as("n_converted"))
      .withColumn("rate", col("n_converted") / col("n_units"))
  }

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

  /** Streaming embedding-distribution drift —
    * [[graft.ops.Similarity.embeddingDriftJs]]'s production deployment
    * shape (the embedding twin of [[psiStream]]): train cells and the
    * reference occupancy ONCE on a batch reference corpus (bounded model,
    * collected to literals), then emit one Jensen–Shannon divergence per
    * event-time window of the vector stream. The stream side is a single
    * watermarked window aggregation: per row one native nearest-centroid
    * argmin (same distance/tie contract as the batch assignment — the
    * two regimes are spec-pinned identical), then nCells conditional
    * counters and a literal fold for the JS formula — no join, no second
    * stateful stage, state bounded by the watermark horizon. Batch
    * parity: a window's js equals Σ js_term of
    * `embeddingDriftJs(reference, window-slice)` with the same cell
    * parameters (spec-pinned). Returns (window, n, js) per window;
    * js ∈ [0, ln 2], alarm thresholds are corpus-specific. */
  def embeddingDriftStream(stream: DataFrame, tsCol: String, vec: Column,
      reference: DataFrame, refId: String, refVec: String, nCells: Int,
      iters: Int = 1, byHash: Boolean = true,
      windowDur: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.ops.Similarity
    val centroidData = Similarity.trainIvfCentroids(reference, refId, refVec,
      nCells, iters, byHash).collect()
    require(centroidData.nonEmpty, "reference corpus is empty — no centroids")
    val sorted = centroidData.sortWith((a, b) => Similarity.cellIdLess(a.get(0), b.get(0)))
    val cvecs = sorted.map(_.getSeq[Double](1).toArray)
    val cnorms = sorted.map(_.getDouble(2))
    val nC = sorted.length
    def idxOf(v: Column): Column = graft.functions.VectorFunctions
      .nearestCentroid(v, graft.functions.VectorFunctions.l2norm(v), cvecs, cnorms)
    val refCounts = reference.select(idxOf(col(refVec)).as("i"))
      .groupBy("i").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nRef = refCounts.values.sum.toDouble
    def p(i: Int): Double = refCounts.getOrElse(i, 0L) / nRef
    val idx = idxOf(vec)
    val cnts = (0 until nC).map(i =>
      sum(when(idx === i, 1L).otherwise(0L)).as(s"__c$i"))
    val total = (0 until nC).map(i => col(s"__c$i")).reduce(_ + _)
    val jsExpr: Column = (0 until nC).map { i =>
      val q = col(s"__c$i") / col("__n")
      val m = (lit(p(i)) + q) / 2
      val tp = if (p(i) > 0) lit(p(i)) * log(lit(p(i)) / m) else lit(0.0)
      val tq = when(q > 0, q * log(q / m)).otherwise(lit(0.0))
      (tp + tq) / 2
    }.reduce(_ + _)
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur))
      .agg(cnts.head, cnts.tail: _*)
      .withColumn("__n", total)
      .select(col("window"), col("__n").as("n"), jsExpr.as("js"))
  }

  final case class FunnelEvent(entity: String, ts: Timestamp, step: String)
  final case class FunnelHit(entity: String, stepIdx: Int, tsMs: Long)
  final case class FunnelProgress(idx: Int, t0Ms: Long, lastMs: Long)

  /** Streaming ordered funnel — the online form of [[graft.ops.Stats.funnel]]:
    * per entity, a [[FunnelHit]] is emitted the moment the entity FIRST
    * reaches each step in order (step 0 starts the clock; step k counts
    * only at/after the step-(k−1) time and within `maxSpanMs` of step 0 —
    * exactly the batch op's min-time chaining). State per entity is 3
    * scalars in flatMapGroupsWithState, partitioned across executors by
    * the groupByKey; counting hits per stepIdx downstream reproduces the
    * batch conversion table (FunnelStreamSpec pins equality).
    *
    * Ordering contract (the [[EwmaStream]] convention): rows WITHIN a
    * micro-batch are folded in event-time order; an event arriving in a
    * LATER batch with an earlier timestamp than the entity's current
    * progress cannot rewind the funnel — it can still ADVANCE it if it
    * is timestamped at/after the entity's last step (batch-parity holds
    * on streams that are in order per entity across batches). */
  object FunnelStream {
    def run(events: Dataset[FunnelEvent], steps: Seq[String],
        maxSpanMs: Long): Dataset[FunnelHit] = {
      require(steps.size >= 2, "funnelStream: need at least 2 steps")
      require(steps.distinct.size == steps.size,
        "funnelStream: steps must be distinct")
      require(maxSpanMs > 0, "funnelStream: maxSpanMs must be > 0")
      import events.sparkSession.implicits._
      val stepIdx = steps.zipWithIndex.toMap
      events.groupByKey(_.entity)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout) {
          (entity: String, it: Iterator[FunnelEvent],
              state: GroupState[FunnelProgress]) =>
            // equal-timestamp events fold in FUNNEL order (batch's
            // inclusive __tc >= __t lets step k+1 share step k's instant)
            val sorted = it.toArray.sortBy(e =>
              (e.ts.getTime, stepIdx.getOrElse(e.step, Int.MaxValue)))
            var st = state.getOption.getOrElse(FunnelProgress(-1, 0L, 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (st.idx < 0) {
                if (stepIdx.get(e.step).contains(0)) {
                  st = FunnelProgress(0, t, t)
                  out += FunnelHit(entity, 0, t)
                }
              } else if (st.idx < steps.size - 1
                  && stepIdx.get(e.step).contains(st.idx + 1)
                  && t >= st.lastMs && t <= st.t0Ms + maxSpanMs) {
                st = FunnelProgress(st.idx + 1, st.t0Ms, t)
                out += FunnelHit(entity, st.idx, t)
              }
            }
            state.update(st)
            out.iterator
        }
    }
  }

  final case class TouchEvent(entity: String, t: Long, tie: Long,
      conv: Boolean, label: String, value: Double)
  final case class TouchState(enc: Long, label: String)
  final case class AttributionHit(entity: String, convT: Long, convTie: Long,
      value: Double, touchLabel: Option[String], touchT: Option[Long])

  /** Streaming last-touch attribution — the online form of
    * [[graft.ops.Sessionize.lastTouchAttribution]]: per entity, one
    * [[AttributionHit]] per conversion event, crediting the most recent
    * preceding NON-conversion touch within `lookback` time units (same
    * clock as `t`; null touch = "direct"), ties at one timestamp broken
    * on the largest tie-break id — the batch op's exact credit rule.
    *
    * State per entity is the packed touch key t·2²⁰ + tie (the batch
    * op's encoding, same [0, 2⁴³)×[0, 2²⁰) domain, violations throw)
    * plus its label — two scalars in flatMapGroupsWithState, partitioned
    * across executors by the groupByKey; no timeout, the newest touch
    * must outlive any idle gap.
    *
    * Ordering contract (the [[FunnelStream]] convention): rows WITHIN a
    * micro-batch fold in (t, tie) order. TOUCH updates are
    * order-insensitive even across batches — the state carries the MAX
    * packed key, and max is commutative, so a late-arriving touch folds
    * in correctly unless a conversion it should have credited was
    * already emitted. CONVERSIONS therefore need the stream in order
    * per entity across batches (AttributionStreamSpec pins equality
    * with the batch op across micro-batch splits). */
  object AttributionStream {
    def run(events: Dataset[TouchEvent], lookback: Long): Dataset[AttributionHit] = {
      require(lookback > 0, "attributionStream: lookback must be > 0")
      import events.sparkSession.implicits._
      events.groupByKey(_.entity)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout) {
          (entity: String, it: Iterator[TouchEvent],
              state: GroupState[TouchState]) =>
            val sorted = it.toArray.sortBy(e => (e.t, e.tie))
            var st = state.getOption.getOrElse(TouchState(-1L, null))
            val out = scala.collection.mutable.ArrayBuffer.empty[AttributionHit]
            sorted.foreach { e =>
              require(e.t >= 0 && e.t < (1L << 43)
                  && e.tie >= 0 && e.tie < (1L << 20),
                s"attributionStream: (t, tie) (${e.t}, ${e.tie}) outside " +
                  "[0, 2^43) x [0, 2^20) — coarsen the clock (ms, not us) " +
                  "or wrap the tie-break")
              if (e.conv) {
                // batch face: touch_t decodes from the packed key; the
                // window check rides the decoded t only. The st.enc <
                // convEnc clause keeps the batch op's strict-precedence
                // rule under a violated ordering contract: a conversion
                // replayed or reordered BEHIND a newer touch must never
                // credit that future touch (batch can't — its window is
                // preceding rows only); it degrades to "direct" instead.
                val convEnc = e.t * (1L << 20) + e.tie
                val touchT = st.enc >> 20
                val inWindow = st.enc >= 0 && st.enc < convEnc &&
                  e.t - touchT <= lookback
                out += AttributionHit(entity, e.t, e.tie, e.value,
                  if (inWindow) Option(st.label) else None,
                  if (inWindow) Some(touchT) else None)
              } else {
                val enc = e.t * (1L << 20) + e.tie
                if (enc > st.enc) st = TouchState(enc, e.label)
              }
            }
            state.update(st)
            out.iterator
        }
    }
  }
}
