package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** G12 — time-to-detect episode statistics (sessionization).
  *
  * Ref: `compute_ttd_stats`, func_aux/func_test.py:196-249 — scan the
  * window-ordered (y_true, y_pred, episode_id) sequence; an EPISODE is a
  * maximal run of consecutive y_true==1 rows with a constant episode id; an
  * episode is DETECTED if any y_pred==1 occurs inside it, with delay =
  * (first-detection-position − start-position) · hop_seconds.
  *
  * Spark-first at scale: ONE range exchange + in-partition sort, then the
  * classic boundary-chained scan — pass 1 collects a tiny per-partition
  * summary (first/last (y, episode-id) and the internal episode-start
  * count), the driver chains boundaries across partitions (skipping empty
  * ones), pass 2 numbers the islands in parallel with per-partition
  * offsets. No single-partition lag/cumsum stage, no join; the
  * scored-event stream can be huge. (`mapPartitions` is the documented
  * exception for per-partition imperative logic; the shuffle files of the
  * range exchange are reused between the two passes.)
  */
// Serializable: the boundary-chained executor closures call the shared
// `starts` method, which captures the module reference
object Sessionize extends Serializable {

  private final case class PartSummary(i: Int, n: Long, firstYt: Int,
      firstEp: String, lastYt: Int, lastEp: String, internalStarts: Long)

  /** An episode starts at a yt==1 row that doesn't continue a yt==1 run
    * with the same episode id (shared by both regimes of [[episodes]]). */
  private def starts(yt: Int, prevYt: Int, prevEp: String, ep: String,
      isFirstEver: Boolean): Boolean =
    yt == 1 && (isFirstEver || prevYt != 1 || prevEp != ep)

  /** Projected rows under which [[episodes]] scans on the driver
    * ([[LocalRegime]]). */
  private val LocalRows = 1 << 18

  /** Per-episode table: (episode, start_idx, det_idx|null, delay_windows|null).
    * Episode numbering equals the running count of episode starts in
    * global `order` — identical to the gaps-and-islands cumsum form.
    *
    * SMALL-INPUT REGIME (the [[Dedup.connectedComponents]]/
    * [[Graph.pageRank]] split, round 8): the boundary-chained two-pass
    * scan costs ~4 fixed driver actions (probe-free summaries collect +
    * partials + final agg) regardless of volume — multi-second scheduling
    * floor on an sf0.1 input. When the projected (idx, yt, yp, ep) rows
    * fit `LocalRows` (2^18, fetched by [[LocalRegime.collectAtMost]]'s
    * limit-probed collect that early-exits on big inputs — no count job),
    * the probed rows take the exact distributed order from Spark's own
    * `orderBy(idx, ep, yt, yp)` over a local relation (Spark's type
    * ordering, so any orderable idx type behaves identically; the input
    * is not read again) and the identical single scan runs on the
    * driver; the per-episode result (bounded by `LocalRows`)
    * parallelizes back. Larger inputs take the two-pass path unchanged. */
  def episodes(df: DataFrame, order: Column, yTrue: Column, yPred: Column,
      episodeId: Column): DataFrame = {
    val spark = df.sparkSession
    val base = df.select(order.as("idx"), yTrue.cast("int").as("yt"),
      yPred.cast("int").as("yp"), episodeId.cast("string").as("ep"))
    LocalRegime.collectAtMost(base, LocalRows) match {
      case Some(rows) => return localEpisodes(base, rows)
      case None =>
    }
    val parts = spark.sessionState.conf.numShufflePartitions
    // The tiebreakers make the in-partition order a function of row
    // CONTENT, so the two passes below see identical sequences even
    // though each recomputes the sort (shuffle fetch order is not
    // deterministic for equal keys).
    val sorted = base.repartitionByRange(parts, col("idx"))
      .sortWithinPartitions(col("idx"), col("ep"), col("yt"), col("yp"))
    // Both passes NEED the in-partition order (adjacency), so unlike
    // withGlobalIndex the sort can't be hoisted out of either. Do NOT
    // persist the sorted rows: both passes re-read the range exchange's
    // shuffle files (Spark skips the map stage on the second action) and
    // only the in-partition sort re-runs — cheap, linear, and with zero
    // storage-memory footprint. (A MEMORY_AND_DISK cache of the
    // deserialized Rows measured 3.3x SLOWER at 30M rows than the 1.5x
    // data growth from 20M: past the storage fraction it evicts and
    // Java-serializes Row objects to disk — a cliff, not a slope.)
    val rdd = sorted.rdd
    val (ytI, epI) = (sorted.schema.fieldIndex("yt"), sorted.schema.fieldIndex("ep"))

    // pass 1: tiny per-partition summary
    val summaries = rdd.mapPartitionsWithIndex { (i, it) =>
      var n = 0L; var internal = 0L
      var firstYt = 0; var firstEp: String = null
      var prevYt = 0; var prevEp: String = null
      it.foreach { r =>
        val yt = r.getInt(ytI); val ep = r.getString(epI)
        if (n == 0L) { firstYt = yt; firstEp = ep }
        else if (starts(yt, prevYt, prevEp, ep, isFirstEver = false)) internal += 1
        prevYt = yt; prevEp = ep; n += 1
      }
      Iterator(PartSummary(i, n, firstYt, firstEp, prevYt, prevEp, internal))
    }.collect().sortBy(_.i)

    // driver: chain boundaries across (possibly empty) partitions
    // (range partitioner may materialize fewer than `parts` partitions)
    val nParts = rdd.getNumPartitions
    val prevLast = new Array[(Int, String, Boolean)](nParts) // (yt, ep, isFirstEver)
    val offsets = new Array[Long](nParts)
    var carryYt = 0; var carryEp: String = null; var firstEver = true
    var episodesSoFar = 0L
    summaries.foreach { s =>
      prevLast(s.i) = (carryYt, carryEp, firstEver)
      offsets(s.i) = episodesSoFar
      if (s.n > 0) {
        val firstStart = if (starts(s.firstYt, carryYt, carryEp, s.firstEp, firstEver)) 1L else 0L
        episodesSoFar += firstStart + s.internalStarts
        carryYt = s.lastYt; carryEp = s.lastEp; firstEver = false
      }
    }

    // pass 2: number the islands in parallel (cache read) and PARTIALLY
    // aggregate per (episode) inside the scan — rows arrive in idx order,
    // so an episode's first row in this partition carries its local min
    // idx, and the first yp==1 row its local min detection idx. The final
    // shuffle then moves one row per (partition, episode) — episodes that
    // span a partition boundary contribute one partial per side — instead
    // of every attack row. At 100 TB that turns the widest exchange of the
    // operator into a per-episode trickle.
    val (idxI, ypI) = (sorted.schema.fieldIndex("idx"), sorted.schema.fieldIndex("yp"))
    val idxType = sorted.schema("idx").dataType
    val partials = rdd.mapPartitionsWithIndex { (i, it) =>
      var (prevYt, prevEp, isFirst) = prevLast(i)
      var episode = offsets(i)
      var curEpisode = -1L; var curEp: String = null
      var curStart: Any = null; var curDet: Any = null
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      def flush(): Unit =
        if (curEpisode >= 0) { out += Row(curEpisode, curEp, curStart, curDet); () }
      it.foreach { r =>
        val yt = r.getInt(ytI); val ep = r.getString(epI)
        if (starts(yt, prevYt, prevEp, ep, isFirst)) episode += 1
        prevYt = yt; prevEp = ep; isFirst = false
        if (yt == 1) {
          if (episode != curEpisode) {
            flush()
            curEpisode = episode; curEp = ep
            curStart = r.get(idxI); curDet = null
          }
          if (curDet == null && r.getInt(ypI) == 1) curDet = r.get(idxI)
        }
      }
      flush()
      out.iterator
    }
    val schema = StructType(Seq(
      StructField("episode", LongType, nullable = false),
      StructField("ep", sorted.schema("ep").dataType),
      StructField("idx_min", idxType),
      StructField("det_min", idxType)))
    spark.createDataFrame(partials, schema)
      .groupBy("episode")
      .agg(
        first("ep").as("episode_id"),
        min("idx_min").as("start_idx"),
        min("det_min").as("det_idx"))
      .withColumn("delay_windows", col("det_idx") - col("start_idx"))
  }

  /** Driver-side finish for [[episodes]]' small-input regime: the same
    * `starts` scan over the probed rows put in the distributed passes'
    * exact order, producing complete episodes in one sweep (no partition
    * boundaries to chain). `delay_windows` is applied as the same Column
    * expression so result types match the distributed path bit-for-bit. */
  private def localEpisodes(base: DataFrame, probed: Array[Row]): DataFrame = {
    val spark = base.sparkSession
    val rows = spark.createDataFrame(java.util.Arrays.asList(probed: _*), base.schema)
      .orderBy(col("idx"), col("ep"), col("yt"), col("yp")).collect()
    val (idxI, ytI, ypI, epI) = (0, 1, 2, 3)
    var prevYt = 0; var prevEp: String = null; var firstEver = true
    var episode = 0L
    var curEpisode = -1L; var curEp: String = null
    var curStart: Any = null; var curDet: Any = null
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    def flush(): Unit =
      if (curEpisode >= 0) { out += Row(curEpisode, curEp, curStart, curDet); () }
    rows.foreach { r =>
      val yt = r.getInt(ytI); val ep = r.getString(epI)
      if (starts(yt, prevYt, prevEp, ep, firstEver)) episode += 1
      prevYt = yt; prevEp = ep; firstEver = false
      if (yt == 1) {
        if (episode != curEpisode) {
          flush()
          curEpisode = episode; curEp = ep
          curStart = r.get(idxI); curDet = null
        }
        if (curDet == null && r.getInt(ypI) == 1) curDet = r.get(idxI)
      }
    }
    flush()
    val idxType = base.schema("idx").dataType
    val schema = StructType(Seq(
      StructField("episode", LongType, nullable = false),
      StructField("episode_id", base.schema("ep").dataType),
      StructField("start_idx", idxType),
      StructField("det_idx", idxType)))
    spark.createDataFrame(java.util.Arrays.asList(out.toArray: _*), schema)
      .withColumn("delay_windows", col("det_idx") - col("start_idx"))
  }

  /** TTD summary row: episodes_total, episodes_detected, avg_ttd_seconds. */
  def ttdStats(df: DataFrame, order: Column, yTrue: Column, yPred: Column,
      episodeId: Column, hopSeconds: Double): DataFrame =
    episodes(df, order, yTrue, yPred, episodeId)
      .agg(
        count(lit(1)).as("episodes_total"),
        count(col("det_idx")).as("episodes_detected"),
        avg(col("delay_windows") * hopSeconds).as("avg_ttd_seconds"))

  /** Generic inactivity-gap sessionization per key: a new session starts
    * at a key's first event and whenever the time since the key's
    * previous event exceeds `gap` (same time unit as `t`). Adds
    * `session_id` (1-based per key).
    *
    * Unlike [[episodes]]' single global sequence, the order here is
    * per-key, so a plain PARTITIONED window (lag + running sum of session
    * starts) is already the scale shape — work fans out across keys, no
    * boundary chaining needed. Equal timestamps within a key are
    * order-insensitive: dt = 0 never opens a session, so every equal-t
    * row lands in the same session whichever sorts first. */
  def byGap(df: DataFrame, key: Column, t: Column, gap: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(t)
    val prev = lag(t, 1).over(w)
    df.withColumn("__new",
        when(prev.isNull || (t - prev) > gap, 1L).otherwise(0L))
      .withColumn("session_id",
        sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("__new")
  }

  /** Last-touch conversion attribution — the standard marketing-
    * analytics credit rule: each conversion event credits the most
    * recent NON-conversion event of the same entity within `lookback`
    * time units (same clock as `t`); conversions with no touch in the
    * window report a null touch ("direct"). Ties at one timestamp break
    * on the largest tie-break id — deterministic end to end.
    *
    * Shape: one window pass over (key, t, tie)-ordered events — the max
    * over preceding rows of an encoded (ts, tie) key for touch rows
    * (null-safe: max ignores the conversion rows' nulls), then ONE
    * equi-join back on the encoded key to fetch the touch's label. At
    * 100 TB both the window and the join are partitioned by the entity
    * key — no global sort, no skew beyond the entity's own history.
    * The (t, tie) pair is packed into one long, t·2²⁰ + tie, so the
    * window max and the join key stay a single comparable integer; that
    * needs t < 2⁴³ and 0 ≤ tie < 2²⁰ — epoch-MILLISECOND clocks fit to
    * year 2248 (pass µs clocks as `t / 1000`), and violations raise at
    * runtime rather than mis-attribute. Returns one row per conversion:
    * (key, conv_t, conv_tie, value, touch_label, touch_t — null when
    * unattributed). */
  def lastTouchAttribution(df: DataFrame, key: Column, t: Column,
      tie: Column, isConversion: Column, label: Column, value: Column,
      lookback: Long): DataFrame = {
    require(lookback > 0, "lookback must be > 0")
    val base = df.select(key.as("k"), t.cast("long").as("t"),
      tie.cast("long").as("tie"),
      isConversion.cast("boolean").as("conv"), label.as("label"),
      value.cast("double").as("value"))
    val enc = when(
      col("t") >= 0 && col("t") < lit(1L << 43)
        && col("tie") >= 0 && col("tie") < lit(1L << 20),
      col("t") * (1L << 20) + col("tie"))
      .otherwise(raise_error(concat(lit("lastTouchAttribution: (t, tie) ("),
        col("t"), lit(", "), col("tie"),
        lit(") outside [0, 2^43) x [0, 2^20) — coarsen the clock (ms, " +
          "not us) or wrap the tie-break"))))
    // the window orders by the CHECKED packed key (monotone in (t, tie),
    // so the order is identical) — this makes the range check fire on
    // EVERY row, conversions included (a malformed conversion must
    // raise too, not pass silently)
    val checked = base.withColumn("__enc", enc)
    val w = Window.partitionBy("k").orderBy(col("__enc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // ONE window pass carries both the touch key and its label:
    // max/max_by ignore null ordering keys, so conversion rows never
    // count as touches. Joining the touch table back on the encoded key
    // instead costs a second corpus-sized shuffle (measured 176 s vs
    // ~90 s at 100M events); the label rides the same window for free.
    // touch_t decodes arithmetically from the packed key.
    val convs = checked
      .withColumn("__touch_enc", max(when(!col("conv"), col("__enc"))).over(w))
      .withColumn("__touch_label",
        max_by(when(!col("conv"), col("label")),
          when(!col("conv"), col("__enc"))).over(w))
      .where(col("conv"))
    convs
      // shiftright, not "/": long/long is DOUBLE division in non-ANSI
      // Spark, and enc exceeds 2^53 for ms clocks past ~2255... and,
      // more to the point, exactness should never ride a double
      .withColumn("__touch_t", shiftright(col("__touch_enc"), 20))
      .withColumn("in_window", col("__touch_enc").isNotNull
        && col("t") - col("__touch_t") <= lookback)
      .select(col("k"), col("t").as("conv_t"), col("tie").as("conv_tie"),
        col("value"),
        when(col("in_window"), col("__touch_label")).as("touch_label"),
        when(col("in_window"), col("__touch_t")).as("touch_t"))
  }

  /** First-order Markov transition matrix over per-entity event
    * sequences (the user-journey model behind funnel/attribution — what
    * [[byGap]] sessionizes, this summarizes): for each entity, order
    * events by (t, tie) and count state→next-state transitions; report
    * each (cur, nxt) with its count and the row-conditional probability
    * P(nxt | cur) = n / Σ_cur n. Returns (cur, nxt, n, p), ordered.
    *
    * Scale shape: ONE entity-partitioned window (lead) — transitions
    * never leave the entity's partition — then a map-side-combined
    * groupBy over the bounded state×state grid; the per-cur normalizer
    * is a window over that grid. The tie-break column makes the
    * sequence (and thus every count) engine-exact under equal
    * timestamps. NULL (t, tie) rows are dropped before the window —
    * Spark sorts NULLs first and DuckDB last, so an unfiltered NULL
    * would move silently between sequence positions across engines
    * (the same divergence class the DeLong AUC fix guards against). */
  def markovTransitions(df: DataFrame, entity: Column, t: Column,
      tie: Column, state: Column): DataFrame = {
    val w = Window.partitionBy("__e").orderBy(col("__t"), col("__tie"))
    val trans = df.select(entity.as("__e"), t.as("__t"), tie.as("__tie"),
        state.cast("string").as("cur"))
      .where(col("cur").isNotNull && col("__t").isNotNull
        && col("__tie").isNotNull)
      .withColumn("nxt", lead("cur", 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy("cur", "nxt").agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy("cur")
    trans
      .withColumn("p", col("n").cast("double") / sum("n").over(wc))
      .orderBy("cur", "nxt")
  }
}
