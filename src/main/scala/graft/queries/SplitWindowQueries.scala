package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{ChronoSplit, SlidingWindows, Stats}
import graft.queries.Q._

/** The reference's signature order-dependent operators, bound to the
  * oracle tables: G1 chronological split, W1/W2 sliding windows, G6 window
  * summary stats, G8 time-bin downsample, G17 ACF (SURVEY §2.5/§2.6).
  *
  * `events` plays the time series: `event_type` plays Attack (the split
  * group key), `(ts, event_id)` is the total chronological order.
  */
object SplitWindowQueries {

  private val ord = Seq(col("ts").asc, col("event_id").asc)

  /** Window values as scalar columns w0..w{n-1}: the driver's comparator
    * sorts on every output column, and array cells aren't orderable in
    * pandas — element projection keeps float-exact parity without arrays. */
  private def winCols(n: Int) =
    (0 until n).map(i => col("window")(i).as(s"w$i"))
  private def winColsSql(n: Int) =
    (0 until n).map(i => s""""window"[${i + 1}] AS w$i""").mkString(", ")

  val queries: Map[String, QueryFn] = Map(
    "g1_chrono_split" -> ((s, dir) => {
      // Per-group 70/15/15 chronological split → per-(group, split) counts
      // plus boundary proof: min/max event_id per split within each group.
      val ev = table(s, dir, "events")
      ChronoSplit.withSplit(ev, Seq("event_type"), ord)
        .groupBy("event_type", "split")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type", "split")
    }),

    "g1_chrono_split_salted" -> ((s, dir) => {
      // The skew-immune physical form of G1 (salted two-phase
      // row_number): same semantics, same oracle — the monster-group
      // plan the 100 TB split runs when one (Attack, State) pair
      // dominates. ts→double is injective at micros precision, so the
      // bucket salt preserves the (ts, event_id) total order exactly.
      val ev = table(s, dir, "events")
      ChronoSplit.withSplitSalted(ev, Seq("event_type"), col("ts"),
          Seq(col("event_id")), buckets = 8)
        .groupBy("event_type", "split")
        .agg(count(lit(1)).as("n"), min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type", "split")
    }),

    "w1_sliding_windows" -> ((s, dir) => {
      // Global sliding windows seq_len=5 step=7 over the time-sorted
      // events; label = y_true of the window's LAST row (W2). The window
      // column is the raw value series — exact float equality vs the
      // oracle (no arithmetic).
      val ev = scoredEvents(s, dir)
      SlidingWindows.slideGlobal(ev, ord, col("value"), seqLen = 5, step = 7)
        .select(col("win_id").cast("long").as("win_id") +: winCols(5) :+
          col("y_true").as("y") :+ col("event_id").as("end_event_id"): _*)
        .orderBy("win_id")
    }),

    "w1_segmented_parity" -> ((s, dir) => {
      // The form pipeline 1 runs: the streaming windower with a segment
      // column (one range exchange on (segment, order); win_id restarts
      // per segment, no window crosses one) — each event_type is its own
      // global sequence, against a PARTITION BY twin.
      val ev = scoredEvents(s, dir)
      SlidingWindows.slideGlobalStreaming(ev, ord, col("value"), seqLen = 5, step = 7,
          rangePartitions = 8, partitionCols = Seq("event_type"))
        .select(col("event_type") +: col("win_id") +: winCols(5) :+
          col("y_true").as("y") :+ col("event_id").as("end_event_id"): _*)
        .orderBy("event_type", "win_id")
    }),

    "w1_streaming_parity" -> ((s, dir) => {
      // The fully-parallel physical form (distributed global index +
      // iterator ring buffer — no single-partition stage, no per-row
      // frame materialization) against the same oracle as w1.
      val ev = scoredEvents(s, dir)
      SlidingWindows.slideGlobalStreaming(ev, ord, col("value"), seqLen = 5, step = 7,
          rangePartitions = 8)
        .select(col("win_id").cast("long").as("win_id") +: winCols(5) :+
          col("y_true").as("y") :+ col("event_id").as("end_event_id"): _*)
        .orderBy("win_id")
    }),

    "w1_partitioned" -> ((s, dir) => {
      // The per-entity form — windows never cross users, fully parallel
      // with NO global order (the common production shape at 100 TB).
      val ev = scoredEvents(s, dir).where(col("user_id") < 40)
      SlidingWindows.slide(ev, Seq("user_id"), Seq(col("ts").asc, col("event_id").asc),
          col("value"), seqLen = 3, step = 2)
        .select(col("user_id") +: col("win_id").cast("long").as("win_id") +:
          winCols(3) :+ col("event_id").as("end_event_id"): _*)
        .orderBy("user_id", "win_id")
    }),

    "g6_window_stats" -> ((s, dir) => {
      // Per-window summary stats via pure array expressions over the
      // window column (no shuffle) — mean/std(pop)/min/max of the value
      // series per window. Ref: summarize_windows_stats (func_models.py:351-391).
      val ev = scoredEvents(s, dir)
      val wins = SlidingWindows.slideGlobal(ev, ord, array(col("value")), seqLen = 5, step = 7)
      val stats = SlidingWindows.windowFeatureStats(col("window"), 0)
      wins.select(
        col("win_id").cast("long").as("win_id"),
        round(stats("mean"), 4).as("mean_value"),
        round(stats("std"), 4).as("std_value"),
        round(stats("min"), 4).as("min_value"),
        round(stats("max"), 4).as("max_value"))
        .orderBy("win_id")
    }),

    "g8_downsample" -> ((s, dir) => {
      // Tumbling time-bin mean over 1-hour bins of the event stream.
      val ev = table(s, dir, "events")
      Stats.downsample(ev, tsSeconds(col("ts")), col("value"), 3600.0)
        .select(col("bin").cast("long").as("bin"), round(col("mean_value"), 4).as("mean_value"), col("n"))
        .orderBy("bin")
    }),

    "g17_acf" -> ((s, dir) => {
      // Autocorrelation of the value series to lag 5, event_id order.
      val ev = table(s, dir, "events")
      Stats.acf(ev, col("event_id"), col("value"), maxLag = 5)
        .select(col("lag"), round(col("acf"), 6).as("acf"))
        .orderBy("lag")
    }),
  )

  /** Shared by the window-form and salted-form G1 queries: the two
    * physical plans must agree row-for-row, so they face ONE twin. */
  private val g1OracleSql =
      """WITH ranked AS (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |sized AS (
        |  SELECT *, CAST(floor(n * 0.70) AS BIGINT) AS n_train0,
        |            CAST(floor(n * 0.15) AS BIGINT) AS n_val0 FROM ranked),
        |guarded AS (
        |  SELECT *, CASE WHEN n_train0 + n_val0 >= n THEN greatest(1, n_train0) ELSE n_train0 END AS n_train
        |  FROM sized),
        |split AS (
        |  SELECT event_type, event_id,
        |    CASE WHEN rn <= n_train THEN 'train'
        |         WHEN rn <= n_train + (CASE WHEN n_train0 + n_val0 >= n
        |              THEN greatest(0, least(n - n_train - 1, n_val0)) ELSE n_val0 END) THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM guarded)
        |SELECT event_type, split, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
        |FROM split GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val oracle: Map[String, String] = Map(
    "g1_chrono_split" -> g1OracleSql,
    "g1_chrono_split_salted" -> g1OracleSql,

    "w1_sliding_windows" -> w1OracleSql,
    "w1_streaming_parity" -> w1OracleSql,

    "w1_segmented_parity" ->
      s"""SELECT event_type, rn AS win_id, ${winColsSql(5)}, y, event_id AS end_event_id FROM (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
        |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS "window",
        |    y_true AS y
        |  FROM (${Q.scoredEventsSql}) se) t
        |WHERE rn >= 5 AND (rn - 5) % 7 = 0
        |ORDER BY event_type, win_id""".stripMargin,

    "w1_partitioned" ->
      s"""SELECT user_id, rn AS win_id, ${winColsSql(3)}, event_id AS end_event_id FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS "window"
        |  FROM events WHERE user_id < 40) t
        |WHERE rn >= 3 AND (rn - 3) % 2 = 0
        |ORDER BY user_id, win_id""".stripMargin,

    "g6_window_stats" ->
      """SELECT win_id,
        |  round(avg(v), 4) AS mean_value,
        |  round(stddev_pop(v), 4) AS std_value,
        |  round(min(v), 4) AS min_value,
        |  round(max(v), 4) AS max_value
        |FROM (
        |  SELECT rn AS win_id, unnest("window") AS v FROM (
        |    SELECT row_number() OVER (ORDER BY ts, event_id) AS rn,
        |      list(value) OVER (ORDER BY ts, event_id
        |        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS "window"
        |    FROM events) t
        |  WHERE rn >= 5 AND (rn - 5) % 7 = 0) u
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "g8_downsample" ->
      """SELECT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS bin,
        |  round(avg(value), 4) AS mean_value, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "g17_acf" ->
      """WITH c AS (
        |  SELECT value - (SELECT avg(value) FROM events) AS x,
        |    event_id FROM events),
        |l AS (
        |  SELECT x,
        |    lag(x, 1) OVER (ORDER BY event_id) AS x1,
        |    lag(x, 2) OVER (ORDER BY event_id) AS x2,
        |    lag(x, 3) OVER (ORDER BY event_id) AS x3,
        |    lag(x, 4) OVER (ORDER BY event_id) AS x4,
        |    lag(x, 5) OVER (ORDER BY event_id) AS x5
        |  FROM c),
        |s AS (SELECT sum(x*x) AS d, sum(x*x1) AS n1, sum(x*x2) AS n2,
        |             sum(x*x3) AS n3, sum(x*x4) AS n4, sum(x*x5) AS n5 FROM l)
        |SELECT lag, round(acf, 6) AS acf FROM (
        |  SELECT 0 AS lag, 1.0 AS acf FROM s
        |  UNION ALL SELECT 1, n1 / d FROM s
        |  UNION ALL SELECT 2, n2 / d FROM s
        |  UNION ALL SELECT 3, n3 / d FROM s
        |  UNION ALL SELECT 4, n4 / d FROM s
        |  UNION ALL SELECT 5, n5 / d FROM s) t
        |ORDER BY lag""".stripMargin,
  )

  private lazy val w1OracleSql: String =
    s"""SELECT rn AS win_id, ${winColsSql(5)}, y, event_id AS end_event_id FROM (
       |  SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn,
       |    list(value) OVER (ORDER BY ts, event_id
       |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS "window",
       |    y_true AS y
       |  FROM (${Q.scoredEventsSql}) se) t
       |WHERE rn >= 5 AND (rn - 5) % 7 = 0
       |ORDER BY win_id""".stripMargin
}
