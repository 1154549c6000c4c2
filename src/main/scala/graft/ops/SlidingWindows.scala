package graft.ops

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** W1/W2 — sliding sequence windower (SURVEY §2.6), the reference's
  * signature operator.
  *
  * Reference: `make_sequences_from_df_single_class`
  * (func_aux/func_preproc.py:206-247): over the globally time-sorted split,
  * emit windows `rows[start, start+seq_len)` for `start = 0, step, 2·step…`;
  * the label / episode id / per-window Attack/State come from the window's
  * LAST row (func_preproc.py:235-237; W2 at func_preproc.py:458-475).
  * Window-count law: `n_windows = 1 + (n − seq_len) / step`
  * (pipeline_tests_power.py:154). Windows deliberately cross attack/state
  * boundaries — they slide over the concatenated sorted split (SURVEY §7.4.2).
  *
  * Spark-first design: a rows-between window frame
  * `rowsBetween(-(seqLen-1), 0)` + `collect_list`, then keep only rows where
  * `rn >= seqLen && (rn - seqLen) % step == 0`. The current row IS the
  * window end, so label/episode/state columns ride along for free.
  *
  * Scale note (SURVEY §4.2): the reference's order is GLOBAL per split, and
  * `Window.orderBy` without `partitionBy` is a single partition — correct
  * but serial. [[slideGlobal]] therefore accepts partition columns when the
  * caller's semantics allow (per-entity series — the common case at 100 TB:
  * partition by device/user, order by time, windows never cross entities,
  * full parallelism). For the reference's truly-global variant at bench
  * scale, [[slideGlobalStreaming]] range-partitions on the order column
  * and carries each partition's `seqLen-1` tail rows into the next, so no
  * single-partition bottleneck.
  */
object SlidingWindows {

  /** Sliding windows per partition group (the scalable form).
    *
    * Adds: `win_id` (window end's row_number within the group, 1-based),
    * `window` = array of the last `seqLen` values of `features` (oldest
    * first). Rows that are not a window end are dropped.
    */
  def slide(
      df: DataFrame,
      partitionCols: Seq[String],
      orderCols: Seq[Column],
      features: Column,
      seqLen: Int,
      step: Int): DataFrame = {
    require(seqLen >= 1 && step >= 1, "seqLen and step must be >= 1")
    val part =
      if (partitionCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(partitionCols.map(col): _*)
    val w = part.orderBy(orderCols: _*)
    val frame = w.rowsBetween(-(seqLen - 1), 0)
    // win_id is LONG in every windower form (the streaming form emits the
    // 64-bit global index; a 32-bit rank here would overflow first and
    // would make the forms schema-incompatible)
    df.withColumn("win_id", row_number().over(w).cast("long"))
      .withColumn("window", collect_list(features).over(frame))
      .where(col("win_id") >= seqLen &&
        pmod(col("win_id") - seqLen, lit(step)) === 0)
  }

  /** Reference-exact global sliding windows (single total order, one
    * logical sequence). Correct at any scale but serializes the window
    * stage through one partition — use [[slide]] with partition columns or
    * [[slideGlobalStreaming]] when the data is large. */
  def slideGlobal(df: DataFrame, orderCols: Seq[Column], features: Column,
      seqLen: Int, step: Int): DataFrame =
    slide(df, Seq.empty, orderCols, features, seqLen, step)

  /** Materialize order expressions as concrete `__ord_i` columns so both
    * the range exchange and the in-partition comparator see identical,
    * evaluate-once values (an expression like `monotonically_increasing_id`
    * must not be re-evaluated after a shuffle). */
  private def materializeOrder(df: DataFrame, orderCols: Seq[Column]): (DataFrame, Seq[String]) = {
    val names = orderCols.indices.map(i => s"__ord_$i")
    // a `.asc` Column wraps a SortOrder, which is not projectable — unwrap
    val plain = orderCols.map(org.apache.spark.sql.graft.VectorShim.unwrapAscending)
    (plain.zip(names).foldLeft(df) { case (d, (c, n)) => d.withColumn(n, c) }, names)
  }

  /** Ascending nulls-first comparator over the given field positions.
    * Order keys must be atomic `Comparable` types (numeric / string /
    * timestamp — what every call site uses); note Java string order is
    * UTF-16, which diverges from Spark's UTF-8 order only beyond the BMP. */
  private def rowOrdering(ordIdx: Seq[Int]): Ordering[Row] =
    (a: Row, b: Row) => {
      var i = 0; var c = 0
      while (c == 0 && i < ordIdx.length) {
        val (va, vb) = (a.get(ordIdx(i)), b.get(ordIdx(i)))
        c = if (va == null && vb == null) 0
          else if (va == null) -1
          else if (vb == null) 1
          else va.asInstanceOf[Comparable[Any]].compareTo(vb)
        i += 1
      }
      c
    }

  /** The one two-pass core behind [[withGlobalIndex]],
    * [[withRunningTotal]] and [[slideGlobalStreaming]]: a range-partitioned,
    * segmented prefix sum of `weight` (1 per row when absent) in
    * (segment, order) order.
    *
    *  - ONE range exchange on (segment cols, order cols). A segment may
    *    straddle range partitions; partitions are contiguous in
    *    (segment, order), and each segment restarts its sum at 0.
    *  - pass 1 (unsorted — sums are order-independent, so it only streams
    *    the shuffle files): per (partition, segment) the weight sum and,
    *    with `keep > 1`, the `keep−1` order-largest values of `carried`
    *    via a bounded heap (O(n·log keep), O(keep) memory). The driver
    *    chains them per segment into each (partition, segment)'s start:
    *    the sum and the last `keep−1` carried values over ALL its
    *    predecessors (short partitions contribute everything they have).
    *  - pass 2 (shuffle-file reuse): the one in-partition sort, then one
    *    walk keeping the running sum and a ring buffer of the last `keep`
    *    carried values, restarting both at each segment's start.
    *
    * `emit(total, recent)` sees each row's running sum (the row included)
    * and ring buffer (oldest first, the row last) and returns the values
    * of `outFields` to append to the row's own columns, or None to drop
    * the row. Driver/broadcast footprint: `partitions · segments · keep`
    * carried values — the boundary-chaining budget of [[Sessionize]].
    * Partitions are sorted in executor memory — size them via
    * `numPartitions` (the range partitioner balances rows); RDD used
    * deliberately: per-partition imperative logic is the documented
    * exception. */
  private def prefixScan(df: DataFrame, segCols: Seq[String], orderCols: Seq[Column],
      numPartitions: Int, outFields: Seq[StructField], weight: Option[Column] = None,
      carried: Option[Column] = None, keep: Int = 0)(
      emit: (Long, collection.Seq[Any]) => Option[Seq[Any]]): DataFrame = {
    val spark = df.sparkSession
    val width = df.schema.length
    val parts = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val extra = weight.map("__w" -> _.cast("long")) ++ carried.map("__c" -> _)
    val (withOrd, ordNames) = materializeOrder(
      extra.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }, orderCols)
    val keyNames = segCols ++ ordNames
    val ranged = withOrd.repartitionByRange(parts, keyNames.map(col): _*)
    val rdd = ranged.rdd
    val schema = ranged.schema
    val wIdx = if (weight.isDefined) schema.fieldIndex("__w") else -1
    val cIdx = if (carried.isDefined) schema.fieldIndex("__c") else -1
    val segIdx = segCols.map(schema.fieldIndex)
    val ord = rowOrdering(keyNames.map(schema.fieldIndex))
    val tailKeep = math.max(keep - 1, 0)
    def segment(r: Row): Seq[Any] = segIdx.map(r.get)
    def weightOf(r: Row): Long = if (wIdx < 0) 1L else r.getLong(wIdx)

    // pass 1 — per-(partition, segment) sums and tails, no sort
    val stats = rdd.mapPartitionsWithIndex { (i, it) =>
      val acc = mutable.HashMap.empty[Seq[Any], (Array[Long], mutable.PriorityQueue[Row])]
      it.foreach { r =>
        val (sum, heap) = acc.getOrElseUpdate(segment(r),
          (Array(0L), mutable.PriorityQueue.empty[Row](ord.reverse)))
        sum(0) += weightOf(r)
        if (tailKeep > 0) {
          heap.enqueue(r)
          if (heap.size > tailKeep) heap.dequeue()
        }
      }
      acc.iterator.map { case (s, (sum, heap)) =>
        (i, s, sum(0), heap.toArray.sorted(ord).map(_.get(cIdx)))
      }
    }.collect().sortBy(_._1)
    // driver chain, per segment in partition order
    val sums = mutable.HashMap.empty[Seq[Any], Long]
    val tails = mutable.HashMap.empty[Seq[Any], Array[Any]]
    val starts = stats.map { case (i, s, w, t) =>
      val (o, c) = (sums.getOrElse(s, 0L), tails.getOrElse(s, Array.empty[Any]))
      sums(s) = o + w
      tails(s) = (c ++ t).takeRight(tailKeep)
      (i, s) -> (o, c)
    }.toMap
    val startsB = spark.sparkContext.broadcast(starts)

    // pass 2 — the one sort, then the running walk (shuffle-file reuse)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val arr = it.toArray
      java.util.Arrays.sort(arr, ord)
      val recent = new mutable.ArrayDeque[Any](keep + 1)
      var seg: Seq[Any] = null
      var total = 0L
      arr.iterator.flatMap { r =>
        val s = segment(r)
        if (s != seg) {
          seg = s
          val (o, c) = startsB.value((i, s))
          total = o
          recent.clear()
          c.foreach(recent.append)
        }
        total += weightOf(r)
        if (keep > 0) {
          recent.append(r.get(cIdx))
          if (recent.size > keep) recent.removeHead()
        }
        emit(total, recent).map(vs => Row.fromSeq(r.toSeq.take(width) ++ vs))
      }
    }
    spark.createDataFrame(out, StructType(df.schema.fields ++ outFields))
  }

  /** Distributed global row index `out` (1..n in `orderCols` order) — the
    * classic parallel zipWithIndex on [[prefixScan]]: pass 1 counts rows
    * per range partition, pass 2 adds the partition offset to the local
    * position. Both jobs share the one range exchange; NOT cached. With
    * `partitionCols`, every segment (distinct partition-column values) is
    * indexed on its own, from 1 — the union of per-segment calls in one
    * pass. */
  def withGlobalIndex(df: DataFrame, orderCols: Seq[Column], out: String,
      numPartitions: Int = 0, partitionCols: Seq[String] = Nil): DataFrame =
    prefixScan(df, partitionCols, orderCols, numPartitions,
        Seq(StructField(out, LongType, nullable = false))) { (k, _) => Some(Seq(k)) }

  /** Distributed running total `out` of `value` (cast to long) in global
    * `orderCols` order — the running-sum face of [[prefixScan]]. No
    * single-partition cumulative window anywhere. */
  def withRunningTotal(df: DataFrame, orderCols: Seq[Column], value: Column,
      out: String, numPartitions: Int = 0): DataFrame =
    prefixScan(df, Nil, orderCols, numPartitions,
        Seq(StructField(out, LongType, nullable = false)), weight = Some(value)) {
      (total, _) => Some(Seq(total))
    }

  /** The fully-parallel physical form of [[slideGlobal]] — the one scale
    * path, on [[prefixScan]]: the range partitions ARE the chunks, so the
    * whole operator is ONE exchange, ONE in-partition sort, two jobs.
    * Pass 1 collects per-(partition, segment) row counts and the
    * `seqLen−1` tail features each hands on; pass 2 seeds its ring buffer with
    * the broadcast carry-in and emits windows — O(n + windows·T) work, no
    * per-row frame materialization.
    *
    * With `partitionCols`, every segment (distinct partition-column
    * values) is its own global sequence — the union of per-segment
    * [[slideGlobal]] calls in ONE pass: `win_id` restarts at 1 per
    * segment and no window crosses a segment boundary. Byte-equal to
    * [[slideGlobal]] (spec-enforced). */
  def slideGlobalStreaming(df: DataFrame, orderCols: Seq[Column], features: Column,
      seqLen: Int, step: Int, rangePartitions: Int = 0,
      partitionCols: Seq[String] = Nil): DataFrame = {
    require(seqLen >= 1 && step >= 1, "seqLen and step must be >= 1")
    val featType = df.select(features).schema.head.dataType
    prefixScan(df, partitionCols, orderCols, rangePartitions,
        Seq(StructField("win_id", LongType, nullable = false),
          StructField("window", ArrayType(featType), nullable = false)),
        carried = Some(features), keep = seqLen) { (pos, recent) =>
      if (pos >= seqLen && (pos - seqLen) % step == 0) Some(Seq(pos, recent.toSeq))
      else None
    }
  }

  /** G6 — per-window summary stats over the window array, computed with
    * array expressions (no shuffle, no explode): for feature j of an
    * `array<array<double>>` window, mean/std(population)/min/max across the
    * time axis. Ref: summarize_windows_stats, func_aux/func_models.py:351-391. */
  def windowFeatureStats(window: Column, featureIdx: Int): Map[String, Column] = {
    val series = transform(window, r => element_at(r, featureIdx + 1))
    val n = size(window).cast("double")
    val mean = aggregate(series, lit(0.0), (a, x) => a + x) / n
    val var0 = aggregate(series, lit(0.0), (a, x) => a + (x - mean) * (x - mean)) / n
    Map(
      "mean" -> mean,
      "std" -> sqrt(var0),
      "min" -> array_min(series),
      "max" -> array_max(series))
  }
}
