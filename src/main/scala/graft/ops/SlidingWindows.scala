package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * scale, [[slideGlobalChunked]] range-partitions on the order column with
  * `seqLen-1` rows of overlap replicated between adjacent chunks via a
  * bounded self-union, so no single-partition bottleneck.
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
    // win_id is LONG in every windower form (chunked/streaming emit the
    // 64-bit global index; a 32-bit rank here would overflow first and
    // makes the forms schema-incompatible)
    df.withColumn("win_id", row_number().over(w).cast("long"))
      .withColumn("window", collect_list(features).over(frame))
      .where(col("win_id") >= seqLen &&
        pmod(col("win_id") - seqLen, lit(step)) === 0)
  }

  /** Reference-exact global sliding windows (single total order, one
    * logical sequence). Correct at any scale but serializes the window
    * stage through one partition — use [[slide]] with partition columns or
    * [[slideGlobalChunked]] when the data is large. */
  def slideGlobal(df: DataFrame, orderCols: Seq[Column], features: Column,
      seqLen: Int, step: Int): DataFrame =
    slide(df, Seq.empty, orderCols, features, seqLen, step)

  /** Global sliding windows without the single-partition cliff.
    *
    * Plan: rank rows globally once (one pass), assign each row to a chunk
    * of `chunkSize` window-ends, and replicate the `seqLen-1` rows that
    * each chunk needs from its predecessor's tail. Each chunk then builds
    * its windows independently with an ordinary partitioned window frame.
    * Cost: one global rank + one narrow duplication of a `(seqLen-1) /
    * chunkSize` fraction of rows — embarrassingly parallel afterwards.
    *
    * With `partitionCols`, every segment (distinct partition-column
    * values) is its own global sequence — the union of per-segment
    * [[slideGlobal]] calls, computed with ONE rank pass: `win_id` restarts
    * at 1 per segment and no window crosses a segment boundary.
    */
  def slideGlobalChunked(
      df: DataFrame,
      orderCols: Seq[Column],
      features: Column,
      seqLen: Int,
      step: Int,
      chunkSize: Int = 65536,
      partitionCols: Seq[String] = Nil): DataFrame = {
    require(chunkSize >= seqLen, "chunkSize must be >= seqLen")
    // global rank via the fused distributed index (round 3) — this form
    // now has NO single-partition stage either; it remains the
    // collect_list-based comparison baseline for the streaming form
    val ranked = withGlobalIndex(df, orderCols, "__rn", partitionCols = partitionCols)
    // Home chunk of each row, plus a copy into the NEXT chunk for rows in
    // the trailing seqLen-1 positions (they seed the next chunk's frames).
    // __rn restarts per segment, so chunks never span two segments.
    val home = ranked.withColumn("__chunk", ((col("__rn") - 1) / chunkSize).cast("long"))
    val tail = ranked
      .where(pmod(col("__rn") - 1, lit(chunkSize)) >= chunkSize - (seqLen - 1))
      .withColumn("__chunk", ((col("__rn") - 1) / chunkSize).cast("long") + 1)
    val chunked = if (seqLen == 1) home else home.unionByName(tail)
    val w = Window.partitionBy((partitionCols.map(col) :+ col("__chunk")): _*)
      .orderBy(col("__rn"))
    chunked
      .withColumn("window", collect_list(features).over(w.rowsBetween(-(seqLen - 1), 0)))
      // A row is a real window end only in its HOME chunk, with a full frame
      // behind it and on the step grid (global __rn = win end position).
      .where(((col("__rn") - 1) / chunkSize).cast("long") === col("__chunk") &&
        col("__rn") >= seqLen &&
        pmod(col("__rn") - seqLen, lit(step)) === 0)
      .withColumnRenamed("__rn", "win_id")
      .drop("__chunk")
  }

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
  private def rowOrdering(ordIdx: Seq[Int]): Ordering[org.apache.spark.sql.Row] =
    (a: org.apache.spark.sql.Row, b: org.apache.spark.sql.Row) => {
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

  /** Distributed global row index — the classic parallel zipWithIndex,
    * fused to a single in-partition sort: range-repartition on the order
    * columns, a count pass that needs NO sort (partition sizes are
    * order-independent, so pass 1 only streams the shuffle files), then one
    * pass that sorts each partition once and emits partition-offset +
    * local-position. Both jobs share the one range exchange (shuffle-file
    * reuse skips the map stage on the second job). NOT cached: nothing is
    * computed twice anymore. Partitions are sorted in executor memory —
    * size them via `numPartitions` (the range partitioner balances rows);
    * RDD used deliberately: per-partition imperative logic is the
    * documented exception (builder brief).
    *
    * With `partitionCols` the index restarts at 1 per segment — equal to
    * `row_number()` over `partitionBy(partitionCols).orderBy(orderCols)`,
    * without the hash exchange that funnels each segment through one task.
    * The range exchange runs on (partition cols, order cols), so a
    * segment may straddle range partitions; pass 1 counts rows per
    * (range partition, segment) and the offsets are prefix sums per
    * segment. With no partition columns the one segment is the empty key
    * and the plan is the plain global index. */
  def withGlobalIndex(df: DataFrame, orderCols: Seq[Column], out: String,
      numPartitions: Int = 0, partitionCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val (withOrd, ordNames) = materializeOrder(df, orderCols)
    val keyNames = partitionCols ++ ordNames
    val ranged = withOrd.repartitionByRange(parts, keyNames.map(col): _*)
    val rdd = ranged.rdd
    val segIdx = partitionCols.map(ranged.schema.fieldIndex)
    def segment(r: Row): Seq[Any] = segIdx.map(r.get)
    // pass 1 — counts per segment, unsorted (order-independent)
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
      val n = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
      it.foreach { r => val s = segment(r); n(s) = n.getOrElse(s, 0L) + 1 }
      n.iterator.map { case (s, c) => (i, s, c) }
    }.collect().sortBy(_._1)
    // offset of (partition, segment) = that segment's rows in earlier
    // partitions (range partitions are contiguous in (segment, order))
    val seen = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
    val offsets: Map[(Int, Seq[Any]), Long] = counts.map { case (i, s, c) =>
      val o = seen.getOrElse(s, 0L)
      seen(s) = o + c
      (i, s) -> o
    }.toMap
    val ord = rowOrdering(keyNames.map(ranged.schema.fieldIndex))
    // pass 2 — the only sort, then index (restarting per segment)
    val indexed = rdd.mapPartitionsWithIndex { (i, it) =>
      val arr = it.toArray
      java.util.Arrays.sort(arr, ord)
      var seg: Seq[Any] = null
      var k = 0L
      arr.iterator.map { r =>
        val s = segment(r)
        if (s != seg) { seg = s; k = offsets((i, s)) }
        k += 1
        Row.fromSeq(r.toSeq :+ k)
      }
    }
    val schema = StructType(ranged.schema.fields :+ StructField(out, LongType, nullable = false))
    df.sparkSession.createDataFrame(indexed, schema).drop(ordNames: _*)
  }

  /** Distributed running total of `value` in global `orderCols` order —
    * the prefix-sum companion of [[withGlobalIndex]], same fused shape:
    * per-partition totals are order-independent (sum is commutative), so
    * pass 1 streams the shuffle files unsorted; pass 2 does the one
    * in-partition sort and adds the partition offset to the local running
    * sum. No single-partition cumulative window anywhere. */
  def withRunningTotal(df: DataFrame, orderCols: Seq[Column], value: Column,
      out: String, numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val (withOrd, ordNames) = materializeOrder(
      df.withColumn("__rt_v", value.cast("long")), orderCols)
    val ranged = withOrd.repartitionByRange(parts, ordNames.map(col): _*)
    val rdd = ranged.rdd
    val vIdx = ranged.schema.fieldIndex("__rt_v")
    val sums = rdd.mapPartitionsWithIndex((i, it) =>
        Iterator((i, it.map(_.getLong(vIdx)).sum)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = sums.scanLeft(0L)(_ + _)
    val ord = rowOrdering(ordNames.map(ranged.schema.fieldIndex))
    val withTotal = rdd.mapPartitionsWithIndex { (i, it) =>
      val arr = it.toArray
      java.util.Arrays.sort(arr, ord)
      var acc = offsets(i)
      arr.iterator.map { r => acc += r.getLong(vIdx); Row.fromSeq(r.toSeq :+ acc) }
    }
    val schema = StructType(ranged.schema.fields :+ StructField(out, LongType, nullable = false))
    df.sparkSession.createDataFrame(withTotal, schema).drop("__rt_v").drop(ordNames: _*)
  }

  /** The fully-parallel physical form of [[slideGlobal]] for long windows
    * and large data — the range partitions ARE the chunks, so the whole
    * operator is ONE exchange, ONE in-partition sort, two jobs:
    *
    *  - pass 1 (unsorted — streams the shuffle files): per-partition row
    *    count + the `seqLen−1` order-largest (order, feature) pairs via a
    *    bounded heap (O(n·log seqLen), O(seqLen) memory). The driver chains
    *    tails across short/empty partitions so each partition knows the
    *    `seqLen−1` feature values that precede it, and prefix-sums the
    *    counts into global offsets.
    *  - pass 2 (shuffle-file reuse): sort each partition once, seed an
    *    iterator ring buffer with the broadcast carry-in, emit windows —
    *    O(n + windows·T) work, no per-row frame materialization, no second
    *    repartition anywhere.
    *
    * Driver/broadcast footprint: `partitions · (seqLen−1)` feature values —
    * the same boundary-chaining budget as [[Sessionize]]. Byte-equal to
    * [[slideGlobal]] (spec-enforced). */
  def slideGlobalStreaming(df: DataFrame, orderCols: Seq[Column], features: Column,
      seqLen: Int, step: Int, rangePartitions: Int = 0): DataFrame = {
    require(seqLen >= 1 && step >= 1, "seqLen and step must be >= 1")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = if (rangePartitions > 0) rangePartitions
      else spark.sessionState.conf.numShufflePartitions
    val (withOrd, ordNames) = materializeOrder(df.withColumn("__feat", features), orderCols)
    val ranged = withOrd.repartitionByRange(parts, ordNames.map(col): _*)
    val rdd = ranged.rdd
    val inSchema = ranged.schema
    val featIdx = inSchema.fieldIndex("__feat")
    val ordIdx = ordNames.map(inSchema.fieldIndex)
    val ord = rowOrdering(ordIdx)
    val tailKeep = seqLen - 1

    // pass 1 — counts + per-partition tail features (no sort: a bounded
    // min-heap keeps the seqLen−1 largest rows by order)
    val infos = rdd.mapPartitionsWithIndex { (i, it) =>
      var n = 0L
      val heap = new scala.collection.mutable.PriorityQueue[Row]()(ord.reverse)
      it.foreach { r =>
        n += 1
        if (tailKeep > 0) {
          heap.enqueue(r)
          if (heap.size > tailKeep) heap.dequeue()
        }
      }
      Iterator((i, n, heap.toArray.sorted(ord).map(_.get(featIdx))))
    }.collect().sortBy(_._1)
    val offsets = infos.map(_._2).scanLeft(0L)(_ + _)
    // driver chain: carry-in for partition i = last seqLen−1 features over
    // ALL predecessors (short partitions contribute everything they have)
    val carries: Array[Array[Any]] = Array.tabulate(infos.length) { i =>
      val acc = scala.collection.mutable.ArrayBuffer.empty[Any]
      var j = i - 1
      while (j >= 0 && acc.length < tailKeep) {
        val t = infos(j)._3
        var k = t.length - 1
        while (k >= 0 && acc.length < tailKeep) { acc += t(k); k -= 1 }
        j -= 1
      }
      acc.reverse.toArray
    }
    val carriesB = spark.sparkContext.broadcast(carries)

    val keepIdx = inSchema.fields.indices.filterNot(i => i == featIdx || ordIdx.contains(i))
    val outSchema = StructType(
      keepIdx.map(inSchema.fields).toArray :+
        StructField("win_id", LongType, nullable = false) :+
        StructField("window", ArrayType(inSchema.fields(featIdx).dataType), nullable = false))

    // pass 2 — the one sort + ring-buffer emit (shuffle-file reuse)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val arr = it.toArray
      java.util.Arrays.sort(arr, ord)
      val buf = new scala.collection.mutable.ArrayDeque[Any](seqLen)
      carriesB.value(i).foreach(buf.append)
      var pos = offsets(i)
      arr.iterator.flatMap { r =>
        pos += 1
        buf.append(r.get(featIdx))
        if (buf.size > seqLen) buf.removeHead()
        if (pos >= seqLen && (pos - seqLen) % step == 0)
          Some(Row.fromSeq(keepIdx.map(r.get) :+ pos :+ buf.toSeq))
        else None
      }
    }
    spark.createDataFrame(out, outSchema)
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
