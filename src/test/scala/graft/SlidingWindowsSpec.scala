package graft
// (withGlobalIndex / withRunningTotal primitives are specced at the
// bottom of this file alongside the windower laws they power)

import org.apache.spark.sql.functions._
import graft.ops.SlidingWindows

/** W1 laws (SURVEY §5.2): window-count law, last-row labeling, streaming
  * (and segmented) parity, per-window stats. Ref laws: func_preproc.py:206-247,
  * pipeline_tests_power.py:154. */
class SlidingWindowsSpec extends SparkSpec {
  import spark.implicits._

  private def series(n: Int) =
    (1 to n).map(i => (i.toLong, i.toDouble, s"lab$i")).toDF("t", "x", "lab")

  test("window count law: n_windows = 1 + (n - seqLen) / step") {
    for {
      n <- Seq(1, 5, 17, 64)
      seqLen <- Seq(1, 3, 5)
      step <- Seq(1, 2, 7)
      if n >= seqLen
    } {
      val got = SlidingWindows.slideGlobal(series(n), Seq(col("t")), col("x"), seqLen, step).count()
      assert(got == 1 + (n - seqLen) / step, s"n=$n seqLen=$seqLen step=$step")
    }
  }

  test("no windows when n < seqLen") {
    assert(SlidingWindows.slideGlobal(series(3), Seq(col("t")), col("x"), 5, 1).count() == 0)
  }

  test("window content is the trailing seqLen rows; label = last row") {
    val out = SlidingWindows.slideGlobal(series(10), Seq(col("t")), col("x"), 3, 2)
      .select($"win_id", $"window", $"lab").collect().sortBy(_.getLong(0))
    // win ends at rn = 3, 5, 7, 9
    assert(out.map(_.getLong(0)).toSeq == Seq(3L, 5L, 7L, 9L))
    assert(out.head.getSeq[Double](1) == Seq(1.0, 2.0, 3.0))
    assert(out.last.getSeq[Double](1) == Seq(7.0, 8.0, 9.0))
    assert(out.map(_.getString(2)).toSeq == Seq("lab3", "lab5", "lab7", "lab9"))
  }

  test("streaming windower equals single-partition windower on every grid point") {
    val df = series(97).repartition(5)
    for {
      seqLen <- Seq(1, 4, 9)
      step <- Seq(1, 3)
      rangeParts <- Seq(1, 4, 19) // incl. one partition (single-chunk edge)
    } {
      val a = SlidingWindows.slideGlobal(df, Seq(col("t")), col("x"), seqLen, step)
        .select($"win_id".cast("long"), $"window").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      val b = SlidingWindows.slideGlobalStreaming(df, Seq(col("t")), col("x"), seqLen, step,
          rangePartitions = rangeParts)
        .select($"win_id".cast("long"), $"window").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      assert(a.toSeq == b.toSeq, s"seqLen=$seqLen step=$step rangeParts=$rangeParts")
    }
  }

  test("segmented streaming windower equals the union of per-segment slideGlobal") {
    // segment a straddles range partitions, b is shorter than most seqLens,
    // c has one row, d has none (no rows → no windows), the null segment
    // is a segment of its own, and n has null order keys (nulls first,
    // ties broken by k); the input arrives shuffled across partitions
    val sizes = Seq[(String, Int)]("a" -> 97, "b" -> 3, "c" -> 1, "e" -> 40, (null, 25), "n" -> 30)
    val df = sizes.zipWithIndex.flatMap { case ((g, n), gi) =>
      (1 to n).map { i =>
        val t = if (g == "n" && i % 4 == 0) None else Some((i * 3).toLong)
        (g, t, (gi * 1000 + i).toLong, i * 10.0 + gi)
      }
    }.toDF("seg", "t", "k", "x").repartition(5)
    val ord = Seq(col("t"), col("k"))
    val parts = df.repartitionByRange(4, col("seg"), col("t"), col("k"))
      .where(col("seg") === "a").select(spark_partition_id()).distinct().count()
    assert(parts > 1, "segment a must straddle range partitions")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select($"seg", $"win_id", $"window", $"k").collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getSeq[Double](2), r.getLong(3)))
        .sortBy(r => (r._1, r._2))
    for {
      seqLen <- Seq(1, 2, 4, 9)
      step <- Seq(1, 3)
      rangeParts <- Seq(1, 4, 19)
    } {
      val expected = Seq("a", "b", "c", "d", "e", "n", null).flatMap { g =>
        rows(SlidingWindows.slideGlobal(df.where(col("seg") <=> g), ord, col("x"),
          seqLen, step))
      }.sortBy(r => (r._1, r._2))
      val got = rows(SlidingWindows.slideGlobalStreaming(df, ord, col("x"), seqLen, step,
          rangePartitions = rangeParts, partitionCols = Seq("seg")))
      assert(got.toSeq == expected, s"seqLen=$seqLen step=$step rangeParts=$rangeParts")
    }
  }

  test("partitioned slide never crosses group boundaries") {
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0),
      ("b", 4L, 4.0), ("b", 5L, 5.0)).toDF("g", "t", "x")
    val out = SlidingWindows.slide(df, Seq("g"), Seq(col("t")), col("x"), 2, 1)
      .select($"g", $"window").collect()
    val wins = out.map(r => (r.getString(0), r.getSeq[Double](1))).toSet
    assert(wins == Set(("a", Seq(1.0, 2.0)), ("a", Seq(2.0, 3.0)), ("b", Seq(4.0, 5.0))))
  }

  test("windowFeatureStats: mean/std/min/max over the time axis") {
    val df = Seq((1L, Seq(Seq(1.0, 10.0), Seq(3.0, 20.0), Seq(5.0, 30.0))))
      .toDF("id", "window")
    val stats0 = SlidingWindows.windowFeatureStats(col("window"), 0)
    val stats1 = SlidingWindows.windowFeatureStats(col("window"), 1)
    val r = df.select(stats0("mean").as("m0"), stats0("std").as("s0"),
      stats0("min").as("mn0"), stats0("max").as("mx0"), stats1("mean").as("m1")).head()
    assert(approx(r.getDouble(0), 3.0))
    assert(approx(r.getDouble(1), math.sqrt(8.0 / 3))) // population std of 1,3,5
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 5.0)
    assert(approx(r.getDouble(4), 20.0))
  }

  test("withGlobalIndex / withRunningTotal equal their single-partition window forms") {
    import org.apache.spark.sql.expressions.Window
    // shuffled input across several partitions; order key with gaps
    val df = spark.range(0, 500).toDF("n")
      .select((col("n") * 7 % 500).as("o"), (col("n") % 5).cast("long").as("v"))
      .repartition(7)
    val w = Window.orderBy(col("o"))
    val expected = df
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("rt", sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select("o", "i", "rt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val gi = SlidingWindows.withGlobalIndex(df, Seq(col("o")), "i")
    val got = SlidingWindows.withRunningTotal(gi, Seq(col("o")), col("v"), "rt")
      .select("o", "i", "rt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("segmented windower, seqLen 1: win_id equals row_number over partitionBy") {
    import org.apache.spark.sql.expressions.Window
    // three segments (one with null keys) interleaved across the input's
    // partitions; order key with gaps and ties broken by the second key
    val df = spark.range(0, 600).toDF("n")
      .select(
        when(col("n") % 4 === 3, lit(null).cast("string"))
          .otherwise(concat(lit("s"), (col("n") % 4).cast("string"))).as("seg"),
        (col("n") * 7 % 300).as("o"), col("n"))
      .repartition(6)
    val expected = df
      .withColumn("i", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("o"), col("n"))).cast("long"))
      .select("n", "seg", "i").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
    for (parts <- Seq(1, 4, 7)) {
      val got = SlidingWindows.slideGlobalStreaming(df, Seq(col("o"), col("n")), col("n"),
          seqLen = 1, step = 1, rangePartitions = parts, partitionCols = Seq("seg"))
        .select("n", "seg", "win_id").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet
      assert(got == expected, s"rangePartitions=$parts")
    }
  }
}
