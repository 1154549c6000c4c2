package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops.{SlidingWindows, Stats}
import graft.sources.Sources

/** The reference's wide-host-frame path (SURVEY §7.4.8): positional
  * schema over hundreds of event-counter columns, single-pass
  * constant/near-empty detection (chunked), and the column-pruned
  * windowing composition that TOP-K feature selection feeds. */
class WideHostFrameSpec extends SparkSpec {

  private val nCols = 200

  private lazy val csvPath = {
    val dir = Files.createTempDirectory("graft_wide").toFile
    val f = new java.io.File(dir, "host_wide.csv")
    val header = (Seq("time") ++ (0 until nCols).map(i => s"ev$i") ++ Seq("State", "Attack"))
      .mkString(",")
    val rows = (0 until 120).map { r =>
      val vals = (0 until nCols).map { c =>
        if (c % 50 == 7) "9" // constant columns
        else if (c % 50 == 13 && r > 2) "" // near-empty-ish (nulls)
        else ((r * 31 + c * 7) % 100).toString
      }
      (Seq(r.toString) ++ vals ++ Seq(if (r % 2 == 0) "Charging" else "Idle",
        if (r % 10 < 3) "dos" else "none")).mkString(",")
    }
    Files.writeString(f.toPath, (header +: rows).mkString("\n"))
    f.getPath
  }

  test("positional schema: 200 event cols detected, constants dropped in ONE aggregate pass") {
    val (df, eventCols) = Sources.loadHost(spark, csvPath)
    // 4 constant columns at c % 50 == 7 dropped
    assert(eventCols.size == nCols - 4)
    assert(!eventCols.contains("ev7") && !eventCols.contains("ev57"))
    assert(eventCols.contains("ev0"))
    assert(df.schema.fieldNames.contains("state_bin"))
  }

  test("chunked per-column aggregates: batched constant detection equals single-pass") {
    val (df, _) = Sources.loadHost(spark, csvPath)
    val candidates = (0 until nCols).map(i => s"ev$i").filter(df.columns.contains)
    // chunk in batches of 40 columns (the 900-col strategy, SURVEY §4.2)
    val chunked = candidates.grouped(40).flatMap(b => Stats.constantColumns(df, b)).toSeq
    val single = Stats.constantColumns(df, candidates)
    assert(chunked.sorted == single.sorted)
  }

  test("constantColumnsFast == constantColumns on every null/NaN/constant shape (and no Expand in its plan)") {
    import spark.implicits._
    // every shape the min/max law must get right: constant, all-null,
    // all-NaN, NaN+value, null+constant, distinct values, constant
    // string, distinct strings
    val df = Seq(
      (1.0, Option.empty[Double], Double.NaN, Double.NaN, Option(5.0), 1.0, "k", "a"),
      (1.0, Option.empty[Double], Double.NaN, 2.0, Option(5.0), 2.0, "k", "b"),
      (1.0, Option.empty[Double], Double.NaN, 3.0, Option.empty[Double], 3.0, "k", "c"))
      .toDF("const", "all_null", "all_nan", "nan_mix", "null_mix", "vals", "cstr", "vstr")
    val cols = df.columns.toSeq
    val exact = Stats.constantColumns(df, cols).sorted
    val fast = Stats.constantColumnsFast(df, cols).sorted
    assert(fast == exact, s"fast=$fast exact=$exact")
    assert(fast == Seq("all_nan", "all_null", "const", "cstr"), fast)
    // the point of the fast path: NO Expand (the k-countDistinct rewrite
    // is quadratic in width — 900 cols OOMs; min/max is one flat agg)
    val aggs = cols.flatMap(c => Seq(count(col(c)), min(col(c)), max(col(c))))
    val plan = df.agg(aggs.head, aggs.tail: _*).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
  }

  test("constantColumnsFast on signed zeros: {0.0, -0.0} is ONE value — pandas nunique parity") {
    import spark.implicits._
    // Python compares/hashes 0.0 == -0.0, so the reference's
    // nunique(dropna=False) <= 1 calls this column CONSTANT; the
    // string-cast exact form sees "-0.0" != "0.0" — the fast form is
    // the reference-faithful one on this shape (documented divergence)
    val df = Seq((0.0, 1.0), (-0.0, 2.0)).toDF("zeros", "vals")
    assert(Stats.constantColumnsFast(df, Seq("zeros", "vals")) == Seq("zeros"))
  }

  test("TOP-K pruning reaches the scan: windowing only K selected columns") {
    val (df, eventCols) = Sources.loadHost(spark, csvPath)
    val topK = eventCols.take(8) // stand-in for importance-ranked selection
    val feats = array(topK.map(c => col(c).cast("double")): _*)
    val wins = SlidingWindows.slideGlobalStreaming(
      df.select((topK :+ "timestamp").map(col): _*),
      Seq(col("timestamp")), feats, seqLen = 5, step = 5, rangePartitions = 2)
    assert(wins.count() == 24) // 1 + (120-5)/5
    val row = wins.select("window").head().getSeq[scala.collection.Seq[Double]](0)
    assert(row.size == 5 && row.head.size == 8)
    // the executed scan must read only the selected columns (+ order col)
    val scanSchemas = wins.queryExecution.executedPlan.collectLeaves()
      .map(_.schema.fieldNames.toSet)
    assert(scanSchemas.exists(s => s.intersect(topK.toSet).size == 8 &&
      !s.contains(s"ev${nCols - 1}")))
  }
}
