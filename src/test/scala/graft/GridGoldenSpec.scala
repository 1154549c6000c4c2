package graft

import org.apache.spark.sql.functions._
import graft.model.Scorers
import graft.pipelines.Pipeline1

/** Grid-level golden run (SURVEY §5.2, the round-10 verdict's next
  * step past [[GoldenRunSpec]]'s single cell): a small task × seq_len ×
  * step grid through the [[Pipeline1.runGrid]] driver loop — per-cell
  * failure isolation included (run_pipeline_train_network.py:55-71) —
  * then the whole artifact tree re-ingested through the S8 harvest
  * (harvestJson + flattenStructs, the func_plot.py:648-697 consumer
  * path) and snapshot-diffed against a committed golden file, exact on
  * every field except the wall-clock timings.
  *
  * Regenerating after an INTENDED metric change: run the suite; on
  * mismatch it prints the produced snapshot — copy it into
  * src/test/resources/golden/grid_harvest.txt.
  */
class GridGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val goldenPath =
    java.nio.file.Paths.get("src/test/resources/golden/grid_harvest.txt")

  /** GoldenRunSpec's deterministic power-shaped fixture (overlapping
    * classes so metrics sit in the interior and regressions move them). */
  private lazy val power = {
    val rows = (0 until 1200).map { i =>
      val attack = if ((i / 100) % 3 == 0) "syn-flood" else "none"
      val state = if (i % 2 == 0) "charging" else "idle"
      val base = if (attack == "none") 1.0 else 1.9
      def noise(salt: Long) =
        ((i * 2654435761L + salt * 40503L) % 1000) / 1000.0
      (i.toLong, base + math.sin(i * 0.1) * 0.4 + noise(1) * 5.0,
        base * 2 + math.cos(i * 0.05) * 0.5 + noise(2) * 9.0, attack, state)
    }
    rows.toDF("t", "current_ma", "power_mw", "Attack", "State")
  }

  /** Wall-clock fields in the flattened harvest: never compared. */
  private val timingFields = Set("metrics_training_time_seconds",
    "metrics_avg_inference_latency_per_window_sec")

  test("grid run: one poisoned cell fails in isolation, the harvested " +
    "artifact tree matches the committed golden snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft_grid").toString
    // 2×1×{2 seq lens} grid plus a POISON cell: seq_len far beyond the
    // row count yields zero windows — the cell must fail WITHOUT
    // killing the sweep or leaving artifacts behind
    val cells = Pipeline1.runGrid(spark, power, Seq("current_ma", "power_mw"),
      "Attack", "State", Seq(col("t")),
      tasks = Seq("binary"),
      scorers = Seq("logit" -> Scorers.Logistic(maxIter = 30)),
      seqLens = Seq(10, 20, 100000), stepsFor = l => Seq(l / 2),
      outputRoot = Some(root),
      base = Pipeline1.Config(fprTarget = 0.05))
    assert(cells.length == 3)
    val byName = cells.map(c => c.name -> c).toMap
    assert(byName("binary_logit_seq10_step5").outcome.isSuccess)
    assert(byName("binary_logit_seq20_step10").outcome.isSuccess)
    assert(byName("binary_logit_seq100000_step50000").outcome.isFailure,
      "the poison cell was expected to fail")
    // it fails in prepare, by name, not inside the scorer's fit
    val poison = byName("binary_logit_seq100000_step50000").outcome.failed.get
    assert(poison.isInstanceOf[IllegalArgumentException], poison.toString)
    assert(poison.getMessage.contains(
      "no train windows for task=binary seqLen=100000 step=50000: the train split has "),
      poison.getMessage)
    // isolation: the failed cell wrote no run directory
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "binary_logit_seq100000_step50000")))

    // S8 harvest of the surviving tree: every *.json under the root,
    // struct-flattened — exactly what the reference's plot consumer
    // re-ingests (func_plot.py:648-697)
    val flat = graft.sources.Sources.flattenStructs(
      graft.sources.Sources.harvestJson(spark, root))
    val runCol = regexp_extract(col("run_dir"), "([^/]+)$", 1)
    // scope to the cell dirs: the S7 encoder/scaler/model artifacts in
    // their subdirectories are JSON too, but the consumer replayed here
    // (func_plot.py:648-697) reads only the metrics/config pairs
    val rows = flat.withColumn("run", runCol)
      .where(!col("run").isin("encoder", "scaler", "model"))
      .collect()
    val snapshot = rows.flatMap { r =>
      val run = r.getAs[String]("run")
      r.schema.fieldNames.toIndexedSeq
        .filter(f => f != "run" && f != "run_dir")
        .filterNot(timingFields)
        .flatMap { f =>
          Option(r.get(r.fieldIndex(f))).map(v => s"$run|$f|$v")
        }
    }.sorted.mkString("\n")

    // timing fields exist and are sane on every metrics row
    rows.filter(r => r.get(r.fieldIndex("metrics_accuracy")) != null)
      .foreach { r =>
        timingFields.foreach { f =>
          val v = r.get(r.fieldIndex(f))
          assert(v != null && v.asInstanceOf[Double] >= 0.0, s"$f = $v")
        }
      }

    assert(java.nio.file.Files.exists(goldenPath),
      s"golden file missing — seed it with the produced snapshot:\n$snapshot")
    val golden = java.nio.file.Files.readString(goldenPath).trim
    assert(snapshot == golden, {
      val g = golden.linesIterator.toSet
      val p = snapshot.linesIterator.toSet
      s"grid harvest drifted.\nonly-in-golden:\n${(g -- p).toSeq.sorted.mkString("\n")}\n" +
        s"only-in-produced:\n${(p -- g).toSeq.sorted.mkString("\n")}\n" +
        s"full produced snapshot:\n$snapshot"
    })
  }
}
