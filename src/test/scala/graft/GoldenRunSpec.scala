package graft

import org.apache.spark.sql.functions._
import graft.model.Scorers
import graft.pipelines.Pipeline1

/** End-to-end golden-run snapshot (SURVEY §5.2, VERDICT r9 #7) — the
  * reference's own artifact discipline: every training run persists a
  * sanitized metrics.json (pipeline_trainingmodels_power.py:323-357) and
  * regressions are caught by diffing it against a known-good run. Here
  * ONE grid cell runs on the deterministic power-shaped fixture and its
  * metrics.json is compared field-by-field against the committed golden
  * file — exact on every metric, tolerance only on the wall-clock fields
  * (training time / per-window latency), which are asserted
  * finite-and-positive instead.
  *
  * Regenerating after an INTENDED metric change: run the suite; on
  * mismatch it prints the produced JSON — copy it into
  * src/test/resources/golden/pipeline1_metrics.json.
  */
class GoldenRunSpec extends SparkSpec {
  import spark.implicits._

  private val goldenPath =
    java.nio.file.Paths.get("src/test/resources/golden/pipeline1_metrics.json")

  /** PipelineSpec's fixture shape (two attacks × two states, shifted
    * feature means) but with deliberately OVERLAPPING classes — hash
    * noise comparable to the mean shift — so the golden metrics sit in
    * the interior (≈0.9, not 1.0) and a scoring/threshold regression
    * actually moves them. Fully deterministic. */
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

  private val timingFields =
    Set("training_time_seconds", "avg_inference_latency_per_window_sec")

  private def parseFlat(json: String, root: String): Map[String, String] = {
    // parse {"metrics": {...}} / {"config": {...}} through Spark's JSON
    // reader (schema-inferred), flatten the one struct level to
    // field -> canonical string (exact for longs/strings; doubles via
    // the shortest round-trip repr the writer used)
    val row = spark.read.json(Seq(json).toDS).select(s"$root.*").head()
    row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
      f -> String.valueOf(row.get(i))
    }.toMap
  }

  test("pipeline1 golden run: metrics.json matches the committed snapshot (timing fields excepted)") {
    val root = java.nio.file.Files.createTempDirectory("graft_golden").toString
    val cells = Pipeline1.runGrid(spark, power, Seq("current_ma", "power_mw"),
      "Attack", "State", Seq(col("t")),
      tasks = Seq("binary"),
      scorers = Seq("logit" -> Scorers.Logistic(maxIter = 30)),
      seqLens = Seq(10), stepsFor = _ => Seq(5),
      outputRoot = Some(root),
      base = Pipeline1.Config(fprTarget = 0.05))
    assert(cells.length == 1 && cells.head.outcome.isSuccess,
      cells.head.outcome.toString)
    val runDir = java.nio.file.Paths.get(root, "binary_logit_seq10_step5")
    val producedJson = java.nio.file.Files.readString(runDir.resolve("metrics.json"))
    val produced = parseFlat(producedJson, "metrics")

    // wall-clock fields: present, finite, non-negative — never compared
    timingFields.foreach { f =>
      val v = produced(f).toDouble
      assert(v >= 0.0 && java.lang.Double.isFinite(v), s"$f = $v")
    }

    assert(java.nio.file.Files.exists(goldenPath),
      s"golden file missing — seed it with the produced metrics:\n$producedJson")
    val golden = parseFlat(java.nio.file.Files.readString(goldenPath), "metrics")
    val keys = (golden.keySet ++ produced.keySet) -- timingFields
    val diffs = keys.toSeq.sorted.flatMap { k =>
      (golden.get(k), produced.get(k)) match {
        case (Some(g), Some(p)) if g == p => None
        case (g, p) => Some(s"$k: golden=$g produced=$p")
      }
    }
    assert(diffs.isEmpty,
      s"golden mismatch:\n${diffs.mkString("\n")}\nfull produced:\n$producedJson")
  }

  test("pipeline1 golden run: config.json replays the cell's exact configuration") {
    val root = java.nio.file.Files.createTempDirectory("graft_golden_cfg").toString
    Pipeline1.runGrid(spark, power, Seq("current_ma", "power_mw"),
      "Attack", "State", Seq(col("t")),
      tasks = Seq("binary"),
      scorers = Seq("logit" -> Scorers.Logistic(maxIter = 30)),
      seqLens = Seq(10), stepsFor = _ => Seq(5),
      outputRoot = Some(root),
      base = Pipeline1.Config(fprTarget = 0.05))
    val cfg = parseFlat(java.nio.file.Files.readString(java.nio.file.Paths
      .get(root, "binary_logit_seq10_step5", "config.json")), "config")
    assert(cfg == Map("task" -> "binary", "model" -> "logit",
      "seq_len" -> "10", "step" -> "5", "fpr_target" -> "0.05"), cfg)
  }
}
