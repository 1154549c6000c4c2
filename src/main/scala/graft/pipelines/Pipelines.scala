package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{Scorers, WindowScorer}
import graft.ops._

/** End-to-end experiment pipelines composing the operator library —
  * the Spark re-expression of the reference's 4-stage experiment family
  * (SURVEY §0, §3).
  *
  * Stage map (reference → here):
  *  - pipeline1 train:  pipeline_trainingmodels_power.py:78-359 → [[Pipeline1.run]]
  *  - pipeline2 surrogate: pipeline_expl_power.py:55-233 → [[Pipeline2.run]]
  *  - pipeline3A robustness: pipeline_tests_power.py:172-477 → [[Pipeline3.robustness]]
  *  - pipeline3B generalization: pipeline_tests_power.py:484-785 → [[Pipeline3.leaveOneAttackOut]]
  *
  * Every stage is a lazy DataFrame plan that ends in few, small collects.
  * Pipeline 1 per grid key: scan → labels → split (one shuffle) → ONE
  * collected aggregation that fits the label encoder and the scaler →
  * windows (one ordered exchange, cached by one counting job); then per
  * scorer: fit → ONE timed scoring pass whose collected (state slice, y,
  * y_pred) count table yields every test metric on the driver → for
  * binary cells, one collected (split, score) aggregation of the val and
  * test windows yields the val threshold and the test operational cells.
  * metrics.json, the encoder and the scaler are written from the driver;
  * of the artifacts only the MLlib model save runs Spark jobs. Driver
  * loops remain only where each iteration fits a model (grid cells, the
  * (held-out attack, seed) retrains); sweeps that only re-score — 3A's
  * severity grid, 3B's evaluation of every retrained model, the
  * permutation-importance trials — run as one plan each, and the driver
  * reduces their repeats.
  */
object Pipeline1 {

  final case class Config(
      task: String = "binary", // binary | scenario | multiattack
      seqLen: Int = 15,
      step: Int = 1,
      fprTarget: Double = 1e-3,
      hopSeconds: Double = 1.0,
      trainFrac: Double = 0.70,
      valFrac: Double = 0.15)

  /** Wall-clock measurements the reference records into every run's
    * metrics.json (pipeline_trainingmodels_power.py:160-192,328-329;
    * func_test.py:317-327 divides predict wall-clock by n test windows;
    * latency is NaN without test windows, as there — a key [[prepare]]
    * refuses). */
  final case class Timing(
      trainingTimeSeconds: Double,
      avgInferenceLatencyPerWindowSec: Double,
      nTestWindows: Long)

  final case class Result(
      windows: DataFrame,
      scored: DataFrame,
      encoder: DataFrame,
      model: graft.model.WindowModel,
      multiclass: DataFrame,
      confusion: DataFrame,
      operational: Option[BinaryOperational.OperationalMetrics],
      perState: DataFrame,
      timing: Timing,
      scaler: Map[String, (Double, Double)])

  /** The per-key half of [[run]]: everything a (task, seqLen, step) key
    * determines, independent of the scorer — shared by every scorer of a
    * grid key. `windows` is cached and materialized; the owner unpersists
    * it once its last scorer is done. `encoder` is a local table. */
  final case class Prepared(
      windows: DataFrame,
      encoder: DataFrame,
      scaler: Map[String, (Double, Double)])

  /** Labels, encoder, split, scaler and cached windows of one grid key.
    *
    * @param df        input with `attackCol`, `stateCol`, feature columns,
    *                  and a total chronological order given by `orderCols`
    * @param features  numeric feature columns (scaled with train stats)
    */
  def prepare(spark: SparkSession, df: DataFrame, features: Seq[String],
      attackCol: String, stateCol: String, orderCols: Seq[Column],
      config: Config = Config()): Prepared = {

    // 1. labels (P1/P2) + target per task (prepare_labels_for_task,
    //    func_preproc.py:97-125) + task filter (F3)
    val labeled = df
      .withColumn("state_bin", Labels.stateBin(col(stateCol)))
      .withColumn("attack_group", Labels.attackGroup(col(attackCol)))
      .withColumn("label_bin", Labels.binaryLabel(col(attackCol)))
      .na.drop(Seq(attackCol, stateCol))
    val (target, filtered) = config.task match {
      case "binary" => ("label_bin", labeled)
      case "scenario" => ("attack_group",
        labeled.where(lower(trim(col("attack_group"))) =!= "none"))
      case "multiattack" => (attackCol,
        labeled.where(!lower(trim(col(attackCol))).isin(Labels.BenignLike: _*)))
      case other => throw new IllegalArgumentException(s"unknown task $other")
    }

    // 2. per-(Attack, State) chronological split (G1) — one shuffle
    val split = ChronoSplit.withSplit(filtered, Seq(attackCol, stateCol), orderCols,
      config.trainFrac, config.valFrac)

    // 3. ONE collected aggregation over the split fits both the label
    //    encoder (P9: the distinct classes in Spark's string order, the
    //    order fitLabelEncoder's row_number gives) and the scaler (P10:
    //    mean/std over the train rows only)
    val fits = (array_sort(collect_set(col(target).cast("string"))).as("__classes") +:
      Stats.standardScalerAggs(features, col("split") === "train"))
    val fitted = split.agg(fits.head, fits.tail: _*).head()
    val encoder = Labels.encoderTable(spark, fitted.getSeq[String](0).zipWithIndex)
    val scaler = Stats.standardScalerFrom(fitted, features)

    // 4. encode y (a broadcast join of the local encoder) and standardize
    //    with the train stats
    val scaled = Stats.applyStandardScaler(
      Labels.encodeLabel(split, encoder, target, "y"), scaler)

    // 5. sliding windows per split (W1/W2): label/state/attack from the
    //    window's LAST row; within a split, windows slide over the
    //    concatenated sorted rows (crossing attack/state boundaries — the
    //    spec, SURVEY §7.4.2). All three splits window in ONE pass of the
    //    streaming windower: the split is its segment column, so one range
    //    exchange on (split, order) orders every split at once, win_id
    //    restarts per split, and no window crosses a split boundary.
    val featArray = array(features.map(col): _*)
    val windows = SlidingWindows.slideGlobalStreaming(scaled, orderCols, featArray,
        config.seqLen, config.step, partitionCols = Seq("split"))
      .select(col("split"), col("win_id"), col("window"), col("y"),
        col(attackCol).as("attack"), col(stateCol).as("state"),
        col("state_bin").as("state_bin_last"))
      // cached: every scorer's fit + every metric aggregation re-reads the
      // windows (mirrors the reference persisting windows.npz once).
      // Materialized here, so a scorer's training_time_seconds measures
      // its fit alone (the reference fits on pre-materialized npz arrays,
      // func_models.py:339).
      .cache()
    // the materializing job counts the train and test windows: a key
    // without either fails here, by name, instead of inside every
    // scorer's fit or evaluation
    val n = windows.agg(count(when(col("split") === "train", true)),
      count(when(col("split") === "test", true))).head()
    def requireWindows(nWindows: Long, role: String): Unit = {
      if (nWindows == 0L) windows.unpersist()
      require(nWindows > 0L, s"no $role windows for task=${config.task} " +
        s"seqLen=${config.seqLen} step=${config.step}: the $role split has " +
        s"${split.where(col("split") === role).count()} rows")
    }
    requireWindows(n.getLong(0), "train")
    requireWindows(n.getLong(1), "test")
    Prepared(windows, encoder, scaler)
  }

  /** The per-scorer half of [[run]]: fit `scorer` on the prepared train
    * windows, score every split, and compute the metrics. */
  def fitEvaluate(prepared: Prepared, scorer: WindowScorer,
      config: Config = Config()): Result = {
    val windows = prepared.windows

    // 6. train + score
    val tTrain0 = System.nanoTime()
    val model = scorer.fit(windows.where(col("split") === "train"))
    val trainingTimeSeconds = (System.nanoTime() - tTrain0) / 1e9
    val scored = model.transform(windows)

    // 7. metrics: G9/G13/F10 on test, G16 operational for binary (the
    //    encoder is local: reading it runs no job)
    val classes = prepared.encoder.collect()
    val k = classes.length
    val test = scored.where(col("split") === "test")
    // Inference latency: wall-clock of ONE forced scoring pass over the
    // test windows / their count (func_test.py:317-327). The pass is the
    // metrics' count table — (state slice, y, y_pred) cells, at most 2·k²
    // rows, collected once — and it also sums proba so Catalyst cannot
    // prune the scoring expressions away. Confusion, multiclass and
    // per-state all derive from those cells on the driver.
    val stateSlice = when(col("state_bin_last") >= 0.5, "charging").otherwise("idle")
    val tPred0 = System.nanoTime()
    val cells = MetricsOps.collectCells(test, stateSlice, col("y"), col("y_pred"),
      reads = Seq(element_at(col("proba"), 1)))
    val predSeconds = (System.nanoTime() - tPred0) / 1e9
    val nTestWindows = cells.map(_.n).sum
    val avgLatency =
      if (nTestWindows > 0) predSeconds / nTestWindows else Double.NaN
    val metrics = MetricsOps.tables(windows.sparkSession, cells, StringType, 0 until k)
    val operational =
      if (config.task == "binary" && k == 2) {
        // attack-class proba: class id of "attack" under lexicographic
        // encoding ("attack" < "benign" → id 0)
        val attackId = classes.find(_.getString(0) == "attack")
          .getOrElse(throw new NoSuchElementException("no \"attack\" class in the encoder"))
          .getAs[Int]("y")
        val score = element_at(col("proba"), attackId + 1)
        Some(BinaryOperational.evaluate(
          scored.where(col("split") === "val"),
          test,
          when(col("y") === attackId, 1).otherwise(0), score,
          config.fprTarget, config.hopSeconds))
      } else None

    Result(windows, scored, prepared.encoder, model, metrics.multiclass, metrics.confusion,
      operational, metrics.perGroup,
      Timing(trainingTimeSeconds, avgLatency, nTestWindows), prepared.scaler)
  }

  /** Train pipeline on a labeled time series: [[prepare]] then
    * [[fitEvaluate]]. The caller owns `Result.windows` and may unpersist
    * it when done.
    *
    * @param scorer    pluggable model (SURVEY §2.10)
    */
  def run(spark: SparkSession, df: DataFrame, features: Seq[String],
      attackCol: String, stateCol: String, orderCols: Seq[Column],
      scorer: WindowScorer = Scorers.Logistic(), config: Config = Config()): Result =
    fitEvaluate(prepare(spark, df, features, attackCol, stateCol, orderCols, config),
      scorer, config)

  final case class GridCell(
      name: String,
      task: String,
      model: String,
      seqLen: Int,
      step: Int,
      outcome: scala.util.Try[Result])

  /** Experiment-grid driver with per-cell failure isolation — the
    * reference's entry-point loop (run_pipeline_train_network.py:48-71,
    * run_pipeline_train_power.py:36-73): every task × model × seq_len ×
    * step cell is tried on its own so one bad config cannot kill the
    * sweep, and every run gets its own artifact directory.
    *
    * Per successful cell (when `outputRoot` is set) writes
    * `<root>/<task>_<model>_seq<L>_step<S>/{metrics.json,config.json}` in
    * the `{"metrics": {...}}` / `{"config": {...}}` shape that
    * [[graft.sources.Sources.harvestJson]] + `flattenStructs` re-ingest
    * (S8/J3) — the grid's output is its own harvestable run tree.
    * metrics.json carries the multiclass row plus `training_time_seconds`
    * and `avg_inference_latency_per_window_sec` (NaN-sanitized to null).
    *
    * Prepare once, score many: the grid runs key by key (task → seq_len →
    * step) and [[prepare]]s each key once — labels, encoder, split,
    * scaler and the one-pass windows of all three splits — then fits and
    * evaluates every scorer on it, so the scorers of a key share one
    * `windows` Dataset. A failed prepare fails every cell of its key with
    * that error. The cells come back in task → model → seq_len → step
    * order either way.
    *
    * Memory at grid scale: one window cache is live at a time — each
    * key's cache is released after its last scorer (126 concurrent caches
    * would pin the cluster); a returned Result's `windows` recomputes
    * lazily if re-used. */
  def runGrid(spark: SparkSession, df: DataFrame, features: Seq[String],
      attackCol: String, stateCol: String, orderCols: Seq[Column],
      tasks: Seq[String], scorers: Seq[(String, WindowScorer)],
      seqLens: Seq[Int], stepsFor: Int => Seq[Int] = l => Seq(1, l).distinct,
      outputRoot: Option[String] = None, base: Config = Config()): Seq[GridCell] = {
    val keys = for {
      task <- tasks
      seqLen <- seqLens
      step <- stepsFor(seqLen)
    } yield (task, seqLen, step)
    val byCell = keys.distinct.flatMap { case (task, seqLen, step) =>
      val config = base.copy(task = task, seqLen = seqLen, step = step)
      val prepared = scala.util.Try(
        prepare(spark, df, features, attackCol, stateCol, orderCols, config))
      val cells = scorers.zipWithIndex.map { case ((scorerName, scorer), i) =>
        val name = s"${task}_${scorerName}_seq${seqLen}_step$step"
        val outcome = prepared.map { p =>
          val res = fitEvaluate(p, scorer, config)
          outputRoot.foreach(root =>
            writeArtifacts(java.nio.file.Paths.get(root, name), res, task,
              scorerName, seqLen, step, base.fprTarget))
          res
        }
        outcome.failed.foreach { e =>
          println(s"[runGrid][error] $name failed: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        (task, i, seqLen, step) -> GridCell(name, task, scorerName, seqLen, step, outcome)
      }
      prepared.foreach(_.windows.unpersist(blocking = false))
      cells
    }.toMap
    for {
      task <- tasks
      i <- scorers.indices
      seqLen <- seqLens
      step <- stepsFor(seqLen)
    } yield byCell((task, i, seqLen, step))
  }

  /** One cell's run directory: metrics.json, config.json and the S7
    * artifacts (the reference persists model + encoder + scaler alongside
    * metrics); models that don't expose an MLlib transformer (custom
    * scorers) have nothing portable to save. Everything but the MLlib
    * model is written from the driver: the multiclass row is a local
    * table, so no Spark job renders metrics.json. */
  private[graft] def writeArtifacts(runDir: java.nio.file.Path, res: Result, task: String,
      scorerName: String, seqLen: Int, step: Int, fprTarget: Double): Unit = {
    java.nio.file.Files.createDirectories(runDir)
    val row = res.multiclass.head()
    val metricsDoc = flatJson(row.schema.fieldNames.toSeq.zip(row.toSeq) ++ Seq(
      "training_time_seconds" -> res.timing.trainingTimeSeconds,
      "avg_inference_latency_per_window_sec" -> res.timing.avgInferenceLatencyPerWindowSec,
      "n_test_windows" -> res.timing.nTestWindows))
    java.nio.file.Files.writeString(runDir.resolve("metrics.json"),
      s"""{"metrics": $metricsDoc}""")
    java.nio.file.Files.writeString(runDir.resolve("config.json"),
      s"""{"config": {"task": "$task", "model": "$scorerName", """ +
        s""""seq_len": $seqLen, "step": $step, """ +
        s""""fpr_target": $fprTarget}}""")
    graft.model.ModelIO.saveEncoder(res.encoder, runDir.resolve("encoder").toString)
    graft.model.ModelIO.saveScaler(res.scaler, runDir.resolve("scaler").toString)
    if (res.model.isInstanceOf[graft.model.HasMlModel])
      graft.model.ModelIO.saveModel(res.model, runDir.resolve("model").toString)
  }

  /** A flat row of numbers as the JSON object Spark's writer renders for
    * it after [[graft.sources.Sources.sanitizeDoubles]]: a null, NaN or
    * infinite value omits its field, a double prints as
    * `Double.toString` (Jackson's default), an integer as its digits. */
  private[graft] def flatJson(fields: Seq[(String, Any)]): String =
    fields.collect {
      case (k, d: Double) if java.lang.Double.isFinite(d) => s""""$k":$d"""
      case (k, v @ (_: Long | _: Int)) => s""""$k":$v"""
    }.mkString("{", ",", "}")
}

/** Pipeline2 — surrogate explainability (pipeline_expl_power.py:55-233):
  * per-window G6 summary stats → shallow decision tree imitating the base
  * model; balanced accuracy of the imitation + exported rules. */
object Pipeline2 {
  final case class Result(stats: DataFrame, agreement: DataFrame, rules: String)

  def run(scored: DataFrame, nFeatures: Int, maxDepth: Int = 4): Result = {
    val statCols = (0 until nFeatures).flatMap { j =>
      val s = SlidingWindows.windowFeatureStats(col("window"), j)
      Seq(s("mean").as(s"mean_f$j"), s("std").as(s"std_f$j"),
        s("min").as(s"min_f$j"), s("max").as(s"max_f$j"))
    }
    val names = (0 until nFeatures).flatMap(j =>
      Seq(s"mean_f$j", s"std_f$j", s"min_f$j", s"max_f$j"))
    val stats = scored.select(
      (Seq(col("split"), col("win_id"), col("y"), col("y_pred")) ++ statCols): _*)
    val (tree, apply) = Scorers.surrogateTree(
      stats.where(col("split") === "train"), names, "y_pred", maxDepth)
    val test = apply(stats.where(col("split") === "test"))
    // agreement = surrogate vs base-model predictions (imitation quality)
    val agreement = test.agg(
      avg((col("y_pred_surrogate") === col("y_pred")).cast("double")).as("agreement"),
      avg((col("y_pred_surrogate") === col("y")).cast("double")).as("accuracy_vs_truth"))
    Result(stats, agreement, tree.toDebugString)
  }
}

/** Pipeline3 — robustness (3A) and generalization (3B). Each call ends in
  * one collected aggregation with a row per (configuration, repeat), and
  * the driver reduces the repeats (G7, [[MetricsOps.repeatStats]]); its
  * result is a local table (reading it runs no job). */
object Pipeline3 {

  /** 3A: severity sweep of seeded degradations over the test windows,
    * re-scored per (kind, severity, repeat); G7 mean/std across repeats
    * (70 evaluations in the reference, pipeline_tests_power.py:255-379).
    *
    * ONE plan (SURVEY §3.2): copy every test window once per (kind,
    * severity, rep, seed) of the grid (a literal array, inlined), degrade with
    * column-parameterized severity/seed, score once, and collect the
    * accuracy of every (kind, severity, rep) — at most kinds × nSev ×
    * nRepeats rows — from one aggregation; the driver reduces the repeats
    * and orders the rows by (kind, severity). The data grows by the grid
    * size within the plan (kinds × severities × repeats copies of the
    * test windows — the point: the whole sweep parallelizes across the
    * cluster); batch the kinds or repeats if windows × grid exceeds
    * cluster memory. PipelineSpec keeps the reference's per-evaluation
    * driver loop as the parity oracle. */
  def robustness(scored: DataFrame, model: graft.model.WindowModel,
      kinds: Seq[String] = Seq("packet_loss", "missing_variables"),
      maxSev: Double = 0.6, nSev: Int = 7, nRepeats: Int = 5,
      baseSeed: Long = 123L): DataFrame = {
    kinds.filterNot(Robustness.Kinds.contains).foreach(k =>
      throw new IllegalArgumentException(s"unknown kind $k"))
    val test = scored.where(col("split") === "test")
      .select(col("win_id").cast("long").as("win_id"), col("window"), col("y"))
    val grid = for {
      kind <- kinds
      (sev, rep, seed) <- Robustness.severityGrid(maxSev, nSev, nRepeats, baseSeed)
    } yield struct(lit(kind).as("kind"), lit(sev).as("severity"), lit(rep).as("rep"),
      lit(seed).as("seed"))
    // an empty grid has no evaluations (and an empty array no struct type)
    lazy val degraded = test.select(col("*"), inline(array(grid: _*)))
      .withColumn("window",
        when(col("kind") === "packet_loss",
          Robustness.packetLoss(col("window"), col("win_id"), col("severity"), col("seed")))
        .when(col("kind") === "missing_variables",
          Robustness.missingVariables(col("window"), col("win_id"), col("severity"), col("seed")))
        .when(col("kind") === "clock_offset",
          Robustness.clockOffset(col("window"), col("win_id"), col("severity"), col("seed")))
        .otherwise(
          Robustness.drift(col("window"), col("win_id"), col("severity"), col("seed"))))
    val accuracies = if (grid.isEmpty) Nil else model.transform(degraded)
      .groupBy("kind", "severity", "rep")
      .agg(avg((col("y_pred") === col("y")).cast("double")).as("accuracy"))
      .collect().toSeq
    val rows = accuracies.groupBy(r => (r.getString(0), r.getDouble(1))).toSeq
      .sortWith { case (((ka, sa), _), ((kb, sb), _)) =>
        ka < kb || (ka == kb && MetricsOps.compareDoubles(sa, sb) < 0)
      }
      .map { case ((kind, sev), reps) =>
        val (mean, std) =
          MetricsOps.repeatStats(reps.map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        Row(kind, sev, mean.getOrElse(null), std)
      }
    scored.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("kind", StringType),
      StructField("severity", DoubleType, nullable = false),
      StructField("accuracy_mean", DoubleType),
      StructField("accuracy_std", DoubleType, nullable = false))))
  }

  /** 3B: leave-one-attack-out generalization — drop one attack from
    * train/val windows, retrain, evaluate on (a) windows of the held-out
    * attack, (b) the rest (pipeline_tests_power.py:484-785).
    *
    * `seeds` reproduces the reference's repeat loop
    * (`seeds = [seed + i for i in range(n_repeats)]`,
    * pipeline_tests_power.py:569): each held-out attack is re-trained once
    * per seed via [[graft.model.WindowScorer.seeded]] and the per-repeat
    * accuracies are aggregated mean ± std (ddof=1, 0.0 for a single
    * repeat — G7 semantics). Deterministic scorers (Logistic) make the
    * repeats identical (std 0); stochastic ones (GBT seed, future
    * stand-ins) get real error bars.
    *
    * The fits run one after another; then ONE plan scores the test
    * windows with every (attack, seed) model (a union of their
    * transforms) and one grouped aggregation yields both slices'
    * accuracies of every run — NaN for a slice without windows. Rows come
    * in `attacks` order (one per distinct attack). */
  def leaveOneAttackOut(windows: DataFrame, scorer: WindowScorer,
      attacks: Seq[String], seeds: Seq[Long] = Seq(42L)): DataFrame = {
    val spark = windows.sparkSession
    require(seeds.nonEmpty, "at least one seed")
    val runs = for (held <- attacks; seed <- seeds) yield {
      val train = windows.where(col("split") === "train" && col("attack") =!= held)
      held -> scorer.seeded(seed).fit(train)
    }
    val test = windows.where(col("split") === "test")
    val hit = (col("y_pred") === col("y")).cast("double")
    val accuracies = if (runs.isEmpty) Map.empty[Int, (Double, Double)] else {
      def acc(r: Row, i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      runs.zipWithIndex.map { case ((held, model), k) =>
        model.transform(test).select(lit(k).as("run"),
          when(col("attack") === held, hit).as("held"),
          when(col("attack") =!= held, hit).as("rest"))
      }.reduce(_ unionByName _)
        .groupBy("run").agg(avg("held"), avg("rest"))
        .collect().map(r => r.getInt(0) -> (acc(r, 1), acc(r, 2))).toMap
    }
    val byAttack = runs.indices.groupBy(k => runs(k)._1)
    val rows = attacks.distinct.map { held =>
      val accs = byAttack(held).map(accuracies.getOrElse(_, (Double.NaN, Double.NaN)))
      val (heldMean, heldStd) = MetricsOps.repeatStats(accs.map(a => Some(a._1)))
      val (restMean, restStd) = MetricsOps.repeatStats(accs.map(a => Some(a._2)))
      Row(held, heldMean.get, heldStd, restMean.get, restStd, accs.size.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("held_out_attack", StringType),
      StructField("accuracy_on_held_out", DoubleType),
      StructField("accuracy_on_held_out_std", DoubleType, nullable = false),
      StructField("accuracy_on_rest", DoubleType),
      StructField("accuracy_on_rest_std", DoubleType, nullable = false),
      StructField("n_repeats", LongType, nullable = false))))
  }
}
