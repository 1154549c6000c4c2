package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Scorers
import graft.pipelines.{HostImportance, Pipeline1, Pipeline2, Pipeline3}

/** End-to-end pipeline1/2/3 on deterministic power-shaped synthetic data
  * (SURVEY §5.2 golden-run discipline): a separable signal so the scorer
  * must actually learn, plus full determinism across reruns. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** 1200 rows: two attacks × two states, attack rows have shifted
    * feature means (separable), deterministic interleaving. */
  private lazy val power = {
    val rows = (0 until 1200).map { i =>
      val attack = if ((i / 100) % 3 == 0) "syn-flood" else "none"
      val state = if (i % 2 == 0) "charging" else "idle"
      val base = if (attack == "none") 1.0 else 4.0
      (i.toLong, base + math.sin(i * 0.1) * 0.3 + (i % 7) * 0.01,
        base * 2 + math.cos(i * 0.05) * 0.2, attack, state)
    }
    rows.toDF("t", "current_ma", "power_mw", "Attack", "State")
  }

  private lazy val result = Pipeline1.run(
    spark, power, Seq("current_ma", "power_mw"), "Attack", "State",
    Seq(col("t")), Scorers.Logistic(maxIter = 30),
    Pipeline1.Config(task = "binary", seqLen = 10, step = 5, fprTarget = 0.05))

  test("pipeline1: windows carry split/label/state; counts follow the window law per split") {
    val counts = result.windows.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // per split: n_windows = 1 + (n_rows_split - seqLen) / step, with the
    // split row counts from the same chronological split the pipeline ran
    val splitRows = graft.ops.ChronoSplit
      .withSplit(power, Seq("Attack", "State"), Seq(col("t")))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- Seq("train", "val", "test"))
      assert(counts(s) == 1 + (splitRows(s) - 10) / 5, s"split $s")
    assert(result.windows.where(col("y").isNull).count() == 0)
  }

  test("pipeline1: binary task learns the separable signal (accuracy > 0.9 on test)") {
    val acc = result.multiclass.head().getAs[Double]("accuracy")
    assert(acc > 0.9, s"accuracy $acc")
  }

  test("pipeline1: operational doc present for binary; threshold calibrated on val") {
    val op = result.operational.get
    assert(op.tp + op.fn + op.tn + op.fp ==
      result.scored.where(col("split") === "test").count())
    assert(op.threshold >= 0.0 && op.threshold <= 1.0)
    assert(op.fprCiCpHigh >= op.fprCiCpLow)
  }

  test("pipeline1: per-state slices cover charging and idle") {
    val slices = result.perState.select("grp").collect().map(_.getString(0)).toSet
    assert(slices == Set("charging", "idle"))
  }

  test("pipeline1 is deterministic across reruns") {
    val again = Pipeline1.run(
      spark, power, Seq("current_ma", "power_mw"), "Attack", "State",
      Seq(col("t")), Scorers.Logistic(maxIter = 30),
      Pipeline1.Config(task = "binary", seqLen = 10, step = 5, fprTarget = 0.05))
    val a = result.multiclass.head().toSeq
    val b = again.multiclass.head().toSeq
    assert(a == b)
  }

  test("pipeline1 timing: training time and per-window inference latency recorded") {
    val t = result.timing
    assert(t.trainingTimeSeconds >= 0.0 &&
      java.lang.Double.isFinite(t.trainingTimeSeconds))
    assert(t.avgInferenceLatencyPerWindowSec >= 0.0 &&
      java.lang.Double.isFinite(t.avgInferenceLatencyPerWindowSec))
    assert(t.nTestWindows ==
      result.windows.where(col("split") === "test").count())
  }

  test("pipeline1 grid: a poisoned cell fails in isolation; the rest complete and persist artifacts") {
    import graft.model.{WindowModel, WindowScorer}
    // Poisoned config: blows up only when fit sees seqLen-10 windows, so
    // exactly one cell of the 3x2 grid fails (mirrors the reference's
    // try/except-per-cell runner, run_pipeline_train_network.py:55-71).
    final case class PoisonAt(failLen: Int) extends WindowScorer {
      def fit(train: org.apache.spark.sql.DataFrame, wc: String, yc: String): WindowModel = {
        if (train.select(size(col(wc))).head().getInt(0) == failLen)
          throw new IllegalStateException(s"poisoned config seqLen=$failLen")
        Scorers.Logistic(maxIter = 10).fit(train, wc, yc)
      }
    }
    val root = java.nio.file.Files.createTempDirectory("graft_grid").toString
    val cells = Pipeline1.runGrid(spark, power, Seq("current_ma", "power_mw"),
      "Attack", "State", Seq(col("t")),
      tasks = Seq("binary"),
      scorers = Seq("logit" -> Scorers.Logistic(maxIter = 10), "poison" -> PoisonAt(10)),
      seqLens = Seq(8, 10, 12), stepsFor = _ => Seq(5),
      outputRoot = Some(root),
      base = Pipeline1.Config(fprTarget = 0.05))
    assert(cells.length == 6)
    val (ok, bad) = cells.partition(_.outcome.isSuccess)
    assert(bad.map(_.name) == Seq("binary_poison_seq10_step5"))
    ok.foreach { c =>
      val dir = java.nio.file.Paths.get(root, c.name)
      assert(java.nio.file.Files.exists(dir.resolve("metrics.json")), c.name)
      assert(java.nio.file.Files.exists(dir.resolve("config.json")), c.name)
      assert(java.nio.file.Files.exists(dir.resolve("encoder")), c.name)
      assert(java.nio.file.Files.exists(dir.resolve("scaler")), c.name)
      assert(java.nio.file.Files.exists(dir.resolve("model")), c.name)
    }
    // S7 roundtrip out of a grid cell: artifacts reload and re-score
    locally {
      import graft.model.ModelIO
      val cell = java.nio.file.Paths.get(root, ok.head.name)
      val enc = ModelIO.loadEncoder(spark, cell.resolve("encoder").toString)
      assert(enc.count() == 2) // binary task: attack / benign
      val sc = ModelIO.loadScaler(cell.resolve("scaler").toString)
      assert(sc.keySet == Set("current_ma", "power_mw"))
      val m = ModelIO.loadModel(spark, cell.resolve("model").toString)
      val rescored = m.transform(
        ok.head.outcome.get.windows.where(col("split") === "test"))
      assert(rescored.where(col("y_pred").isNull).count() == 0)
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "binary_poison_seq10_step5", "metrics.json")))
    // The grid's run tree is its own S8/J3 surface: harvest + flatten +
    // metrics-config join over run_dir, timing fields finite/non-negative.
    import graft.sources.Sources
    val h = Sources.flattenStructs(Sources.harvestJson(spark, root))
    val m = h.where(col("metrics_training_time_seconds").isNotNull)
      .select(col("run_dir"), col("metrics_training_time_seconds"),
        col("metrics_avg_inference_latency_per_window_sec"))
    val cfg = h.where(col("config_model").isNotNull)
      .select(col("run_dir"), col("config_model"), col("config_seq_len"))
    val joined = m.join(cfg, "run_dir").collect()
    assert(joined.length == 5)
    joined.foreach { r =>
      val t = r.getAs[Double]("metrics_training_time_seconds")
      val l = r.getAs[Double]("metrics_avg_inference_latency_per_window_sec")
      assert(t >= 0.0 && java.lang.Double.isFinite(t))
      assert(l >= 0.0 && java.lang.Double.isFinite(l))
    }
  }

  test("pipeline1 grid: the scorers of one key share its windows; every cell equals a standalone run") {
    val config = Pipeline1.Config(task = "binary", seqLen = 10, step = 5, fprTarget = 0.05)
    val scorers = Seq("logit" -> Scorers.Logistic(maxIter = 30),
      "gbt" -> Scorers.GBT(maxIter = 3, maxDepth = 3))
    val cells = Pipeline1.runGrid(spark, power, Seq("current_ma", "power_mw"),
      "Attack", "State", Seq(col("t")), tasks = Seq("binary"), scorers = scorers,
      seqLens = Seq(10), stepsFor = _ => Seq(5), base = config)
    assert(cells.map(_.name) == Seq("binary_logit_seq10_step5", "binary_gbt_seq10_step5"))
    val results = cells.map(_.outcome.get)
    assert(results(0).windows eq results(1).windows)
    results.zip(scorers).foreach { case (got, (name, scorer)) =>
      val alone = Pipeline1.run(spark, power, Seq("current_ma", "power_mw"),
        "Attack", "State", Seq(col("t")), scorer, config)
      assert(got.multiclass.head().toSeq == alone.multiclass.head().toSeq, name)
      assert(got.confusion.collect().toSet == alone.confusion.collect().toSet, name)
      assert(got.perState.collect().toSet == alone.perState.collect().toSet, name)
      assert(got.operational == alone.operational, name)
      assert(got.timing.nTestWindows == alone.timing.nTestWindows, name)
      alone.windows.unpersist()
    }
  }

  test("pipeline1 grid: a failed prepare fails every cell of its key, and only those") {
    val cells = Pipeline1.runGrid(spark, power, Seq("current_ma", "power_mw"),
      "Attack", "State", Seq(col("t")), tasks = Seq("binary", "no_such_task"),
      scorers = Seq("a" -> Scorers.Logistic(maxIter = 5), "b" -> Scorers.Logistic(maxIter = 6)),
      seqLens = Seq(10), stepsFor = _ => Seq(5),
      base = Pipeline1.Config(fprTarget = 0.05))
    assert(cells.map(_.name) == Seq("binary_a_seq10_step5", "binary_b_seq10_step5",
      "no_such_task_a_seq10_step5", "no_such_task_b_seq10_step5"))
    assert(cells.take(2).forall(_.outcome.isSuccess))
    cells.drop(2).foreach { c =>
      val e = c.outcome.failed.get
      assert(e.isInstanceOf[IllegalArgumentException] && e.getMessage.contains("no_such_task"))
    }
  }

  test("pipeline1 grid: a key with train windows but no test windows fails in prepare, by name") {
    // seqLen 300 > the 180 test rows (per (Attack, State) group: 30, 30,
    // 60, 60) but < the 840 train rows: train windows exist, test ones not
    import graft.model.{WindowModel, WindowScorer}
    var fits = 0
    final case class Counting() extends WindowScorer {
      def fit(train: DataFrame, wc: String, yc: String): WindowModel = {
        fits += 1
        Scorers.Logistic(maxIter = 5).fit(train, wc, yc)
      }
    }
    val cells = Pipeline1.runGrid(spark, power, Seq("current_ma", "power_mw"),
      "Attack", "State", Seq(col("t")), tasks = Seq("binary"),
      scorers = Seq("counting" -> Counting()), seqLens = Seq(300), stepsFor = _ => Seq(300),
      base = Pipeline1.Config(fprTarget = 0.05))
    val e = cells.head.outcome.failed.get
    assert(e.isInstanceOf[IllegalArgumentException], e.toString)
    assert(e.getMessage.contains(
      "no test windows for task=binary seqLen=300 step=300: the test split has 180 rows"),
      e.getMessage)
    assert(fits == 0, "the scorer was fit on a key that cannot be evaluated")
  }

  test("pipeline1 job budget: one binary cell's evaluation and artifact write run at most 7 Spark jobs") {
    import graft.model.{WindowModel, WindowScorer}
    // a precomputed non-MLlib model: scoring is a column expression, so
    // neither its fit nor a model save runs a job
    object Fixed extends WindowModel {
      def transform(df: DataFrame, wc: String): DataFrame = {
        val p = lit(1.0) / (lit(1.0) + exp(-element_at(element_at(col(wc), -1), 1)))
        df.withColumn("proba", array(p, lit(1.0) - p))
          .withColumn("y_pred", Scorers.argmax(col("proba")))
      }
    }
    object FixedScorer extends WindowScorer {
      def fit(train: DataFrame, wc: String, yc: String): WindowModel = Fixed
    }
    val config = Pipeline1.Config(task = "binary", seqLen = 10, step = 5, fprTarget = 0.05)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.ProfileBus.drain(sc)
      val j0 = jobs.get
      body
      org.apache.spark.ProfileBus.drain(sc)
      jobs.get - j0
    }
    sc.addSparkListener(listener)
    try {
      // the cell's jobs: a one-scorer grid of the key minus its prepare
      val prepareJobs = jobsOf {
        Pipeline1.prepare(spark, power, Seq("current_ma", "power_mw"), "Attack", "State",
          Seq(col("t")), config).windows.unpersist(blocking = true)
      }
      val root = java.nio.file.Files.createTempDirectory("graft_budget")
      var cells = Seq.empty[Pipeline1.GridCell]
      val gridJobs = jobsOf {
        cells = Pipeline1.runGrid(spark, power, Seq("current_ma", "power_mw"),
          "Attack", "State", Seq(col("t")), tasks = Seq("binary"),
          scorers = Seq("fixed" -> FixedScorer), seqLens = Seq(10), stepsFor = _ => Seq(5),
          outputRoot = Some(root.toString), base = config)
      }
      assert(cells.head.outcome.isSuccess, cells.head.outcome.toString)
      assert(cells.head.outcome.get.operational.isDefined)
      assert(java.nio.file.Files.exists(root.resolve("binary_fixed_seq10_step5/metrics.json")))
      val cellJobs = gridJobs - prepareJobs
      info(s"cell jobs $cellJobs, prepare jobs $prepareJobs")
      assert(prepareJobs > 0 && cellJobs <= 7,
        s"cell jobs $cellJobs (grid $gridJobs, prepare $prepareJobs)")
    } finally sc.removeSparkListener(listener)
  }

  test("metrics.json is rendered on the driver exactly as Spark's JSON writer renders the row") {
    import graft.sources.Sources
    val rnd = new scala.util.Random(17)
    val edge = Seq(0.0, -0.0, 1.0, 0.1 + 0.2, 1.0 / 3, 2e-3, 1e-7, 1.0e23, 9.999999999999999e22,
      123456789.0, 1e7, 1e-3, Double.MinPositiveValue, Double.MaxValue, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    val values = edge ++ Seq.fill(200)(rnd.nextDouble() * math.pow(10, rnd.nextInt(30) - 15))
    values.grouped(5).foreach { ds =>
      val fields = ds.zipWithIndex.map { case (d, i) => s"f$i" -> d } :+ ("n" -> 35L)
      val row = org.apache.spark.sql.Row.fromSeq(fields.map(_._2))
      val schema = org.apache.spark.sql.types.StructType(fields.map { case (n, v) =>
        org.apache.spark.sql.types.StructField(n,
          if (v.isInstanceOf[Long]) org.apache.spark.sql.types.LongType
          else org.apache.spark.sql.types.DoubleType)
      })
      val df = spark.createDataFrame(java.util.Arrays.asList(row), schema)
      assert(Pipeline1.flatJson(fields) == Sources.sanitizeDoubles(df).toJSON.head(), ds)
    }
  }

  test("pipeline2: surrogate tree imitates the base model above chance") {
    val p2 = Pipeline2.run(result.scored, nFeatures = 2)
    val agreement = p2.agreement.head().getAs[Double]("agreement")
    assert(agreement > 0.8, s"agreement $agreement")
    assert(p2.rules.contains("DecisionTreeClassificationModel"))
  }

  test("pipeline3A: severity 0 matches clean accuracy; high severity degrades or holds") {
    val curves = Pipeline3.robustness(result.scored, result.model,
      kinds = Seq("packet_loss"), maxSev = 0.6, nSev = 3, nRepeats = 2)
    val rows = curves.collect().map(r =>
      (r.getDouble(1), r.getAs[Double]("accuracy_mean"))).sortBy(_._1)
    val clean = result.multiclass.head().getAs[Double]("accuracy")
    assert(approx(rows.head._2, clean, 1e-9)) // severity 0 = identity
    assert(rows.last._2 <= rows.head._2 + 1e-9)
  }

  /** Parity oracle for [[Pipeline3.robustness]]: the reference's sweep as a
    * driver loop (pipeline_tests_power.py:255-379) — one distributed job
    * per (kind, severity, repeat) evaluation over the test windows, each
    * degraded with the STATIC-parameter degradation forms. */
  private def robustnessLoop(scored: DataFrame,
      model: graft.model.WindowModel, kinds: Seq[String], maxSev: Double,
      nSev: Int, nRepeats: Int, baseSeed: Long = 123L): DataFrame = {
    import graft.ops.Robustness
    val test = scored.where(col("split") === "test")
      .select(col("win_id").cast("long").as("win_id"), col("window"), col("y"))
    val rows = for {
      kind <- kinds
      (sev, rep, seed) <- Robustness.severityGrid(maxSev, nSev, nRepeats, baseSeed)
    } yield {
      val degrade: (Column, Column) => Column = kind match {
        case "packet_loss" => Robustness.packetLoss(_, _, sev, seed)
        case "missing_variables" => Robustness.missingVariables(_, _, sev, seed)
        case "clock_offset" => Robustness.clockOffset(_, _, sev, seed)
        case "drift" => Robustness.drift(_, _, sev, seed)
      }
      val rescored = model.transform(
        test.withColumn("window", degrade(col("window"), col("win_id"))))
      val acc = rescored.agg(avg((col("y_pred") === col("y")).cast("double"))).head().getDouble(0)
      (kind, sev, rep, acc)
    }
    rows.toDF("kind", "severity", "rep", "accuracy")
      .groupBy("kind", "severity")
      .agg(avg("accuracy").as("accuracy_mean"),
        coalesce(stddev_samp(col("accuracy")), lit(0.0)).as("accuracy_std"))
  }

  test("pipeline3A single-plan sweep equals the driver-loop sweep exactly") {
    val loop = robustnessLoop(result.scored, result.model,
      kinds = Seq("packet_loss", "missing_variables"), maxSev = 0.4, nSev = 3, nRepeats = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getAs[Double]("accuracy_mean"), r.getAs[Double]("accuracy_std"))).toMap
    val plan = Pipeline3.robustness(result.scored, result.model,
      kinds = Seq("packet_loss", "missing_variables"), maxSev = 0.4, nSev = 3, nRepeats = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getAs[Double]("accuracy_mean"), r.getAs[Double]("accuracy_std"))).toMap
    assert(loop.keySet == plan.keySet)
    loop.foreach { case (k, (m, s)) =>
      assert(approx(plan(k)._1, m, 1e-12) && approx(plan(k)._2, s, 1e-12), s"$k")
    }
  }

  test("pipeline3B: leave-one-attack-out returns a row per held-out attack") {
    val out = Pipeline3.leaveOneAttackOut(result.windows, Scorers.Logistic(maxIter = 20),
      Seq("syn-flood"))
    val r = out.head()
    assert(r.getString(0) == "syn-flood")
    assert(!r.getAs[Double]("accuracy_on_rest").isNaN)
    assert(r.getAs[Long]("n_repeats") == 1L)
    assert(r.getAs[Double]("accuracy_on_rest_std") == 0.0)
  }

  test("pipeline3B seeded repeats: deterministic scorer -> std 0; stochastic -> mean±std") {
    // stochastic stand-in: predictions flip with a seed-keyed Bernoulli,
    // so each seed yields a different accuracy — the repeat loop must
    // surface that as a nonzero ddof=1 std over n_repeats runs.
    import graft.model.{WindowModel, WindowScorer}
    final case class Noisy(seed: Long = 0L) extends WindowScorer {
      override def seeded(s: Long): WindowScorer = copy(seed = s)
      def fit(train: org.apache.spark.sql.DataFrame, wc: String, yc: String): WindowModel =
        new WindowModel {
          def transform(df: org.apache.spark.sql.DataFrame, wc2: String): org.apache.spark.sql.DataFrame =
            df.withColumn("y_pred",
              when(graft.ops.Robustness.seededUniform(seed, col("win_id")) < 0.3,
                lit(1) - col("y")).otherwise(col("y")).cast("int"))
        }
    }
    val det = Pipeline3.leaveOneAttackOut(result.windows,
      Scorers.Logistic(maxIter = 20), Seq("syn-flood"), seeds = Seq(1L, 2L, 3L)).head()
    assert(det.getAs[Long]("n_repeats") == 3L)
    assert(det.getAs[Double]("accuracy_on_rest_std") == 0.0)
    val sto = Pipeline3.leaveOneAttackOut(result.windows,
      Noisy(), Seq("syn-flood"), seeds = Seq(1L, 2L, 3L)).head()
    assert(sto.getAs[Long]("n_repeats") == 3L)
    assert(sto.getAs[Double]("accuracy_on_rest_std") > 0.0)
    assert(sto.getAs[Double]("accuracy_on_rest") > 0.5) // 30% flips, mean still informative
  }

  /** Parity oracle for [[Pipeline3.leaveOneAttackOut]]: the reference's
    * repeat loop (pipeline_tests_power.py:569) — per (held-out attack,
    * seed) a fit and one aggregation job over its scored test windows,
    * reduced with Spark's avg/stddev_samp. */
  private def loaoLoop(windows: DataFrame, scorer: graft.model.WindowScorer,
      attacks: Seq[String], seeds: Seq[Long]): DataFrame = {
    val rows = for (held <- attacks; seed <- seeds) yield {
      val train = windows.where(col("split") === "train" && col("attack") =!= held)
      val model = scorer.seeded(seed).fit(train)
      val test = model.transform(windows.where(col("split") === "test"))
      val hit = (col("y_pred") === col("y")).cast("double")
      val r = test.agg(
        avg(when(col("attack") === held, hit)).as("held"),
        avg(when(col("attack") =!= held, hit)).as("rest")).head()
      (held, seed,
        if (r.isNullAt(0)) Double.NaN else r.getDouble(0),
        if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    }
    rows.toDF("held_out_attack", "seed", "acc_held", "acc_rest")
      .groupBy("held_out_attack")
      .agg(
        avg("acc_held").as("accuracy_on_held_out"),
        coalesce(stddev_samp(col("acc_held")), lit(0.0)).as("accuracy_on_held_out_std"),
        avg("acc_rest").as("accuracy_on_rest"),
        coalesce(stddev_samp(col("acc_rest")), lit(0.0)).as("accuracy_on_rest_std"),
        count(lit(1)).as("n_repeats"))
  }

  /** Equal within `tol`, or both NaN. */
  private def same(a: Double, b: Double, tol: Double): Boolean =
    (a.isNaN && b.isNaN) || approx(a, b, tol)

  test("pipeline3B one scoring plan equals the per-run driver loop (2 seeds, seeded GBT)") {
    // "port-scan" has no windows: nothing is held out of training, and
    // its held-out accuracy is NaN (a NaN std over two repeats)
    val attacks = Seq("syn-flood", "port-scan")
    val scorer = Scorers.GBT(maxIter = 3, maxDepth = 2)
    def byAttack(df: DataFrame) = df.collect().map(r => r.getString(0) ->
      ((1 to 4).map(r.getDouble), r.getLong(5))).toMap
    val loop = byAttack(loaoLoop(result.windows, scorer, attacks, Seq(1L, 2L)))
    val out = Pipeline3.leaveOneAttackOut(result.windows, scorer, attacks, Seq(1L, 2L))
    assert(out.columns.toSeq == Seq("held_out_attack", "accuracy_on_held_out",
      "accuracy_on_held_out_std", "accuracy_on_rest", "accuracy_on_rest_std", "n_repeats"))
    assert(out.collect().map(_.getString(0)).toSeq == attacks)
    val plan = byAttack(out)
    assert(plan.keySet == loop.keySet)
    loop.foreach { case (held, (vs, n)) =>
      assert(plan(held)._2 == n, held)
      vs.zip(plan(held)._1).foreach { case (e, a) => assert(same(a, e, 1e-12), s"$held: $a vs $e") }
    }
    assert(plan("port-scan")._1(0).isNaN && !plan("syn-flood")._1(0).isNaN)
  }

  test("corpus curation pipeline: exact dups, near-dup clusters, contamination, junk, packing") {
    import graft.pipelines.CorpusPipeline
    val prose = "the quick brown fox jumps over the lazy dog near a quiet river bank today"
    val docs = Seq(
      (1L, prose, "en"),
      (2L, prose, "en"), // exact dup of 1 → dropped at stage 1
      (3L, prose + " extra", "en"), // near-dup of 1 → same cluster, lower quality loses
      (4L, "totally unrelated words about cooking pasta with garlic and fresh basil leaves", "en"),
      (5L, "spam spam spam spam spam spam spam spam spam spam", "en"), // repetition junk
      (6L, "the secret benchmark sentence that must never leak into training data at all", "en"))
      .toDF("doc_id", "text", "lang")
    val bench = Seq("we found the secret benchmark sentence that must never leak into training data at all ok")
      .toDF("btext")
    val cfg = CorpusPipeline.CurationConfig(
      shingleWords = 3, jaccardThreshold = 0.5, decontamN = 8,
      minQuality = 0.1, maxTopWordRatio = 0.5,
      defaultSampleRate = 1.0, packBudgetTokens = 16)
    val r = CorpusPipeline.curateCounted(docs, "doc_id", "text", col("lang"), bench, "btext", cfg)
    val funnel = r.funnel.toMap
    assert(funnel("input") == 6)
    assert(funnel("exact_dedup") == 5) // doc 2 gone
    assert(funnel("near_dedup") == 4) // 1/3 collapse (longer doc 3 has higher len-based quality or 1 wins — either way ONE survives)
    assert(funnel("decontaminated") == 3) // doc 6 gone (8-gram overlap with bench)
    assert(funnel("filtered") == 2) // doc 5 gone (top_word_ratio 1.0)
    assert(funnel("sampled") == 2 && funnel("packed") == 2)
    val packed = r.packed.select("doc_id", "n_tokens", "bin", "offset").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).sortBy(_._1)
    // budget 16: first kept doc starts at (0,0); 14-token prose doc → next starts at offset 14
    assert(packed.head._3 == 0L && packed.head._4 == 0L)
    // deterministic end to end
    val r2 = CorpusPipeline.curateCounted(docs, "doc_id", "text", col("lang"), bench, "btext", cfg)
    assert(r2.funnel == r.funnel)
  }

  test("corpus curation with containment stage: excerpt collapses into its container") {
    import graft.pipelines.CorpusPipeline
    val long = (1 to 30).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 8).map(i => s"w$i").mkString(" ") // prefix: C=1, Jaccard ~0.24
    val other = (100 to 130).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, long, "en"), (2L, excerpt, "en"), (3L, other, "en"))
      .toDF("doc_id", "text", "lang")
    val bench = Seq.empty[String].toDF("btext")
    val base = CorpusPipeline.CurationConfig(
      shingleWords = 2, jaccardThreshold = 0.5, minQuality = 0.0,
      maxTopWordRatio = 1.0, defaultSampleRate = 1.0)
    // without the stage the excerpt SURVIVES (Jaccard too low to cluster)
    val without = CorpusPipeline.curateCounted(docs, "doc_id", "text",
      col("lang"), bench, "btext", base).funnel.toMap
    assert(without("near_dedup") == 3 && !without.contains("containment_dedup"))
    // with it the excerpt collapses into doc 1
    val cfg = base.copy(containmentThreshold = Some(0.9),
      containmentShingleWords = 2)
    val r = CorpusPipeline.curateCounted(docs, "doc_id", "text",
      col("lang"), bench, "btext", cfg)
    val funnel = r.funnel.toMap
    assert(funnel("near_dedup") == 3 && funnel("containment_dedup") == 2, funnel)
    assert(r.packed.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("corpus curation with span removal: boilerplate tile deleted, packing sees shorter docs") {
    import graft.pipelines.CorpusPipeline
    val boiler = "subscribe to our newsletter for more updates today" // 8 tokens
    val docs = Seq(
      (1L, s"$boiler unique alpha content about rivers and mountains here", "en"),
      (2L, s"$boiler other beta writing about cooking and gardens there", "en"),
      (3L, "standalone gamma text with no shared spans at all present", "en"))
      .toDF("doc_id", "text", "lang")
    val cfg = CorpusPipeline.CurationConfig(
      shingleWords = 3, jaccardThreshold = 0.95, decontamN = 8,
      minQuality = 0.0, maxTopWordRatio = 1.0, defaultSampleRate = 1.0,
      packBudgetTokens = 64, spanRemovalTileWords = Some(8))
    val r = CorpusPipeline.curateCounted(docs, "doc_id", "text", col("lang"),
      Seq.empty[String].toDF("btext"), "btext", cfg)
    assert(r.funnel.map(_._1).contains("span_removed"))
    assert(r.funnel.toMap.apply("packed") == 3) // all docs survive
    val toks = r.packed.select("doc_id", "n_tokens").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // docs 1 and 2 lost the 8-token boilerplate tile; doc 3 untouched
    assert(toks(1L) == 8L && toks(2L) == 8L && toks(3L) == 10L)
  }

  test("host importance: permuting the informative feature raises loss most") {
    // weight = 1 everywhere; feature 0 and 1 both carry signal, a constant
    // third feature carries none.
    val wins = result.windows
      .withColumn("window", transform(col("window"), r => concat(r, array(lit(1.0)))))
      .withColumn("weight", lit(1.0))
      .withColumn("win_id",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("split", "win_id"))
          .cast("long"))
    val model = Scorers.Logistic(maxIter = 30).fit(wins.where(col("split") === "train"))
    val imp = HostImportance.permutationImportance(
      wins.where(col("split") === "test"), model, nFeatures = 3, nRepeats = 2)
    val byFeature = imp.collect().map(r => r.getInt(0) -> r.getAs[Double]("mean_drop")).toMap
    // constant feature: permutation is a no-op → drop ≈ 0
    assert(math.abs(byFeature(2)) < 1e-9)
    assert(byFeature(0) > byFeature(2) || byFeature(1) > byFeature(2))
    assert(HostImportance.topK(imp, 2).toSet.subsetOf(Set(0, 1, 2)))
  }

  /** Importance fixture: the pipeline-1 windows with a constant third
    * feature, unique long win_ids and non-uniform weights, and a model fit
    * on its train split. */
  private lazy val impWindows = result.windows
    .withColumn("window", transform(col("window"), r => concat(r, array(lit(1.0)))))
    .withColumn("weight", lit(0.5) + pmod(col("win_id"), lit(3)).cast("double") * 0.75)
    .withColumn("win_id",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("split", "win_id"))
        .cast("long"))
  private lazy val impModel =
    Scorers.Logistic(maxIter = 30).fit(impWindows.where(col("split") === "train"))

  /** Parity oracle for [[HostImportance.permutationImportance]]: the
    * reference's driver loop (pipeline_host_importance.py:154-221) — per
    * (feature, repeat) one permutation and one loss job, the repeats
    * reduced with Spark's avg/stddev_samp. */
  private def importanceLoop(windows: DataFrame, model: graft.model.WindowModel,
      nFeatures: Int, nRepeats: Int, baseSeed: Long = 42L, eps: Double = 1e-12): DataFrame = {
    def loss(df: DataFrame): Double =
      graft.ops.MetricsOps.weightedLogLoss(model.transform(df),
        element_at(col("proba"), col("y") + 1), col("weight"), eps).head().getDouble(0)
    val baseline = loss(windows)
    val rows = for (j <- 0 until nFeatures; r <- 0 until nRepeats) yield {
      val permuted = graft.ops.PermImportance.permuteFeature(
        windows, "win_id", "window", j, baseSeed + 1000L * j + r)
      (j, r, loss(permuted) - baseline)
    }
    rows.toDF("feature_idx", "rep", "drop")
      .groupBy("feature_idx")
      .agg(avg("drop").as("mean_drop"),
        coalesce(stddev_samp(col("drop")), lit(0.0)).as("std_drop"))
      .orderBy(col("mean_drop").desc, col("feature_idx").asc)
  }

  test("host importance: the one-plan trials equal the per-trial driver loop") {
    val test = impWindows.where(col("split") === "test").cache()
    try Seq(1, 2).foreach { nRepeats =>
      val loop = importanceLoop(test, impModel, nFeatures = 3, nRepeats = nRepeats, baseSeed = 9L)
      val plan = HostImportance.permutationImportance(test, impModel, nFeatures = 3,
        nRepeats = nRepeats, baseSeed = 9L)
      assert(plan.schema == loop.schema)
      val (l, p) = (loop.collect(), plan.collect())
      assert(p.map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
      val byFeature = l.map(r => r.getInt(0) -> r).toMap
      p.foreach { r =>
        val e = byFeature(r.getInt(0))
        assert(approx(r.getDouble(1), e.getDouble(1), 1e-12) &&
          approx(r.getDouble(2), e.getDouble(2), 1e-12), s"$nRepeats: $r vs $e")
      }
      // ordered by mean_drop desc, then feature_idx
      p.sliding(2).foreach { case Array(a, b) =>
        assert(a.getDouble(1) > b.getDouble(1) ||
          (a.getDouble(1) == b.getDouble(1) && a.getInt(0) < b.getInt(0)))
      }
    } finally test.unpersist(blocking = true)
  }

  test("host importance keeps the caller's cache of its input") {
    val test = impWindows.where(col("split") === "test").cache()
    try {
      test.count()
      HostImportance.permutationImportance(test, impModel, nFeatures = 1, nRepeats = 1)
      assert(test.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally test.unpersist(blocking = true)
  }

  test("host importance job budget: 3 features x 2 repeats run at most 20 Spark jobs") {
    val test = impWindows.where(col("split") === "test").cache()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    try {
      test.count()
      impModel // fit outside the count
      sc.addSparkListener(listener)
      org.apache.spark.ProfileBus.drain(sc)
      val j0 = jobs.get
      HostImportance.permutationImportance(test, impModel, nFeatures = 3, nRepeats = 2).collect()
      org.apache.spark.ProfileBus.drain(sc)
      val n = jobs.get - j0
      info(s"importance jobs $n")
      assert(n <= 20, s"importance jobs $n")
    } finally {
      sc.removeSparkListener(listener)
      test.unpersist(blocking = true)
    }
  }

  /** The two-pass permutation of one trial (cells ranked in (winId, t)
    * order, values by the seeded uniform, one global-index pass each,
    * joined on rank) — the reference for the one-pass segmented form. */
  private def permuteTwoPass(df: DataFrame, featureIdx: Int, seed: Long): DataFrame = {
    import graft.ops.{Robustness, SlidingWindows}
    val exploded = df.select(col("win_id"),
      posexplode(transform(col("window"), r => element_at(r, featureIdx + 1))).as(Seq("t", "v")))
    val cells = SlidingWindows.withGlobalIndex(exploded, Seq(col("win_id"), col("t")), "cell_rank")
    val permuted = SlidingWindows.withGlobalIndex(
        exploded.withColumn("__u", Robustness.seededUniform(seed, col("win_id"), col("t"))),
        Seq(col("__u"), col("win_id"), col("t")), "cell_rank")
      .select(col("cell_rank"), col("v").as("v_perm"))
    val series = cells.drop("v").join(permuted, Seq("cell_rank")).groupBy("win_id")
      .agg(map_from_entries(collect_list(struct(col("t"), col("v_perm")))).as("perm_map"))
    df.join(series, Seq("win_id"))
      .withColumn("window", transform(col("window"), (row, i) =>
        transform(row, (x, j) =>
          when(j === lit(featureIdx), element_at(col("perm_map"), i)).otherwise(x))))
      .drop("perm_map")
  }

  test("permuteFeatures: every trial equals its one-trial permutation, exactly") {
    import graft.ops.PermImportance
    // 12 windows of 5 timesteps x 3 features; window 7 has only 3 timesteps
    val df = (1 to 12).map { w =>
      val steps = if (w == 7) 3 else 5
      (w.toLong, (0 until steps).map(t => Seq(w * 10.0 + t, -w - t * 0.5, (w * t) % 4 * 1.0)),
        w % 2)
    }.toDF("win_id", "window", "y")
    val trials = Seq(0 -> 11L, 2 -> 5L, 0 -> 12L, 1 -> 11L)
    def byWin(d: DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.toSeq.tail).sortBy(_._1).toSeq
    val all = PermImportance.permuteFeatures(df, "win_id", "window", trials)
    assert(all.columns.toSeq == Seq("win_id", "window", "y", "trial"))
    trials.zipWithIndex.foreach { case ((f, seed), k) =>
      val one = PermImportance.permuteFeature(df, "win_id", "window", f, seed)
      val got = byWin(all.where(col("trial") === k).drop("trial"))
      assert(got == byWin(one), s"trial $k")
      assert(got == byWin(permuteTwoPass(df, f, seed)), s"trial $k vs two-pass")
    }
    // the permutation moved values of its feature only
    val orig = byWin(df).toMap
    byWin(all.where(col("trial") === 1).drop("trial")).foreach { case (w, row) =>
      def firstTwo(x: Any) =
        x.asInstanceOf[collection.Seq[collection.Seq[Double]]].map(_.take(2))
      assert(firstTwo(row.head) == firstTwo(orig(w).head))
    }
  }

  test("permuteFeatures: 120 trials in one pass, each a permutation of its feature") {
    import graft.ops.PermImportance
    val df = (1 to 12).map { w =>
      (w.toLong, (0 until 5).map(t => Seq(w * 10.0 + t, -w - t * 0.5, (w * t) % 4 * 1.0)))
    }.toDF("win_id", "window")
    val trials = (0 until 120).map(k => (k % 3, 100L + k))
    type Win = collection.Seq[collection.Seq[Double]]
    val orig = df.collect().map(r => r.getLong(0) -> r.getAs[Win](1)).toMap
    val copies = PermImportance.permuteFeatures(df, "win_id", "window", trials).collect()
      .groupBy(_.getInt(2))
    assert(copies.keySet == trials.indices.toSet)
    trials.zipWithIndex.foreach { case ((f, _), k) =>
      val got = copies(k).map(r => r.getLong(0) -> r.getAs[Win](1)).toMap
      assert(got.keySet == orig.keySet, s"trial $k")
      def column(ws: Iterable[Win], j: Int) = ws.toSeq.flatMap(_.map(_(j))).sorted
      (0 until 3).foreach { j =>
        if (j == f) assert(column(got.values, j) == column(orig.values, j), s"trial $k")
        else got.foreach { case (w, win) => assert(win.map(_(j)) == orig(w).map(_(j))) }
      }
    }
    Seq(0, 61, 119).foreach { k =>
      val expected = permuteTwoPass(df, trials(k)._1, trials(k)._2).collect()
        .map(r => r.getLong(0) -> r.getAs[Win](1)).toMap
      assert(copies(k).map(r => r.getLong(0) -> r.getAs[Win](1)).toMap == expected, s"trial $k")
    }
  }
}
