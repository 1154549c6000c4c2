package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.Scorers
import graft.pipelines.{HostImportance, Pipeline1, Pipeline2, Pipeline3}
import graft.sources.Sources

/** End-to-end demo runner: the full reference experiment lifecycle
  * (pipeline1 train → pipeline2 surrogate → pipeline3A robustness →
  * pipeline3B generalization → permutation importance) on the events
  * testdata, with windows + metrics artifacts written like the
  * reference's run directories.
  *
  * Usage: sbt 'runMain graft.Demo [sfDir] [outDir]'
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_demo")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // events → power-shaped: event_type plays Attack ('error' = the
    // attack), user_id bucket plays State, (ts, event_id) is the order.
    val power = graft.queries.Q.table(spark, sfDir, "events")
      .withColumn("Attack", when(col("event_type") === "error", lit("syn-flood")).otherwise(lit("none")))
      .withColumn("State", when(pmod(col("user_id"), lit(2)) === 0, "charging").otherwise("idle"))
      .withColumn("v2", col("value") * 0.5 + col("event_id") % 7)

    val r = Pipeline1.run(spark, power, Seq("value", "v2"), "Attack", "State",
      Seq(col("ts"), col("event_id")), Scorers.Logistic(maxIter = 25),
      Pipeline1.Config(task = "binary", seqLen = 10, step = 5, fprTarget = 0.05))

    Sources.writeWindows(r.windows, s"$outDir/windows")
    Sources.writeMetricsJson(
      r.multiclass
        .withColumn("training_time_seconds", lit(r.timing.trainingTimeSeconds))
        .withColumn("avg_inference_latency_per_window_sec",
          lit(r.timing.avgInferenceLatencyPerWindowSec)),
      s"$outDir/metrics_multiclass")
    val op = r.operational.getOrElse(sys.error(
      "no operational metrics: the input yielded a single label class " +
        "(binary evaluation needs both attack and benign rows)"))
    println(s"""{"stage":"pipeline1","accuracy":${r.multiclass.head().getAs[Double]("accuracy")},"threshold":${op.threshold},"fpr":${op.fpr},"tpr":${op.tpr},"fp_per_hour":${op.falsePositivesPerHour}}""")

    val p2 = Pipeline2.run(r.scored, nFeatures = 2)
    println(s"""{"stage":"pipeline2","agreement":${p2.agreement.head().getAs[Double]("agreement")}}""")

    val curves = Pipeline3.robustness(r.scored, r.model,
      kinds = Seq("packet_loss", "missing_variables"), nSev = 3, nRepeats = 2)
    println(s"""{"stage":"pipeline3A","points":${curves.count()}}""")
    Sources.writeMetricsJson(curves, s"$outDir/robustness_curves")

    val gen = Pipeline3.leaveOneAttackOut(r.windows, Scorers.Logistic(maxIter = 15), Seq("syn-flood"))
    val g = gen.head()
    println(s"""{"stage":"pipeline3B","held_out":"${g.getString(0)}",""" +
      s""""acc_held":${g.getAs[Double]("accuracy_on_held_out")},""" +
      s""""acc_rest":${g.getAs[Double]("accuracy_on_rest")}}""")

    val wins = r.windows.where(col("split") === "test")
      .withColumn("weight", lit(1.0))
      .withColumn("win_id", col("win_id").cast("long"))
    val imp = HostImportance.permutationImportance(wins, r.model, nFeatures = 2, nRepeats = 2)
    val top = HostImportance.topK(imp, 1)
    println(s"""{"stage":"importance","top_feature":${top.head}}""")

    // training-corpus curation funnel over the documents table (the
    // LLM-data extension surface end-to-end: dedup → cluster →
    // decontaminate → filter → sample → pack)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val curated = graft.pipelines.CorpusPipeline.curateCounted(
      docs.where(col("doc_id") < 300), "doc_id", "text", col("lang"),
      docs.where(col("doc_id") >= 400 && col("doc_id") < 430), "text",
      graft.pipelines.CorpusPipeline.CurationConfig(
        decontamN = 5, sampleRates = Map("en" -> 0.9),
        defaultSampleRate = 0.5, packBudgetTokens = 512))
    val funnelJson = curated.funnel
      .map { case (st, n) => s""""$st":$n""" }.mkString(",")
    println(s"""{"stage":"corpus_curation",$funnelJson}""")

    // retrieval + monitoring (round-3 surface): IVF-PQ ANN over the
    // embeddings table, and a drift monitor pair (numeric KS +
    // categorical JS) over the event stream halves.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cb = graft.ops.Pq.trainCodebooks(emb, "vec_id", "v", m = 4, k = 8, iters = 3)
    val annHits = graft.ops.Similarity.ivfPqTopK(emb,
      emb.where(col("vec_id") < 2).select(col("vec_id").as("qid"), col("v").as("qv")),
      "vec_id", "v", "qid", "qv", k = 5, nCells = 16, nProbe = 4, cb = cb).count()
    val ev = graft.queries.Q.table(spark, sfDir, "events")
      .withColumn("ts_us", col("ts"))
    val mid = ev.agg(percentile_approx(col("ts_us"), lit(0.5), lit(100))).head().getLong(0)
    val ks = graft.ops.Stats.ksStatistic(
      ev.withColumn("half", when(col("ts_us") < mid, "a").otherwise("b")),
      col("value"), col("half"), "a", "b").head().getAs[Double]("ks_stat")
    val js = graft.ops.Stats.categoricalDivergence(ev, col("event_type"),
      col("ts_us") < mid, col("ts_us") >= mid).head().getAs[Double]("js")
    println(s"""{"stage":"retrieval_monitoring","ann_hits":$annHits,"ks_drift":$ks,"js_drift":$js}""")

    // privacy release (round-9 surface): audit the QI combination risk,
    // then Mondrian-generalize the numeric QIs until every released row
    // hides among >= k-1 others
    val atRisk = graft.ops.Stats.kAnonymity(ev,
      Seq(col("event_type"), col("user_id") % 50), k = 20)
      .where(col("at_risk")).count()
    val rel = ev.select(col("value"), (col("user_id") % 97).cast("double").as("uid"))
    val model = graft.ops.Mondrian.fit(rel, Seq("value", "uid"), k = 50)
    val minLeaf = if (model.leaves.isEmpty) 0L else model.leaves.map(_._2).min
    println(s"""{"stage":"privacy_release","qi_combos_at_risk":$atRisk,""" +
      s""""mondrian_leaves":${model.nLeaves},"min_leaf":$minLeaf}""")

    // post-training data prep (this session's surface): flatten docs
    // into dialogues, mask assistant turns, and build DPO pairs from
    // the quality score — the SFT/RLHF layer downstream of curation
    val sftDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val turns = sftDocs.where(col("doc_id") < 120).select(
      (col("doc_id") % 20).as("conv"),
      floor(col("doc_id") / 20).cast("long").as("idx"),
      when(floor(col("doc_id") / 20).cast("long") % 2 === 0, "user")
        .otherwise("assistant").as("role"),
      col("text"))
    val flat = graft.ops.Sft.flattenDialogues(turns, "conv", "idx",
      "role", "text")
    val masked = graft.ops.Sft.lossSpans(turns, "conv", "idx", "role",
      "text").where(col("mask")).count()
    val pairs = graft.ops.Sft.preferencePairs(
      sftDocs.select((col("doc_id") % 30).as("p"), col("doc_id"),
        graft.ops.TextOps.qualityScore(col("text")).as("q")),
      "p", "doc_id", col("q"), minMargin = 0.02).count()
    println(s"""{"stage":"post_training_prep","dialogues":${flat.count()},""" +
      s""""masked_turns":$masked,"preference_pairs":$pairs}""")

    spark.stop()
  }
}
