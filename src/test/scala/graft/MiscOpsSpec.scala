package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.model.Scorers
import graft.ops.{Curves, Labels, MetricsOps}
import graft.sources.Sources

/** Coverage for the remaining SURVEY §2 rows: P5, G7, G14-macro, §2.10
  * scoring expressions, S4 time-fallback chain, S5 windows roundtrip. */
class MiscOpsSpec extends SparkSpec {
  import spark.implicits._

  test("P5 benignNormalizer: substring match → None") {
    val df = Seq("Benign-Traffic", "BENIGN", "syn-flood").toDF("a")
    val out = df.select(Labels.benignNormalizer(col("a"))).collect().map(_.getString(0))
    assert(out.toSeq == Seq("None", "None", "syn-flood"))
  }

  test("G7 aggregateRuns: nan-aware mean/std with ddof=1, 0.0 for single run") {
    val df = Seq(
      ("acc", 0.8), ("acc", 0.9), ("acc", Double.NaN),
      ("f1", 0.5)).toDF("metric", "value")
    val out = MetricsOps.aggregateRuns(df, Seq("metric"), "value")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx(out("acc")._1, 0.85))
    assert(approx(out("acc")._2, math.sqrt(0.005), 1e-9)) // sample std of .8,.9
    assert(out("f1")._2 == 0.0)
  }

  test("G14 rocAucMacro: one-vs-rest macro average over proba arrays") {
    // 2-class fixture where class-1 proba is the binary score from the
    // MetricsCurvesSpec fixture → per-class AUCs are 7/9 both ways.
    val df = Seq(
      (1, Seq(0.1, 0.9)), (0, Seq(0.2, 0.8)), (1, Seq(0.3, 0.7)),
      (1, Seq(0.4, 0.6)), (0, Seq(0.6, 0.4)), (0, Seq(0.7, 0.3)))
      .toDF("y", "p")
    val auc = Curves.multiclassAucSuite(df, col("y"), col("p")).head()
      .getAs[Double]("roc_auc_macro")
    assert(approx(auc, 7.0 / 9, 1e-12))
  }

  test("argmax picks first maximum; ensureProba2d builds [1-p, p]") {
    val df = Seq(Seq(0.2, 0.5, 0.5), Seq(0.9, 0.05, 0.05)).toDF("p")
    val am = df.select(Scorers.argmax(col("p"))).collect().map(_.getInt(0))
    assert(am.toSeq == Seq(1, 0)) // ties → first, like np.argmax
    val p2 = df.select(Scorers.ensureProba2d(lit(0.3))).head().getSeq[Double](0)
    assert(approx(p2(0), 0.7) && approx(p2(1), 0.3))
  }

  test("S4 loadNetwork: time-column fallback chain") {
    val dir = Files.createTempDirectory("graft_s4").toFile
    // preferred column present
    val f1 = new java.io.File(dir, "a.csv")
    Files.writeString(f1.toPath, "flow_t,x\n5,1\n2,2\n")
    val d1 = Sources.loadNetwork(spark, f1.getPath, "flow_t")
    assert(d1.select("timestamp").collect().map(_.getDouble(0)).toSeq == Seq(2.0, 5.0))
    // fallback to bidirectional_first_seen_ms
    val f2 = new java.io.File(dir, "b.csv")
    Files.writeString(f2.toPath, "bidirectional_first_seen_ms,x\n30,1\n10,2\n")
    val d2 = Sources.loadNetwork(spark, f2.getPath, "missing")
    assert(d2.select("timestamp").collect().map(_.getDouble(0)).toSeq == Seq(10.0, 30.0))
    // final fallback: row index
    val f3 = new java.io.File(dir, "c.csv")
    Files.writeString(f3.toPath, "x\n7\n8\n")
    val d3 = Sources.loadNetwork(spark, f3.getPath, "missing")
    assert(d3.select("timestamp").collect().map(_.getDouble(0)).toSeq == Seq(0.0, 1.0))
  }

  test("S5 windows sink/source roundtrip, partitioned by split") {
    val dir = Files.createTempDirectory("graft_s5").toFile.getPath + "/w"
    val wins = Seq(
      ("train", 1, Seq(Seq(1.0), Seq(2.0)), 0),
      ("test", 2, Seq(Seq(3.0), Seq(4.0)), 1)).toDF("split", "win_id", "window", "y")
    Sources.writeWindows(wins, dir)
    val back = Sources.readWindows(spark, dir)
    assert(back.count() == 2)
    // split partition pruning: reading one split touches only its files
    val test = back.where(col("split") === "test")
    assert(test.count() == 1 && test.head().getAs[Int]("y") == 1)
    val scan = test.queryExecution.executedPlan.toString
    assert(new java.io.File(dir, "split=test").exists())
  }

  test("S7 artifact roundtrip: model + encoder + scaler save/load, scoring parity") {
    import graft.model.{ModelIO, Scorers}
    import graft.ops.{Labels, Stats}
    val dir = Files.createTempDirectory("graft_s7").toString
    val train = (1 to 80).map { i =>
      val y = i % 2
      (i.toLong, Seq(Seq(y * 5.0 + 1.0), Seq(y * 5.0 + 2.0)), y)
    }.toDF("id", "window", "y")
    val model = Scorers.Logistic(maxIter = 15).fit(train)
    ModelIO.saveModel(model, dir)
    val loaded = ModelIO.loadModel(spark, dir)
    val a = model.transform(train).select("id", "y_pred").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = loaded.transform(train).select("id", "y_pred").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
    // encoder + scaler roundtrips
    val enc = Labels.fitLabelEncoder(Seq("b", "a", "c").toDF("cls"), "cls")
    ModelIO.saveEncoder(enc, dir)
    assert(ModelIO.loadEncoder(spark, dir).collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      enc.collect().map(r => (r.getString(0), r.getInt(1))).toSet)
    val scaler = Map("f1" -> (1.5, 2.25), "we\"ird" -> (-3.0, 0.5))
    ModelIO.saveScaler(scaler, dir)
    assert(ModelIO.loadScaler(dir) == scaler)
  }

  test("S7 encoder.json: a flat {\"class\": y} object; escaped class names round-trip") {
    import graft.model.ModelIO
    val dir = Files.createTempDirectory("graft_s7_enc").toString
    val classes = Seq("attack", "be\"nign", "back\\slash", "tab\tnew\nline", "ünï")
    val enc = spark.createDataFrame(java.util.Arrays.asList(
      classes.zipWithIndex.map { case (c, y) => org.apache.spark.sql.Row(c, y) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("class", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("y", org.apache.spark.sql.types.IntegerType))))
    ModelIO.saveEncoder(enc, dir)
    val json = new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "encoder.json")), "UTF-8")
    assert(json.startsWith("{\"attack\": 0, \"be\\\"nign\": 1, "), json)
    // the file is one valid JSON object of the classes
    val parsed = spark.read.json(Seq(json).toDS).head()
    assert(classes.zipWithIndex.forall { case (c, y) => parsed.getAs[Long](c) == y }, json)
    assert(ModelIO.loadEncoder(spark, dir).collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      classes.zipWithIndex)
  }
}
