package graft.model

import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, DecisionTreeClassifier, GBTClassifier, LogisticRegression}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pluggable scoring surface (SURVEY §2.10): the engine's data contract is
  * `windows → + proba array<double>`; the model behind it is swappable
  * (the reference's XGB/LSTM/TCN are not reproducible bit-for-bit on
  * Spark — SURVEY §7.4.6 — so the engine treats scoring as a boundary).
  *
  * Implementations here use MLlib on the flattened window tensor:
  * `flatten(window): array<double>` → `array_to_vector` — the Spark
  * analogue of the reference's `X.reshape(n, -1)` flattening for XGBoost
  * (pipeline_trainingmodels_power.py:182-184).
  */
trait WindowScorer {
  /** Fit on (window array<array<double>>, y int); return a transformer
    * adding `proba: array<double>` (class-indexed) and `y_pred: int`. */
  def fit(train: DataFrame, windowCol: String = "window", yCol: String = "y"): WindowModel

  /** Re-seeded copy for repeat loops (the reference's `seeds = [seed + i]`
    * runs, pipeline_tests_power.py:569); deterministic scorers return
    * themselves. */
  def seeded(seed: Long): WindowScorer = this
}

trait WindowModel extends Serializable {
  def transform(df: DataFrame, windowCol: String = "window"): DataFrame
}

/** Mixin exposing the underlying MLlib model for persistence (S7). */
trait HasMlModel {
  def mlModel: org.apache.spark.ml.Transformer
}

object Scorers {

  /** argmax over a probability array — first maximum, like np.argmax
    * (pipeline_trainingmodels_power.py:200). */
  def argmax(proba: Column): Column =
    (array_position(proba, array_max(proba)) - 1).cast("int")

  /** `_ensure_proba_2d` parity (pipeline_tests_power.py:76-84): a scalar
    * positive-class score → [1−p, p]. */
  def ensureProba2d(p: Column): Column = array(lit(1.0) - p, p)

  private def features(windowCol: String): Column =
    array_to_vector(flatten(col(windowCol)).cast("array<double>"))

  /** Wrap a fitted MLlib probabilistic classifier into the engine's
    * scoring contract (shared by every scorer — one place to change the
    * proba/argmax/column conventions). The MLlib model stays reachable
    * for artifact persistence (ModelIO, S7). */
  private[model] def wrapTransformer(m: org.apache.spark.ml.Transformer): WindowModel =
    new WindowModel with HasMlModel {
      val mlModel: org.apache.spark.ml.Transformer = m
      def transform(df: DataFrame, wc: String): DataFrame =
        m.transform(df.withColumn("__features", features(wc)))
          .withColumn("proba", vector_to_array(col("probability")).cast("array<double>"))
          .withColumn("y_pred", argmax(col("proba")))
          .drop("__features", "rawPrediction", "probability", "prediction")
    }

  /** Multinomial logistic regression on flattened windows — the fast
    * deterministic default scorer. */
  final case class Logistic(maxIter: Int = 50, regParam: Double = 0.01) extends WindowScorer {
    def fit(train: DataFrame, windowCol: String, yCol: String): WindowModel = {
      val prepared = train.withColumn("__features", features(windowCol))
        .withColumn("__label", col(yCol).cast("double"))
      val m = new LogisticRegression()
        .setMaxIter(maxIter).setRegParam(regParam)
        .setFeaturesCol("__features").setLabelCol("__label")
        .fit(prepared)
      wrapTransformer(m)
    }
  }

  /** Gradient-boosted trees (binary only) — the XGBoost stand-in
    * (SURVEY §2.10: MLlib GBT ≈ XGBClassifier, non-bit-compatible). */
  final case class GBT(maxIter: Int = 20, maxDepth: Int = 5, seed: Long = 42L) extends WindowScorer {
    override def seeded(s: Long): WindowScorer = copy(seed = s)
    def fit(train: DataFrame, windowCol: String, yCol: String): WindowModel = {
      val prepared = train.withColumn("__features", features(windowCol))
        .withColumn("__label", col(yCol).cast("double"))
      val m = new GBTClassifier()
        .setMaxIter(maxIter).setMaxDepth(maxDepth).setSeed(seed)
        .setFeaturesCol("__features").setLabelCol("__label")
        .fit(prepared)
      wrapTransformer(m)
    }
  }

  /** Decision-tree surrogate for pipeline2 explainability
    * (func_models.py:177-273: depth 3–4, seed 42). Returns the model for
    * rules export (`toDebugString`). */
  def surrogateTree(train: DataFrame, featureCols: Seq[String], yCol: String,
      maxDepth: Int = 4, seed: Long = 42L): (DecisionTreeClassificationModel, DataFrame => DataFrame) = {
    val assemble = (df: DataFrame) =>
      df.withColumn("__features", array_to_vector(array(featureCols.map(c => col(c).cast("double")): _*)))
    val m = new DecisionTreeClassifier()
      .setMaxDepth(maxDepth).setSeed(seed)
      .setFeaturesCol("__features").setLabelCol(yCol)
      .fit(assemble(train).withColumn(yCol, col(yCol).cast("double")))
    (m, (df: DataFrame) => m.transform(assemble(df))
      .withColumn("y_pred_surrogate", col("prediction").cast("int"))
      .drop("__features", "rawPrediction", "probability", "prediction"))
  }
}
