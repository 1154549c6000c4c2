package graft.model

import java.nio.file.{Files, Paths}
import org.apache.spark.ml.classification.{GBTClassificationModel, LogisticRegressionModel}
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7 — model / encoder / scaler artifact sink+source (the reference's
  * joblib.dump/load + model.save/load_model,
  * pipeline_trainingmodels_power.py:314-321, pipeline_tests_power.py:199-240).
  *
  * Layout under `dir`:
  *   model/        MLlib native save (parquet + metadata)
  *   model_class   marker naming the MLlib class for load dispatch
  *   encoder.json  the label encoder as a flat {"class": y, …} object,
  *                 in y order
  *   scaler.json   per-column (mean, std)
  * The encoder and scaler are written from the driver: no Spark job.
  * Pipeline 1's grid gives each artifact its own `dir` under the run
  * directory, so a run holds `encoder/encoder.json`, `scaler/scaler.json`
  * and `model/model/`.
  */
object ModelIO {

  def saveModel(model: WindowModel, dir: String): Unit = model match {
    case h: HasMlModel =>
      h.mlModel match {
        case w: MLWritable =>
          w.write.overwrite().save(s"$dir/model")
          Files.createDirectories(Paths.get(dir))
          Files.writeString(Paths.get(s"$dir/model_class"), h.mlModel.getClass.getName)
        case other =>
          throw new IllegalArgumentException(s"model ${other.getClass} is not MLWritable")
      }
    case other =>
      throw new IllegalArgumentException(
        s"${other.getClass} does not expose its MLlib model (HasMlModel)")
  }

  def loadModel(spark: SparkSession, dir: String): WindowModel = {
    val clazz = Files.readString(Paths.get(s"$dir/model_class")).trim
    val ml = clazz match {
      case c if c.contains("LogisticRegressionModel") => LogisticRegressionModel.load(s"$dir/model")
      case c if c.contains("GBTClassificationModel") => GBTClassificationModel.load(s"$dir/model")
      case other => throw new IllegalArgumentException(s"unknown model class $other")
    }
    Scorers.wrapTransformer(ml)
  }

  /** Label encoder as a flat JSON object {"class": y, …} (the analogue of
    * the reference's label-encoder joblib); `encoder` is the (class, y)
    * table, collected here — a local one, as pipeline 1 keeps it, runs no
    * job. */
  def saveEncoder(encoder: DataFrame, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val json = encoder.collect().map(r => (r.getString(0), r.getInt(1))).sortBy(_._2)
      .map { case (c, y) => s"${jsonString(c)}: $y" }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$dir/encoder.json"), json)
  }

  /** The (class string, y int) table [[saveEncoder]] wrote, in y order. */
  def loadEncoder(spark: SparkSession, dir: String): DataFrame = {
    val json = Files.readString(Paths.get(s"$dir/encoder.json"))
    val entry = (JsonString + """\s*:\s*(-?\d+)""").r
    graft.ops.Labels.encoderTable(spark,
      entry.findAllMatchIn(json).map(m => (unescape(m.group(1)), m.group(2).toInt)).toSeq)
  }

  /** Scaler as a flat JSON object {"col": [mean, std], …} — the analogue
    * of the reference's scaler.joblib, but engine-portable. */
  def saveScaler(scaler: Map[String, (Double, Double)], dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val json = scaler.toSeq.sortBy(_._1).map { case (c, (m, s)) =>
      s"${jsonString(c)}: [$m, $s]"
    }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$dir/scaler.json"), json)
  }

  def loadScaler(dir: String): Map[String, (Double, Double)] = {
    val json = Files.readString(Paths.get(s"$dir/scaler.json")).trim
    // flat {"name": [m, s], ...} parser (no JSON library needed for this
    // fixed shape)
    val entry = (JsonString + """\s*:\s*\[\s*([^,\]]+)\s*,\s*([^\]]+)\s*\]""").r
    entry.findAllMatchIn(json).map { m =>
      unescape(m.group(1)) -> (m.group(2).trim.toDouble, m.group(3).trim.toDouble)
    }.toMap
  }

  /** A JSON string literal, its body captured; [[jsonString]] writes it. */
  private val JsonString = """"((?:[^"\\]|\\.)*)""""

  /** `s` as a JSON string literal: quote, backslash and control
    * characters escaped. */
  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The text of a string literal [[jsonString]] wrote. */
  private def unescape(body: String): String =
    """\\(u[0-9a-fA-F]{4}|.)""".r.replaceAllIn(body, m => java.util.regex.Matcher.quoteReplacement(
      if (m.group(1).length == 5) Integer.parseInt(m.group(1).drop(1), 16).toChar.toString
      else m.group(1)))
}
