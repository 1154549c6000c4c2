package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Label-preparation operators (SURVEY §2.2 P1–P9).
  *
  * Semantics derived from the reference's label layer:
  * `func_aux/func_preproc.py:97-151` (state_bin, binary label, attack→group,
  * LabelEncoder) and `pipelines_network/pipeline_trainingmodels_network.py:65-341`
  * (dictionary label maps, benign normalizer, filename label inference).
  *
  * All operators are pure Catalyst column expressions or broadcast lookup
  * joins — no UDFs — so they stay inside whole-stage codegen and scale
  * linearly with input partitions (no shuffle except the tiny dictionary
  * broadcast and the one `distinct` in [[fitLabelEncoder]]).
  */
object Labels {

  /** P1: state flag — 1 iff the (lower-cased, trimmed) state is "charging".
    * Ref: func_aux/func_preproc.py:134 and :583 (host lower-cases first). */
  def stateBin(state: Column): Column =
    when(lower(trim(state)) === "charging", 1).otherwise(0)

  /** Values of `Attack` that mean "no attack".
    * Ref: func_aux/func_preproc.py:104-112. */
  val BenignLike: Seq[String] = Seq("none", "benign", "none (ie. benign)")

  /** P2: binary label — "benign" iff lower(trim(attack)) is benign-like.
    * Ref: func_aux/func_preproc.py:104-112. */
  def binaryLabel(attack: Column, benignLike: Seq[String] = BenignLike): Column =
    when(lower(trim(attack)).isin(benignLike: _*), "benign").otherwise("attack")

  /** P3 mechanism with a caller-supplied mapping: normalize through a
    * literal map, pass unmapped values through (func_preproc.py:114-117). */
  def mapWithFallback(c: Column, mapping: Map[String, String]): Column =
    coalesce(element_at(typedLit(mapping), lower(trim(c))), c)

  /** P3: attack-name → attack-group normalization table — the FULL spelling
    * set the reference recognizes, including dataset typos
    * (`os-fingerpriting`, `serice-detection`, `upd-flood`) and `_old`
    * variants. Keys are the post-`strip().lower()` forms.
    * Ref: map_attack_to_group, func_aux/func_preproc.py:48-94. */
  val AttackGroups: Map[String, String] = Map(
    // benign-like → "none" (func_preproc.py:54-55)
    "0" -> "none", "none" -> "none", "benign" -> "none",
    "none (ie. benign)" -> "none",
    // host attacks (func_preproc.py:57-58)
    "backdoor" -> "host-attack", "cryptojacking" -> "host-attack",
    // recon (func_preproc.py:60-73)
    "aggressive-scan" -> "recon",
    "os-fingerpriting" -> "recon", "os-fingerprinting" -> "recon",
    "os-scan" -> "recon",
    "service-version-detection" -> "recon", "service-detection" -> "recon",
    "serice-detection" -> "recon", "service-detection-scan" -> "recon",
    "tcp-port-scan" -> "recon", "port-scan" -> "recon",
    "vuln-scan" -> "recon", "vulnerability-scan" -> "recon",
    // DoS (func_preproc.py:75-90)
    "icmp-flood" -> "DoS", "icmp-fragmentation" -> "DoS",
    "icmp-fragmentation_old" -> "DoS",
    "pshack-flood" -> "DoS", "push-ack-flood" -> "DoS",
    "syn-flood" -> "DoS", "syn-stealth" -> "DoS", "syn-stealth-scan" -> "DoS",
    "tcp-flood" -> "DoS", "upd-flood" -> "DoS", "udp-flood" -> "DoS",
    "synonymousip-flood" -> "DoS", "synonymous-ip-flood" -> "DoS",
    "slowloris-scan" -> "DoS",
  )

  /** P3 applied: map through [[AttackGroups]]; null → "none"; unknown
    * spellings pass through unchanged (the reference returns the raw
    * `attack`). Ref: func_aux/func_preproc.py:48-52,92. */
  def attackGroup(attack: Column): Column =
    when(attack.isNull, "none").otherwise(mapWithFallback(attack, AttackGroups))

  /** P5: any attack value containing "benign" (case-insensitive) → "None".
    * Ref: pipelines_network/pipeline_trainingmodels_network.py:319. */
  def benignNormalizer(attack: Column): Column =
    when(lower(attack).contains("benign"), "None").otherwise(attack)

  /** P6: filename → label phrase: join stem tokens from the 3rd on with " ";
    * when the stem has fewer than 3 dash-separated parts, the whole stem is
    * the label. Both branches trimmed (the reference's .strip()).
    * Ref: pipelines_network/pipeline_trainingmodels_network.py:158-164. */
  def filenameLabel(fileName: Column): Column = {
    val stem = regexp_extract(regexp_extract(fileName, "([^/]+)$", 1), "^(.*?)(\\.[^.]*)?$", 1)
    val parts = split(stem, "-")
    trim(when(size(parts) >= 3, array_join(slice(parts, 3, 1 << 20), " "))
      .otherwise(stem))
  }

  /** P4 mechanism: exact-key (case-sensitive) dictionary lookup with
    * raw-value fallback — `series.map(dict).fillna(series)` parity.
    * Ref: pipelines_network/pipeline_trainingmodels_network.py:222-227. */
  def mapExactWithFallback(c: Column, mapping: Map[String, String]): Column =
    coalesce(element_at(typedLit(mapping), c), c)

  /** P4: filename-derived raw label → canonical attack name (the notebook's
    * 44-entry table, transcribed verbatim — keys keep their original case
    * because the preproc path maps them exactly).
    * Ref: pipelines_network/pipeline_trainingmodels_network.py:65-108. */
  val LabelMapping: Map[String, String] = Map(
    "Charging Benign" -> "None",
    "MaliciousEV aggressive scan" -> "aggressive-scan",
    "MaliciousEV os fingerprinting" -> "os-fingerpriting",
    "MaliciousEV port scan" -> "TCP-port-scan",
    "MaliciousEV service detection" -> "service-version-detection",
    "MaliciousEV syn stealth scan" -> "syn-stealth-scan",
    "MaliciousEV vulnerability scan" -> "vulnerability-scan",
    "charging Aggressive scan" -> "aggressive-scan",
    "charging aggressive scan" -> "aggressive-scan",
    "charging icmp flood" -> "icmp-flood",
    "charging icmp fragmentation" -> "icmp-fragmentation",
    "charging os fingerprinting" -> "os-fingerpriting",
    "charging port scan" -> "TCP-port-scan",
    "charging portscan" -> "TCP-port-scan",
    "charging push ack flood" -> "pshack-flood",
    "charging service detection" -> "service-version-detection",
    "charging service detection scan" -> "service-version-detection",
    "charging slowLoris scan" -> "slowloris-scan",
    "charging syn flood" -> "syn-flood",
    "charging syn stealth" -> "syn-stealth-scan",
    "charging synonymous ip" -> "synonymousIP-flood",
    "charging synonymous ip flood" -> "synonymousIP-flood",
    "charging tcp flood" -> "TCP-flood",
    "charging udp flood" -> "upd-flood",
    "charging vulnerability scan" -> "vulnerability-scan",
    "idle aggressive scan" -> "aggressive-scan",
    "idle benign" -> "None",
    "idle icmp flood" -> "icmp-flood",
    "idle icmp fragmentation" -> "icmp-fragmentation",
    "idle os fingerprinting" -> "os-fingerpriting",
    "idle port scan" -> "TCP-port-scan",
    "idle portscan" -> "TCP-port-scan",
    "idle push ack flood" -> "pshack-flood",
    "idle service detection" -> "service-version-detection",
    "idle slowloris scan" -> "slowloris-scan",
    "idle syn flood" -> "syn-flood",
    "idle syn stealth scan" -> "syn-stealth-scan",
    "idle synonymous ip" -> "synonymousIP-flood",
    "idle synonymous ip flood" -> "synonymousIP-flood",
    "idle tcp flood" -> "TCP-flood",
    "idle udp flood" -> "upd-flood",
    "idle vulnerability scan" -> "vulnerability-scan",
  )

  /** P4: canonical attack → scenario family; unmapped → "Benign".
    * Ref: pipeline_trainingmodels_network.py:110-126. */
  val AttackToScenario: Map[String, String] = Map(
    "None" -> "Benign",
    "TCP-flood" -> "DoS", "TCP-port-scan" -> "Recon",
    "aggressive-scan" -> "Recon",
    "icmp-flood" -> "DoS", "icmp-fragmentation" -> "DoS",
    "os-fingerpriting" -> "Recon",
    "pshack-flood" -> "DoS",
    "service-version-detection" -> "Recon",
    "slowloris-scan" -> "DoS",
    "syn-flood" -> "DoS", "syn-stealth-scan" -> "Recon",
    "synonymousIP-flood" -> "DoS",
    "upd-flood" -> "DoS",
    "vulnerability-scan" -> "Recon",
  )

  /** P4: canonical attack → integer id (notebook ordering, NOT dense-sorted).
    * Ref: pipeline_trainingmodels_network.py:128-145. */
  val AttackToId: Map[String, Int] = Map(
    "None" -> 0, "TCP-flood" -> 12, "TCP-port-scan" -> 5,
    "aggressive-scan" -> 1, "icmp-flood" -> 2, "icmp-fragmentation" -> 3,
    "os-fingerpriting" -> 4, "pshack-flood" -> 6,
    "service-version-detection" -> 7, "slowloris-scan" -> 8,
    "syn-flood" -> 9, "syn-stealth-scan" -> 10, "synonymousIP-flood" -> 11,
    "upd-flood" -> 13, "vulnerability-scan" -> 14,
  )

  /** Inverse of [[AttackToId]] (pipeline_trainingmodels_network.py:147). */
  val IdToAttack: Map[Int, String] = AttackToId.map(_.swap)

  /** P4: scenario → id. Ref: pipeline_trainingmodels_network.py:149-155. */
  val ScenarioToId: Map[String, Int] = Map(
    "Backdoor" -> 4, "Benign" -> 0, "Cryptojacking" -> 3,
    "DoS" -> 2, "Recon" -> 1,
  )

  /** P4 applied: the network preproc's full labeling chain over a raw
    * filename-derived label column — adds
    * `attack` (LABEL_MAPPING exact-match, raw fallback),
    * `scenario_str` (ATTACK_TO_SCENARIO, "Benign" fallback),
    * `label_mul_id` (ATTACK_TO_ID, null when unmapped),
    * `scenario_id` (SCENARIO_TO_ID), and
    * `label` (1 iff lower(attack) != "none").
    * All are literal-map expressions — no join, no shuffle; at 100 TB this
    * is a pure map-side projection inside one codegen stage.
    * Ref: pipeline_trainingmodels_network.py:222-238. */
  def networkLabels(df: DataFrame, rawLabelCol: String = "label_mul_raw"): DataFrame = {
    val attack = mapExactWithFallback(col(rawLabelCol), LabelMapping)
    df.withColumn("attack", attack)
      .withColumn("scenario_str",
        coalesce(element_at(typedLit(AttackToScenario), col("attack")), lit("Benign")))
      .withColumn("label_mul_id", element_at(typedLit(AttackToId), col("attack")))
      .withColumn("scenario_id", element_at(typedLit(ScenarioToId), col("scenario_str")))
      .withColumn("label", (lower(col("attack")) =!= "none").cast("int"))
  }

  /** P9: fit a lexicographic label encoder (sklearn `LabelEncoder` parity:
    * classes sorted lexicographically, ids 0..k-1).
    * Ref: func_aux/func_preproc.py:139-151.
    *
    * Returns a tiny (#classes rows) DataFrame `(class, y)` meant to be
    * broadcast-joined onto the data (J2). The distinct+sort shuffles only
    * #classes rows; at 100 TB the distinct is the only wide dependency and
    * is partial-aggregated map-side.
    */
  def fitLabelEncoder(df: DataFrame, target: String): DataFrame = {
    val w = Window.orderBy(col("class"))
    df.select(col(target).cast("string").as("class"))
      .na.drop().distinct()
      .withColumn("y", (row_number().over(w) - 1).cast("int"))
  }

  /** A label encoder's (class, y) table built on the driver from its
    * entries — the shape [[fitLabelEncoder]] returns, as a local relation
    * (reading it runs no job). */
  def encoderTable(spark: SparkSession, entries: Seq[(String, Int)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(entries.map { case (c, y) => Row(c, y) }: _*),
      StructType(Seq(StructField("class", StringType),
        StructField("y", IntegerType, nullable = false))))

  /** P9 transform: broadcast-join the encoder onto `df`, adding `yCol`. */
  def encodeLabel(df: DataFrame, encoder: DataFrame, target: String, yCol: String = "y"): DataFrame =
    df.join(
      broadcast(encoder.withColumnRenamed("class", "__enc_class").withColumnRenamed("y", yCol)),
      df(target).cast("string") === col("__enc_class"), "left")
      .drop("__enc_class")

  /** P8: pandas `.astype("category").cat.codes` parity for string columns —
    * codes are the index of the value among the *sorted* distinct values
    * (pandas category order for strings is lexicographic); null → "missing"
    * first (fillna), matching
    * pipelines_network/pipeline_trainingmodels_network.py:399-402. */
  def categoryCodes(df: DataFrame, column: String, out: String): DataFrame = {
    val filled = df.withColumn(column, coalesce(col(column).cast("string"), lit("missing")))
    val dict = fitLabelEncoder(filled, column)
      .withColumnRenamed("class", s"__cat_$column").withColumnRenamed("y", out)
    filled.join(broadcast(dict), col(column) === col(s"__cat_$column"), "left")
      .drop(s"__cat_$column")
  }
}
