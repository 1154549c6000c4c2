package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables in the shape the query surface reads
  * (TESTDATA.md: a TPC-H-ish star schema plus `events`, `documents` and
  * `embeddings`). Every value is a pure function of the row id and a
  * per-column salt, so the output does not depend on partitioning or core
  * count. Row counts follow the testdata's: sf 0.1 gives 600k lineitem
  * rows and 100k events.
  *
  * Usage: Gen <outDir> <sf>
  */
object Gen {
  private val Salt = 42L

  /** Uniform double in [0, 1) from (id, salt). */
  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(Salt), lit(salt)), lit(1L << 40)).cast("double") / (1L << 40).toDouble

  private def uniformInt(id: Column, salt: Int, lo: Long, hiExcl: Long): Column =
    (floor(u(id, salt) * (hiExcl - lo)) + lo).cast("long")

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(u(id, salt) * values.size) + 1).cast("int"))

  private def daysFrom(start: String, id: Column, salt: Int, span: Int): Column =
    date_add(lit(start).cast("date"), floor(u(id, salt) * span).cast("int"))
      .cast("timestamp_ntz")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def rows(base: Long): Long = math.max(1L, math.round(base * sf))
    val id = col("id")
    val nCust = rows(150000); val nSupp = rows(10000); val nPart = rows(200000)
    val nOrders = rows(1500000); val nLine = rows(6000000)
    val nEvents = rows(1000000); val nDocs = rows(50000); val nEmb = rows(20000)
    val range = (n: Long) => spark.range(0, n, 1, 4)

    val region = range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uniformInt(id, 1, 0, 25).cast("int").as("c_nationkey"),
      round(u(id, 2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val supplier = range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uniformInt(id, 4, 0, 25).cast("int").as("s_nationkey"),
      round(u(id, 5) * 11000 - 1000, 2).as("s_acctbal"))
    val part = range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(id, 6, Seq("blue", "old", "small", "new", "large", "hot", "cold", "red")),
        pick(id, 7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")))
        .as("p_name"),
      concat(lit("Brand#"), uniformInt(id, 8, 1, 26)).as("p_brand"),
      pick(id, 9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      uniformInt(id, 10, 1, 51).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 1).as("p_retailprice"))
    val orders = range(nOrders).select(id.as("o_orderkey"),
      uniformInt(id, 11, 0, nCust).as("o_custkey"),
      pick(id, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(id, 13) * 499000 + 1000, 2).as("o_totalprice"),
      daysFrom("1995-01-01", id, 14, 2404).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = range(nLine).select(
      uniformInt(id, 16, 0, nOrders).as("l_orderkey"),
      uniformInt(id, 17, 0, nPart).as("l_partkey"),
      uniformInt(id, 18, 0, nSupp).as("l_suppkey"),
      uniformInt(id, 19, 1, 8).cast("int").as("l_linenumber"),
      uniformInt(id, 20, 1, 51).cast("double").as("l_quantity"),
      round(u(id, 21) * 104100 + 900, 2).as("l_extendedprice"),
      (uniformInt(id, 22, 0, 11) / 100.0).as("l_discount"),
      (uniformInt(id, 23, 0, 9) / 100.0).as("l_tax"),
      pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 25, Seq("O", "F")).as("l_linestatus"),
      daysFrom("1995-01-02", id, 26, 2498).as("l_shipdate"))
    // ts strictly increases with event_id: one jittered slot per event
    // across 30 days from 2024-01-01, in whole microseconds
    val slotUs = 30L * 86400L * 1000000L / nEvents
    val events = range(nEvents).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * slotUs + floor(u(id, 27) * slotUs).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      uniformInt(id, 28, 0, rows(15000)).as("user_id"),
      pick(id, 29, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      round(-log(lit(1.0) - u(id, 30)) * 50, 2).as("value"),
      format_string("{\"k\": %d}", uniformInt(id, 31, 0, 100)).as("props"))
    // text: 10..100 words from a 30-word vocabulary; 5% of documents copy
    // an earlier document's text and append " dup" (near-duplicates)
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
      "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
      "query", "a", "scan", "batch")
    val vocabSql = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val isDup = id > 0 && u(id, 32) < 0.05
    val src = when(isDup, floor(u(id, 33) * id).cast("long")).otherwise(id)
    val documents = range(nDocs)
      .withColumn("src", src)
      .withColumn("nw", floor(u(col("src"), 34) * 91).cast("int") + 10)
      .select(id.as("doc_id"),
        concat(
          expr(s"array_join(transform(sequence(0, nw - 1), k -> " +
            s"element_at($vocabSql, cast(pmod(xxhash64(src, k, 35L), 30) + 1 as int))), ' ')"),
          when(isDup, lit(" dup")).otherwise(lit(""))).as("text"),
        pick(id, 36, Seq("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
          "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")).as("lang"),
        concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // 64-d unit vectors from Box-Muller normals, labels 0..9
    val normals = expr("transform(sequence(0, 63), k -> " +
      "sqrt(-2 * ln(1 - pmod(xxhash64(id, k, 37L), 1099511627776) / 1099511627776.0)) * " +
      "cos(2 * pi() * pmod(xxhash64(id, k, 38L), 1099511627776) / 1099511627776.0))")
    val embeddings = range(nEmb)
      .withColumn("g", normals)
      .withColumn("norm", expr("sqrt(aggregate(g, 0D, (acc, x) -> acc + x * x))"))
      .select(id.as("vec_id"),
        expr("transform(g, x -> x / norm)").cast("array<float>").as("embedding"),
        uniformInt(id, 39, 0, 10).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  def write(spark: SparkSession, outDir: String, sf: Double): Unit =
    tables(spark, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
}
