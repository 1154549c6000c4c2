package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Queries run in name order (deterministic) after an untimed warm-up,
  * so the first timed query does not absorb JVM, codegen and
  * parquet-footer costs.
  */
object Bench {
  /** One flagship query per operator family, warmed untimed before the
    * suite (plan-shape and codegen coverage). `q1_agg` plus the first
    * `CompactSize` entries are the per-query map of the compact stdout
    * line; runs are compared by those keys, so keep that prefix's names
    * and order. */
  val Headline: Seq[String] = Seq("q_topk", "g12_ttd", "g14_roc_curve",
    "w1_sliding_windows", "dedup_exact_groups", "dedup_minhash_lsh",
    "dedup_semantic", "dedup_neardup_incremental", "ann_topk_brute",
    "ann_ivf", "ann_ivfpq_rerank", "text_c4_clean", "text_bm25_topk",
    "corpus_report", "pack_sequences", "g_temperature_scaling",
    "g13_multiclass_metrics", "graph_clustering_coef", "g_spearman",
    "sample_token_budget", "quality_classifier", "g_psi", "graph_pagerank",
    "linkage_fellegi_sunter", "retrieval_hybrid",
    "dedup_containment", "pack_whole", "corpus_report_incremental",
    "bitext_margin", "g_mondrian", "embedding_matryoshka", "graph_kcore",
    "scd2_build", "g_funnel", "text_fertility", "retrieval_rm3",
    "sft_flatten", "dq_constraints", "text_unigram_lm")
  val CompactSize = 19

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    TsContract.check(spark, sfDir)
    // Untimed warm-up: the headline set plus a scan of every table, so no
    // timed query absorbs first-reader footer/metadata costs or first-run
    // janino compilation. Codegen compile is a per-JVM cost, not engine
    // throughput; warming a bounded subset instead of the whole suite
    // keeps the bench's wall clock from doubling. A failed warm-up is
    // reported and skipped: it leaves that query cold but must neither
    // stop the warm-up nor pass unnoticed.
    def warm(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $what failed: ${e.getClass.getName}: ${e.getMessage}") }
    (Seq("q1_agg") ++ Headline).foreach(q =>
      warm(q)(SparkEntry.queries(q)(spark, sfDir).count()))
    graft.queries.Q.tableNames.foreach(t =>
      warm(s"table $t")(graft.queries.Q.table(spark, sfDir, t).count()))
    // optional args: run only these queries (no args = the full surface)
    val only: Set[String] = args.toSet
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      // a query's retained cache must not occupy memory (and skew GC)
      // for the 130+ queries after it
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      (name, dt, ok)
    }
    // Millisecond precision keeps the JSON lines ~2.5x shorter.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","cpus":"$cpus"}"""
    // Stdout is read through a bounded tail window (the last ~2000
    // chars), which the full per-query line (~4 KB) does not fit. Stdout
    // therefore carries only a compact (~0.8 KB) line with the same
    // contract fields and `queries` reduced to the headline prefix; the
    // full line goes to BENCH_FULL.json.
    val byName = results.map(r => r._1 -> r._2).toMap
    val hq = ("q1_agg" +: Headline.take(CompactSize))
      .filter(byName.contains)
      .map(k => "\"" + k + "\":" + fmt(byName(k))).mkString("{", ",", "}")
    val shortLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$hq,"failed":$failed,"n_queries":${results.size},"queries_full_in":"BENCH_FULL.json","sf":"$sfDir"}"""
    // The compact line prints twice, here and as the very last line: sbt
    // appends its own "[success] Total time" line, and two complete
    // copies still fit inside the tail window next to it.
    println(shortLine)
    // The output path comes from the environment or the working
    // directory; a failed write is WARNed, not swallowed.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_FULL.json"))
    try java.nio.file.Files.writeString(outPath, line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"WARN: could not write $outPath: $e") }
    // Every run also writes a core-count-suffixed copy, so runs at
    // different core counts do not overwrite each other's full map.
    val cpuPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_FULL.json")
        .replaceAll("\\.json$", s"_c$cpus.json"))
    if (cpuPath != outPath)
      try java.nio.file.Files.writeString(cpuPath, line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"WARN: could not write $cpuPath: $e") }
    spark.stop()
    println(shortLine)
  }
}
