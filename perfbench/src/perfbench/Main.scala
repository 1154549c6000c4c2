package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.model.Scorers
import graft.pipelines.{HostImportance, Pipeline1, Pipeline3}
import graft.queries.Q

/** The benchmark's JVM side: one workload, timed or traced, in a fresh JVM.
  *
  *  - `gen <dataDir> <sf>` writes the input tables;
  *  - `run <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>
  *    <pinsFile> <outFile>` sets up, runs units of the workload until the
  *    next would pass `seconds` (at least one), checks every output and
  *    writes the result as one JSON object to `outFile`. The observed
  *    outputs go to `<outFile>.observed.json`; pins are made from them.
  */
object Main {
  val Workloads: Seq[String] = Seq("experiment", "queries")

  /** The seed picks one of this many pinned input variants: the event
    * types that play the three attacks, and the base seeds of the
    * robustness sweep and of permutation importance. The query order
    * follows the full seed. */
  val Variants = 4

  /** The queries workload: the flagship q1_agg, the open optimisation
    * targets (retrieval_rm3, ann_ivfpq_rerank, g_mondrian, graph_walks,
    * text_ppl_buckets) and one or two queries of each other family of the
    * legacy Bench headline set. */
  val Queries: Seq[String] = Seq("q1_agg", "retrieval_rm3", "ann_ivfpq_rerank",
    "g_mondrian", "graph_walks", "text_ppl_buckets", "q_topk", "g14_roc_curve",
    "w1_sliding_windows", "dedup_minhash_lsh", "ann_topk_brute", "text_c4_clean",
    "graph_pagerank")

  val Attacks: Seq[String] = Seq("syn-flood", "tcp-port-scan", "cryptojacking")
  val EventTypes: Seq[String] = Seq("signup", "click", "error", "view", "purchase")
  val Features: Seq[String] = Seq("value", "v2", "v3")
  val OrderCols: Seq[Column] = Seq(col("ts"), col("event_id"))
  /** metrics.json fields that are wall-clock readings, not results. */
  val TimingFields: Set[String] =
    Set("training_time_seconds", "avg_inference_latency_per_window_sec")

  final case class Variant(attackOf: Map[String, String], robustnessSeed: Long,
      importanceSeed: Long)

  def variant(seed: Long): Variant = {
    val v = Math.floorMod(seed, Variants.toLong)
    val types = new Random(1000L + v).shuffle(EventTypes)
    Variant(types.zip(Attacks).toMap, 123L + 7L * v, 42L + 11L * v)
  }

  /** One operation of a unit: a grid cell, a pipeline-3 call or a query,
    * with its wall and CPU seconds. */
  final case class Op(name: String, seconds: Double, cpuS: Double, error: Option[String])

  final case class UnitResult(wallS: Double, ops: Seq[Op], layer: Map[String, Double],
      cpuS: Double = 0.0)

  /** What a workload needs: the session, its inputs, the pins it checks
    * against, and where its failures and observed outputs go. */
  final class Ctx(val spark: SparkSession, val seed: Long, val dataDir: String,
      val workDir: Path, val pins: JsonNode, val tracer: Tracer) {
    val cores: Int = spark.sparkContext.defaultParallelism
    val json = new ObjectMapper()
    val observed: ObjectNode = JsonNodeFactory.instance.objectNode()
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var checksAttempted = 0

    /** Records `actual` under `key` and compares it with the pin. */
    def check(key: String, actual: JsonNode): Unit = {
      checksAttempted += 1
      observed.set[JsonNode](key, actual)
      val expected = pins.path(key)
      if (expected.isMissingNode) failures += s"$key: MissingPin: no pinned output"
      else Checks.diff(expected, actual).foreach(d => failures += s"$key: OutputMismatch: $d")
    }
  }

  def main(argv: Array[String]): Unit = argv.toList match {
    case "gen" :: dataDir :: sf :: Nil =>
      val spark = session(Paths.get(dataDir).getParent.resolve("gen-work"))
      Gen.write(spark, dataDir, sf.toDouble)
      spark.stop()
    case "run" :: workload :: seed :: seconds :: trace :: dataDir :: workDir :: pinsFile :: outFile :: Nil =>
      require(Workloads.contains(workload), s"unknown workload $workload")
      val missing = Queries.filterNot(SparkEntry.queries.contains)
      require(missing.isEmpty, s"queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
      val out = runWorkload(workload, seed.toLong, seconds.toDouble, trace == "1",
        dataDir, Paths.get(workDir), Paths.get(pinsFile), Paths.get(outFile))
      Files.writeString(Paths.get(outFile), out)
    case _ =>
      System.err.println("usage: Main gen <dataDir> <sf> | " +
        "Main run <workload> <seed> <seconds> <trace> <dataDir> <workDir> <pins> <out>")
      sys.exit(2)
  }

  def session(workDir: Path): SparkSession = {
    Files.createDirectories(workDir)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def jvmUptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** CPU time of every thread of this JVM so far (program, GC, JIT). */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Samples the process CPU time every few milliseconds, so the CPU spent
    * between two wall-clock instants (e.g. artifact times) can be read. */
  final class CpuSampler extends Thread {
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    @volatile private var running = true
    setDaemon(true)
    override def run(): Unit = while (running) {
      samples.add((System.currentTimeMillis(), processCpuS())); Thread.sleep(5)
    }
    def finish(): Unit = { running = false; join() }
    /** CPU seconds at the last sample taken at or before `ms`. */
    def cpuAt(ms: Long): Double =
      samples.asScala.takeWhile(_._1 <= ms).lastOption.map(_._2).getOrElse(0.0)
  }

  def peakRssMb(): Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def runWorkload(workload: String, seed: Long, seconds: Double, trace: Boolean,
      dataDir: String, workDir: Path, pinsFile: Path, outFile: Path): String = {
    val spark = session(workDir)
    val tracer = Tracer(spark, listen = trace)
    val pins = {
      val all = new ObjectMapper().readTree(pinsFile.toFile)
      all.path(workload).path(Math.floorMod(seed, Variants.toLong).toString)
    }
    val ctx = new Ctx(spark, seed, dataDir, workDir, pins, tracer)
    val w: Workload = workload match {
      case "experiment" => new ExperimentWorkload(ctx)
      case "queries" => new QueryWorkload(ctx)
    }
    val setupS = jvmUptimeS()
    val setupCpuS = processCpuS()

    // Units until the next one would overrun `seconds`, at least one. A
    // traced run keeps the same schedule with the listeners counting.
    val units = scala.collection.mutable.ArrayBuffer[UnitResult]()
    val t0 = System.nanoTime()
    do {
      if (trace) { tracer.reset(); tracer.on = true }
      val cpu0 = processCpuS()
      val u = tracer.span("unit", workload)(w.unit()).copy(cpuS = processCpuS() - cpu0)
      tracer.on = false
      units += (if (trace) u.copy(layer = u.layer ++ tracer.metrics(u.wallS, ctx.cores)) else u)
    } while ((System.nanoTime() - t0) / 1e9 + units.last.wallS <= seconds)
    if (trace) writeSpans(workDir, workload, seed, tracer)
    spark.stop()

    val ops = units.flatMap(_.ops)
    units.foreach(u => System.err.println(f"[perfbench] unit ${u.wallS}%.3f s: " +
      u.ops.map(o => f"${o.name}=${o.seconds}%.3f").mkString(" ")))
    ops.foreach(o => o.error.foreach(e => ctx.failures += s"${o.name}: $e"))
    val attempted = ops.size + ctx.checksAttempted
    val failed = ctx.failures.size
    Files.writeString(Paths.get(outFile.toString + ".observed.json"),
      ctx.json.writerWithDefaultPrettyPrinter().writeValueAsString(ctx.observed))
    ctx.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val opS = ops.map(_.seconds).toSeq
    val opCpuS = ops.map(_.cpuS).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupCpuS, "s"),
        ("cpu_s", median(units.map(_.cpuS).toSeq), "s"))
      else Layer.Metrics.map { case (k, unit) =>
        val v = k match {
          case "traced_cpu_s" => median(units.map(_.cpuS).toSeq)
          case "traced_wall_s" => median(units.map(_.wallS).toSeq)
          case "setup_wall_s" => setupS
          case "op_s_p50" => quantile(opS, 0.50)
          case "op_s_p75" => quantile(opS, 0.75)
          case "op_cpu_s_p50" => quantile(opCpuS, 0.50)
          case "op_cpu_s_p75" => quantile(opCpuS, 0.75)
          case "peak_rss_mb" => peakRssMb()
          case _ => median(units.map(_.layer.getOrElse(k, 0.0)).toSeq)
        }
        (k, v, unit)
      }
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    s"""{"correct": ${ctx.failures.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def writeSpans(workDir: Path, workload: String, seed: Long, tracer: Tracer): Unit = {
    val f = workDir.resolve(s"trace-$workload-$seed.jsonl")
    Files.writeString(f, tracer.spanLines.mkString("", "\n", "\n"))
  }

  /** Times `body`; an exception becomes the op's error, with its class. */
  def timed(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime(); val c0 = processCpuS()
    val err = try { body; None } catch {
      case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    Op(name, (System.nanoTime() - t0) / 1e9, processCpuS() - c0, err)
  }
}

/** Per-layer metric names and units, in output order. */
object Layer {
  val Engine: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages_run" -> "count", "stages_skipped" -> "count",
    "tasks" -> "count", "sql_execs" -> "count", "codegen_classes" -> "count",
    "job_busy_s" -> "s", "driver_only_s" -> "s", "core_util" -> "ratio",
    "task_run_s" -> "s", "task_cpu_s" -> "s", "task_gc_s" -> "s",
    "sched_delay_s" -> "s", "plan_s" -> "s", "codegen_compile_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "peak_exec_mem_mb" -> "MB", "result_mb" -> "MB", "block_mb_stored" -> "MB")
  val Calls: Seq[(String, String)] = Seq(
    "pipelines.grid_s" -> "s", "model.fit_s_p50" -> "s",
    "model.infer_us_per_window_p50" -> "us", "pipelines.robustness_s" -> "s",
    "pipelines.loao_s" -> "s", "pipelines.importance_s" -> "s",
    "queries.construct_s" -> "s", "queries.execute_s" -> "s")
  /** Wall-clock and memory readings, which vary too much between runs on
    * a shared host to bound (see README.md). */
  val Readings: Seq[(String, String)] = Seq(
    "traced_cpu_s" -> "s", "traced_wall_s" -> "s", "setup_wall_s" -> "s",
    "op_s_p50" -> "s", "op_s_p75" -> "s", "op_cpu_s_p50" -> "s", "op_cpu_s_p75" -> "s",
    "peak_rss_mb" -> "MB")
  val Metrics: Seq[(String, String)] = Engine ++
    Tracer.Modules.flatMap(m => Seq(s"module.$m.jobs" -> "count", s"module.$m.job_s" -> "s")) ++
    Calls ++ Readings
}

/** A workload: repeatable timed units, each checking its own outputs. */
trait Workload {
  def unit(): Main.UnitResult
}

/** The `events` table as the pipelines' power-shaped input: three event
  * types (chosen by the variant) play the attacks, the rest are benign;
  * `user_id` parity plays the charging state; three numeric features. */
object Frame {
  def apply(spark: SparkSession, dataDir: String, v: Main.Variant): DataFrame = {
    val attack = v.attackOf.foldLeft(lit("none")) { case (acc, (t, a)) =>
      when(col("event_type") === t, lit(a)).otherwise(acc)
    }
    Q.table(spark, dataDir, "events")
      .withColumn("Attack", attack)
      .withColumn("State", when(pmod(col("user_id"), lit(2)) === 0, "charging").otherwise("idle"))
      .withColumn("v2", col("value") * 0.5 + col("event_id") % 7)
      .withColumn("v3", sin(col("event_id") * 0.01) + col("value") * 0.1)
  }
}

/** `experiment`: the paper's loop on the events frame, in one unit.
  *  - pipeline 1: one Pipeline1.runGrid call, binary × {logit, gbt} ×
  *    seqLen 10 × step 1, artifacts written to a fresh directory;
  *  - on the grid's logit cell, whose windows the benchmark caches again
  *    (runGrid releases them): pipeline 3A robustness (2 kinds × 4
  *    severities × 1 repeat), 3B leave-one-attack-out over the three
  *    attacks with one seed, and permutation importance (3 features × 1
  *    repeat).
  * Model sizes are small (see README.md): a Spark job costs about 0.1 s
  * on 4 cores whatever its data, so iterations, not rows, set the run time.
  * There is no warm-up: a grid runs once per job, so the unit is cold. */
final class ExperimentWorkload(ctx: Main.Ctx) extends Workload {
  import Main._
  private val v = variant(ctx.seed)
  private val frame = Frame(ctx.spark, ctx.dataDir, v)
  private val scorers = Seq("logit" -> Scorers.Logistic(maxIter = 10),
    "gbt" -> Scorers.GBT(maxIter = 2, maxDepth = 3))
  private var n = 0

  def unit(): UnitResult = {
    n += 1
    val root = ctx.workDir.resolve(s"grid-$n")
    val t0 = System.nanoTime()
    val sampler = new CpuSampler
    sampler.start()
    val startMs = System.currentTimeMillis()
    val cells = ctx.tracer.span("runGrid", "pipelines") {
      Pipeline1.runGrid(ctx.spark, frame, Features, "Attack", "State", OrderCols,
        Seq("binary"), scorers, Seq(10), _ => Seq(1), Some(root.toString))
    }
    val gridS = (System.nanoTime() - t0) / 1e9
    sampler.finish()
    // a cell runs from the previous cell's last artifact (or the call's
    // start) to its own last artifact
    var prevEnd = startMs
    val fit = scala.collection.mutable.ArrayBuffer[Double]()
    val infer = scala.collection.mutable.ArrayBuffer[Double]()
    val cellOps = cells.map { c =>
      val dir = root.resolve(c.name)
      c.outcome match {
        case scala.util.Failure(e) =>
          Op(c.name, 0.0, 0.0, Some(s"${e.getClass.getName}: ${e.getMessage}"))
        case scala.util.Success(_) =>
          val end = Files.walk(dir).iterator().asScala.map(p => Files.getLastModifiedTime(p).toMillis).max
          val s = (end - prevEnd) / 1e3
          val cpu = sampler.cpuAt(end) - sampler.cpuAt(prevEnd)
          prevEnd = end
          val m = ctx.json.readTree(dir.resolve("metrics.json").toFile).path("metrics")
          fit += m.path("training_time_seconds").asDouble()
          infer += m.path("avg_inference_latency_per_window_sec").asDouble() * 1e6
          val results = m.deepCopy[ObjectNode]()
          TimingFields.foreach(results.remove)
          ctx.check(s"grid/${c.name}", results)
          Op(c.name, s, cpu, None)
      }
    }
    deleteTree(root)

    var layer = Map("pipelines.grid_s" -> gridS,
      "model.fit_s_p50" -> (if (fit.isEmpty) 0.0 else median(fit.toSeq)),
      "model.infer_us_per_window_p50" -> (if (infer.isEmpty) 0.0 else median(infer.toSeq)))
    def call(name: String)(body: => Array[Row]): Op = {
      val op = timed(name) {
        val rows = ctx.tracer.span(name, "pipelines")(body)
        ctx.check(s"sweep/$name", Checks.rows(rows))
      }
      layer += s"pipelines.${name}_s" -> op.seconds
      op
    }
    val sweepOps = cells.find(_.model == "logit").flatMap(_.outcome.toOption) match {
      case None => Seq(Op("sweep", 0.0, 0.0, Some("NoBaseCell: the logit cell failed")))
      case Some(base) =>
        base.windows.cache()
        val testWindows = base.windows.where(col("split") === "test")
          .withColumn("weight", lit(1.0))
          .withColumn("win_id", col("win_id").cast("long"))
        val ops = Seq(
          call("robustness") {
            Pipeline3.robustness(base.scored, base.model, nSev = 4, nRepeats = 1,
              baseSeed = v.robustnessSeed).collect()
          },
          call("loao") {
            Pipeline3.leaveOneAttackOut(base.windows, Scorers.Logistic(maxIter = 2), Attacks,
              Seq(42L)).collect().sortBy(_.getString(0))
          },
          call("importance") {
            HostImportance.permutationImportance(testWindows, base.model,
              nFeatures = Features.size, nRepeats = 1, baseSeed = v.importanceSeed).collect()
          })
        base.windows.unpersist(blocking = true)
        ops
    }
    UnitResult((System.nanoTime() - t0) / 1e9, cellOps ++ sweepOps, layer)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** `queries`: the listed SparkEntry queries in a seed-shuffled order; the
  * first pass is cold, as in a one-shot job. The sink hashes every row of a
  * result as JSON, so every column is computed (nothing for Catalyst to
  * prune) and the hash is the output check. */
final class QueryWorkload(ctx: Main.Ctx) extends Workload {
  import Main._
  private val order = new Random(ctx.seed).shuffle(Queries)

  def unit(): UnitResult = {
    val t0 = System.nanoTime()
    var construct = 0.0; var execute = 0.0
    val ops = order.map { q =>
      var c = 0.0
      val op = timed(q) {
        val tc = System.nanoTime()
        val df = ctx.tracer.span(s"construct $q", "queries") {
          SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
        }
        c = (System.nanoTime() - tc) / 1e9
        val hash = ctx.tracer.span(s"sink $q", "bench")(Checks.hash(df))
        ctx.check(s"queries/$q", hash)
      }
      construct += c; execute += op.seconds - c
      ctx.spark.catalog.clearCache()
      op
    }
    UnitResult((System.nanoTime() - t0) / 1e9, ops,
      Map("queries.construct_s" -> construct, "queries.execute_s" -> execute))
  }
}

/** Output fingerprints and their comparison with the pins. */
object Checks {
  private val f = JsonNodeFactory.instance

  /** Row count and an order-independent hash of every row's JSON form. */
  def hash(df: DataFrame): JsonNode = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1L << 40)))).head()
    val o = f.objectNode()
    o.put("rows", r.getLong(0))
    o.put("hash", if (r.isNullAt(1)) "0" else r.getLong(1).toHexString)
    o
  }

  /** Collected rows as a JSON array of arrays; non-finite doubles as text. */
  def rows(rs: Array[Row]): JsonNode = {
    val a = f.arrayNode()
    rs.foreach { r =>
      val ra = a.addArray()
      r.toSeq.foreach {
        case null => ra.addNull()
        case d: Double if d.isNaN || d.isInfinite => ra.add(d.toString)
        case d: Double => ra.add(d)
        case i: Int => ra.add(i)
        case l: Long => ra.add(l)
        case x => ra.add(x.toString)
      }
    }
    a
  }

  /** Differences between `expected` and `actual`: numbers agree within a
    * relative 1e-6 (floating-point sums may reorder across core counts),
    * everything else exactly. */
  def diff(expected: JsonNode, actual: JsonNode, path: String = ""): Seq[String] =
    if (expected.isNumber && actual.isNumber) {
      val (e, a) = (expected.asDouble(), actual.asDouble())
      if (math.abs(e - a) <= 1e-6 * math.max(1.0, math.abs(e))) Nil
      else Seq(s"$path expected $e, got $a")
    } else if (expected.isObject && actual.isObject) {
      val keys = (expected.fieldNames().asScala ++ actual.fieldNames().asScala).toSeq.distinct
      keys.flatMap(k => diff(expected.path(k), actual.path(k), s"$path.$k"))
    } else if (expected.isArray && actual.isArray) {
      if (expected.size != actual.size) Seq(s"$path expected ${expected.size} items, got ${actual.size}")
      else (0 until expected.size).flatMap(i => diff(expected.get(i), actual.get(i), s"$path[$i]"))
    } else if (expected == actual) Nil
    else Seq(s"$path expected $expected, got $actual")
}
