package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed interval: a call the benchmark makes into a layer, or a Spark
  * job. `parent` is the id of the benchmark span that was open when the
  * job started (0 for none). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startMs: Long, endMs: Long)

/** Engine and module counters for the traced run. Registered by the
  * benchmark as a SparkListener plus a QueryExecutionListener; the program
  * itself carries no tracing. Events are counted only while `on` is set,
  * and a reader calls [[drain]] first so that every event of the work it
  * measured has been delivered. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var on = false
  private var nextSpan = 1L
  private val openSpans = mutable.Stack[Long]()

  private val benchSpans = mutable.ArrayBuffer[Span]()

  // Written on the listener-bus thread, read after drain().
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val jobSpans = mutable.ArrayBuffer[Span]()
  private val unitJobs = mutable.ArrayBuffer[(Long, Long)]()
  private final case class OpenJob(t0: Long, parent: Long, module: String, site: String,
      stages: Set[Int], run: mutable.Set[Int])
  private val openJobs = mutable.Map[Int, OpenJob]()
  private val execSites = mutable.Map[Long, String]()
  private val blocks = mutable.Map[String, Long]()
  private var blockBytes = 0L
  private var codegen0 = (0L, 0.0)

  /** Starts the counters of a new unit of work; spans accumulate. */
  def reset(): Unit = {
    drain()
    counts.clear(); unitJobs.clear()
    counts("block_bytes_peak") = blockBytes.toDouble
    codegen0 = codegenNow()
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Runs `body` as a benchmark span; jobs it starts carry its id. */
  def span[T](name: String, layer: String)(body: => T): T = if (!on) body else {
    val id = nextSpan; nextSpan += 1
    val parent = openSpans.headOption.getOrElse(0L)
    openSpans.push(id)
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = System.currentTimeMillis()
    try body finally {
      val t1 = System.currentTimeMillis()
      openSpans.pop()
      sc.setLocalProperty("perfbench.span", openSpans.headOption.map(_.toString).orNull)
      benchSpans += Span(id, parent, name, layer, t0, t1)
    }
  }

  /** Compilations and summed compile milliseconds of Spark's generated
    * code so far. The histogram keeps every sample up to its reservoir
    * size (1028); past that the sum is count × mean. */
  private def codegenNow(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n)
  }

  /** Per-layer counters accumulated since [[reset]], with `wallS` the wall
    * time of the work they cover and `cores` the executor slots. */
  def metrics(wallS: Double, cores: Int): Map[String, Double] = {
    drain()
    val (cg1, ms1) = codegenNow()
    val busy = union(unitJobs.toSeq) / 1e3
    val c = counts
    val mb = 1024.0 * 1024.0
    val base = Map(
      "jobs" -> c("jobs"), "stages_run" -> c("stages_run"),
      "stages_skipped" -> c("stages_skipped"), "tasks" -> c("tasks"),
      "sql_execs" -> c("sql_execs"),
      "codegen_classes" -> (cg1 - codegen0._1).toDouble,
      "codegen_compile_s" -> (ms1 - codegen0._2) / 1e3,
      "job_busy_s" -> busy, "driver_only_s" -> math.max(0.0, wallS - busy),
      "task_run_s" -> c("task_run_ms") / 1e3,
      "core_util" -> c("task_run_ms") / 1e3 / (cores * wallS),
      "task_cpu_s" -> c("task_cpu_ns") / 1e9, "task_gc_s" -> c("task_gc_ms") / 1e3,
      "sched_delay_s" -> c("sched_delay_ms") / 1e3,
      "plan_s" -> c("plan_ms") / 1e3,
      "shuffle_write_mb" -> c("shuffle_write_b") / mb,
      "shuffle_read_mb" -> c("shuffle_read_b") / mb,
      "spill_mb" -> c("spill_b") / mb,
      "peak_exec_mem_mb" -> c("peak_exec_mem_b") / mb,
      "result_mb" -> c("result_b") / mb,
      "block_mb_stored" -> c("block_bytes_peak") / mb)
    val modules = Tracer.Modules.flatMap { m =>
      Seq(s"module.$m.jobs" -> c(s"module.$m.jobs"), s"module.$m.job_s" -> c(s"module.$m.job_ms") / 1e3)
    }
    base ++ modules
  }

  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val result = e.stageInfos.maxBy(_.stageId)
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    // SQL jobs may run on a helper thread (AQE stages, broadcasts), so
    // their stage call site is Spark's; the SQL execution's call site was
    // taken on the thread that started it.
    val sqlSite = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
    val site = sqlSite.getOrElse(userFrame(result.details))
    openJobs(e.jobId) = OpenJob(e.time, parent, Tracer.module(site), site,
      e.stageIds.toSet, mutable.Set[Int]())
    counts("jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = openJobs.remove(e.jobId).foreach { j =>
    counts("stages_skipped") += (j.stages -- j.run).size
    counts(s"module.${j.module}.jobs") += 1
    counts(s"module.${j.module}.job_ms") += (e.time - j.t0)
    jobSpans += Span(-e.jobId.toLong - 1, j.parent, s"job ${e.jobId} ${j.site}", j.module, j.t0, e.time)
    unitJobs += ((j.t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val id = e.stageInfo.stageId
    openJobs.values.filter(_.stages(id)).foreach(_.run += id)
    counts("stages_run") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
    val m = e.taskMetrics; val i = e.taskInfo
    counts("tasks") += 1
    counts("task_run_ms") += m.executorRunTime
    counts("task_cpu_ns") += m.executorCpuTime
    counts("task_gc_ms") += m.jvmGCTime
    val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
    counts("sched_delay_ms") += math.max(0L, i.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    counts("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
    counts("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
    counts("spill_b") += m.memoryBytesSpilled + m.diskBytesSpilled
    counts("peak_exec_mem_b") = math.max(counts("peak_exec_mem_b"), m.peakExecutionMemory.toDouble)
    counts("result_b") += m.resultSize
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId]) {
      val key = b.blockId.name
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      if (on) counts("block_bytes_peak") = math.max(counts("block_bytes_peak"), blockBytes.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      execSites(x.executionId) = userFrame(x.details)
      if (on) counts("sql_execs") += 1
    case x: SparkListenerSQLExecutionEnd => execSites.remove(x.executionId)
    case _ =>
  }

  /** A long call site lists the last Spark frame, then the caller's
    * frames; the first of those is the innermost frame outside Spark's
    * core and SQL engine. */
  private def userFrame(callSite: String): String = {
    val lines = Option(callSite).map(_.linesIterator.toSeq).getOrElse(Nil)
    lines.lift(1).orElse(lines.headOption).getOrElse("")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (on) addPlan(qe)
  private def addPlan(qe: QueryExecution): Unit =
    counts("plan_ms") += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum

  /** Spans as JSON lines, benchmark spans first. */
  def spanLines: Seq[String] = (benchSpans.toSeq ++ jobSpans.toSeq).map { s =>
    val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
    s"""{"id":${s.id},"parent":${s.parent},"name":"$name","layer":"${s.layer}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }
}

object Tracer {
  /** The repo's modules, Spark ML, the benchmark's own calls (`bench`)
    * and any other caller (`other`). */
  val Modules: Seq[String] = Seq("sources", "ops", "functions", "model", "pipelines",
    "queries", "mllib", "bench", "other")

  /** The module of a job, from the innermost frame of its call site that
    * lies outside Spark's core and SQL engine. */
  def module(frame: String): String = {
    val graft = """^graft\.([a-z]+)\..*""".r
    frame match {
      case graft(m) if Modules.contains(m) => m
      case f if f.startsWith("org.apache.spark.ml") => "mllib"
      case f if f.startsWith("perfbench.") => "bench"
      case _ => "other"
    }
  }

  /** A tracer; its listeners are registered only when `listen` is set, so
    * an untraced run carries none. */
  def apply(spark: org.apache.spark.sql.SparkSession, listen: Boolean): Tracer = {
    val t = new Tracer(spark.sparkContext)
    if (listen) {
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    t
  }
}
