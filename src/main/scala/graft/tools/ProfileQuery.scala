package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Query profiler: runs named SparkEntry queries repeatedly under a job
  * listener and prints per-run wall time, job count, job time and
  * storage occupancy. Usage:
  * `runMain graft.tools.ProfileQuery <repeats> [--release] <query...|ALL>`
  * with SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS (as for Bench and Verify).
  * Not part of the product surface; the paper's pipeline workload is
  * profiled by `perfbench/run.py --trace 1`. */
object ProfileQuery {
  /** One (query, repeat) run. `jobs`/`jobSec` are the jobs started during
    * the run and their summed durations; `storedRdds`/`storedMb` are the
    * RDD storage occupancy right after it; `error` is the exception class
    * and message of a failed run. */
  final case class Run(name: String, repeat: Int, seconds: Double,
      jobs: Int, jobSec: Double, storedRdds: Int, storedMb: Double,
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = args.headOption.map(_.toInt).getOrElse(2)
    // "ALL" = the full query surface in name order; "--release" also
    // unpersists every persistent RDD (localCheckpoint blocks included)
    // after each run, so storage occupancy is per query, not cumulative
    val release = args.contains("--release")
    val names0 = args.drop(1).filterNot(_ == "--release").toSeq
    val names =
      if (names0 == Seq("ALL")) graft.SparkEntry.queries.keys.toSeq.sorted else names0
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.TsContract.check(spark, sfDir)
    warmUp(spark, sfDir)
    profile(spark, sfDir, names, repeats, release).foreach { r =>
      println(r.error match {
        case Some(e) => f"[prof] ${r.name}%-28s r${r.repeat} FAILED ${r.seconds}%7.3f s  $e"
        case None => f"[prof] ${r.name}%-28s r${r.repeat} ${r.seconds}%7.3f s  jobs=${r.jobs}%3d  jobSec=${r.jobSec}%7.3f  storedRdds=${r.storedRdds}%4d mem=${r.storedMb}%9.1f MB"
      })
    }
    spark.stop()
  }

  private def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** Untimed warm-up (q1_agg plus a scan of every table), so the first
    * profiled run does not absorb JVM, codegen and parquet-footer costs.
    * A failed item is reported and skipped. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    def warm(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[prof] warm-up $what failed: ${describe(e)}") }
    warm("q1_agg")(graft.SparkEntry.queries("q1_agg")(spark, sfDir).count())
    graft.queries.Q.tableNames.foreach(t =>
      warm(s"table $t")(graft.queries.Q.table(spark, sfDir, t).count()))
  }

  /** Runs each of `names` `repeats` times (`count()`), one [[Run]] per
    * (query, repeat) in that order. A failure is recorded and the
    * remaining runs go on. */
  def profile(spark: SparkSession, sfDir: String, names: Seq[String],
      repeats: Int, release: Boolean): Seq[Run] = {
    val sc = spark.sparkContext
    val jobs = new JobCounter
    sc.addSparkListener(jobs)
    val queries = graft.SparkEntry.queries
    try for (name <- names; r <- 1 to repeats) yield {
      val (j0, s0) = jobs.snapshot
      val t0 = System.nanoTime()
      val error =
        try { queries(name)(spark, sfDir).count(); None }
        catch { case e: Throwable => Some(describe(e)) }
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.ProfileBus.drain(sc)
      val (j1, s1) = jobs.snapshot
      val st = sc.getRDDStorageInfo
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      if (release)
        try sc.getPersistentRDDs.values.foreach(_.unpersist(false))
        catch { case _: Throwable => () }
      Run(name, r, dt, j1 - j0, s1 - s0, st.length, st.map(_.memSize).sum / 1e6, error)
    } finally sc.removeSparkListener(jobs)
  }

  /** Counts started jobs and sums the durations of ended ones. */
  private final class JobCounter extends SparkListener {
    private var jobs = 0
    private var jobSec = 0.0
    private val started = scala.collection.mutable.Map.empty[Int, Long]
    def snapshot: (Int, Double) = synchronized((jobs, jobSec))
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      jobs += 1; started(js.jobId) = System.nanoTime()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      started.remove(je.jobId).foreach(t0 => jobSec += (System.nanoTime() - t0) / 1e9)
    }
  }
}
