package graft

import graft.ops.LocalRegime

/** The one small-input regime switch: `collectAtMost` answers with every
  * row of a frame that fits its limit, and `distributedOnly` forces every
  * probe to answer `None` without running a job. */
class LocalRegimeSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the number of Spark jobs it ran. */
  private def withJobCount[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.ProfileBus.drain(sc)
      (out, sc.statusTracker.getJobIdsForGroup(group).length)
    } finally sc.clearJobGroup()
  }

  test("collectAtMost: Some of all rows at the limit, None past it, Some(empty) on an empty frame, None at n = 0") {
    // a range, not a local Seq: a limit over a local relation is folded
    // on the driver and runs no job, so the n = 0 check below would be
    // vacuous
    val df = spark.range(1, 6).toDF("x")
    assert(LocalRegime.collectAtMost(df, 5).map(_.map(_.getLong(0)).sorted.toSeq) ==
      Some(1L to 5L))
    assert(LocalRegime.collectAtMost(df, 4).isEmpty)
    val empty = LocalRegime.collectAtMost(df.where($"x" < 0), 3)
    assert(empty.isDefined && empty.get.isEmpty)
    val (zero, zeroJobs) = withJobCount("local-regime-zero") {
      LocalRegime.collectAtMost(df, 0)
    }
    assert(zero.isEmpty && zeroJobs == 0)
  }

  test("distributedOnly: every probe answers None and runs no job") {
    val df = spark.range(1, 6).toDF("x")
    // positive control: outside the block the same probe runs a job
    val (probed, probeJobs) = withJobCount("local-regime-probe") {
      LocalRegime.collectAtMost(df, 5)
    }
    assert(probed.isDefined && probeJobs >= 1)
    val (forced, forcedJobs) = withJobCount("local-regime-forced") {
      LocalRegime.distributedOnly(LocalRegime.collectAtMost(df, 5))
    }
    assert(forced.isEmpty && forcedJobs == 0)
  }

  test("distributedOnly: the seam is restored after the block, also when the body throws") {
    val df = spark.range(1, 2).toDF("x")
    assert(LocalRegime.distributedOnly(LocalRegime.collectAtMost(df, 1)).isEmpty)
    assert(LocalRegime.collectAtMost(df, 1).isDefined)
    intercept[IllegalStateException] {
      LocalRegime.distributedOnly[Unit](throw new IllegalStateException("boom"))
    }
    assert(LocalRegime.collectAtMost(df, 1).isDefined)
    // nested blocks restore the outer setting
    LocalRegime.distributedOnly {
      LocalRegime.distributedOnly(())
      assert(LocalRegime.collectAtMost(df, 1).isEmpty)
    }
  }

  test("collectBounded: the same probe, unaffected by distributedOnly") {
    val df = spark.range(1, 4).toDF("x")
    for (probe <- Seq(LocalRegime.collectBounded(df, 3),
        LocalRegime.distributedOnly(LocalRegime.collectBounded(df, 3))))
      assert(probe.map(_.map(_.getLong(0)).sorted.toSeq) == Some(Seq(1L, 2L, 3L)))
    assert(LocalRegime.distributedOnly(LocalRegime.collectBounded(df, 2)).isEmpty)
    assert(LocalRegime.collectBounded(df, 0).isEmpty)
  }
}
