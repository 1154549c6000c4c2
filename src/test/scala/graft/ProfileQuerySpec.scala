package graft

import graft.tools.ProfileQuery

class ProfileQuerySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("profile: one record per (query, repeat); a failing name is recorded and the runs go on") {
    val runs = ProfileQuery.profile(spark, dir, Seq("q1_agg", "no_such_query"),
      repeats = 2, release = false)
    assert(runs.map(r => (r.name, r.repeat)) ==
      Seq(("q1_agg", 1), ("q1_agg", 2), ("no_such_query", 1), ("no_such_query", 2)))

    val (ok, failed) = runs.partition(_.name == "q1_agg")
    ok.foreach { r =>
      assert(r.error.isEmpty, r)
      assert(r.jobs > 0, r)
      assert(r.seconds > 0, r)
    }
    failed.foreach { r =>
      assert(r.error.exists(_.contains("java.util.NoSuchElementException")), r)
      assert(r.error.exists(_.contains("no_such_query")), r)
      assert(r.jobs == 0, r)
    }
    // the session is still usable after the failures
    assert(SparkEntry.queries("q1_agg")(spark, dir).count() > 0)
  }
}
