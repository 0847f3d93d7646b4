package graft

import graft.operators.ConcurrentJobs

/** Per-table jobs must run under the caller's job group at the call, not
  * the one a pool thread inherited when it was created: a listener keyed
  * by job group would otherwise book them to an earlier phase. */
class ConcurrentJobsSpec extends SparkSpecBase {

  test("jobs carry the caller's current job group, not the pool thread's") {
    val sc = spark.sparkContext
    def jobs(): Seq[Long] = ConcurrentJobs.map(spark, 1 to 8)(i => spark.range(i * 10).count())
    try {
      sc.setJobGroup("pool-warm-A", "threads created here")
      assert(jobs() == (1 to 8).map(_ * 10L))
      val inA = sc.statusTracker.getJobIdsForGroup("pool-warm-A").toSet
      val ungrouped = sc.statusTracker.getJobIdsForGroup(null).toSet
      sc.setJobGroup("pool-run-B", "threads reused here")
      assert(jobs() == (1 to 8).map(_ * 10L))
      val inB = sc.statusTracker.getJobIdsForGroup("pool-run-B")
      assert(inA.nonEmpty && inB.length >= 8)
      assert((sc.statusTracker.getJobIdsForGroup("pool-warm-A").toSet -- inA).isEmpty,
        "a job of the second call ran under the first call's group")
      assert((sc.statusTracker.getJobIdsForGroup(null).toSet -- ungrouped).isEmpty,
        "a job of the second call ran without a group")
    } finally sc.clearJobGroup()
  }

  test("a failing call rethrows its own exception") {
    val e = intercept[IllegalStateException](
      ConcurrentJobs.map(spark, Seq(1, 2))(i => if (i == 2) throw new IllegalStateException("x") else i))
    assert(e.getMessage == "x")
  }
}
