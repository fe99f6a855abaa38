package graft

import org.apache.spark.sql.functions._

import graft.tools.Profile

/** `tools/Profile`'s timed rep: it must pay for the full output (not the
  * pruned `count()` plan) and its listener counters must not bleed from
  * one rep into the next. */
class ProfileSpec extends SparkSpec {

  private def withCounters[T](f: Profile.Counters => T): T = {
    val c = Profile.attach(spark)
    try f(c) finally Profile.detach(spark, c)
  }

  test("a timed rep computes the column that count() prunes away") {
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("column evaluated"); x
    }
    // one partition: one failing task, one stack trace in the test log
    val df = spark.range(0, 10, 1, 1).select(boom(col("id")).as("x"))
    assert(df.count() == 10L, "count() never evaluates the only column")
    val e = withCounters(c => intercept[Exception](Profile.rep(c)(df)))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(t => Option(t.getMessage).exists(_.contains("column evaluated"))),
      s"the rep failed for another reason: $e")
  }

  test("two reps on one frame report identical counters and drain every job") {
    val df = spark.range(0, 2000, 1, 4)
      .groupBy((col("id") % 7).as("k")).agg(sum(col("id")).as("s"))
    val (a, b) = withCounters(c => (Profile.rep(c)(df), Profile.rep(c)(df)))
    Seq(a, b).foreach { r =>
      assert(!r.truncated)
      assert(r.jobs > 0 && r.jobEnds == r.jobs, s"unbalanced jobs: $r")
      assert(r.plan.contains("QueryStage"), s"not the post-AQE plan:\n${r.plan}")
    }
    assert((a.jobs, a.stages, a.tasks) == (b.jobs, b.stages, b.tasks))
  }
}
