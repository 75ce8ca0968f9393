package graft

import graft.queries.{QueryRegistry, QuerySpec}

/** Bench's row loop driven with a registry that holds one throwing row; no
  * time is asserted, only where each row lands in the report. */
class BenchSpec extends SparkSpec {

  test("a row that throws is reported as failed and left out of the total") {
    val throws = new java.util.concurrent.atomic.AtomicInteger
    val rows = new QueryRegistry(Seq(
      QuerySpec("q1_ok", (s, _) => s.range(3).toDF(), "SELECT 1"),
      QuerySpec("q2_throws", (_, _) => {
        throws.incrementAndGet()
        throw new IllegalStateException("boom")
      }, "SELECT 1"))).select("")
    val report = Bench.timeRows(spark, "unused", rows, iters = 3)
    assert(report.failed === Map("q2_throws" -> "java.lang.IllegalStateException"))
    assert(throws.get === 1, "a failed row was run again")
    assert(report.seconds.keySet === Set("q1_ok"))
    assert(report.gcMs.keySet === Set("q1_ok"))
    assert(report.total === report.seconds("q1_ok"))
  }
}
