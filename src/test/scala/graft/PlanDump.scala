package graft

import graft.queries.{QueryRegistry, QuerySpec}

/** Dev-loop plan dumper (not part of the driver contract): writes
  * `.explain("formatted")` for the named queries to a directory, so plan
  * claims in OPTIMIZATION notes are checkable files, not prose. The first
  * line of each dump is `# build jobs: N` — the Spark jobs the row's `run`
  * started while BUILDING the frame (eager model totals, persisted-cut
  * counts, isEmpty probes), counted by a listener around the call; the
  * formatted plan cannot show them. Every testdata table's schema is
  * inferred once before the first row (`Tables.load` caches it per JVM at
  * the cost of one job), so the count is the row's own whatever rows were
  * dumped before it. The run ends with `# build jobs total: N` over the
  * rows it dumped, so two runs compare with one line.
  *
  *   PLAN_QUERIES=q186,q208 PLAN_OUT=plans/r16 PLAN_SUFFIX=before \
  *     sbt "Test/runMain graft.PlanDump"
  *
  * PLAN_QUERIES takes row numbers or full names (see QueryRegistry.select;
  * empty = every row); the session is Bench's (LocalSession) so the dumped
  * plan is the one the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("PLAN_OUT", "plans/r16")
    val suffix = sys.env.getOrElse("PLAN_SUFFIX", "before")
    val spark = LocalSession.start()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // events through its own loader: it sets the conf a nanosecond `ts` needs
    graft.tables.Tables.names.foreach(n =>
      if (n == "events") graft.tables.Tables.events(spark, sfDir)
      else graft.tables.Tables.load(spark, sfDir, n))
    var total = 0
    QueryRegistry.all.select(sys.env.getOrElse("PLAN_QUERIES", ""))
      .foreach { case QuerySpec(name, fn, _) =>
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet(): Unit
        }
        try {
          spark.sparkContext.addSparkListener(listener)
          val df = try fn(spark, sfDir) finally {
            org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
            spark.sparkContext.removeSparkListener(listener)
          }
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            s"# build jobs: ${jobs.get}\n$plan".getBytes("UTF-8"))
          total += jobs.get
          println(s"[plandump] wrote $name ($suffix)")
        } catch { case e: Throwable =>
          println(s"[plandump] $name failed: ${e.getMessage}")
        } finally graft.ops.Caching.releaseAll(spark)
      }
    println(s"# build jobs total: $total")
    spark.stop()
  }
}
