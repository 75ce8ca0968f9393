package graft

import graft.queries.{QueryRegistry, QuerySpec}

/** Dev-loop plan dumper (not part of the driver contract): writes
  * `.explain("formatted")` for the named queries to a directory, so plan
  * claims in OPTIMIZATION notes are checkable files, not prose.
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
    QueryRegistry.all.select(sys.env.getOrElse("PLAN_QUERIES", ""))
      .foreach { case QuerySpec(name, fn, _) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"[plandump] wrote $name ($suffix)")
        } catch { case e: Throwable =>
          println(s"[plandump] $name failed: ${e.getMessage}")
        } finally graft.ops.Caching.releaseAll(spark)
      }
    spark.stop()
  }
}
