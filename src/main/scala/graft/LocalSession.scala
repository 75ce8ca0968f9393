package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The session Bench, Verify and PlanDump run on: `local[N]` with
  * N = $SPARK_GRAFT_CPUS (default 4), N shuffle partitions, UTC, no UI. */
object LocalSession {
  def start(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench's stdout is parsed from a ~2000-char TAIL: the unpartitioned-window
    // WARN flood (dozens of lines from globalPrefixSums' bucket-count-bounded
    // offset windows — by design, not data-sized) can push the final JSON
    // line out of it. Silence that one logger; everything else stays at WARN.
    Configurator.setLevel("org.apache.spark.sql.execution.window", Level.ERROR)
    // Same hygiene for the localCheckpoint-release lifecycle: the callers'
    // Caching.releaseAll unpersists each query's eagerly-materialized
    // localCheckpoint results AFTER their only consumer finished, so Spark's
    // "locally checkpointed ... cannot be recomputed after unpersisting"
    // warning is pure noise here, and at suite scale it floods the tail by
    // the hundreds. It cannot hide a real bug: a released checkpoint that
    // WERE re-evaluated fails loudly (lineage is truncated), it does not go
    // quietly wrong. The logger is the concrete RDD class; localCheckpoint
    // binds to MapPartitionsRDD.
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }
}
