package org.apache.spark.sql

import org.apache.spark.sql.functions.{broadcast, col}

/** The Tungsten page size of the forked JVM, which build.sbt pins with
  * `spark.buffer.pageSize`. A broadcast hashed on a non-long key holds
  * whole pages in the driver block manager until the ContextCleaner frees
  * it, so a heap-sized page (64 MiB at local[4] with 8g) makes a 3-row
  * broadcast cost 64 MiB. In this package to reach the memory manager and
  * the block manager. */
class PageSizeSpec extends graft.SparkSpec {

  test("the test JVM's Tungsten page is 1 MiB") {
    assert(spark.sparkContext.env.memoryManager.pageSizeBytes === (1L << 20))
  }

  test("a string-keyed broadcast join over 3 rows leaves < 2 MiB of broadcast blocks") {
    import spark.implicits._
    val bm = spark.sparkContext.env.blockManager
    def blocks = bm.getMatchingBlockIds(_.isBroadcast).toSet
    val before = blocks
    val small = Seq(("0", 1), ("1", 2), ("2", 3)).toDF("k", "v")
    val joined = spark.range(100).select((col("id") % 4).cast("string").as("k"))
      .join(broadcast(small), "k")
    // `joined` keeps its executed plan, and with it the broadcast, alive
    assert(joined.collect().length === 75)
    val added = blocks -- before
    assert(added.nonEmpty)
    val bytes = added.toSeq.map(bm.getStatus(_).fold(0L)(s => s.memSize + s.diskSize)).sum
    assert(bytes < (2L << 20), s"$bytes bytes in $added")
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }
}
