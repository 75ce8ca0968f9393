package graft
import graft.queries.{QueryRegistry, QuerySpec}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.start()
    // JIT/codegen warmup so the first timed query doesn't absorb one-time
    // class-loading cost; runs a representative scan+agg+join, untimed.
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    // min-of-N steady-state timing: a single pass conflates one-off JIT /
    // page-cache / machine-contention noise with the plan's real cost
    // clamp: a non-numeric env value falls back to the default, and 0/negative
    // would make times.min throw on an empty collection
    val iters = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt).getOrElse(3))
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    // GC attribution: total collector time across all MXBeans, sampled
    // around each timed region, so the artifact can say how much of a slow
    // row was collector pause rather than plan work (diagnosis only — the
    // reported seconds stay pure wall-clock, same methodology as always).
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val gcByQuery = scala.collection.mutable.Map.empty[String, Long]
    // dev-loop filter: SPARK_GRAFT_BENCH_ONLY=q10,q33 times just those
    // rows (see QueryRegistry.select); unset = the full suite
    val rows = QueryRegistry.all
      .select(sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", ""))
    val results = rows.map { case QuerySpec(name, fn, _) =>
      val times = (1 to iters).map { _ =>
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        val gc = gcMillis() - g0
        // queries that persist() intermediates must not carry cached blocks
        // (or cache-hit timings) into the next iteration; untimed. Reclaims
        // BOTH the SQL cache and any RDD-level blocks.
        graft.ops.Caching.releaseAll(spark)
        // heap settle between iterations: freed cache blocks from the previous
        // query otherwise surface as GC pauses INSIDE the next timed region,
        // inflating suite numbers 4-6x over isolated runs (r7: q13, q170)
        System.gc()
        (dt, gc)
      }
      val best = times.minBy(_._1)
      gcByQuery(name) = best._2
      name -> best._1
    }.toMap
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full per-query map goes ONLY to a file: the driver keeps a bounded
    // stdout tail, and a long line printed before the final one can leave a
    // truncated JSON fragment in the tail that defeats its parser (r03 lost
    // its bench number exactly this way).
    val full = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // gc_ms: collector milliseconds INSIDE each row's min iteration —
    // artifact-file only (the stdout contract line is unchanged)
    val gcFull = gcByQuery.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // scaling refutation (artifact only — the stdout contract line is
    // unchanged): the EFFECTIVE master, core count, and shuffle width the
    // session actually ran with, so a low-core rerun can verify the bench
    // honors $SPARK_GRAFT_CPUS from the artifact itself rather than
    // inferring it from per-row ratios (which are floor-bound at small SF)
    val effMaster = spark.sparkContext.master
    val effPar = spark.sparkContext.defaultParallelism
    val effShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val fullLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$full,"gc_ms":$gcFull,"master":"$effMaster","default_parallelism":$effPar,"shuffle_partitions":$effShuffle,"sf":"$sfDir"}"""
    try {
      val outDir = java.nio.file.Paths.get("out")
      java.nio.file.Files.createDirectories(outDir)
      java.nio.file.Files.write(outDir.resolve("bench_full.json"),
        fullLine.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // FINAL line = the machine-parsed one. The driver keeps only a ~2000-char
    // tail of stdout, so this line must stay well under that on its own:
    // short keys (the qNN prefix), 2-dp values, and only the slowest 20
    // queries — the headline metric is the total.
    def r2(v: Double): Double = math.round(v * 100.0) / 100.0
    val topSlow = results.toSeq.sortBy { case (k, v) => (-v, k) }.take(20)
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + r2(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$topSlow,"sf":"$sfDir"}""")
    spark.stop()
  }
}
