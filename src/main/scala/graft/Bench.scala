package graft
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import graft.queries.{QueryRegistry, QuerySpec}
object Bench {
  /** Each timed row's fastest run in seconds and the collector ms inside
    * that run; a row that threw is in `failed` (row -> exception class)
    * instead, with no time; `broadcast`: the driver's broadcast-block bytes
    * (total, largest) after the row's first action. */
  final case class Report(seconds: Map[String, Double], gcMs: Map[String, Long],
                          failed: Map[String, String], broadcast: Map[String, (Long, Long)]) {
    def total: Double = seconds.values.sum
  }

  // GC attribution: total collector time across all MXBeans, sampled
  // around each timed region, so the artifact can say how much of a slow
  // row was collector pause rather than plan work (diagnosis only — the
  // reported seconds stay pure wall-clock, same methodology as always).
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Time `fn(spark, sfDir).count()` of each row `iters` times (min-of-N
    * steady-state timing: a single pass conflates one-off JIT / page-cache
    * / machine-contention noise with the plan's real cost). A row is not
    * run again once it throws. */
  def timeRows(spark: SparkSession, sfDir: String, rows: Seq[QuerySpec],
               iters: Int): Report = {
    val broadcast = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val timed = rows.map { case QuerySpec(name, fn, _) =>
      def once(): Either[String, (Double, Long)] = {
        val g0 = gcMillis()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          val gc = gcMillis() - g0
          // untimed, before releaseAll: what the first action left behind
          if (!broadcast.contains(name)) broadcast(name) = GraftSqlBridge.broadcastBytes(spark)
          Right((dt, gc))
        } catch { case e: Throwable => Left(e.getClass.getName) }
        finally {
          // queries that persist() intermediates must not carry cached
          // blocks (or cache-hit timings) into the next iteration; untimed.
          // Reclaims BOTH the SQL cache and any RDD-level blocks.
          graft.ops.Caching.releaseAll(spark)
          // heap settle between iterations: freed cache blocks from the
          // previous query otherwise surface as GC pauses INSIDE the next
          // timed region, inflating suite numbers 4-6x over isolated runs
          // (r7: q13, q170)
          System.gc()
        }
      }
      name -> (2 to iters).foldLeft(once()) {
        case (Right(best), _) => once().map(r => if (r._1 < best._1) r else best)
        case (failed, _) => failed
      }
    }
    Report(timed.collect { case (k, Right((sec, _))) => k -> sec }.toMap,
      timed.collect { case (k, Right((_, gc))) => k -> gc }.toMap,
      timed.collect { case (k, Left(cls)) => k -> cls }.toMap, broadcast.toMap)
  }

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
    // clamp: a non-numeric env value falls back to the default, and 0/negative
    // would time nothing
    val iters = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt).getOrElse(3))
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    // dev-loop filter: SPARK_GRAFT_BENCH_ONLY=q10,q33 times just those
    // rows (see QueryRegistry.select); unset = the full suite
    val rows = QueryRegistry.all.select(sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", ""))
    val report = timeRows(spark, sfDir, rows, iters)
    val results = report.seconds
    // Full per-query map goes ONLY to a file: the driver keeps a bounded
    // stdout tail, and a long line printed before the final one can leave a
    // truncated JSON fragment in the tail that defeats its parser (r03 lost
    // its bench number exactly this way).
    def byRow(m: Map[String, Any]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val full = byRow(results.map { case (k, v) => k -> r3(v) })
    // artifact-file only (the stdout contract line is unchanged): gc_ms,
    // collector ms INSIDE each row's min iteration; broadcast_bytes, the
    // driver's broadcast blocks [total, largest] after its first action
    val gcFull = byRow(report.gcMs)
    val bcFull = byRow(report.broadcast.map { case (k, (all, max)) => k -> s"[$all,$max]" })
    // rows that threw: exception class, no time, not in the total
    val failedFull = byRow(report.failed.map { case (k, v) => k -> ("\"" + v + "\"") })
    // scaling refutation (artifact only — the stdout contract line is
    // unchanged): the EFFECTIVE master, core count, and shuffle width the
    // session actually ran with, so a low-core rerun can verify the bench
    // honors $SPARK_GRAFT_CPUS from the artifact itself rather than
    // inferring it from per-row ratios (which are floor-bound at small SF)
    val sc = spark.sparkContext
    val fullLine =
      s"""{"metric":"total","value":${r3(report.total)},"unit":"sec","queries":$full,"gc_ms":$gcFull,"broadcast_bytes":$bcFull,"failed":$failedFull,"master":"${sc.master}","default_parallelism":${sc.defaultParallelism},"shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},"sf":"$sfDir"}"""
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
    println(s"""{"metric":"total","value":${r3(report.total)},"unit":"sec","n_queries":${results.size},"queries":$topSlow,"sf":"$sfDir"}""")
    spark.stop()
  }
}
