package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One benchmark run inside one JVM: sets the session up once (with
  * graft.Bench's warm-up query), then times one pass over the plan's ops, a
  * closed loop with one client. Each op runs once, as a pipeline run runs
  * it, so its time includes its first-run costs (code generation, JIT).
  * Writes per-op records, per-pass totals and, when tracing, layer counters
  * and spans to `<run_dir>/result.json` and `<run_dir>/spans.jsonl`.
  *
  * Usage: `perfbench.Harness <plan file>` — `run.py` writes the plan.
  */
object Harness {

  final case class OpSpec(name: String, module: String)

  final class OpRecord(val name: String, val module: String, val key: String) {
    var ok = true
    var error = ""
    var startMs, endMs = 0L
    var buildNs, actionNs, releaseNs = 0L
    var digest: Option[Digest] = None
    var violations = 0L
    var cacheBlocks, cacheBytes = 0L
    var dirsRead = 0
    var retainedHeap = 0L
  }

  final class PassRecord(val index: Int, val ops: Seq[OpRecord], val wallNs: Long,
                         val cpuNs: Long, val writeBytes: Long, val storedBytes: Long,
                         val filesWritten: Long, val commits: Long)

  private val ids = new AtomicLong(0L)
  private def nextId(): Long = ids.incrementAndGet()
  private val spans = new ConcurrentLinkedQueue[Span]()

  private def readPlan(path: String): (Map[String, String], Seq[OpSpec]) = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
    val ops = lines.filter(_.startsWith("op\t")).map { l =>
      val Array(_, n, m) = l.split("\t"); OpSpec(n, m)
    }
    val kv = lines.filterNot(_.startsWith("op\t")).filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    (kv, ops)
  }

  private def session(cores: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the same two loggers graft.Bench lowers to ERROR
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Schema of every input table, then graft.Bench's scan+join+aggregate
    * warm-up query. */
  private def registerAndWarm(spark: SparkSession, inputDir: String): Unit = {
    graft.tables.Tables.names.foreach(t => spark.read.parquet(s"$inputDir/$t.parquet").schema)
    val li = spark.read.parquet(s"$inputDir/lineitem.parquet")
    val o = spark.read.parquet(s"$inputDir/orders.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey")).groupBy("l_returnflag").count().count()
  }

  /** Self-test variants of a query row: the checker must reject each. */
  private def mutate(spark: SparkSession, df: DataFrame, how: String): DataFrame = {
    val rows = df.collect().sortBy(_.toString)
    val schema = df.schema
    val out = how match {
      case "drop_row" => rows.drop(1)
      case "change_cell" =>
        val i = schema.fields.indexWhere(f =>
          Seq(LongType, IntegerType, DoubleType, StringType).contains(f.dataType))
        val r = rows.head
        val v = r.toSeq.toArray
        v(i) = schema(i).dataType match {
          case _ if r.isNullAt(i) => null
          case LongType => r.getLong(i) + 1
          case IntegerType => r.getInt(i) + 1
          case DoubleType => r.getDouble(i) + 1
          case _ => r.getString(i) + "x"
        }
        Row.fromSeq(v.toIndexedSeq) +: rows.tail
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  private def treeFiles(root: Path): Seq[(String, Long)] =
    if (!Files.exists(root)) Seq.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> scala.util.Try(Files.size(p)).getOrElse(0L)).toSeq
      finally w.close()
    }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val (conf, specs) = readPlan(args(0))
    val inputDir = conf("input_dir")
    val runDir = conf("run_dir")
    val cores = conf("cores").toInt
    val trace = conf("trace") == "1"
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    val rawDir = conf.get("raw_dir").filter(_.nonEmpty)
    val lakeDir = Paths.get(runDir, "lake")
    val params = conf.collect { case (k, v) if k.startsWith("param.") => k.stripPrefix("param.") -> v.toLong }

    val cacheWarnings = new CacheWarnings
    cacheWarnings.install()

    // set-up: the JVM's one cold session start, which the passes then use
    val setup0 = System.nanoTime()
    val spark = session(cores, runDir)
    registerAndWarm(spark, inputDir)
    val setupNs = System.nanoTime() - setup0
    val sc = spark.sparkContext
    val jobProbe = new JobProbe(cores, spans, () => nextId())
    val planProbe = new PlanProbe
    if (trace) {
      sc.addSparkListener(jobProbe)
      spark.listenerManager.register(planProbe)
    }

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // wall and CPU time the harness spends on its own bookkeeping inside a
    // pass (full GCs, lake dir scans); subtracted from the pass totals
    var overheadNs, overheadCpuNs = 0L
    def bookkeeping[T](body: => T): T = {
      val w = System.nanoTime(); val c = osBean.getProcessCpuTime
      try body finally {
        overheadNs += System.nanoTime() - w; overheadCpuNs += osBean.getProcessCpuTime - c
      }
    }
    /** Heap still in use right after a full GC: what the op left behind
      * (cached blocks included) before the caches are released. */
    def retainedHeap(): Long = bookkeeping {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    val queries = graft.SparkEntry.queries
    def queryFn(name: String) = {
      val prefix = name.takeWhile(_ != '@') + "_"
      queries.collectFirst { case (k, f) if k.startsWith(prefix) => f }
        .getOrElse(throw new NoSuchElementException(s"no SparkEntry row $name"))
    }

    def runOp(spec: OpSpec, key: String, parent: Long, flow: Option[LakeFlow]): OpRecord = {
      val rec = new OpRecord(spec.name, spec.module, key)
      val opSpan = nextId()
      val buildSpan = nextId(); val actionSpan = nextId()
      val t0us = Clock.nowUs
      rec.startMs = System.currentTimeMillis()
      sc.setLocalProperty("perfbench.op", key)
      cacheWarnings.currentOp = key
      sc.setLocalProperty("perfbench.phase", "build")
      sc.setLocalProperty("perfbench.span", buildSpan.toString)
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val (df, violations) = spec.name match {
          case n if n.startsWith("q") =>
            val f = queryFn(n)
            n.dropWhile(_ != '@').drop(1) match {
              case "" => (Some(f(spark, inputDir)), 0L)
              case "throw" => throw new IllegalStateException("self-test: injected failure")
              case how => (Some(mutate(spark, f(spark, inputDir), how)), 0L)
            }
          case n => flow.get.run(n)
        }
        t1 = System.nanoTime()
        rec.violations = violations
        if (violations != 0) { rec.ok = false; rec.error = s"quality gate: $violations violations" }
        sc.setLocalProperty("perfbench.phase", "action")
        sc.setLocalProperty("perfbench.span", actionSpan.toString)
        rec.digest = df.map(Digest.of(spark, _))
      } catch {
        case e: Throwable =>
          rec.ok = false
          rec.error = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300)
          if (t1 == t0) t1 = System.nanoTime()
      }
      val t2 = System.nanoTime()
      rec.buildNs = t1 - t0; rec.actionNs = t2 - t1
      rec.endMs = System.currentTimeMillis()
      val t2us = Clock.nowUs
      Seq("perfbench.op", "perfbench.phase", "perfbench.span").foreach(sc.setLocalProperty(_, null))
      if (trace) {
        val b1us = t0us + rec.buildNs / 1000L
        spans.add(Span(opSpan, parent, "op", spec.name, t0us, t2us, Map("layer" -> spec.module)))
        spans.add(Span(buildSpan, opSpan, "build", spec.name, t0us, b1us))
        spans.add(Span(actionSpan, opSpan, "action", spec.name, b1us, t2us))
        sc.getRDDStorageInfo.foreach { r =>
          rec.cacheBlocks += r.numCachedPartitions; rec.cacheBytes += r.memSize + r.diskSize
        }
      }
      flow.foreach(f => rec.dirsRead = scala.util.Try(f.dirsRead(spec.name)).getOrElse(0))
      rec.retainedHeap = retainedHeap()
      val r0 = System.nanoTime()
      graft.ops.Caching.releaseAll(spark)
      rec.releaseNs = System.nanoTime() - r0
      rec
    }

    val runSpan = nextId()
    val runStartUs = Clock.nowUs

    def runPass(index: Int): PassRecord = {
      System.gc()
      deleteTree(lakeDir)
      val flow = rawDir.map(raw => new LakeFlow(spark, raw, lakeDir.toString, params))
      val before = Files.list(tmpDir).iterator().asScala.map(_.toString).toSet
      def lakeRoots = Seq(lakeDir) ++ Files.list(tmpDir).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("graft_") && !before(p.toString)).toSeq
      val seen = mutable.Map.empty[String, Long]
      val passSpan = nextId()
      val s0us = Clock.nowUs
      overheadNs = 0L; overheadCpuNs = 0L
      val cpu0 = osBean.getProcessCpuTime
      val w0 = System.nanoTime()
      val ops = specs.zipWithIndex.map { case (spec, i) =>
        val rec = runOp(spec, s"$index:$i", passSpan, flow)
        bookkeeping(lakeRoots.flatMap(treeFiles).foreach { case (p, n) =>
          seen(p) = math.max(n, seen.getOrElse(p, 0L)) })
        rec
      }
      val wallNs = System.nanoTime() - w0 - overheadNs
      val cpuNs = osBean.getProcessCpuTime - cpu0 - overheadCpuNs
      if (trace) spans.add(Span(passSpan, runSpan, "pass", s"pass $index", s0us, Clock.nowUs))
      val roots = lakeRoots
      val stored = roots.flatMap(treeFiles).map(_._2).sum
      val commits = flow.map(f => Seq("customers", "products", "orders", "order_items")
        .map(t => scala.util.Try(f.lake.latestVersion(t).map(_ + 1).getOrElse(0L)).getOrElse(0L)).sum)
        .getOrElse(0L)
      roots.filterNot(_ == lakeDir).foreach(deleteTree)
      new PassRecord(index, ops, wallNs, cpuNs, seen.values.sum, stored,
        seen.keys.count(_.endsWith(".parquet")), commits)
    }

    val passes = Seq(runPass(1))
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(sc)
      spans.add(Span(runSpan, 0L, "run", "run", runStartUs, Clock.nowUs))
    }

    // ---- result ----
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val execs = planProbe.execs.asScala.toSeq
    def opJson(r: OpRecord): String = {
      val base = Seq(
        "name" -> q(r.name), "module" -> q(r.module), "ok" -> r.ok.toString, "error" -> q(r.error),
        "build_ns" -> r.buildNs.toString, "action_ns" -> r.actionNs.toString,
        "release_ns" -> r.releaseNs.toString, "dirs_read" -> r.dirsRead.toString,
        "violations" -> r.violations.toString, "retained_heap" -> r.retainedHeap.toString,
        "double_persist" -> Option(cacheWarnings.byOp.get(r.key)).map(_.toString).getOrElse("0")) ++
        r.digest.toSeq.flatMap(d => Seq("rows" -> d.rows.toString, "sum" -> q(d.sumText),
          "cols" -> d.cols.map(q).mkString("[", ",", "]")))
      val layers = if (!trace) Seq.empty else {
        val c = jobProbe.byOp.getOrElse(r.key, new jobProbe.Counters)
        val mine = execs.filter(e => e.startMs >= r.startMs && e.startMs <= r.endMs)
        Seq("build_jobs" -> jobProbe.buildJobs.getOrElse(r.key, 0L).toString,
          "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
          "delay_ms" -> c.delayMs.toString, "idle_slot_ms" -> c.idleSlotMs.toString,
          "run_ms" -> c.runMs.toString, "cpu_ms" -> (c.cpuNs / 1000000L).toString,
          "gc_ms" -> c.gcMs.toString, "peak_mem" -> c.peakMem.toString,
          "shuffle_write" -> c.shuffleWrite.toString, "shuffle_read" -> c.shuffleRead.toString,
          "fetch_wait_ms" -> c.fetchWaitMs.toString, "spill" -> c.spill.toString,
          "input" -> c.input.toString, "cache_blocks" -> r.cacheBlocks.toString,
          "cache_bytes" -> r.cacheBytes.toString,
          "executions" -> mine.size.toString,
          "analysis_ms" -> mine.map(_.analysisMs).sum.toString,
          "optimization_ms" -> mine.map(_.optimizationMs).sum.toString,
          "planning_ms" -> mine.map(_.planningMs).sum.toString,
          "join_rows" -> mine.map(_.joinRows).sum.toString)
      }
      obj(base ++ layers)
    }
    def passJson(p: PassRecord): String = obj(Seq(
      "index" -> p.index.toString, "wall_ns" -> p.wallNs.toString, "cpu_ns" -> p.cpuNs.toString,
      "write_bytes" -> p.writeBytes.toString, "stored_bytes" -> p.storedBytes.toString,
      "files_written" -> p.filesWritten.toString, "commits" -> p.commits.toString,
      "ops" -> p.ops.map(opJson).mkString("[", ",", "]")))
    val oracle = specs.map(_.name.takeWhile(_ != '@')).filter(_.startsWith("q")).distinct.map { n =>
      val full = queries.keys.find(_.startsWith(n + "_")).get
      n -> q(graft.SparkEntry.oracleSql(full))
    }
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName)
    val result = obj(Seq(
      "jvm_to_main_ns" -> ((mainMs - jvmStartMs) * 1000000L).toString,
      "setup_ns" -> setupNs.toString,
      "passes" -> passes.map(passJson).mkString("[", ",", "]"),
      "heap_peak_bytes" -> passes.flatMap(_.ops).map(_.retainedHeap).max.toString,
      "oracle_sql" -> obj(oracle),
      "provenance" -> obj(Seq(
        "master" -> q(sc.master), "default_parallelism" -> sc.defaultParallelism.toString,
        "shuffle_partitions" -> q(spark.conf.get("spark.sql.shuffle.partitions")),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
        "gc" -> gcs.map(q).mkString("[", ",", "]"),
        "java" -> q(System.getProperty("java.version")), "spark" -> q(spark.version)))))
    Files.write(Paths.get(runDir, "result.json"), result.getBytes(UTF_8))
    if (trace) {
      val lines = spans.asScala.toSeq.sortBy(_.startUs).map(s => obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "kind" -> q(s.kind),
        "name" -> q(s.name), "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "attrs" -> obj(s.attrs.toSeq.map { case (k, v) => k -> q(v) }))))
      Files.write(Paths.get(runDir, "spans.jsonl"), lines.mkString("\n").getBytes(UTF_8))
    }
    spark.stop()
  }
}
