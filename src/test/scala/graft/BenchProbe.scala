package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{QueryRegistry, QuerySpec}

/** Scratch profiler for dev loops (not part of the driver contract).
  * PROBE_SECTION picks the experiment; results land in the round NOTES. */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("PROBE_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("PROBE_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    import graft.text.{Dedup, Refinery, TextFeatures, TextStats}
    import graft.sim.Similarity
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    sys.env.getOrElse("PROBE_SECTION", "q186") match {
      case "q186" =>
        // q186 decomposition: full refinery+containment on the even
        // half-slice vs the same config without the containment stage,
        // plus the containment stage alone over MATERIALIZED survivors —
        // separates the near-dup cost, the containment cost, and any
        // recompute the composition pays on top.
        val half = docs.filter(col("doc_id") % 2 === 0)
        val cfgFull = Refinery.Config(
          nearDupThreshold = 0.98, containment = true,
          containmentThreshold = 0.8, containmentMaxDf = 1000)
        val cfgNoCont = cfgFull.copy(containment = false)
        time("warmup q43-family") {
          Dedup.minhashNearDupsShingle(docs, 32, 16, 3, 0.8).count(): Unit
        }
        for (it <- 1 to 3) {
          time(s"q186/full#$it") { println("n=" +
            Refinery.refine(half, cfgFull).count()) }
          graft.ops.Caching.releaseAll(spark)
          time(s"q186/nocont#$it") { println("n=" +
            Refinery.refine(half, cfgNoCont).count()) }
          graft.ops.Caching.releaseAll(spark)
        }
        // containment stage alone, survivors pre-materialized
        val surv = time("materialize survivors") {
          val gated = Refinery.gate(half, cfgFull)
          graft.ops.Caching.materialize(Dedup.dedupCorpusShingle(gated, 0.98, 128, 32))
        }
        for (it <- 1 to 3) {
          time(s"dropContained-alone#$it") { println("n=" +
            Dedup.dropContained(surv, threshold = 0.8, maxDf = 1000).count()) }
          graft.ops.Caching.releaseAll(spark)
          time(s"nearDupPairs-alone#$it") { println("n=" +
            Dedup.minhashNearDupsShingle(surv, 128, 32, 3, 0.98).count()) }
          graft.ops.Caching.releaseAll(spark)
        }

      case "q44" =>
        // q44 decomposition kept from r14 (recompute vs persisted
        // explode vs (doc, feat) grain) — see NOTES_r14 for readings.
        time("warmup q43-family") {
          Dedup.minhashNearDupsShingle(docs, 32, 16, 3, 0.8).count(): Unit
        }
        for (it <- 1 to 3) time(s"q44/shipped#$it") {
          val emb = TextFeatures.tfidfEmbeddingsPortable(docs, 256)
          println("n=" + Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") < 200), 3).count())
          graft.ops.Caching.releaseAll(spark)
        }

      case "schema" =>
        // How much of the per-row fixed floor is parquet schema inference?
        // 50 fresh spark.read.parquet().schema resolutions vs 50 with an
        // explicit (pre-inferred) schema, vs 50 tiny count() actions on each.
        val path = s"$sfDir/orders.parquet"
        val inferred = spark.read.parquet(path).schema
        time("infer x50") {
          (1 to 50).foreach(_ => spark.read.parquet(path).schema: Unit)
        }
        time("explicit x50") {
          (1 to 50).foreach(_ => spark.read.schema(inferred).parquet(path).schema: Unit)
        }
        time("infer+filter-count x50") {
          (1 to 50).foreach(_ => spark.read.parquet(path)
            .filter(col("o_orderkey") < 0).count(): Unit)
        }
        time("explicit+filter-count x50") {
          (1 to 50).foreach(_ => spark.read.schema(inferred).parquet(path)
            .filter(col("o_orderkey") < 0).count(): Unit)
        }

      case "lmhash" =>
        // q200/q208/q209 hot path: pairedEvents computes portableTokenHash
        // (md5 + substr + conv) TWICE per bigram event — each token is
        // hashed once as w1 of event i and again as w2 of event i-1. A/B:
        // the shipped spelling vs hashing the token array ONCE via a
        // higher-order transform (halves md5 evaluations, but the HOF
        // projection is interpreted, not codegen'd — which effect wins?).
        // AMP multiplies the corpus (distinct doc_ids) to lift the
        // expression cost above the scheduling floor.
        val amp = sys.env.getOrElse("PROBE_AMP", "8").toInt
        val big = docs
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0), lit(amp - 1))).as("rep"))
          .select((col("doc_id") * amp + col("rep")).as("doc_id"), col("text"))
        def tok = graft.text.TextStats.tokens(
          graft.text.TextStats.normalize(col("text")))
        def phash(c: org.apache.spark.sql.Column) =
          graft.text.Dedup.portableTokenHash(c)
        val shipped = big.select(col("doc_id"), tok.as("toks"))
          .where(size(col("toks")) >= 2)
          .select(col("doc_id"), col("toks"),
            explode(sequence(lit(0), size(col("toks")) - 2)).as("i"))
          .select(col("doc_id"),
            phash(element_at(col("toks"), col("i") + 1)).as("w1h"),
            phash(element_at(col("toks"), col("i") + 2)).as("w2h"))
        val prehashed = big.select(col("doc_id"),
            transform(tok, t => phash(t)).as("hs"))
          .where(size(col("hs")) >= 2)
          .select(col("doc_id"), col("hs"),
            explode(sequence(lit(0), size(col("hs")) - 2)).as("i"))
          .select(col("doc_id"),
            element_at(col("hs"), col("i") + 1).as("w1h"),
            element_at(col("hs"), col("i") + 2).as("w2h"))
        // r17: the native codegen'd TokenHashes expression vs the r16
        // interpreted-HOF prehash (same single-hash count, `* Project` back)
        val native = big.select(col("doc_id"),
            graft.functions.TokenHash.hashAllCol(tok).as("hs"))
          .where(size(col("hs")) >= 2)
          .select(col("doc_id"), col("hs"),
            explode(sequence(lit(0), size(col("hs")) - 2)).as("i"))
          .select(col("doc_id"),
            element_at(col("hs"), col("i") + 1).as("w1h"),
            element_at(col("hs"), col("i") + 2).as("w2h"))
        for (it <- 1 to 3) {
          time(s"pairedEvents/shipped#$it") {
            shipped.write.format("noop").mode("overwrite").save()
          }
          time(s"pairedEvents/prehashed#$it") {
            prehashed.write.format("noop").mode("overwrite").save()
          }
          time(s"pairedEvents/native#$it") {
            native.write.format("noop").mode("overwrite").save()
          }
        }

      case "tok" =>
        // Cross-cutting tokenize cost: split(trim(x), "\\s+") compiles the
        // regex PER ROW (UTF8String.split -> String.split -> Pattern.compile;
        // no fast path for multi-char patterns), where split on a literal
        // single space hits java.lang.String.split's no-regex fast path.
        // On NORMALIZED text (runs collapsed to single spaces) the two are
        // exact-identical. AMP as above.
        val amp2 = sys.env.getOrElse("PROBE_AMP", "8").toInt
        val big2 = docs
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0), lit(amp2 - 1))).as("rep"))
          .select((col("doc_id") * amp2 + col("rep")).as("doc_id"), col("text"))
        val norm = graft.text.TextStats.normalize(col("text"))
        val regexToks = when(length(trim(norm)) === 0,
          array().cast("array<string>")).otherwise(split(trim(norm), "\\s+"))
        val spaceToks = when(length(trim(norm)) === 0,
          array().cast("array<string>")).otherwise(split(trim(norm), " "))
        val a = big2.select(col("doc_id"), explode(regexToks).as("t"))
        val b = big2.select(col("doc_id"), explode(spaceToks).as("t"))
        for (it <- 1 to 3) {
          time(s"tokens/regex#$it") {
            a.write.format("noop").mode("overwrite").save()
          }
          time(s"tokens/space#$it") {
            b.write.format("noop").mode("overwrite").save()
          }
        }
        // equality gate: the two spellings must agree row-for-row
        val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
        println(s"PROBE tokens diff rows = $diff (must be 0)")

      case "q196" =>
        // q196 decomposition (VERDICT r16 item 1): per-batch wall clock AND
        // Spark job/stage/task counts for the two-batch ingest twin — is the
        // cost data work, or per-action fixed overhead times the number of
        // eager actions the per-batch decision DAG issues?
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val stages = new java.util.concurrent.atomic.AtomicInteger
        val tasks = new java.util.concurrent.atomic.AtomicInteger
        val jobLog = sys.env.get("PROBE_JOBLOG").contains("1")
        val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              jobs.incrementAndGet(): Unit
              stages.addAndGet(j.stageInfos.size): Unit
              tasks.addAndGet(j.stageInfos.map(_.numTasks).sum): Unit
              if (jobLog) {
                val site = Option(j.properties)
                  .flatMap(p => Option(p.getProperty("callSite.short")))
                  .getOrElse("?")
                jobStarts.put(j.jobId, (System.nanoTime(), site)): Unit
              }
            }
            override def onJobEnd(
                j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
              if (jobLog) Option(jobStarts.remove(j.jobId)).foreach {
                case (t0, site) =>
                  println(f"PROBEJOB ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $site")
              }
          })
        def snap(label: String)(f: => Unit): Unit = {
          val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
          val n0 = System.nanoTime()
          f
          println(f"PROBE $label ${(System.nanoTime() - n0) / 1e9}%.3f s " +
            s"jobs=${jobs.get - j0} stages=${stages.get - s0} tasks=${tasks.get - t0}")
        }
        val q196docs = docs.filter(col("doc_id") % 8 < 2)
        val b1 = q196docs.filter(col("doc_id") % 2 === 0)
        val b2 = q196docs.filter(col("doc_id") % 2 === 1)
        for (it <- 1 to 3) {
          val lake = graft.tables.TempLakes.lake(spark, "graft_probe_twin")
          snap(s"q196/batch1#$it") {
            graft.stream.CorpusIngest.nearDupBatch(b1, lake, "twin", 0.8, 32,
              16, 3, Some(0.5), 64, true, "basic", None, None)
          }
          snap(s"q196/batch2#$it") {
            graft.stream.CorpusIngest.nearDupBatch(b2, lake, "twin", 0.8, 32,
              16, 3, Some(0.5), 64, true, "basic", None, None)
          }
          snap(s"q196/final-read#$it") {
            lake.read("twin").select(col("doc_id"), col("n_chars")).count(): Unit
          }
          graft.ops.Caching.releaseAll(spark)
        }

      case "floor" =>
        // Per-row fixed-cost decomposition (VERDICT r16 item 5): over
        // representative sub-second rows, how much of the ~0.29 s/row floor
        // is DataFrame construction, analysis+physical planning, and the
        // actual job(s) — plus the zero-work action cost (the pure
        // scheduling floor) as the lower bound nothing can beat.
        val rows = sys.env.getOrElse("PROBE_ROWS",
          "q01,q02,q12,q13,q22,q34,q38,q102,q124,q161").split(",").toSeq
        for (it <- 1 to 3) {
          time(s"zero-work range.count#$it") { spark.range(32).count(): Unit }
          rows.foreach { p =>
            val QuerySpec(name, fn, _) = QueryRegistry.all.select(p).head
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan: Unit
            val t2 = System.nanoTime()
            df.count(): Unit
            val t3 = System.nanoTime()
            df.count(): Unit
            val t4 = System.nanoTime()
            println(f"PROBEFLOOR $name#$it build=${(t1 - t0) / 1e6}%.1fms " +
              f"plan=${(t2 - t1) / 1e6}%.1fms act1=${(t3 - t2) / 1e6}%.1fms " +
              f"act2=${(t4 - t3) / 1e6}%.1fms")
            graft.ops.Caching.releaseAll(spark)
          }
        }

      case "q223" =>
        // q223 decomposition (VERDICT r16 item 7): per-macro-stage wall
        // clock + job counts for the staged curation chain — how much is
        // the refinery span vs the lake staging vs the split/budget tail,
        // and whether any stage recomputes work a shared frame could hold.
        val jobs223 = new java.util.concurrent.atomic.AtomicInteger
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              jobs223.incrementAndGet(): Unit
          })
        def snap223(label: String)(f: => Unit): Unit = {
          val j0 = jobs223.get; val n0 = System.nanoTime()
          f
          println(f"PROBE $label ${(System.nanoTime() - n0) / 1e9}%.3f s " +
            s"jobs=${jobs223.get - j0}")
        }
        import graft.text.Refinery
        for (it <- 1 to 3) {
          val lake = graft.tables.TempLakes.lake(spark, "graft_probe_curation")
          graft.stream.MicroBatch.sized(spark) { _ =>
            val slice = docs.filter(col("doc_id") % 8 === 1)
            var chunks: org.apache.spark.sql.DataFrame = null
            snap223(s"q223/refine#$it") {
              chunks = Refinery.refine(slice,
                Refinery.Config(
                  lmFilter = Some(Refinery.LmFilter("lang = 'en'",
                    tailPermille = 300)),
                  classifierFilter = Some(Refinery.NbFilter(
                    "lang = 'en'", "lang <> 'en'", minAvgMicronats = 0L)),
                  containment = true, dedupNumPerms = 32, dedupBands = 16))
              chunks.count(): Unit
            }
            snap223(s"q223/survivors-write#$it") {
              lake.write(slice.join(chunks.select("doc_id").distinct(),
                Seq("doc_id"), "left_semi"), "survivors", "overwrite"): Unit
            }
            var sv: org.apache.spark.sql.DataFrame = null
            snap223(s"q223/split+train-write#$it") {
              sv = lake.read("survivors")
              val split = Dedup.clusterSplit(sv, numPerms = 32, bands = 16)
              lake.write(sv.join(
                split.filter(col("split") === "train").select("doc_id"),
                Seq("doc_id"), "left_semi"), "train_docs", "overwrite"): Unit
            }
            snap223(s"q223/budget+plan-write#$it") {
              val tr = lake.read("train_docs")
              val sel = TextFeatures.budgetedQualitySelection(tr,
                budgetTokens = 2600L)
              val selDocs = tr.join(sel.select("doc_id"), Seq("doc_id"),
                "left_semi")
              val plan = TextFeatures.budgetedSamplePlan(selDocs,
                budgetTokens = 4000L, maxEpochs = 2.0)
              lake.write(plan, "training_plan", "overwrite"): Unit
            }
            snap223(s"q223/final-read#$it") {
              lake.read("training_plan").count(): Unit
            }
          }
          graft.ops.Caching.releaseAll(spark)
        }

      case "q296" =>
        // scaling-probe calibration: iterated md5 chain over lineitem —
        // pure data-parallel compute, sized so the 8-vs-32-core ratio is
        // observable above the per-row floor at sf0.1
        val depth = sys.env.getOrElse("PROBE_DEPTH", "48").toInt
        val reps = sys.env.getOrElse("PROBE_REPS", "1").toInt
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("seed"))
          .repartition(spark.sparkContext.defaultParallelism, col("seed"))
          .select(col("seed"), explode(sequence(lit(0), lit(reps - 1))).as("rep"))
          .select(concat_ws("_", col("seed"), col("rep")).as("seed"))
        // explicit string->binary casts: the implicit-cast form resolves one
        // md5 level per analyzer pass and trips the 100-iteration cap;
        // depth is bounded (deep trees also overflow the planner stack) and
        // work amplified through the rep explode instead
        val h = (1 to depth).foldLeft(col("seed")) { (c, _) => md5(c.cast("binary")) }
        val q = li.select(h.as("h"))
          .groupBy(substring(col("h"), 1, 1).as("nibble"))
          .agg(count(lit(1)).as("n"),
            sum(conv(substring(col("h"), 2, 7), 16, 10).cast("long")).as("checksum"))
        for (it <- 1 to 3) time(s"q296/d$depth#$it") {
          q.write.format("noop").mode("overwrite").save()
        }

      case other => println(s"unknown PROBE_SECTION $other")
    }
    spark.stop()
  }
}
