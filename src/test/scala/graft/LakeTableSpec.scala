package graft

import java.nio.file.Files

import graft.tables.LakeTable

case class Sale(id: Long, region: String, amount: Double)
case class RegionOrder(region: String, cust: Long)
case class Fact(o_orderkey: Long, c_custkey: Long, c_mktsegment: String,
                revenue: Double)

class LakeTableSpec extends SparkSpec {

  private def freshLake(): LakeTable =
    new LakeTable(spark, Files.createTempDirectory("graft-lake").toString)

  private val rows = Seq(Sale(1, "north", 10.0), Sale(2, "south", 20.0), Sale(3, "north", 30.0))

  test("write/read roundtrip preserves rows and schema") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    val back = lake.read("sales")
    // parquet roundtrip relaxes nullability; names+types must survive
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df(rows).schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("zstd-compressed write roundtrips; codec is per-version, self-described") {
    val dir = Files.createTempDirectory("graft-lake").toString
    val lake = new LakeTable(spark, dir)
    lake.write(df(rows), "sales", compression = "zstd")
    assert(lake.read("sales").orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L))
    // mixed codecs across versions read fine (parquet footers carry the codec)
    lake.write(df(Seq(Sale(4, "west", 5.0))), "sales", mode = "append")
    assert(lake.read("sales").count() === 4)
    // v0's dir carries a per-writer uuid suffix (OCC staging) — glob for it
    val v0Dir = new java.io.File(s"$dir/sales/data")
      .listFiles().filter(_.getName.startsWith("v00000000")).head
    val v0Files = v0Dir.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(v0Files.nonEmpty && v0Files.forall(_.contains("zstd")))
  }

  test("racing writers at the same version: exactly one commit wins") {
    val dir = Files.createTempDirectory("graft-occ").toString
    val lake = new LakeTable(spark, dir)
    lake.write(df(rows), "sales")
    // simulate a concurrent writer that already committed v1
    val logDir = java.nio.file.Paths.get(dir, "sales", "_graft_log")
    Files.write(logDir.resolve("v00000001.json"),
      Files.readAllBytes(logDir.resolve("v00000000.json")))
    intercept[java.util.ConcurrentModificationException] {
      lake.write(df(Seq(Sale(9, "west", 1.0))), "sales")
    }
    // the pre-existing commit is intact, not clobbered
    assert(lake.latestVersion("sales") === Some(1L))
    // ...including its DATA: the fake v1 commit references v0's data dir, and
    // the loser staged into its own uuid-suffixed dir and cleaned it up — so
    // the committed read still sees the original rows, and no orphan dirs
    // remain beyond the one live data dir
    assert(lake.read("sales").orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L))
    val dataDirs = new java.io.File(s"$dir/sales/data").listFiles().map(_.getName)
    assert(dataDirs.length === 1 && dataDirs.head.startsWith("v00000000"))
  }

  test("analyze persists one-pass column stats; readStats round-trips") {
    val lake = freshLake()
    lake.write(df(Seq(
      Sale(1, "north", 10.0), Sale(2, null, 20.0), Sale(3, "south", 5.0))), "sales")
    val stats = lake.analyze("sales")
    assert(stats("region")._1 === 1L)             // one null region
    assert(stats("id") === ((0L, 3L, "1", "3")))  // exact ndv at tiny scale
    assert(stats("amount")._3 === "5.0")
    assert(stats("amount")._4 === "20.0")
    assert(lake.readStats("sales") === stats)
    assert(lake.readStats("sales", asOfVersion = Some(99L)) === Map.empty)
  }

  test("readRange skips the scan entirely when stats prove disjointness") {
    val lake = freshLake()
    lake.write(df(rows), "sales")   // amounts 10..30
    lake.analyze("sales")
    val hit = lake.readRange("sales", "amount", 15.0, 25.0)
    assert(hit.collect().map(_.getDouble(2)).toSeq === Seq(20.0))
    val miss = lake.readRange("sales", "amount", 1000.0, 2000.0)
    assert(miss.isEmpty)
    // proof of skipping: the disjoint plan has no file scan at all
    assert(!miss.queryExecution.executedPlan.toString.contains("FileScan"))
    // without stats: same answers via the pushed-down filter path
    val lake2 = freshLake()
    lake2.write(df(rows), "sales")
    assert(lake2.readRange("sales", "amount", 1000.0, 2000.0).isEmpty)
    assert(lake2.readRange("sales", "amount", 15.0, 25.0).count() === 1)
    // non-numeric columns are rejected up front, not at execution time
    intercept[IllegalArgumentException] {
      lake.readRange("sales", "region", 0.0, 1.0)
    }
  }

  test("bloom index: definite miss answers from the sidecar, zero scans") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    lake.buildBloomIndex("sales", "id", expectedItems = 100)
    assert(lake.readPoint("sales", "id", 2L).count() === 1)
    val miss = lake.readPoint("sales", "id", 424242L)
    assert(miss.isEmpty)
    assert(!miss.queryExecution.executedPlan.toString.contains("FileScan"))
    // without an index the point read still answers via the filter scan
    val lake2 = freshLake()
    lake2.write(df(rows), "sales")
    assert(lake2.readPoint("sales", "id", 424242L).isEmpty)
  }

  test("materialized aggregate: incremental refresh equals full recompute") {
    import graft.tables.Materialize
    val lake = freshLake()
    lake.write(df(rows), "sales")
    Materialize.refresh(lake, "sales", "sales_by_region", Seq("region"), "amount")
    def viewMap() = Materialize.readView(lake, "sales_by_region", Seq("region"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(viewMap() === Map("north" -> ((2L, 40.0)), "south" -> ((1L, 20.0))))

    // two append commits, then one refresh: only the delta is aggregated
    lake.write(df(Seq(Sale(4, "south", 5.0))), "sales", mode = "append")
    lake.write(df(Seq(Sale(5, "west", 7.0))), "sales", mode = "append")
    Materialize.refresh(lake, "sales", "sales_by_region", Seq("region"), "amount")
    assert(viewMap() === Map(
      "north" -> ((2L, 40.0)), "south" -> ((2L, 25.0)), "west" -> ((1L, 7.0))))

    // idempotent: same base version does not write a new view version
    val vBefore = lake.latestVersion("sales_by_region")
    Materialize.refresh(lake, "sales", "sales_by_region", Seq("region"), "amount")
    assert(lake.latestVersion("sales_by_region") === vBefore)

    // an overwrite invalidates the change feed -> full rebuild, still right
    lake.write(df(Seq(Sale(9, "east", 1.0))), "sales")
    Materialize.refresh(lake, "sales", "sales_by_region", Seq("region"), "amount")
    assert(viewMap() === Map("east" -> ((1L, 1.0))))
  }

  test("incremental EXACT distinct view: bitmap partials fold across appends") {
    import graft.tables.Materialize
    val lake = freshLake()
    // duplicated customers within and across batches; bucket-boundary keys
    val b0 = Seq(RegionOrder("n", 1), RegionOrder("n", 1),
      RegionOrder("n", 40000), RegionOrder("s", 2))
    lake.write(df(b0), "orders")
    Materialize.refreshDistinct(lake, "orders", "cust_by_region", Seq("region"), "cust")
    def viewMap() = Materialize.readDistinctView(lake, "cust_by_region", Seq("region"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viewMap() === Map("n" -> 2L, "s" -> 1L))
    // appends re-add an already-counted customer (1) and add new ones —
    // bitmap OR makes the fold exact, where sum-of-partial-counts would
    // double-count customer 1
    lake.write(df(Seq(RegionOrder("n", 1), RegionOrder("n", 3))), "orders", mode = "append")
    lake.write(df(Seq(RegionOrder("s", 2), RegionOrder("s", 99999))), "orders", mode = "append")
    Materialize.refreshDistinct(lake, "orders", "cust_by_region", Seq("region"), "cust")
    assert(viewMap() === Map("n" -> 3L, "s" -> 2L))
    // matches a from-scratch recompute exactly
    val exact = lake.read("orders").groupBy("region")
      .agg(org.apache.spark.sql.functions.countDistinct("cust").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viewMap() === exact)
    // idempotent on an unchanged base
    val vBefore = lake.latestVersion("cust_by_region")
    Materialize.refreshDistinct(lake, "orders", "cust_by_region", Seq("region"), "cust")
    assert(lake.latestVersion("cust_by_region") === vBefore)
  }

  test("materialized view: stale sidecar (crash window) rebuilds, never double-folds") {
    import graft.tables.Materialize
    val lake = freshLake()
    lake.write(df(rows), "sales")
    Materialize.refresh(lake, "sales", "sales_by_region", Seq("region"), "amount")
    val meta = java.nio.file.Paths.get(lake.warehouse, "sales_by_region.mat.json")
    val staleSidecar = Files.readAllBytes(meta)
    lake.write(df(Seq(Sale(4, "south", 5.0))), "sales", mode = "append")
    Materialize.refresh(lake, "sales", "sales_by_region", Seq("region"), "amount")
    // simulate a crash AFTER the folded view write but BEFORE the sidecar
    // update: the view already contains the delta, the sidecar says it doesn't
    Files.write(meta, staleSidecar)
    Materialize.refresh(lake, "sales", "sales_by_region", Seq("region"), "amount")
    // a naive incremental path would fold the south delta a second time
    // (south -> 3 rows / 30.0); the version check forces a full rebuild
    val m = Materialize.readView(lake, "sales_by_region", Seq("region"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m === Map("north" -> ((2L, 40.0)), "south" -> ((2L, 25.0))))
  }

  test("restore rolls back to an old version as a new commit, zero copy") {
    val lake = freshLake()
    lake.write(df(rows), "sales")                          // v0: 3 rows
    lake.write(df(Seq(Sale(9, "west", 1.0))), "sales")     // v1: bad overwrite
    val c = lake.restore("sales", 0L)
    assert(c.version === 2L && c.mode === "restore")
    assert(lake.read("sales").orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L))
    // the restored commit re-references v0's dirs — no data was copied
    assert(c.dirs === lake.history("sales").head.dirs)
    // the bad version stays visible for forensics
    assert(lake.read("sales", asOfVersion = Some(1L)).count() === 1)
    // restoring a vacuumed version is refused, not silently empty
    lake.vacuum("sales", keepVersions = 1, retentionMs = 0L)
    intercept[IllegalArgumentException] { lake.restore("sales", 1L) }
  }

  test("repartitionTable evolves the partition layout; appends adopt it") {
    val dir = Files.createTempDirectory("graft-repart").toString
    val lake = new LakeTable(spark, dir)
    lake.write(df(rows), "sales")                    // unpartitioned v0
    val c = lake.repartitionTable("sales", Seq("region"))
    assert(c.mode === "repartition" && c.partitionBy === Seq("region"))
    // data unchanged, only layout: the new data dir has region= subdirs
    assert(lake.read("sales").orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L))
    val parts = new java.io.File(c.dirs.head).listFiles()
      .map(_.getName).filter(_.startsWith("region=")).sorted
    assert(parts.toSeq === Seq("region=north", "region=south"))
    // a later append re-reads the latest commit's partitionBy -> new layout
    val a = lake.write(df(Seq(Sale(4, "west", 5.0))), "sales", mode = "append")
    assert(new java.io.File(a.dirs.last).listFiles()
      .map(_.getName).contains("region=west"))
    // old version still reads in its old layout (time travel intact)
    assert(lake.read("sales", asOfVersion = Some(0L)).count() === 3)
  }

  test("overwrite replaces content and bumps the version") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    lake.write(df(Seq(Sale(9, "west", 1.0))), "sales")
    assert(lake.read("sales").count() === 1)
    assert(lake.latestVersion("sales") === Some(1L))
    // time travel back to v0
    assert(lake.read("sales", asOfVersion = Some(0L)).count() === 3)
    assert(lake.history("sales").map(_.mode) === Seq("overwrite", "overwrite"))
  }

  test("append unions new data and keeps the partition spec") {
    val lake = freshLake()
    lake.write(df(rows), "sales", partitionBy = Seq("region"))
    lake.write(df(Seq(Sale(4, "south", 40.0))), "sales", mode = "append")
    val back = lake.read("sales")
    assert(back.count() === 4)
    // partition pruning: region filter reads only that partition's dirs
    assert(back.filter(back("region") === "south").count() === 2)
  }

  test("schema evolution: append with a new column widens the table") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    val withChannel = df(Seq(Sale(4, "west", 40.0)))
      .withColumn("channel", org.apache.spark.sql.functions.lit("web"))
    // rejected without opt-in
    intercept[IllegalArgumentException] {
      lake.write(withChannel, "sales", mode = "append")
    }
    lake.write(withChannel, "sales", mode = "append", allowEvolution = true)
    val back = lake.read("sales")
    assert(back.count() === 4)
    assert(back.columns.contains("channel"))
    // old rows read null for the evolved column
    assert(back.filter(back("channel").isNull).count() === 3)
    // committed schema records the widened shape
    val latest = lake.history("sales").last
    assert(latest.schema.fieldNames.contains("channel"))
  }

  test("append with mismatched schema is rejected") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    val bad = df(rows).withColumnRenamed("amount", "amt")
    intercept[IllegalArgumentException] {
      lake.write(bad, "sales", mode = "append")
    }
  }

  test("validate reproduces the reference's round-trip check") {
    val lake = freshLake()
    assert(!lake.validate("nope")._1)
    lake.write(df(rows), "sales")
    val (ok, detail) = lake.validate("sales")
    assert(ok, detail)
  }

  test("compact collapses files without changing data") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    lake.write(df(Seq(Sale(4, "west", 40.0))), "sales", mode = "append")
    lake.write(df(Seq(Sale(5, "east", 50.0))), "sales", mode = "append")
    val before = lake.read("sales")
    val filesBefore = before.inputFiles.length
    val sumBefore = before.agg(org.apache.spark.sql.functions.sum("amount"))
      .collect()(0).getDouble(0)
    lake.compact("sales")
    val after = lake.read("sales")
    assert(after.inputFiles.length === 1)
    assert(after.inputFiles.length < filesBefore)
    assert(after.count() === 5)
    assert(after.agg(org.apache.spark.sql.functions.sum("amount"))
      .collect()(0).getDouble(0) === sumBefore)
  }

  test("vacuum removes unreferenced versions but keeps the live table") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    lake.write(df(Seq(Sale(9, "west", 1.0))), "sales") // overwrite -> v0 dead
    lake.vacuum("sales", keepVersions = 1, retentionMs = 0L)
    assert(lake.read("sales").count() === 1)
    assert(lake.history("sales").map(_.version) === Seq(1L))
    // v0's data dir is gone
    val dataRoot = java.nio.file.Paths.get(
      lake.read("sales").inputFiles.head.stripPrefix("file:")).getParent.getParent
    val dirs = java.nio.file.Files.list(dataRoot).iterator()
    var n = 0
    while (dirs.hasNext) { dirs.next(); n += 1 }
    assert(n === 1)
  }

  test("readChanges returns only rows appended after a version") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    lake.write(df(Seq(Sale(4, "west", 40.0))), "sales", mode = "append")
    lake.write(df(Seq(Sale(5, "east", 50.0))), "sales", mode = "append")
    val delta = lake.readChanges("sales", sinceVersion = 0L)
    assert(delta.select("id").collect().map(_.getLong(0)).sorted === Array(4L, 5L))
    // overwrite breaks incremental semantics -> error
    lake.write(df(rows), "sales")
    intercept[IllegalArgumentException] {
      lake.readChanges("sales", sinceVersion = 0L)
    }
  }

  test("reader ignores uncommitted (crashed) writes") {
    val lake = freshLake()
    lake.write(df(rows), "sales")
    // simulate a crash: data dir exists but no log entry was committed
    val wh = lake.read("sales").inputFiles.head.replaceAll("/data/v.*", "")
    val orphan = java.nio.file.Paths.get(wh.stripPrefix("file:"), "data", "v00000099")
    Files.createDirectories(orphan)
    assert(lake.read("sales").count() === 3)
    assert(lake.latestVersion("sales") === Some(0L))
  }

  test("deleteWhere is merge-on-read: zero rewrites, appends not retro-deleted") {
    val lake = freshLake()
    val v0 = lake.write(df(rows), "sales")
    val v1 = lake.deleteWhere("sales", "region = 'north'")
    // zero data rewrites: the delete commit references the SAME dirs
    assert(v1.dirs === v0.dirs)
    assert(lake.read("sales").collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(v1.rowCount === 1L)
    // time travel still sees the pre-delete table
    assert(lake.read("sales", asOfVersion = Some(0L)).count() === 3)
    // a LATER append of a matching row survives (delete is write-time scoped)
    lake.write(df(Seq(Sale(9, "north", 99.0))), "sales", mode = "append")
    assert(lake.read("sales").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 9L))
    // deletes stack; validate()'s committed-count invariant holds throughout
    lake.deleteWhere("sales", "amount > 50.0")
    assert(lake.read("sales").collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(lake.validate("sales")._1, lake.validate("sales")._2)
    // compact folds the stack into the data: no predicates left, same rows
    val c = lake.compact("sales")
    assert(c.deletes.isEmpty)
    assert(lake.read("sales").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("replaceWhere swaps exactly the predicate scope in one zero-rewrite commit") {
    val lake = freshLake()
    val v0 = lake.write(df(rows), "sales")
    // replace the north region (ids 1,3) with a single restated row
    val v1 = lake.replaceWhere("sales", df(Seq(Sale(10, "north", 77.0))),
      "region = 'north'")
    // old dirs stay referenced (zero rewrite), plus exactly one new dir
    assert(v1.dirs.take(v0.dirs.length) === v0.dirs)
    assert(v1.dirs.length === v0.dirs.length + 1)
    val live = lake.read("sales").collect().map(_.getLong(0)).sorted.toSeq
    assert(live === Seq(2L, 10L))
    assert(v1.rowCount === 2L)
    assert(lake.validate("sales")._1, lake.validate("sales")._2)
    // time travel sees the pre-replacement table
    assert(lake.read("sales", asOfVersion = Some(0L)).count() === 3)
    // containment: a batch with rows OUTSIDE the scope aborts pre-commit
    val e = intercept[IllegalArgumentException] {
      lake.replaceWhere("sales", df(Seq(Sale(11, "east", 1.0))), "region = 'north'")
    }
    assert(e.getMessage.contains("__replace_where_scope"))
    assert(lake.latestVersion("sales") === Some(1L))
    // a later append into the replaced scope is NOT retro-deleted
    lake.write(df(Seq(Sale(12, "north", 5.0))), "sales", mode = "append")
    assert(lake.read("sales").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(2L, 10L, 12L))
  }

  test("CHECK constraints persist in the log and abort violating writes pre-commit") {
    val lake = freshLake()
    lake.write(df(rows), "sales",
      constraints = Seq(("positive_amount", "amount > 0")))
    val dataRoot = new java.io.File(
      lake.warehouse + java.io.File.separator + "sales", "data")
    // a violating append or merge aborts BEFORE commit: version and contents
    // unchanged
    Seq[(String, () => Any)](
      "append" -> (() =>
        lake.write(df(Seq(Sale(7, "west", -5.0))), "sales", mode = "append")),
      "merge" -> (() =>
        lake.merge("sales", df(Seq(Sale(2, "south", -5.0))), Seq("id")))
    ).foreach { case (op, violate) =>
      val e = intercept[IllegalArgumentException](violate())
      assert(e.getMessage.contains("positive_amount"), op)
      assert(lake.latestVersion("sales") === Some(0L), op)
      assert(lake.read("sales").count() === 3, op)
      // the aborted write's staged dir was cleaned up (no orphan data)
      assert(dataRoot.listFiles().length === 1, op)
    }
    // a passing append commits; NULL-valued constraint passes (SQL tri-state)
    lake.write(df(Seq(Sale(8, "west", 5.0))), "sales", mode = "append")
    assert(lake.read("sales").count() === 4)
  }

  test("every committing op names a missing table") {
    val lake = freshLake()
    val batch = df(rows)
    Seq[(String, () => Any)](
      "deleteWhere" -> (() => lake.deleteWhere("nope", "id = 1")),
      "replaceWhere" -> (() => lake.replaceWhere("nope", batch, "id = 1")),
      "compact" -> (() => lake.compact("nope")),
      "merge" -> (() => lake.merge("nope", batch, Seq("id"))),
      "zorder" -> (() => lake.zorder("nope", Seq("id"))),
      "repartitionTable" -> (() => lake.repartitionTable("nope", Seq("region"))),
      "restore" -> (() => lake.restore("nope", 0L)),
      "cloneTable" -> (() => lake.cloneTable("nope", "nope_branch"))
    ).foreach { case (op, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage === "no such table: nope", op)
    }
    assert(!lake.exists("nope_branch"))
  }

  test("commit log entries keep their JSON format") {
    val lake = freshLake()
    lake.write(df(rows), "sales",
      constraints = Seq(("positive_amount", "amount > 0")))
    lake.write(df(Seq(Sale(4, "west", 40.0))), "sales", mode = "append")
    lake.deleteWhere("sales", "region = 'north'")
    lake.merge("sales", df(Seq(Sale(2, "south", 25.0), Sale(5, "east", 5.0))),
      Seq("id"))
    // the temp root and each staged dir's uuid suffix vary run to run
    val logDir = java.nio.file.Paths.get(lake.warehouse, "sales", "_graft_log")
    val entries = (0 to 3).map(v =>
      new String(Files.readAllBytes(logDir.resolve(f"v$v%08d.json")), "UTF-8")
        .replace(lake.warehouse, "<root>")
        .replaceAll("""v(\d{8})\.[0-9a-f]{8}""", "v$1.<uuid>"))
    val sch = """{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},""" +
      """{\"name\":\"region\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"amount\",\"type\":\"double\",\"nullable\":false,\"metadata\":{}}]}"""
    val (d0, d1, d3) = ("<root>/sales/data/v00000000.<uuid>",
      "<root>/sales/data/v00000001.<uuid>", "<root>/sales/data/v00000003.<uuid>")
    val checks = """[{"name":"positive_amount","sql":"amount > 0"}]"""
    assert(entries === Seq(
      raw"""{"version":0,"mode":"overwrite","dirs":["$d0"],"schemaJson":"$sch",""" +
        raw""""partitionBy":[],"rowCount":3,"deletes":[],"constraints":$checks}""",
      raw"""{"version":1,"mode":"append","dirs":["$d0","$d1"],"schemaJson":"$sch",""" +
        raw""""partitionBy":[],"rowCount":4,"deletes":[],"constraints":$checks}""",
      raw"""{"version":2,"mode":"delete","dirs":["$d0","$d1"],"schemaJson":"$sch",""" +
        raw""""partitionBy":[],"rowCount":2,""" +
        raw""""deletes":[{"pred":"region = 'north'","dirs":["$d0","$d1"]}],""" +
        raw""""constraints":$checks}""",
      raw"""{"version":3,"mode":"merge","dirs":["$d3"],"schemaJson":"$sch",""" +
        raw""""partitionBy":[],"rowCount":3,"deletes":[],"constraints":$checks}"""))
  }

  test("cloneTable is zero-copy and diverges independently") {
    val lake = freshLake()
    val src = lake.write(df(rows), "sales")
    val clone = lake.cloneTable("sales", "sales_branch")
    // zero-copy: same dirs referenced, instant
    assert(clone.dirs === src.dirs)
    assert(lake.read("sales_branch").count() === 3)
    // divergence: mutations to the clone never touch the source
    lake.deleteWhere("sales_branch", "region = 'north'")
    lake.write(df(Seq(Sale(4, "east", 1.0))), "sales_branch", mode = "append")
    assert(lake.read("sales_branch").count() === 2)
    assert(lake.read("sales").count() === 3)
    // and vice versa
    lake.write(df(Seq(Sale(5, "east", 2.0))), "sales", mode = "append")
    assert(lake.read("sales_branch").count() === 2)
    intercept[IllegalArgumentException] { lake.cloneTable("sales", "sales_branch") }
  }

  test("composed reporting summary publishes through CHECK-governed write") {
    import org.apache.spark.sql.functions._
    val lake = freshLake()
    val fact = df(Seq(
      Fact(1L, 101L, "BUILDING", 100.0), Fact(1L, 101L, "BUILDING", 50.0),
      Fact(2L, 102L, "BUILDING", 30.0), Fact(3L, 201L, "MACHINERY", 400.0)))
    val summary = graft.ops.Warehouse.reportingSummary(fact)
    lake.write(summary, "reporting_summary",
      constraints = Seq(("share_bounded", "share_of_total <= 1.0"))): Unit
    val back = lake.read("reporting_summary").orderBy("revenue_rank").collect()
    assert(back.length === 2)
    val top = back(0)
    assert(top.getAs[String]("c_mktsegment") === "MACHINERY")
    assert(top.getAs[Double]("revenue") === 400.0)
    assert(top.getAs[Long]("top_custkey") === 201L)
    val bld = back(1)
    assert(bld.getAs[Long]("n_orders") === 2L)
    assert(bld.getAs[Long]("n_customers") === 2L)
    assert(bld.getAs[Long]("top_custkey") === 101L)
    assert(math.abs(bld.getAs[Double]("share_of_total") - 180.0 / 580.0) < 1e-4)
  }
}
