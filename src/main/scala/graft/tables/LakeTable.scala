package graft.tables

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, expr, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet-backed managed tables with a versioned JSON transaction log —
  * the engine's stand-in for the reference's curated Delta tables
  * (`/root/reference/notebooks/01_dataLake_ingestion.ipynb:571-574` writes
  * `format("delta").mode("overwrite")`; cell 22 at `:628-656` validates the
  * table dir, `_delta_log`, and readback). No Delta jar exists in this
  * environment (SURVEY §0), so the log is our own:
  *
  *   <warehouse>/<table>/_graft_log/vNNNNNNNN.json   — one commit per version
  *   <warehouse>/<table>/data/vNNNNNNNN.<uuid>/      — parquet written by executors
  *                                                     (uuid = per-writer staging,
  *                                                     see [[stageDataDir]])
  *
  * Commit protocol, written once: a data-writing op goes through
  * [[commitData]] (executors write a staged data dir, observed checks gate
  * it, then the log entry commits it); a log-only op goes through
  * [[commitLog]]. Either way the log entry is published create-only
  * ([[LakeTable.publish]]) — readers resolve the latest *committed* log
  * entry, so a crashed write never corrupts the table (single-writer
  * assumption is documented, there is no multi-driver coordination — the
  * non-ACID boundary called out in SURVEY §7).
  *
  * Scale: data layout is plain partitioned parquet, so reads get partition
  * pruning + predicate pushdown; `partitionBy` columns are recorded in the
  * log and re-applied on append.
  */
final class LakeTable(spark: SparkSession, warehouseDir: String) {

  /** Warehouse root (sidecar writers — materialized views, indexes — anchor
    * their metadata next to the tables they derive from). */
  def warehouse: String = warehouseDir

  private def tableDir(name: String): Path = Paths.get(warehouseDir, name)
  private def logDir(name: String): Path = tableDir(name).resolve("_graft_log")
  private def statsPath(name: String, v: Long): Path =
    tableDir(name).resolve("stats").resolve(f"v$v%08d.json")
  private def bloomPath(name: String, v: Long, column: String): Path =
    tableDir(name).resolve("bloom").resolve(f"v$v%08d.$column.bf")
  // Per-writer UNIQUE staging dir: data is written BEFORE the log-link commit
  // race is decided, so a deterministic data/vNNNNNNNN path would let a losing
  // writer overwrite the winning writer's already-committed v data files. The
  // uuid suffix makes staging collision-free; the committed log entry records
  // the exact path, so readers and vacuum never care about the suffix.
  private def stageDataDir(name: String, v: Long): Path =
    tableDir(name).resolve("data")
      .resolve(f"v$v%08d." + java.util.UUID.randomUUID().toString.take(8))

  private def committedVersions(name: String): Seq[Long] = {
    val ld = logDir(name)
    if (!Files.isDirectory(ld)) Seq.empty
    else Files.list(ld).iterator().asScala
      .map(_.getFileName.toString)
      .filter(f => f.startsWith("v") && f.endsWith(".json"))
      .map(f => f.stripPrefix("v").stripSuffix(".json").toLong)
      .toSeq.sorted
  }

  def exists(name: String): Boolean = committedVersions(name).nonEmpty

  def latestVersion(name: String): Option[Long] = committedVersions(name).lastOption

  /** One committed log entry. `dirs` lists every live data dir (append keeps
    * prior dirs; overwrite starts fresh). `deletes` is the merge-on-read
    * delete stack: each entry is (predicate SQL, dirs it applies to) — a
    * DELETE WHERE costs zero data rewrites, readers subtract matching rows
    * from exactly the dirs that existed at delete time (so a later append
    * of a matching row is NOT retro-deleted, matching Delta's write-time
    * semantics). `constraints` are named CHECK predicates (SQL text)
    * enforced on every subsequent write into the table. */
  final case class Commit(version: Long, mode: String, dirs: Seq[String],
                          schemaJson: String, partitionBy: Seq[String],
                          rowCount: Long,
                          deletes: Seq[(String, Seq[String])] = Seq.empty,
                          constraints: Seq[(String, String)] = Seq.empty) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  private def readCommit(name: String, v: Long): Commit = {
    val json = new String(Files.readAllBytes(logDir(name).resolve(f"v$v%08d.json")), "UTF-8")
    // parse with Spark's bundled json4s — no extra dependency
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val jv = JsonMethods.parse(json)
    // deletes/constraints are absent in pre-feature logs — default empty
    val deletes = (jv \ "deletes") match {
      case JArray(items) => items.map(i =>
        ((i \ "pred").extract[String], (i \ "dirs").extract[Seq[String]]))
      case _ => Seq.empty
    }
    val constraints = (jv \ "constraints") match {
      case JArray(items) => items.map(i =>
        ((i \ "name").extract[String], (i \ "sql").extract[String]))
      case _ => Seq.empty
    }
    Commit(
      (jv \ "version").extract[Long], (jv \ "mode").extract[String],
      (jv \ "dirs").extract[Seq[String]], (jv \ "schemaJson").extract[String],
      (jv \ "partitionBy").extract[Seq[String]], (jv \ "rowCount").extract[Long],
      deletes, constraints)
  }

  /** The table's latest commit; a missing table is the one named error. */
  private[tables] def head(name: String): Commit =
    readCommit(name, latestVersion(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name")))

  private def writeCommit(name: String, c: Commit): Unit = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.compact(JsonMethods.render(
      ("version" -> c.version) ~ ("mode" -> c.mode) ~ ("dirs" -> c.dirs) ~
        ("schemaJson" -> c.schemaJson) ~ ("partitionBy" -> c.partitionBy) ~
        ("rowCount" -> c.rowCount) ~
        ("deletes" -> c.deletes.map { case (p, ds) =>
          ("pred" -> p) ~ ("dirs" -> ds) }) ~
        ("constraints" -> c.constraints.map { case (n, s) =>
          ("name" -> n) ~ ("sql" -> s) })))
    // optimistic concurrency: the entry is published create-only, so two
    // racing writers cannot both "win" version v — the second gets
    // FileAlreadyExistsException and must re-read the log and retry at the
    // next version
    try LakeTable.publish(logDir(name).resolve(f"v${c.version}%08d.json"),
      json.getBytes("UTF-8"), createOnly = true)
    catch {
      case _: FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"commit conflict: $name version ${c.version} was committed by another writer")
    }
  }

  private def nextVersion(prev: Option[Commit]): Long = prev.fold(0L)(_.version + 1)

  /** The log-commit path: publish `build(next version)` as the table's next
    * log entry. */
  private def commitLog(name: String, prev: Option[Commit])(build: Long => Commit): Commit = {
    val c = build(nextVersion(prev))
    writeCommit(name, c)
    c
  }

  /** Commit `c` whose data was staged into the unique `staged` dir; on a
    * commit conflict the staged files are orphans — delete them so a losing
    * writer leaves no trace (the winner's dir has a different uuid suffix). */
  private def commitStaged(name: String, c: Commit, staged: Path): Commit = {
    try { writeCommit(name, c); c }
    catch {
      case e: java.util.ConcurrentModificationException =>
        deleteRecursively(staged)
        throw e
    }
  }

  /** The data-commit path every data-writing op shares: write `df`
    * (partitioned by `partitionBy`) into a fresh staged dir at the next
    * version, then commit `build(version, staged dir, written rows)`.
    *
    * `checks` are named CHECK predicates observed on the write job itself
    * (`df.observe`) together with the written-row count: zero extra scans
    * AND zero extra jobs — re-opening the staged parquet for a count() paid
    * a fresh schema inference + one job per commit (~100–150 ms each; the
    * streaming-ingest rows commit 4+ times per run). SQL tri-state: a check
    * evaluating NULL passes (the SQL-standard CHECK rule); only FALSE rows
    * violate. Any violation deletes the staged dir and throws before the
    * commit, which is what makes data visible — the table never sees the
    * bad data. */
  private def commitData(name: String, prev: Option[Commit], df: DataFrame,
                         partitionBy: Seq[String], checks: Seq[(String, String)],
                         compression: Option[String] = None)
                        (build: (Long, String, Long) => Commit): Commit = {
    import org.apache.spark.sql.functions.{count, not, sum, when}
    val rowCount = "__row_count"
    val obs = org.apache.spark.sql.Observation()
    val aggs = count(lit(1)).as(rowCount) +: checks.map { case (n, sql) =>
      sum(when(not(coalesce(expr(sql), lit(true))), 1L).otherwise(0L)).as(n)
    }
    val v = nextVersion(prev)
    val dest = stageDataDir(name, v)
    val w = df.observe(obs, aggs.head, aggs.tail: _*).write.mode("overwrite")
    val writer = compression.fold(w)(w.option("compression", _))
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dest.toString)
    val metrics = obs.get
    val bad = metrics.toSeq.collect {
      case (k, n: Long) if k != rowCount && n > 0 => s"$k ($n rows)"
    }.sorted
    if (bad.nonEmpty) {
      deleteRecursively(dest)
      throw new IllegalArgumentException(
        s"CHECK constraint violation on $name: ${bad.mkString(", ")} — write aborted")
    }
    commitStaged(name, build(v, dest.toString, metrics(rowCount).asInstanceOf[Long]), dest)
  }

  private def columnTypes(s: StructType): Map[String, DataType] =
    s.map(f => f.name -> f.dataType).toMap

  /** Same column names and types as the table, in any order. */
  private def requireSameSchema(op: String, name: String, table: StructType,
                                incoming: StructType): Unit = {
    val (expected, actual) = (columnTypes(table), columnTypes(incoming))
    require(expected == actual,
      s"$op schema mismatch for $name: table=$expected incoming=$actual")
  }

  /** Persist `df` as table `name`. Append mode enforces schema compatibility
    * (same column names and types, any order) against the live table unless
    * `allowEvolution` — then NEW columns are admitted (existing columns must
    * keep their types) and the committed schema widens; readers see nulls
    * for the new columns on old files.
    *
    * `compression` is this version's parquet codec: snappy for hot tables
    * (cheap CPU), zstd for cold/archive versions (~30-40% smaller); parquet
    * is self-describing so readers never need to know the codec.
    *
    * `constraints` are named CHECK predicates (Delta-style table
    * constraints): they persist in the commit and every later write into
    * the table re-enforces them — a violating batch aborts before commit.
    * On overwrite a non-empty `constraints` redefines the set; empty keeps
    * the table's existing ones. Appends enforce the table set plus any new
    * ones passed here (which then persist). Enforcement is a single-pass
    * `observe` riding the write — no second scan. */
  def write(df: DataFrame, name: String, mode: String = "overwrite",
            partitionBy: Seq[String] = Seq.empty,
            allowEvolution: Boolean = false,
            compression: String = "snappy",
            constraints: Seq[(String, String)] = Seq.empty): Commit = {
    require(mode == "overwrite" || mode == "append", s"unsupported mode $mode")
    val prev = latestVersion(name).map(readCommit(name, _))
    // an append onto a live table keeps its dirs, rows, delete stack (old
    // dirs keep their filters) and partitioning; overwrite starts fresh
    val kept = prev.filter(_ => mode == "append")
    kept.foreach { p =>
      if (allowEvolution) {
        val (expected, actual) = (columnTypes(p.schema), columnTypes(df.schema))
        val changed = expected.keySet.intersect(actual.keySet)
          .filter(c => expected(c) != actual(c))
        require(changed.isEmpty, s"append type change for $name on: $changed")
      } else requireSameSchema("append", name, p.schema, df.schema)
    }
    val parts = kept.fold(partitionBy)(_.partitionBy)
    val tableConstraints = prev.map(_.constraints).getOrElse(Seq.empty)
    val effectiveConstraints =
      if (mode == "append")
        tableConstraints ++ constraints.filterNot(c =>
          tableConstraints.exists(_._1 == c._1))
      else if (constraints.nonEmpty) constraints
      else tableConstraints
    // evolved append: commit the WIDENED schema (old columns + new ones)
    val schemaJson = kept.fold(df.schema.json) { p =>
      val known = p.schema.fieldNames.toSet
      StructType(p.schema.fields ++
        df.schema.fields.filterNot(f => known.contains(f.name))).json
    }
    commitData(name, prev, df, parts, effectiveConstraints, Some(compression)) {
      (v, dir, written) =>
        Commit(v, mode, kept.toSeq.flatMap(_.dirs) :+ dir, schemaJson, parts,
          written + kept.fold(0L)(_.rowCount), kept.toSeq.flatMap(_.deletes),
          effectiveConstraints)
    }
  }

  /** Read the latest committed version (or `asOfVersion` for time travel).
    * Merge-on-read: each dir subtracts the delete predicates that apply to
    * it (SQL-standard tri-state — a NULL predicate keeps the row, as in
    * Delta DELETE WHERE). The keep-filters are ordinary pushed-down
    * predicates, so deletes cost a per-row filter, never an extra scan.
    *
    * Each dir is read with the COMMIT-RECORDED schema, never re-inferred
    * from parquet footers — the log is the catalog, exactly Delta's reader
    * contract (and guide §6's "provide explicit schemas"). Besides being
    * the correct metadata source, this removes a ~60–110 ms footer-read
    * inference per dir per read call; the lake-staged query rows pay
    * several reads per run. Parquet column resolution is by name, so a
    * dir written with a different column ORDER (append allows it) and an
    * evolved-append dir missing the widened columns (read as nulls) both
    * land on the one commit schema — which also makes the cross-dir union
    * positionally exact by construction. */
  def read(name: String, asOfVersion: Option[Long] = None): DataFrame =
    scan(asOfVersion.fold(head(name))(readCommit(name, _)))

  /** The rows of commit `c`: one read per committed dir, unioned. The
    * version dirs are not partition directories, so a single multi-path
    * read would trip Spark's partition-structure inference when partitionBy
    * is in play. Partition columns (recorded in the commit) resolve from
    * dir names and are CAST to their committed type by the explicit
    * schema. */
  private def scan(c: Commit): DataFrame = {
    import org.apache.spark.sql.functions.not
    val sch = c.schema
    c.dirs.map { d =>
      val base = spark.read.schema(sch).parquet(d)
      c.deletes.filter(_._2.contains(d)).map(_._1)
        .foldLeft(base)((df, p) =>
          df.filter(not(coalesce(expr(p), lit(false)))))
    }.reduce(_.union(_))
  }

  /** Live rows of `c` that `predSql` removes (tri-state: NULL keeps the
    * row) — one count job, for an exact committed rowCount. */
  private def removedRows(c: Commit, predSql: String): Long =
    scan(c).filter(coalesce(expr(predSql), lit(false))).count()

  /** DELETE WHERE with ZERO data rewrites (merge-on-read, the deletion-
    * vector idea at dir granularity): the new commit re-references the same
    * data dirs and pushes `cond` onto the delete stack, scoped to the dirs
    * that exist NOW — later appends are not retro-deleted. Readers pay a
    * pushed-down filter; [[compact]] (or any rewriting op) folds the stack
    * back to zero. The one scan here only counts the removed rows to keep
    * the committed rowCount exact. */
  def deleteWhere(name: String, predSql: String): Commit = {
    val prev = head(name)
    val removed = removedRows(prev, predSql)
    commitLog(name, Some(prev))(v => prev.copy(version = v, mode = "delete",
      deletes = prev.deletes :+ ((predSql, prev.dirs)),
      rowCount = prev.rowCount - removed))
  }

  /** Predicate-scoped overwrite (Delta's `replaceWhere`): atomically replace
    * exactly the rows matching `predSql` with `df`, as ONE commit and ZERO
    * rewrites of the untouched data — the old dirs stay referenced and take
    * `predSql` onto the merge-on-read delete stack (scoped to them only),
    * while the incoming batch lands as a new dir in the same commit. The
    * idiomatic backfill/restatement op: "overwrite March" never touches the
    * other 99.9% of a 100 TB table.
    *
    * Containment is enforced Delta-style: every incoming row must satisfy
    * `predSql` (NULL counts as outside the scope), observed in the same
    * single pass as the table's CHECK constraints — a violating batch
    * aborts before commit and cleans its staging. Schema must match the
    * table exactly (as strict append). */
  def replaceWhere(name: String, df: DataFrame, predSql: String): Commit = {
    val prev = head(name)
    requireSameSchema("replaceWhere", name, prev.schema, df.schema)
    val removed = removedRows(prev, predSql)
    commitData(name, Some(prev), df, prev.partitionBy,
      prev.constraints :+ (("__replace_where_scope", s"coalesce(($predSql), false)"))) {
      (v, dir, written) =>
        prev.copy(version = v, mode = "replaceWhere", dirs = prev.dirs :+ dir,
          rowCount = prev.rowCount - removed + written,
          deletes = prev.deletes :+ ((predSql, prev.dirs)))
    }
  }

  /** Zero-copy shallow clone (Delta SHALLOW CLONE): `dst`'s v0 commit
    * re-references `src`'s current data dirs — instant at any scale, no
    * bytes moved. The clone is fully independent going forward (its own
    * log; overwrites/appends/deletes diverge freely). Documented hazard,
    * same as Delta: a later `vacuum(src)` can reclaim dirs the clone still
    * references — clone for experiments/branching, compact the clone to
    * materialize it before vacuuming the source. */
  def cloneTable(src: String, dst: String): Commit = {
    require(!exists(dst), s"clone target $dst already exists")
    val c = head(src)
    commitLog(dst, None)(v => c.copy(version = v, mode = "clone"))
  }

  /** Commit history, oldest first. */
  def history(name: String): Seq[Commit] =
    committedVersions(name).map(readCommit(name, _))

  private val CompactFiles = 1 // files compact rewrites a table into
  private val ZOrderFiles = 8  // files zorder cuts the z-curve into

  /** Small-file compaction: rewrite the current table contents into
    * `CompactFiles` parquet files as a new commit. At cluster scale the
    * small-files problem (one file per task per append) dominates scan
    * setup cost; compaction is the standard maintenance op. Data is
    * unchanged — only layout. */
  def compact(name: String): Commit = {
    val prev = head(name)
    // rewriting from the live rows folds the delete stack into the data itself
    commitData(name, Some(prev), scan(prev).coalesce(CompactFiles), prev.partitionBy,
      Seq.empty)((v, dir, _) =>
      prev.copy(version = v, mode = "compact", dirs = Seq(dir), deletes = Seq.empty))
  }

  /** MERGE INTO this table: upsert `updates` keyed by `keys` — matched rows
    * replaced, unmatched inserted (delete-marked or not — Delta parity),
    * matches satisfying `deleteWhen` dropped
    * (semantics in [[graft.ops.Merge.upsertPlan]]) — committed as a new
    * version, so time travel still sees the pre-merge table. The merged
    * rows re-enforce the table's CHECK constraints like any other write. The
    * incremental lakehouse write path Delta MERGE provides; rewrite
    * granularity is the whole table here (our log tracks dirs, not files —
    * documented trade). */
  def merge(name: String, updates: DataFrame, keys: Seq[String],
            deleteWhen: Option[org.apache.spark.sql.Column] = None): Commit = {
    val prev = head(name)
    val merged = graft.ops.Merge.upsertPlan(scan(prev), updates, keys, deleteWhen)
    commitData(name, Some(prev), merged, prev.partitionBy, prev.constraints)(
      (v, dir, written) => prev.copy(version = v, mode = "merge", dirs = Seq(dir),
        rowCount = written, deletes = Seq.empty))
  }

  /** Z-order maintenance: rewrite the table along the Morton curve over
    * `zCols` (see [[ZOrder]]) into `ZOrderFiles` files as a new commit. Like
    * [[compact]] this changes layout only; unlike compact, every output
    * file covers a tight range in ALL `zCols`, so multi-dimensional
    * predicates prune most files via parquet min/max footers. The layout
    * is written unpartitioned; the commit keeps the table's partitionBy. */
  def zorder(name: String, zCols: Seq[String]): Commit = {
    val prev = head(name)
    commitData(name, Some(prev), ZOrder.layout(scan(prev), zCols, ZOrderFiles),
      Seq.empty, Seq.empty)((v, dir, _) =>
      prev.copy(version = v, mode = "zorder", dirs = Seq(dir), deletes = Seq.empty))
  }

  /** Roll the table back to `version`'s contents as a NEW commit (Delta
    * RESTORE): the restored commit re-references the old version's data
    * dirs — zero data copied, instant at any scale — and history keeps the
    * bad versions visible for forensics. Restored dirs must still exist
    * (not vacuumed). */
  def restore(name: String, version: Long): Commit = {
    val prev = head(name)
    require(committedVersions(name).contains(version),
      s"no committed version v$version for $name (vacuumed or never existed)")
    val target = readCommit(name, version)
    require(target.dirs.forall(d => Files.isDirectory(Paths.get(d))),
      s"cannot restore $name to v$version: data dirs were vacuumed")
    commitLog(name, Some(prev))(v => target.copy(version = v, mode = "restore"))
  }

  /** Partition-layout evolution: rewrite the current contents under a NEW
    * `partitionBy` column set as one commit (mode "repartition"). The
    * Iceberg-style answer to "we picked the wrong partition column at
    * design time": readers keep resolving through the log (old versions
    * stay time-travelable in their old layout), and subsequent appends
    * adopt the new layout automatically since append re-reads the latest
    * commit's partitionBy. Data is unchanged — only directory layout, and
    * with it which predicates prune at the scan. */
  def repartitionTable(name: String, newPartitionBy: Seq[String]): Commit = {
    val prev = head(name)
    commitData(name, Some(prev), scan(prev), newPartitionBy, Seq.empty)((v, dir, _) =>
      prev.copy(version = v, mode = "repartition", dirs = Seq(dir),
        partitionBy = newPartitionBy, deletes = Seq.empty))
  }

  /** Delete data directories no committed version <= the latest references
    * anymore beyond the newest `keepVersions` commits, and drop the pruned
    * log entries. Time travel further back stops working — the documented
    * trade, same as Delta VACUUM.
    *
    * Concurrent-writer safety (the Delta retention-window rule): an
    * unreferenced dir may be a RACING writer's in-flight staging, not
    * garbage. Two guards: a dir whose version prefix is beyond the latest
    * commit is always kept (a writer stages at latest+1 before its commit
    * is decided), and anything else unreferenced must be older than
    * `retentionMs`. `retentionMs = 0` reclaims immediately and is only safe
    * under the single-writer assumption. */
  def vacuum(name: String, keepVersions: Int = 1,
             retentionMs: Long = 3600000L): Unit = {
    val versions = committedVersions(name)
    if (versions.isEmpty) return
    val latest = versions.last
    val keep = versions.takeRight(keepVersions)
    val live = keep.flatMap(v => readCommit(name, v).dirs).toSet
    val dataRoot = tableDir(name).resolve("data")
    if (Files.isDirectory(dataRoot)) {
      val now = System.currentTimeMillis()
      Files.list(dataRoot).iterator().asScala.toSeq
        .filterNot(d => live.contains(d.toString))
        .filter { d =>
          // "vNNNNNNNN" or "vNNNNNNNN.<uuid>"; unparseable names are kept
          val ver = scala.util.Try(
            d.getFileName.toString.split('.').head.stripPrefix("v").toLong)
          val ageMs = now - Files.getLastModifiedTime(d).toMillis
          ver.toOption.exists(_ <= latest) && ageMs >= retentionMs
        }
        .foreach(deleteRecursively)
    }
    versions.dropRight(keepVersions).foreach { v =>
      Files.deleteIfExists(logDir(name).resolve(f"v$v%08d.json"))
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  /** Incremental read (change feed for append-only tables): rows added by
    * commits AFTER `sinceVersion`. An overwrite/compact in the range makes
    * "new rows" ill-defined — the caller gets an error, as with Delta CDF
    * without delete tracking. */
  def readChanges(name: String, sinceVersion: Long): DataFrame = {
    val versions = committedVersions(name).filter(_ > sinceVersion)
    require(versions.nonEmpty, s"no commits after v$sinceVersion")
    val commits = versions.map(readCommit(name, _))
    require(commits.forall(_.mode == "append"),
      s"non-append commit in range (${commits.map(_.mode).mkString(",")}): " +
        "incremental semantics undefined")
    val baseline = readCommit(name, sinceVersion).dirs.toSet
    val newDirs = commits.last.dirs.filterNot(baseline)
    // commit-recorded schema, same contract as [[read]] — appends enforce
    // name/type equality, so every new dir matches the latest schema
    val sch = commits.last.schema
    newDirs.map(spark.read.schema(sch).parquet(_)).reduce(_.union(_))
  }

  /** Per-column table statistics, computed in ONE pass and persisted as a
    * sidecar next to the commit log (`stats/v%08d.json`) — the file-skipping
    * and join-planning input a lakehouse keeps per snapshot. min/max are
    * stringified (schema-agnostic); ndv is HLL-approximate (exact ndv would
    * be a full shuffle per column). Re-running replaces the sidecar for
    * that version. */
  def analyze(name: String): Map[String, (Long, Long, String, String)] = {
    val latest = head(name)
    val df = scan(latest)
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count, max, min, sum}
    val cols = df.schema.fields.filter(_.dataType match {
      case _: StructType | _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType => false
      case _ => true
    }).map(_.name).toSeq
    val aggs = cols.flatMap { c =>
      Seq(sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
        approx_count_distinct(col(c)).as(s"${c}__ndv"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    } :+ count(lit(1)).as("__rows")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val stats = cols.map { c =>
      c -> ((Option(row.getAs[Any](s"${c}__nulls")).fold(0L)(_.asInstanceOf[Long]),
        row.getAs[Long](s"${c}__ndv"),
        String.valueOf(row.getAs[Any](s"${c}__min")),
        String.valueOf(row.getAs[Any](s"${c}__max"))))
    }.toMap
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val json = JsonMethods.compact(JsonMethods.render(
      ("version" -> latest.version) ~ ("rows" -> row.getAs[Long]("__rows")) ~
        ("columns" -> stats.map { case (c, (nulls, ndv, mn, mx)) =>
          c -> (("nulls" -> nulls) ~ ("ndv" -> ndv) ~
            ("min" -> mn) ~ ("max" -> mx))
        })))
    LakeTable.publish(statsPath(name, latest.version), json.getBytes("UTF-8"),
      createOnly = false)
    stats
  }

  /** Read back the stats sidecar written by [[analyze]] for a version
    * (latest by default). Empty if never analyzed. */
  def readStats(name: String, asOfVersion: Option[Long] = None)
      : Map[String, (Long, Long, String, String)] = {
    val v = asOfVersion.orElse(latestVersion(name)).getOrElse(return Map.empty)
    val p = statsPath(name, v)
    if (!Files.exists(p)) return Map.empty
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val jv = JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8"))
    (jv \ "columns").asInstanceOf[JObject].obj.map { case (c, s) =>
      c -> (((s \ "nulls").extract[Long], (s \ "ndv").extract[Long],
        (s \ "min").extract[String], (s \ "max").extract[String]))
    }.toMap
  }

  /** Build a bloom-filter point-lookup index over `column` for the current
    * version (sidecar `bloom/v%08d.<col>.bf`). Spark's distributed
    * `stat.bloomFilter` merges per-partition filters — one pass, no
    * shuffle of values. Size `expectedItems` to the column's cardinality;
    * the filter is a few MB even at 1e8 items and 1% fpp. */
  def buildBloomIndex(name: String, column: String,
                      expectedItems: Long = 1000000L,
                      fpp: Double = 0.01): Unit = {
    val c = head(name)
    val bytes = new java.io.ByteArrayOutputStream()
    scan(c).stat.bloomFilter(column, expectedItems, fpp).writeTo(bytes)
    LakeTable.publish(bloomPath(name, c.version, column), bytes.toByteArray,
      createOnly = false)
  }

  /** A frame with `df`'s schema and no rows — answered without a scan. */
  private def emptyOf(df: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema)

  /** Point read through the bloom index: a definite miss returns an empty
    * frame with ZERO file scans (the index answers from its sidecar); a
    * maybe-hit falls through to the pushed-down filter scan. False
    * positives only cost the scan, never correctness. */
  def readPoint(name: String, column: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.col
    val c = head(name)
    val p = bloomPath(name, c.version, column)
    val mightContain =
      if (!Files.exists(p)) true
      else {
        val in = Files.newInputStream(p)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
          .mightContain(value)
        finally in.close()
      }
    val table = scan(c)
    if (!mightContain) emptyOf(table) else table.filter(col(column) === lit(value))
  }

  /** Range-filtered read that consults the [[analyze]] sidecar FIRST: when
    * the requested `[lo, hi]` range is disjoint from the column's committed
    * min/max, return an empty frame without ever touching the data files —
    * snapshot-level skipping, one tier above parquet's row-group pruning
    * (which still costs a footer read per file; at 100 TB that is millions
    * of footer fetches). Falls through to a normal pushed-down filter scan
    * when stats are missing or the ranges overlap. */
  def readRange(name: String, column: String, lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    val table = read(name)
    val field = table.schema.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column $column in $name"))
    require(field.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"range read needs a numeric column, $column is ${field.dataType}")
    readStats(name).get(column) match {
      // an all-null column stringifies min/max as "null" — no bounds to
      // prove disjointness with, so it falls through to the filter scan
      case Some((_, _, mn, mx)) if mn != "null" && mx != "null" &&
          (hi < mn.toDouble || lo > mx.toDouble) => emptyOf(table)
      case _ => table.filter(col(column) >= lo && col(column) <= hi)
    }
  }

  /** The reference's persistence round-trip validation (NB 01 cell 22):
    * table dir present, log present, readback count matches the committed
    * count. Returns (ok, detail). */
  def validate(name: String): (Boolean, String) = {
    if (!Files.isDirectory(tableDir(name))) return (false, s"missing dir: ${tableDir(name)}")
    if (!exists(name)) return (false, s"missing/empty log: ${logDir(name)}")
    val c = head(name)
    val n = scan(c).count()
    if (n == c.rowCount) (true, s"ok: v${c.version}, $n rows")
    else (false, s"readback count $n != committed ${c.rowCount}")
  }
}

object LakeTable {

  /** The one way a lake file is published, so no reader ever sees a torn
    * one: the bytes go to a per-writer tmp sibling, which is then either
    * hard-linked into place (`createOnly` — the POSIX atomic
    * create-if-absent: FileAlreadyExistsException when `dest` exists; the
    * log entry, where rename(2) would let two racing writers both "win" a
    * version) or atomically moved over `dest` (replace — the stats, bloom
    * and materialized-view sidecars). */
  private[tables] def publish(dest: Path, bytes: Array[Byte], createOnly: Boolean): Unit = {
    Files.createDirectories(dest.getParent)
    // tmp name must be unique PER WRITER: a shared tmp path would let a
    // racing writer truncate this one's bytes before they are published
    // (and the loser's cleanup would delete the winner's in-flight file)
    val tmp = dest.resolveSibling(s".${dest.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, bytes)
    try {
      if (createOnly) Files.createLink(dest, tmp)
      else Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp): Unit
  }
}
