package graft
import java.nio.file.{Files, Paths}
import graft.queries.{QueryRegistry, QuerySpec}
/** Correctness dump: each registry row's result → parquet, plus
  * oracle_sql.json, for a DuckDB compare (tools/check.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.start()
    new java.io.File(outDir).mkdirs()
    // dev-loop filter (same contract as Bench): SPARK_GRAFT_VERIFY_ONLY=q16,q139
    // dumps just those rows (see QueryRegistry.select) and restricts
    // oracle_sql.json to them so tools/check.py compares the same subset.
    // Unset = full sweep.
    val rows = QueryRegistry.all
      .select(sys.env.getOrElse("SPARK_GRAFT_VERIFY_ONLY", ""))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // rows come in name order, so two dumps diff byte for byte; written
    // before the sweep, so a stopped or failed sweep still leaves it
    val json = rows.map(r => s"${q(r.name)}: ${q(r.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    rows.foreach { case QuerySpec(name, fn, _) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist() intermediates (q44) must not leave cached
      // blocks accumulating in executor storage across the sweep — SQL
      // cache and RDD-level blocks both
      graft.ops.Caching.releaseAll(spark)
    }
    spark.stop()
  }
}
