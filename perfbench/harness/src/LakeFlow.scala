package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Ingest
import graft.tables.LakeTable

/** The NB 01 lake flow, one pass: ingest the raw CSVs through the quality
  * gate into a fresh lake, then a seeded mix of writes (append, merge,
  * deleteWhere, replaceWhere) interleaved with reads (latest, time travel,
  * change feed, a fact join), ending with compaction and vacuum. The
  * mutation keys `r1`..`r4` come from the run's seed; `workloads.py`
  * replays the same steps in DuckDB to build the expected results. */
final class LakeFlow(spark: SparkSession, rawDir: String, lakeDir: String,
                     p: Map[String, Long]) {
  val lake = new LakeTable(spark, lakeDir)
  private val appended = 10000000L
  private val inserted = 20000000L

  private def dirs(name: String, v: Option[Long] = None): Int = {
    val h = lake.history(name)
    v.flatMap(x => h.find(_.version == x)).getOrElse(h.last).dirs.size
  }

  /** Runs step `name`. Returns the frame whose rows are checked (reads)
    * and the quality violations found (ingest). */
  def run(name: String): (Option[DataFrame], Long) = name match {
    case "ingest" =>
      (None, Ingest.run(spark, rawDir, lake).map(_._2).sum)
    case "lake.read_latest" | "lake.read_final" => (Some(lake.read("orders")), 0L)
    case "lake.append" =>
      val extra = lake.read("orders").filter(col("order_id") % 50 === p("r1"))
        .withColumn("order_id", col("order_id") + appended)
      lake.write(extra, "orders", "append"); (None, 0L)
    case "lake.append_items" =>
      val extra = lake.read("order_items").filter(col("order_id") % 50 === p("r1"))
        .withColumn("order_id", col("order_id") + appended)
        .withColumn("order_item_id", col("order_item_id") + 10 * appended)
      lake.write(extra, "order_items", "append"); (None, 0L)
    case "lake.read_changes" => (Some(lake.readChanges("order_items", 0L)), 0L)
    case "lake.merge" =>
      val cur = lake.read("orders")
      val updates = cur.filter(col("order_id") % 50 === p("r2"))
        .withColumn("status", lit("returned"))
        .unionByName(cur.filter(col("order_id") % 50 === p("r3") && col("order_id") < appended)
          .withColumn("order_id", col("order_id") + inserted))
      lake.merge("orders", updates, Seq("order_id")); (None, 0L)
    case "lake.time_travel" => (Some(lake.read("orders", Some(0L))), 0L)
    case "lake.delete" =>
      lake.deleteWhere("orders", s"order_id % 97 = ${p("r4")}"); (None, 0L)
    case "lake.replace_where" =>
      val swish = lake.read("orders").filter(col("payment_type") === "swish")
        .withColumn("status", lit("cancelled"))
      lake.replaceWhere("orders", swish, "payment_type = 'swish'"); (None, 0L)
    case "lake.fact_join" =>
      val o = lake.read("orders"); val i = lake.read("order_items")
      val pr = lake.read("products"); val c = lake.read("customers")
      (Some(i.join(o, "order_id").join(pr, "product_id").join(c, "customer_id")
        .groupBy(col("category"), col("status"), col("city"))
        .agg(count(lit(1)).as("n_items"), sum("quantity").as("units"),
          sum(round(col("line_total") * 100).cast("long")).as("cents"))), 0L)
    case "lake.compact" => lake.compact("orders"); (None, 0L)
    case "lake.vacuum" => lake.vacuum("orders", keepVersions = 1, retentionMs = 0L); (None, 0L)
  }

  /** Data dirs the read step unions, from the commit log; 0 for writes. */
  def dirsRead(name: String): Int = name match {
    case "lake.read_latest" | "lake.read_final" => dirs("orders")
    case "lake.time_travel" => dirs("orders", Some(0L))
    case "lake.read_changes" => dirs("order_items") - dirs("order_items", Some(0L))
    case "lake.fact_join" =>
      Seq("orders", "order_items", "products", "customers").map(dirs(_)).sum
    case _ => 0
  }
}
