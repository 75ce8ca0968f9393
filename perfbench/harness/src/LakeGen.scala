package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes the lake flow's raw CSVs with `DataGen.writeCsvDataset` in a JVM
  * of its own, so that the timed JVM starts equally cold on every run.
  *
  * Usage: `perfbench.LakeGen <raw dir> <customers> <products> <orders> <seed>
  * <cores> <run dir>` — `run.py` calls it when the raw dir has no `_DONE`.
  */
object LakeGen {
  def main(args: Array[String]): Unit = {
    val Array(raw, customers, products, orders, seed, cores, runDir) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    try {
      graft.ingest.DataGen.writeCsvDataset(spark, raw, graft.ingest.DataGen.Config(
        nCustomers = customers.toLong, nProducts = products.toLong,
        nOrders = orders.toLong, seed = seed.toLong))
      Files.createFile(Paths.get(raw, "_DONE"))
    } finally spark.stop()
  }
}
