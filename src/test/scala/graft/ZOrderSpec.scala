package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.tables.{LakeTable, ZOrder}

class ZOrderSpec extends SparkSpec {

  private lazy val events = graft.tables.Tables.events(spark, "/root/testdata/sf0.01")
    .select("event_id", "user_id", "value")

  /** Per-file (min,max) bounding boxes over the two layout columns, from
    * one aggregate over the dir. */
  private def boxes(dir: String): Seq[((Long, Long), (Double, Double))] =
    spark.read.parquet(dir).groupBy(input_file_name())
      .agg(min("user_id"), max("user_id"), min("value"), max("value"))
      .collect().toSeq
      .map(r => ((r.getLong(1), r.getLong(2)), (r.getDouble(3), r.getDouble(4))))

  test("z-order layout prunes multi-dimensional boxes better than linear sort") {
    val base = Files.createTempDirectory("graft-zorder").toString
    val zDir = s"$base/z"
    val linDir = s"$base/lin"
    // 64 files => 3 z-bits per dimension; at 16 the curve is too coarse for
    // file spans to separate cleanly and the comparison turns on sampling
    // luck in the range partitioner
    ZOrder.layout(events, Seq("user_id", "value"), numFiles = 64)
      .write.mode("overwrite").parquet(zDir)
    events.repartitionByRange(64, col("user_id")).sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(linDir)

    // boxes WIDE in the linear sort key (a third of users) and NARROW in
    // value — the shape where a one-dimensional sort cannot help but the
    // z-curve's second dimension can. Range partitioning SAMPLES its
    // bounds, so a single box can wobble by a file run-to-run; the
    // aggregate over boxes must still be strictly better.
    val boxesToProbe = Seq(
      (0L, 50L, 80.0, 150.0), (50L, 100L, 150.0, 250.0),
      (100L, 149L, 70.0, 130.0), (20L, 120L, 250.0, 490.0),
      (0L, 149L, 130.0, 200.0), (30L, 90L, 40.0, 60.0))
    val zBoxes = boxes(zDir)
    val linBoxes = boxes(linDir)
    def hits(files: Seq[((Long, Long), (Double, Double))],
             uLo: Long, uHi: Long, vLo: Double, vHi: Double): Int =
      files.count { case ((ulo, uhi), (vlo, vhi)) =>
        ulo <= uHi && uhi >= uLo && vlo <= vHi && vhi >= vLo
      }
    val zHits = boxesToProbe.map { case (a, b, c, d) => hits(zBoxes, a, b, c, d) }.sum
    val linHits = boxesToProbe.map { case (a, b, c, d) => hits(linBoxes, a, b, c, d) }.sum
    // linear sort clusters user_id only -> value spans the full range in
    // every file, so all user-matching files intersect the box; z-order
    // confines both dimensions
    assert(zHits < linHits,
      s"z=$zHits lin=$linHits zFiles=${zBoxes.mkString(";")} " +
        s"linFiles=${linBoxes.mkString(";")}")

    // layout change must not change query results
    val (uLo, uHi, vLo, vHi) = boxesToProbe.head
    val q = (d: String) => spark.read.parquet(d)
      .filter(col("user_id").between(uLo, uHi) && col("value").between(vLo, vHi))
      .agg(count(lit(1)), sum("event_id")).head()
    assert(q(zDir) === q(linDir))
  }

  test("LakeTable.zorder commits a layout-only rewrite") {
    val wh = Files.createTempDirectory("graft-zlake").toString
    val lake = new LakeTable(spark, wh)
    lake.write(events, "ev")
    val c = lake.zorder("ev", Seq("user_id", "value"))
    assert(c.mode === "zorder")
    assert(lake.read("ev").count() === events.count())
    val (ok, detail) = lake.validate("ev")
    assert(ok, detail)
  }
}
