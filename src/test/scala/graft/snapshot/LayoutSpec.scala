package graft.snapshot

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Storage-layout capability: the published timestamp layout lets
  * predicates push down, asserted on the parquet footer and the
  * PHYSICAL PLAN, not just results.
  */
class LayoutSpec extends SparkSpec {
  test("published ts is INT64 micros with stats; predicates push down") {
    // the serving-path contract: whatever raw vintage events arrive in
    // (legacy int64 TIMESTAMP(NANOS) or native micros-NTZ), a PUBLISHED
    // snapshot carries ts as INT64 TIMESTAMP(MICROS) with row-group
    // min/max stats — Spark's INT96 default writes NO usable stats, so
    // a ts predicate on a served snapshot would full-scan every row
    // group at 100 TB. Asserted on the footer AND the physical plan.
    import graft.core.Tables
    val base = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .limit(300).cache()
    val results = Seq(
      "ns" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("ts", expr("unix_micros(ts) * 1000"))),
      "ntz" -> ((df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("ts", col("ts").cast("timestamp_ntz")))
    ).map { case (label, stage) =>
      val raw = Files.createTempDirectory(s"graft-pub-$label").toString
      stage(base).write.mode("overwrite").parquet(s"$raw/events.parquet")

      val snapDir = Files.createTempDirectory(s"graft-snap-$label").toString
      val store = new SnapshotStore(spark, snapDir)
      val m = new SnapshotWriter(store).publish(
        Map("events" -> Tables.load(spark, raw, "events")),
        sortCol = Some("ts"))
      val dir = store.tableDir(m.version, "events")

      // footer: INT64 micros + min/max stats on ts (INT96 has neither)
      val fs = store.fs
      val part = fs.listStatus(dir).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          part, spark.sparkContext.hadoopConfiguration))
      try {
        val schema = footer.getFooter.getFileMetaData.getSchema
        val tsCol = schema.getColumns.asScala.find(
          _.getPath.head == "ts").get
        assert(tsCol.getPrimitiveType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
          s"$label: published ts must be INT64 micros, got ${tsCol.getPrimitiveType}")
        val block = footer.getFooter.getBlocks.get(0)
        val stats = block.getColumns.asScala.find(
          _.getPath.toDotString == "ts").get.getStatistics
        assert(stats != null && stats.hasNonNullValue,
          s"$label: published ts row group carries no min/max stats")
      } finally footer.close()

      // plan: the ts predicate reaches the scan as a pushed filter
      val served = spark.read.parquet(dir.toString)
        .filter(col("ts") >= "2024-01-01")
      val scan = served.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      assert(scan.contains("GreaterThanOrEqual(ts"),
        s"$label: ts predicate not pushed: ${scan.take(300)}")
      label -> served.agg(count(lit(1)), sum(unix_micros(col("ts"))))
        .collect()(0).toString
    }
    assert(results.map(_._2).distinct.size == 1,
      s"vintages served different data: $results")
    base.unpersist()
  }
}
