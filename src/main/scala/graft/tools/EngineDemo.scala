package graft.tools

import java.nio.file.Files

import graft.core.EngineSession
import graft.ingest.{ParquetSource, SyncManager}
import graft.query.QueryEngine
import graft.snapshot.{SnapshotReader, SnapshotStore}

/** End-to-end drive of the engine through its public API: sync a source
  * directory into a versioned snapshot, then serve validated SQL over
  * it. Usage: runMain graft.tools.EngineDemo [sfDir]
  */
object EngineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = EngineSession.build("graft-demo", "local[4]", 4)

    val snapRoot = Files.createTempDirectory("graft-demo").toString
    val store = new SnapshotStore(spark, snapRoot)
    val source = new ParquetSource(sfDir,
      Seq("region", "nation", "customer", "orders"))

    println(s"[demo] sync cycle from $sfDir -> $snapRoot")
    val sync = new SyncManager(spark, source, store,
      watermarkCol = "o_orderdate")
    val r1 = sync.runCycle()
    println(s"[demo] cycle1 success=${r1.success} " +
      s"tables=${r1.manifest.map(_.tables)} err=${r1.error}")
    val r2 = sync.runCycle()
    println(s"[demo] cycle2 success=${r2.success} " +
      s"version=${r2.manifest.map(_.version)} pruned=${r2.prunedGenerations}")

    val reader = new SnapshotReader(store)
    val engine = new QueryEngine(spark, reader)

    Seq(
      "SELECT COUNT(*) FROM orders",
      "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS rev " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
      "SELECT * FROM region ORDER BY r_regionkey LIMIT 3"
    ).foreach { sql =>
      val res = engine.execute(sql)
      println(s"[demo] $sql\n  -> rows=${res.rowCount} cols=${res.columns} " +
        f"ms=${res.executionTimeMs}%.1f first=${res.data.headOption}")
    }

    Seq("DROP TABLE orders", "WITH x AS (SELECT 1) SELECT * FROM x")
      .foreach { sql =>
        val out = try { engine.execute(sql); "ACCEPTED (BUG)" }
        catch { case e: Exception => s"rejected: ${e.getMessage}" }
        println(s"[demo] $sql -> $out")
      }

    println(s"[demo] schema: ${engine.schema().view.mapValues(_.size).toMap}")
    spark.stop()
  }
}
