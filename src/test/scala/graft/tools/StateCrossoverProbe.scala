package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStream

/** State-store crossover probe, run in its OWN JVM with a capped heap
  * (see StateCrossoverSpec): builds a session-window aggregation whose
  * LIVE state (one open session per key, `nKeys` keys) is sized
  * relative to the JVM heap, under either the HDFS-backed default
  * provider or RocksDB.
  *
  * The production claim under test (OPERATORS.md state-store A/B): the
  * HDFS-backed provider's zero-serialization heap maps win while state
  * fits the executor heap, and RocksDB's regime starts where state
  * exceeds heap — the JVM provider then dies by OOM while RocksDB
  * (native memory + disk) completes. The sf10 A/B measured the first
  * half; this probe measures the second half instead of asserting it.
  *
  * Mechanics: `nKeys` single-event open sessions arrive in one
  * micro-batch (state peaks at commit); two far-future "closer" rows
  * then advance the watermark across two more batches so every session
  * is evicted and emitted through a foreachBatch counting sink (no
  * driver-side result retention to confound the heap budget).
  *
  * Output contract (parsed by StateCrossoverSpec):
  *   [xover] provider=P keys=N emitted=M secs=S stateRows=R stateMem=B heapMax=B
  *   XOVER_OK
  */
object StateCrossoverProbe {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: StateCrossoverProbe <hdfs|rocksdb> <nKeys>")
    val provider = args(0)
    val nKeys = args(1).toLong
    val spark = graft.core.EngineSession.build("graft-state-crossover-probe",
      "local[8]", 8)
    provider match {
      case "hdfs" => // the default HDFSBackedStateStoreProvider
      case "rocksdb" =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case other => sys.error(s"unknown provider $other")
    }
    spark.sparkContext.setLogLevel("ERROR")

    // source data on real disk (bulk can exceed tmpfs), checkpoint on
    // tmpfs like every other replay in this repo
    val src = java.nio.file.Files.createTempDirectory("graft-xover-src")
    val ckpt = java.nio.file.Files.createTempDirectory(
      EventStream.scratchBase, "graft-xover-ckpt")

    // one event per key, all inside one hour, arriving over MANY
    // micro-batches (the realistic state-accretion shape — a single
    // giant batch would stress the in-flight aggregation, not the
    // store); the 2h lateness below exceeds span+gap, so NO session is
    // evicted before the closers: live state peaks at exactly nKeys
    // open sessions
    val epochUs = 1700000000000000L // fixed instant; wall clock is irrelevant
    def eventRows(ids: org.apache.spark.sql.DataFrame, tsExpr: String) =
      ids.select(
        F.col("id").as("event_id"),
        F.expr(tsExpr).as("ts"),
        F.col("id").as("user_id"),
        F.lit("click").as("event_type"),
        (F.col("id") % 100).cast("double").as("value"),
        F.lit("{}").as("props"))
    eventRows(spark.range(nKeys).toDF("id"),
        s"timestamp_micros($epochUs + (id % 3600) * 1000000)")
      .repartition(24)
      .write.mode("overwrite").parquet(s"$src/bulk")

    val emitted = new AtomicLong(0)
    val t0 = System.nanoTime()
    val sessions = EventStream.sessionAgg(
      EventStream.readEvents(spark, s"$src/bulk",
        options = Map("maxFilesPerTrigger" -> "2")),
      gap = "30 minutes", lateness = "2 hours")
    val q = sessions.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted.addAndGet(df.count()); ()
      }
      .start()
    try {
      q.processAllAvailable() // bulk batch: state peaks here (OOM point)
      // two closers, two batches apart: watermark computed from batch
      // N-1's data governs batch N, so eviction+emission of the bulk
      // sessions needs the advanced watermark to be ACTIVE in a later
      // batch
      Seq(1, 2).foreach { day =>
        eventRows(spark.range(1).toDF("id"),
            s"timestamp_micros($epochUs + ${day}L * 86400000000)")
          .write.mode("append").parquet(s"$src/bulk")
        q.processAllAvailable()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress
      val stateRows = prog.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      val stateMem = prog.flatMap(_.stateOperators.map(_.memoryUsedBytes))
        .foldLeft(0L)(math.max)
      println(s"[xover] provider=$provider keys=$nKeys " +
        s"emitted=${emitted.get} " + f"secs=$secs%.1f stateRows=$stateRows " +
        s"stateMem=$stateMem heapMax=${Runtime.getRuntime.maxMemory}")
    } finally {
      q.stop()
      try org.apache.spark.network.util.JavaUtils
        .deleteRecursively(ckpt.toFile)
      catch { case scala.util.control.NonFatal(_) => () }
      try org.apache.spark.network.util.JavaUtils
        .deleteRecursively(src.toFile)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.stop()
    println("XOVER_OK")
  }
}
