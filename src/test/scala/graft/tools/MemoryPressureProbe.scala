package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{functions => F}

/** Memory-pressure probe, run in its OWN JVM with a deliberately tight
  * heap (see MemoryPressureSpec): executes the named catalog entries
  * against an sf directory and prints, per entry, an order-insensitive
  * result digest plus the executor memory metrics that distinguish the
  * two ways a plan can respond when execution memory binds — SPILL
  * (unified memory manager moves sort/agg/join state to disk, job
  * completes, answer unchanged) vs OOM (job dies).
  *
  * At 100 TB the per-executor memory budget is the binding constraint;
  * the sandbox's roomy 128 GiB never exercises it. This probe is the
  * missing pin: the same entries, the same data, a heap far below the
  * working set — green completion with nonzero spill and an unchanged
  * digest is the "spill, not OOM, and not wrong" proof.
  *
  * Output contract (parsed by MemoryPressureSpec):
  *   [memprobe] <entry> rows=N digest=H secs=S spillMem=B spillDisk=B peakExec=B
  *   [memprobe] TOTAL spillMem=B spillDisk=B heapMax=B
  *   MEM_PROBE_OK
  */
object MemoryPressureProbe {

  private class MemMetrics extends SparkListener {
    val memSpilled = new AtomicLong(0)
    val diskSpilled = new AtomicLong(0)
    val peakExec = new AtomicLong(0)
    def reset(): Unit = { memSpilled.set(0); diskSpilled.set(0); peakExec.set(0) }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
        peakExec.updateAndGet(p => math.max(p, m.peakExecutionMemory))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MemoryPressureProbe <sfDir> <entry>...")
    val sfDir = args(0)
    val entries = args.drop(1).toSeq
    // bounded task concurrency: 8 slots share the pool, over 32
    // shuffle partitions
    val spark = graft.core.EngineSession.build("graft-memory-pressure-probe",
      "local[8]", 8, Seq("spark.sql.shuffle.partitions" -> "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val mem = new MemMetrics
    spark.sparkContext.addSparkListener(mem)
    var totMem = 0L
    var totDisk = 0L
    entries.foreach { name =>
      mem.reset()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // order-insensitive digest: row count + exact DECIMAL(38,0) sum of
      // per-row xxhash64 — commutes over any task/spill-induced row
      // order (and can't hit ANSI long overflow), so a tight-heap run
      // must reproduce the roomy run's digest exactly
      val row = df.select(
        F.count(F.lit(1)).as("n"),
        F.sum(F.xxhash64(F.struct(df.columns.map(F.col).toSeq: _*))
          .cast("decimal(38,0)")).as("h"))
        .collect()(0)
      val secs = (System.nanoTime() - t0) / 1e9
      // listener events are posted async (no public drain API): poll
      // until the counters stop moving before reading them
      var prev = -1L
      var cur = mem.memSpilled.get + mem.diskSpilled.get + mem.peakExec.get
      var waited = 0
      while (prev != cur && waited < 5000) {
        Thread.sleep(250); waited += 250
        prev = cur
        cur = mem.memSpilled.get + mem.diskSpilled.get + mem.peakExec.get
      }
      totMem += mem.memSpilled.get; totDisk += mem.diskSpilled.get
      println(s"[memprobe] $name rows=${row.getLong(0)} " +
        s"digest=${if (row.isNullAt(1)) "0"
          else row.getDecimal(1).toBigInteger.toString} " +
        f"secs=$secs%.1f spillMem=${mem.memSpilled.get} " +
        s"spillDisk=${mem.diskSpilled.get} peakExec=${mem.peakExec.get}")
    }
    println(s"[memprobe] TOTAL spillMem=$totMem spillDisk=$totDisk " +
      s"heapMax=${Runtime.getRuntime.maxMemory}")
    spark.stop()
    println("MEM_PROBE_OK")
  }
}
