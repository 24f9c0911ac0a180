package graft.tools

import java.nio.file.Files
import java.sql.Timestamp
import java.time.{Duration, Instant}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.ingest.{ParquetSource, SyncManager}
import graft.snapshot.{SnapshotReader, SnapshotStore}

/** Adoption-churn soak (round 16, r15 verdict task 5): the zero-width
  * generation swap allocates one FRESH child SparkSession per adoption
  * and relies on GC to reclaim the previous one once in-flight queries
  * release it. At a 60 s publish cadence that is 1,440 sessions/day on
  * a long-lived server — and temp-view catalogs plus per-session state
  * are exactly the driver-side objects that leak when a listener,
  * thread-local, or registry entry pins them. This probe drives ~2,000
  * adoptions (≈17 server-days at the reference cadence) with
  * concurrent queries hammering the captured sessions, inside a JVM
  * whose heap (set by the spec) is far too small for 2,000 leaked
  * session states, and reports used-after-GC heap early vs at the end:
  * a pinned-session leak shows up as monotone growth or an OOM exit;
  * a healthy swap holds the two measurements level.
  *
  * Output contract (parsed by AdoptionChurnSpec):
  *   [churn] adoptions=N swaps=N queries=N errors=0 mixes=0
  *     heapWarm=B heapEnd=B heapMax=B
  *   CHURN_OK
  */
object AdoptionChurnProbe {

  def main(args: Array[String]): Unit = {
    val iters = if (args.nonEmpty) args(0).toInt else 2000
    // warm point scales with the run (r16 ADVICE): a fixed 200 left
    // heapWarm at 0 for short arg-driven runs, silently turning the
    // spec's growth check into a compare-against-zero
    val warmAt = math.max(1, iters / 10)
    // the serving conf, since this models ServeMain's adoption path
    val spark = graft.core.EngineSession.build("graft-adoption-churn-probe",
      "local[4]", 4, graft.core.EngineSession.longLived)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val srcDir = Files.createTempDirectory("graft-churn-src").toString
    val snapDir = Files.createTempDirectory("graft-churn-snap").toString
    def seedGen(g: Int): Unit = Seq("left_t", "right_t").foreach { t =>
      (1 to 3).map(i => (i.toLong, g.toLong,
        Timestamp.valueOf(s"2024-01-0$i 00:00:00")))
        .toDF("id", "gen", "updated_at")
        .write.mode("overwrite").parquet(s"$srcDir/$t.parquet")
    }
    val store = new SnapshotStore(spark, snapDir)
    val mgr = new SyncManager(spark,
      new ParquetSource(srcDir, Seq("left_t", "right_t")), store)
    seedGen(1)
    require(mgr.runCycle(Instant.parse("2024-09-01T00:00:00Z")).success)
    seedGen(2)
    require(mgr.runCycle(Instant.parse("2024-09-01T01:00:00Z")).success)
    // the two generations' manifests, replayed alternately into the
    // publish pointer: every flip is a version change, so every
    // refresh is a REAL adoption (fresh child session, view
    // registration, volatile publish) — the full swap path, without
    // paying a sync cycle per iteration
    val gens = store.listGenerations()
    require(gens.size == 2, s"expected 2 generations, got $gens")
    val jsons = gens.map(k => store.readString(
      new Path(store.genDir(k), "manifest.json")).get)

    val reader = new SnapshotReader(store, ttl = Duration.ZERO)
    require(reader.refreshIfStale(), "first adoption failed")

    // concurrent queries against captured sessions, the serving layer's
    // access pattern: each query must see ONE generation whole
    // (left/right gen agree) and never error, across every swap
    val stop = new AtomicBoolean(false)
    val qErrs = new ConcurrentLinkedQueue[Throwable]()
    val mixes = new AtomicLong(0)
    val queries = new AtomicLong(0)
    val threads = (1 to 2).map { _ =>
      val th = new Thread(() => {
        while (!stop.get()) {
          try {
            val s = reader.session // captured once, used whole
            val r = s.sql("SELECT (SELECT max(gen) FROM left_t) AS lg," +
              " (SELECT max(gen) FROM right_t) AS rg").first()
            if (r.getLong(0) != r.getLong(1)) mixes.incrementAndGet()
            queries.incrementAndGet()
          } catch { case e: Throwable => qErrs.add(e) }
        }
      })
      th.setDaemon(true); th.start(); th
    }

    val rt = Runtime.getRuntime
    def usedAfterGc(): Long = {
      System.gc(); Thread.sleep(150); System.gc(); Thread.sleep(50)
      rt.totalMemory - rt.freeMemory
    }

    var adoptions = 0L
    var swaps = 0L
    var heapWarm = 0L
    var lastSession = reader.session
    var i = 0
    while (adoptions < iters) {
      store.writeString(store.currentManifestPath, jsons(i % 2))
      i += 1
      if (reader.refreshIfStale()) {
        adoptions += 1
        val s = reader.session
        if (!(s eq lastSession)) { swaps += 1; lastSession = s }
        // heapWarm taken AFTER the steady state establishes (caches,
        // codegen, file-status cache warm) so the end-to-warm delta
        // isolates per-adoption growth
        if (adoptions == warmAt) heapWarm = usedAfterGc()
      }
    }
    // heapEnd sampled BEFORE stopping the query threads (r16 ADVICE):
    // both used-after-GC readings are taken under the same concurrent
    // query load — an asymmetric baseline (warm under load, end after
    // quiesce) would deflate heapEnd and mask real per-adoption growth
    // near the spec's threshold
    val heapEnd = usedAfterGc()
    stop.set(true)
    threads.foreach(_.join(10000))
    println(s"[churn] adoptions=$adoptions swaps=$swaps " +
      s"queries=${queries.get} errors=${qErrs.size} mixes=${mixes.get} " +
      s"heapWarm=$heapWarm heapEnd=$heapEnd heapMax=${rt.maxMemory}")
    qErrs.asScala.take(3).foreach(e =>
      println(s"[churn] err=${e.getClass.getName}: ${e.getMessage}"))
    spark.stop()
    println("CHURN_OK")
  }
}
