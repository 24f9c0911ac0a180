package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ingest.{ParquetSource, SyncManager}
import graft.query.{QueryEngine, RateLimiter}
import graft.snapshot.{SnapshotReader, SnapshotStore}

/** Serving soak at the sf1 (10×) scale point: HTTP clients hammer the
  * admitted query shapes over a snapshot published from
  * `localdata/sf1` WHILE catalog pipelines (dedup d08, ANN e01, token
  * counts d02) run concurrently in their own FAIR pools on the same
  * session — the production shape where sync/curation batch work and
  * low-latency serving share one cluster. Asserts the serving path
  * degrades cleanly under real task pressure (tiny-data soaks leave
  * FAIR sharing uncontended because every job finishes in one
  * scheduling quantum):
  *
  *  - every HTTP response is an expected status, never 5xx;
  *  - serving kept succeeding while the batch pipelines ran (FAIR
  *    pools: a many-task batch job must not starve interactive
  *    queries);
  *  - the batch pipelines all completed with non-empty results;
  *  - post-soak, block-manager state is back at the pre-soak baseline
  *    (no leaked persisted frames from the concurrent curation path).
  *
  * Cancels (does not fail) when `localdata/sf1` is absent — the scale
  * point is synthesized per-round by tools.ScaleUp, not committed.
  */
class Sf1ServeSoakSpec extends SparkSpec {

  private val sf1 = sys.env.getOrElse("GRAFT_SF1_DIR", "localdata/sf1")
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private val signer = new TestSigner()

  test("serving stays clean under concurrent sf1 catalog pipelines") {
    assume(Files.exists(Paths.get(s"$sf1/orders.parquet")),
      s"sf1 scale point not synthesized at $sf1")

    val snapDir = Files.createTempDirectory("graft-sf1-snap").toString
    val store = new SnapshotStore(spark, snapDir)
    new SyncManager(spark,
      new ParquetSource(sf1, Seq("orders", "customer")), store).runCycle()
    val engine = new QueryEngine(spark, new SnapshotReader(store))
    val api = new HttpApi(engine,
      auth = signer.auth,
      rateLimiter = new RateLimiter(maxRequests = 100000, windowSeconds = 60),
      log = _ => ())
    val port = api.start()
    val tok = signer.token("sf1-soaker", Seq("read:analytics", "read:schema"))

    def q(sql: String): Int = {
      val b = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/query?q=" +
          java.net.URLEncoder.encode(sql, "UTF-8")))
        .header("Authorization", s"Bearer $tok")
      http.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
        .statusCode()
    }

    val shapes = Vector(
      "SELECT COUNT(*) FROM orders",
      "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
      "SELECT o_orderpriority, SUM(o_totalprice) AS total FROM orders GROUP BY o_orderpriority",
      "SELECT * FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey LIMIT 50",
      "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment",
      "SELECT COUNT(*) FROM customer WHERE c_acctbal > 0")

    val rddBaseline = spark.sparkContext.getPersistentRDDs.keySet

    // ── concurrent catalog pipelines, each in its own FAIR pool ──
    val entries = Seq("d08_minhash_neardups", "e01_knn_brute", "d02_token_count")
    val results = new ConcurrentHashMap[String, Long]()
    val failures = new ConcurrentHashMap[String, String]()
    val pool = Executors.newFixedThreadPool(entries.size + 4)
    val batch = entries.map { name =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-batch-$name")
          results.put(name, graft.SparkEntry.queries(name)(spark, sf1).count())
        } catch {
          case e: Throwable => failures.put(name, e.toString)
        } finally {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        }
      })
    }

    // ── HTTP soak until the batch work drains (bounded) ──
    val statusCounts = new ConcurrentHashMap[Int, LongAdder]()
    val servedDuringBatch = new LongAdder
    val soakers = (0 until 4).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val rnd = new scala.util.Random(t)
          while (!batch.forall(_.isDone)) {
            val code = q(shapes(rnd.nextInt(shapes.size)))
            statusCounts.computeIfAbsent(code, _ => new LongAdder).increment()
            if (code == 200) servedDuringBatch.increment()
          }
        }
      })
    }
    batch.foreach(_.get(240, TimeUnit.SECONDS))
    soakers.foreach(_.get(60, TimeUnit.SECONDS))
    pool.shutdown()

    assert(failures.isEmpty, s"batch pipeline failures: ${failures.asScala}")
    assert(entries.forall(results.getOrDefault(_, 0L) > 0),
      s"empty batch results: ${results.asScala}")
    val counts = statusCounts.asScala.map { case (k, v) => k -> v.sum() }.toMap
    assert(!counts.keys.exists(_ >= 500), s"5xx under batch pressure: $counts")
    assert(servedDuringBatch.sum() > 0,
      s"serving starved while batch pipelines ran: $counts")

    // leak gate: concurrent curation/serving left no block-manager state
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- rddBaseline).isEmpty,
      s"leaked persisted RDDs: ${(after -- rddBaseline).mkString(",")}")
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty,
      "storage memory not back at baseline")

    // ── cancel round: kill a pipeline mid-flight under serving load ──
    // d12 is the victim on purpose: it's the entry with a managed
    // persist, so a cancellation that skipped its release path would
    // park the cached survivors in the block manager for the session.
    val cancelPool = Executors.newFixedThreadPool(3)
    val cancelStatus = new ConcurrentHashMap[Int, LongAdder]()
    val stopSoak = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cancelSoakers = (0 until 2).map { t =>
      cancelPool.submit(new Runnable {
        def run(): Unit = {
          val rnd = new scala.util.Random(100 + t)
          while (!stopSoak.get()) {
            val code = q(shapes(rnd.nextInt(shapes.size)))
            cancelStatus.computeIfAbsent(code, _ => new LongAdder).increment()
          }
        }
      })
    }
    val victimOutcome = new java.util.concurrent.atomic.AtomicReference[String]()
    // cancel on the victim's FIRST JobStart, not after a fixed sleep:
    // a warmed page cache or a faster plan must not let the victim
    // finish before the cancel lands (and AndFutureJobs closes the
    // race where its first job completes between JobStart and cancel)
    val victimAirborne = new java.util.concurrent.CountDownLatch(1)
    val airborneListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            "graft-soak-victim" == js.properties.getProperty(
              "spark.jobGroup.id")) victimAirborne.countDown()
    }
    spark.sparkContext.addSparkListener(airborneListener)
    val victim = cancelPool.submit(new Runnable {
      def run(): Unit = {
        spark.sparkContext.setJobGroup("graft-soak-victim",
          "cancel-round victim", interruptOnCancel = true)
        spark.sparkContext.setLocalProperty(
          "spark.scheduler.pool", "graft-batch-victim")
        try {
          graft.SparkEntry.queries("d12_curation")(spark, sf1).count()
          victimOutcome.set("completed")
        } catch {
          case e: Throwable => victimOutcome.set(s"cancelled: $e")
        } finally {
          spark.sparkContext.clearJobGroup()
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        }
      }
    })
    try {
      assert(victimAirborne.await(60, TimeUnit.SECONDS),
        "victim never started a job")
      spark.sparkContext.cancelJobGroupAndFutureJobs("graft-soak-victim")
      victim.get(120, TimeUnit.SECONDS)
    } finally spark.sparkContext.removeSparkListener(airborneListener)
    stopSoak.set(true)
    cancelSoakers.foreach(_.get(60, TimeUnit.SECONDS))
    cancelPool.shutdown()

    assert(victimOutcome.get() != null &&
        victimOutcome.get().startsWith("cancelled"),
      s"victim was not cancelled mid-flight: ${victimOutcome.get()} — " +
        "raise the entry cost or shorten the pre-cancel sleep")
    val cancelCounts =
      cancelStatus.asScala.map { case (k, v) => k -> v.sum() }.toMap
    assert(!cancelCounts.keys.exists(_ >= 500),
      s"5xx while a pipeline was being cancelled: $cancelCounts")
    assert(cancelCounts.getOrElse(200, 0L) > 0,
      s"serving starved during the cancel round: $cancelCounts")
    // storage must return to baseline even though the victim died
    // mid-checkpoint: the entry releases its managed persist in a
    // finally, and the ContextCleaner reaps the orphaned checkpoint
    // RDD once unreferenced — poke GC and wait for it
    val deadline = System.nanoTime() + 30L * 1000000000L
    var leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddBaseline
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(500)
      leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddBaseline
    }
    assert(leaked.isEmpty,
      s"cancelled pipeline leaked persisted RDDs: ${leaked.mkString(",")}")

    api.stop()
  }
}
