package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ingest.{ParquetSource, SyncManager}
import graft.query.{QueryEngine, RateLimiter}
import graft.snapshot.{SnapshotReader, SnapshotStore}

/** Concurrency + leak soak of the serving path: parallel clients hammer
  * the HTTP facade with a mixed workload (fast catalog shapes, slow
  * many-task jobs, invalid SQL, bad tokens) for a sustained window,
  * then the suite asserts the engine degraded CLEANLY:
  *
  *  - no 5xx ever (overload shows up as 429, not errors);
  *  - the rate limiter actually engaged during the soak;
  *  - every client thread made progress (no starvation under FAIR
  *    pools — the load-bearing scheduling property, asserted without
  *    wall-clock ratios that flake under co-tenant bursts);
  *  - post-soak, no persisted RDDs or cached plans beyond the pre-soak
  *    baseline remain (regression guard for the curateManaged leak
  *    class: a serving loop must not accrete block-manager state).
  *
  * Duration defaults to ~45 s; set GRAFT_SOAK_SECONDS to stretch it
  * for a standalone multi-minute soak.
  */
class ServeSoakSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private val signer = new TestSigner()

  test("sustained mixed load: no 5xx, 429s engage, no starvation, no leaked blocks") {
    val srcDir = Files.createTempDirectory("graft-soak-src").toString
    val snapDir = Files.createTempDirectory("graft-soak-snap").toString
    (1 to 64).map(i => (i.toLong, s"sku$i", (i % 7).toLong, i * 1.25,
        Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "name", "quantity", "price", "updated_at")
      .write.mode("overwrite").parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    new SyncManager(spark, new ParquetSource(srcDir, Seq("inventory")), store)
      .runCycle()
    val engine = new QueryEngine(spark, new SnapshotReader(store))
    // low ceiling so the soak genuinely trips the limiter
    val api = new HttpApi(engine,
      auth = signer.auth,
      rateLimiter = new RateLimiter(maxRequests = 600, windowSeconds = 60),
      log = _ => ())
    val port = api.start()

    val tok = signer.token("soaker", Seq("read:analytics", "read:schema"))
    def get(path: String, bearer: Option[String] = Some(tok)): Int = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      bearer.foreach(t => b.header("Authorization", s"Bearer $t"))
      http.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
        .statusCode()
    }
    def q(sql: String, bearer: Option[String] = Some(tok)): Int =
      get("/query?q=" + java.net.URLEncoder.encode(sql, "UTF-8"), bearer)

    val fast = Vector(
      "SELECT * FROM inventory ORDER BY id",
      "SELECT COUNT(*) FROM inventory",
      "SELECT name, SUM(quantity) AS q FROM inventory GROUP BY name",
      "SELECT * FROM inventory WHERE id < 10 ORDER BY id")
    // many short tasks: keeps every core busy so FAIR sharing is
    // actually contended (same admitted range() surface as HttpApiSpec)
    val slow = "SELECT COUNT(*) FROM range(0, 2000000000, 1, 32)"
    val badSql = "DROP TABLE inventory"

    val baseline = spark.sparkContext.getPersistentRDDs.keySet

    val seconds = sys.env.get("GRAFT_SOAK_SECONDS").map(_.toInt).getOrElse(45)
    val deadline = System.nanoTime() + seconds * 1_000_000_000L
    val threads = 8
    val statusCounts = new ConcurrentHashMap[Int, LongAdder]()
    val perThread = Array.fill(threads)(new LongAdder)
    val unexpected = new ConcurrentHashMap[String, Boolean]()
    val done = new CountDownLatch(threads)
    val pool = Executors.newFixedThreadPool(threads)
    (0 until threads).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = try {
          val rnd = new scala.util.Random(t)
          while (System.nanoTime() < deadline) {
            val roll = rnd.nextInt(100)
            val (code, want) =
              if (roll < 70) (q(fast(rnd.nextInt(fast.size))), Set(200, 429))
              else if (roll < 80) (q(slow), Set(200, 429))
              else if (roll < 87) (q(badSql), Set(400, 429))
              else if (roll < 94) (q(fast(0), bearer = None), Set(401, 429))
              else (get("/schema"), Set(200, 429))
            statusCounts.computeIfAbsent(code, _ => new LongAdder).increment()
            if (!want.contains(code))
              unexpected.put(s"code $code for roll $roll", true)
            perThread(t).increment()
          }
        } finally done.countDown()
      })
    }
    assert(done.await(seconds + 120L, TimeUnit.SECONDS), "soak threads hung")
    pool.shutdown()

    val counts = statusCounts.asScala.map { case (k, v) => k -> v.sum() }.toMap
    val total = counts.values.sum
    assert(unexpected.isEmpty, s"unexpected statuses: ${unexpected.keySet().asScala}")
    assert(!counts.keys.exists(_ >= 500), s"5xx under load: $counts")
    assert(counts.getOrElse(200, 0L) > 0, s"nothing succeeded: $counts")
    // Limiter engagement, deterministically: the mixed soak only trips
    // 429s when throughput exceeds the ceiling, which a loaded host can
    // suppress (observed: a co-tenant burst halved throughput and the
    // soak ran 429-free). Drain whatever budget remains with cheap
    // /schema requests — no Spark job, so ceiling+1 consecutive
    // requests are guaranteed to cross the 60 s window's allowance
    // regardless of machine speed.
    var tripped = counts.getOrElse(429, 0L) > 0
    var burst = 0
    while (!tripped && burst <= 600) {
      tripped = get("/schema") == 429
      burst += 1
    }
    assert(tripped, s"rate limiter never engaged (mixed: $counts, burst: $burst)")
    // starvation-freedom: every client thread kept completing requests
    val progress = perThread.map(_.sum())
    assert(progress.forall(_ >= 10),
      s"starved thread(s): ${progress.mkString(",")} over $total requests")

    // leak gate: the serving loop must leave no new persisted frames or
    // cached plans behind
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- baseline).isEmpty,
      s"leaked persisted RDDs: ${(after -- baseline).mkString(",")}")

    // and the engine still answers cleanly after the storm
    assert(q(fast(1)) == 200 || q(fast(1)) == 429)
    api.stop()
  }
}
