package graft.query

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import graft.SparkSpec
import graft.ingest.{ParquetSource, SyncManager}
import graft.snapshot.{SnapshotReader, SnapshotStore}
import graft.validate.PlanGuard

class QueryEngineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val (engine: QueryEngine, reader: SnapshotReader) = {
    val srcDir = Files.createTempDirectory("graft-qsrc").toString
    val snapDir = Files.createTempDirectory("graft-qsnap").toString
    Seq(
      (1L, "widget", 5L, 9.99, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "gadget", 3L, 19.50, Timestamp.valueOf("2024-01-02 00:00:00")),
      (3L, "doohickey", 7L, 4.25, Timestamp.valueOf("2024-01-03 00:00:00")))
      .toDF("id", "name", "quantity", "price", "updated_at")
      .write.mode("overwrite").parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    new SyncManager(spark, new ParquetSource(srcDir, Seq("inventory")), store)
      .runCycle(Instant.parse("2024-06-01T00:00:00Z"))
    val reader = new SnapshotReader(store)
    (new QueryEngine(spark, reader), reader)
  }

  test("envelope shape on a valid query") {
    val r = engine.execute("SELECT * FROM inventory ORDER BY id")
    assert(r.success && r.rowCount == 3)
    assert(r.columns == Seq("id", "name", "quantity", "price", "updated_at"))
    assert(r.data.head("name") == "widget")
    assert(r.executionTimeMs > 0)
    assert(!r.cached)
  }

  test("aggregate query through the whitelist") {
    val r = engine.execute("SELECT SUM(quantity) AS q FROM inventory")
    assert(r.data.head("q") == 15L)
  }

  test("invalid query → InvalidQueryException (400-class)") {
    intercept[InvalidQueryException] {
      engine.execute("DROP TABLE inventory")
    }
    intercept[InvalidQueryException] {
      engine.execute("WITH x AS (SELECT 1) SELECT * FROM x")
    }
    // multi-statement with a space slips the reference's quirky
    // block-list (replicated) but dies in the parser → 500-class,
    // never executed (the reference would have executed both in DuckDB)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      engine.execute("SELECT a FROM inventory; SELECT b FROM u")
    }
  }

  test("comment smuggling is sanitized away, then validated") {
    val r = engine.execute("SELECT /* sneak */ name FROM inventory WHERE id = 1")
    assert(r.rowCount == 1)
  }

  test("max_rows cap enforced (count pattern caps at 1; select_all at 10000)") {
    val r = engine.execute("SELECT COUNT(*) FROM inventory")
    assert(r.rowCount == 1)
    // enforcement is .limit(cap) pre-collect: a select_all on a big view
    // can never hand the driver more than 10000 rows. The helper view
    // goes in the SERVING session's catalog — since r15 the engine
    // executes against reader.session (the zero-width swap), so parent-
    // session views are rightly invisible to it
    reader.session.range(20000).toDF("x").createOrReplaceTempView("big")
    val big = engine.execute("SELECT * FROM big")
    assert(big.rowCount == 10000)
  }

  test("execution timeout cancels the job group (declared 30s cap, enforced)") {
    val (impatient, impatientReader) = {
      val srcDir = Files.createTempDirectory("graft-tosrc").toString
      val snapDir = Files.createTempDirectory("graft-tosnap").toString
      Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("id", "updated_at")
        .write.mode("overwrite").parquet(s"$srcDir/t.parquet")
      val store = new SnapshotStore(spark, snapDir)
      new SyncManager(spark, new ParquetSource(srcDir, Seq("t")), store)
        .runCycle()
      val r = new SnapshotReader(store)
      (new QueryEngine(spark, r, maxExecutionSeconds = 2), r)
    }
    // a cross join large enough to outlive the 2s cap — registered in
    // the SERVING session (the engine executes against reader.session
    // since r15), which exists once the first refresh adopts
    impatientReader.refreshIfStale()
    impatientReader.session.range(3000000).toDF("a")
      .createOrReplaceTempView("big_a")
    impatientReader.session.range(3000000).toDF("b")
      .createOrReplaceTempView("big_b")
    val t0 = System.nanoTime()
    intercept[QueryTimeoutException] {
      impatient.execute(
        "SELECT COUNT(*) FROM big_a WHERE a IN (SELECT CAST(b % 7 AS BIGINT) + a FROM big_b)")
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed < 30, s"cancellation took ${elapsed}s")
    // engine still serves after a cancellation
    assert(impatient.execute("SELECT * FROM t").rowCount == 1)
  }

  test("scheduler pools are bounded by serving threads, not requests") {
    // Spark never removes a FAIR pool, and every job in the process
    // pays for each one the scheduler holds
    val sc = spark.sparkContext
    val q = "SELECT COUNT(*) FROM inventory"
    val before = sc.getAllPools.size
    (1 to 50).foreach(_ => assert(engine.execute(q).rowCount == 1))
    val sequential = sc.getAllPools.size - before
    assert(sequential <= 1, s"50 requests on one thread added $sequential pools")
    val k = 4
    val threads = java.util.concurrent.Executors.newFixedThreadPool(k)
    val mid = sc.getAllPools.size
    try {
      (1 to 5 * k).map(_ => threads.submit[Long](() => engine.execute(q).rowCount))
        .foreach(f => assert(f.get() == 1L))
    } finally threads.shutdown()
    val concurrent = sc.getAllPools.size - mid
    assert(concurrent <= k, s"$k serving threads added $concurrent pools")
  }

  test("PlanGuard rejects commands at parse time") {
    intercept[PlanGuard.WriteRejectedException] {
      PlanGuard.assertReadOnly(spark, "CREATE TABLE t (x INT)")
    }
    intercept[PlanGuard.WriteRejectedException] {
      PlanGuard.assertReadOnly(spark, "INSERT INTO inventory VALUES (9)")
    }
    // plain SELECT passes
    PlanGuard.assertReadOnly(spark, "SELECT 1")
  }

  test("schema endpoint lists snapshot tables with columns") {
    val s = engine.schema()
    assert(s.keySet.contains("inventory"))
    assert(s("inventory") == Seq("id", "name", "quantity", "price", "updated_at"))
  }

  test("rate limiter: 50/60s sliding window") {
    var now = 0L
    val rl = new RateLimiter(maxRequests = 3, windowSeconds = 60, clock = () => now)
    assert(rl.allow("a") && rl.allow("a") && rl.allow("a"))
    assert(!rl.allow("a"))
    assert(rl.allow("b")) // per-client
    now += 61000L
    assert(rl.allow("a")) // window slid
  }

  test("rate limiter sweep evicts idle clients") {
    var now = 0L
    val rl = new RateLimiter(maxRequests = 3, windowSeconds = 60, clock = () => now)
    (0 until 10001).foreach(i => rl.allow(s"client-$i"))
    assert(rl.trackedClients > 10000)
    // all 10001 now idle past the window; the next allow() must sweep
    // them (their queues hold only stale timestamps — the round-1 sweep
    // kept every non-empty queue and the map grew without bound)
    now += 61000L
    rl.allow("fresh")
    assert(rl.trackedClients <= 2, s"idle clients not swept: ${rl.trackedClients}")
  }
}
