package graft.serve

import graft.core.{EngineConfig, EngineSession}
import graft.ingest.{ParquetSource, SyncManager}
import graft.query.{QueryEngine, RateLimiter}
import graft.snapshot.{SnapshotReader, SnapshotStore}

/** The whole service: background sync loop + HTTP query facade — the
  * Spark-native equivalent of running the reference's etl-service and
  * api-service together (SURVEY.md §3.1-§3.2). Ctrl-C / SIGTERM stops
  * the scheduler, drains HTTP, and stops the session (V12).
  *
  * Env (reference parity, EngineConfig): TABLES_TO_SYNC,
  * SYNC_INTERVAL_SECONDS, SNAPSHOT_KEEP_COUNT, RATE_LIMIT_REQUESTS,
  * HTTP_PORT, SOURCE_DIR, SNAPSHOT_DIR. Session (EngineSession):
  * SPARK_GRAFT_MASTER, SPARK_GRAFT_CPUS, SPARK_GRAFT_EXTRA_CONFS.
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val cfg = EngineConfig.fromEnv()
    // FAIR (set by EngineSession) shares task slots across QueryEngine's
    // pools, one per HTTP worker thread: concurrent HTTP queries do not
    // queue FIFO behind the largest one (the reference serves through
    // 2×CPU+1 workers)
    val spark = EngineSession.fromEnv("graft-serve", EngineSession.longLived)

    val store = new SnapshotStore(spark, cfg.snapshotDir)
    val sync = new SyncManager(spark,
      new ParquetSource(cfg.sourceDir, cfg.tablesToSync), store, cfg.keepCount)
    val reader = new SnapshotReader(store,
      java.time.Duration.ofSeconds(cfg.refreshTtlSeconds))
    val engine = new QueryEngine(spark, reader)
    // JWT auth activates when configured — AUTH_JWKS_URL (outbound
    // HTTPS fetch, the reference's literal Auth0 contract) or
    // AUTH_JWKS_FILE (zero-egress) selects the RS256/JWKS verifier;
    // AUTH_SECRET selects HS256. Otherwise the service runs open and
    // says so loudly — never silently.
    val audience = sys.env.getOrElse("AUTH_AUDIENCE", "graft-api")
    val issuer = sys.env.getOrElse("AUTH_ISSUER", "graft")
    // passed as a thunk: an unknown kid re-reads the source
    // (throttled), so rotating keys = republishing the JWKS — no
    // restart needed. AUTH_JWKS_URL (outbound HTTPS, the reference's
    // literal Auth0 fetch) wins over AUTH_JWKS_FILE (zero-egress).
    val jwksSource = sys.env.get("AUTH_JWKS_URL").map(JwksSources.https(_))
      .orElse(sys.env.get("AUTH_JWKS_FILE").map(JwksSources.file))
    val auth = (jwksSource, sys.env.get("AUTH_SECRET")) match {
      case (Some(src), _) => new RsaJwksAuthenticator(src, audience, issuer)
      case (None, Some(secret)) => new HmacJwtAuthenticator(
        secret.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        audience, issuer)
      case _ =>
        System.err.println(
          "[serve] WARNING: no AUTH_JWKS_URL/AUTH_JWKS_FILE/AUTH_SECRET — serving UNAUTHENTICATED")
        new NoAuth()
    }
    val api = new HttpApi(engine,
      auth = auth,
      rateLimiter = new RateLimiter(cfg.rateLimitRequests,
        cfg.rateLimitWindowSeconds),
      port = cfg.httpPort)

    @volatile var running = true
    val scheduler = new Thread(() => {
      // T1: immediate first run, 1-at-a-time, then FIXED-DELAY: the
      // sleep starts after each cycle, so the source and store get a
      // full interval of quiet time however long a cycle runs (the
      // reference's fixed-rate APScheduler trigger with coalesce skips
      // a tick that lands mid-cycle, so the two are observably alike)
      while (running) {
        val r = sync.runCycle()
        System.err.println(s"""{"sync":${r.success},"tables":${
          r.manifest.map(_.tables.size).getOrElse(0)},"pruned":${
          r.prunedGenerations.size}}""")
        var slept = 0
        while (running && slept < cfg.syncIntervalSeconds) {
          Thread.sleep(1000); slept += 1
        }
      }
    }, "graft-sync")
    scheduler.setDaemon(true)
    scheduler.start()

    val port = api.start()
    System.err.println(s"[serve] listening on 127.0.0.1:$port")

    sys.addShutdownHook { // V12
      running = false
      api.stop()
      spark.stop()
      System.err.println("[serve] stopped")
    }
    Thread.currentThread().join() // serve until signalled
  }
}
