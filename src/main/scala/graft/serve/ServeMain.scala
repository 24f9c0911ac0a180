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
  * Auth ([[authenticator]]): AUTH_JWKS_URL or AUTH_JWKS_FILE,
  * AUTH_AUDIENCE, AUTH_ISSUER.
  */
object ServeMain {

  /** The RS256/JWKS verifier when a JWKS source is configured —
    * AUTH_JWKS_URL (outbound HTTPS, the reference's literal Auth0
    * fetch) wins over AUTH_JWKS_FILE (zero egress) — else NoAuth. The
    * source is passed as a thunk: an unknown kid re-reads it
    * (throttled), so rotating keys = republishing the JWKS, no restart.
    * The retired HS256 secret refuses to boot rather than fall
    * through to serving unauthenticated.
    */
  def authenticator(env: Map[String, String]): Authenticator = {
    require(!env.contains("AUTH_SECRET"), "AUTH_SECRET (HS256) is no " +
      "longer supported: publish the RS256 public key as a JWKS document" +
      " and point AUTH_JWKS_FILE at it (or AUTH_JWKS_URL at an https URL)")
    val audience = env.getOrElse("AUTH_AUDIENCE", "graft-api")
    val issuer = env.getOrElse("AUTH_ISSUER", "graft")
    env.get("AUTH_JWKS_URL").map(JwksSources.https(_))
      .orElse(env.get("AUTH_JWKS_FILE").map(JwksSources.file))
      .fold[Authenticator](new NoAuth())(
        new RsaJwksAuthenticator(_, audience, issuer))
  }

  def main(args: Array[String]): Unit = {
    val cfg = EngineConfig.fromEnv()
    // before the session starts: a refused auth setup costs no boot
    val auth = authenticator(sys.env)
    if (auth.isInstanceOf[NoAuth]) System.err.println(
      "[serve] WARNING: no AUTH_JWKS_URL/AUTH_JWKS_FILE — serving UNAUTHENTICATED")
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
