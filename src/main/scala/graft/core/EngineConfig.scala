package graft.core

/** Env-driven engine configuration, mirroring the reference's two
  * config surfaces (etl-service/src/config.py:49-69 and
  * api-service/src/config.py:7-49) with the same defaults.
  */
final case class EngineConfig(
    tablesToSync: Seq[String],
    syncIntervalSeconds: Int,
    keepCount: Int,
    refreshTtlSeconds: Int,
    rateLimitRequests: Int,
    rateLimitWindowSeconds: Int,
    httpPort: Int,
    sourceDir: String,
    snapshotDir: String)

object EngineConfig {
  def fromEnv(env: Map[String, String] = sys.env): EngineConfig = EngineConfig(
    // TABLES_TO_SYNC comma override (config.py:65-67); the default is
    // the testdata table set (the reference's is config.py:37-39)
    tablesToSync = env.get("TABLES_TO_SYNC")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Tables.all),
    syncIntervalSeconds =
      env.get("SYNC_INTERVAL_SECONDS").map(_.toInt).getOrElse(60),
    keepCount = env.get("SNAPSHOT_KEEP_COUNT").map(_.toInt).getOrElse(24),
    refreshTtlSeconds =
      env.get("SNAPSHOT_REFRESH_TTL_SECONDS").map(_.toInt).getOrElse(120),
    rateLimitRequests =
      env.get("RATE_LIMIT_REQUESTS").map(_.toInt).getOrElse(50),
    rateLimitWindowSeconds =
      env.get("RATE_LIMIT_WINDOW").map(_.toInt).getOrElse(60),
    httpPort = env.get("HTTP_PORT").map(_.toInt).getOrElse(8000),
    sourceDir = env.getOrElse("SOURCE_DIR", "/root/testdata/sf0.001"),
    snapshotDir = env.getOrElse("SNAPSHOT_DIR", "/tmp/graft-snapshots"))
}
