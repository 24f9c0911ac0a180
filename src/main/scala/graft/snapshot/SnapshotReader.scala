package graft.snapshot

import java.time.{Duration, Instant}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.model.{MalformedManifest, Manifest}

/** A query arrived while no snapshot generation is loaded AND the
  * publish pointer yields nothing adoptable — unreadable (torn by a
  * non-atomic foreign writer, or an IO error) or simply absent (fresh
  * deployment, first publish pending). Typed so the serving layer can
  * answer 503 + Retry-After (a controlled "come back shortly") instead
  * of a stack-trace 500: a running publisher's next cycle writes the
  * pointer, so this is always transient.
  *
  * `retryAfterSeconds` carries the reader's CONFIGURED cold-retry
  * backoff (ceiled to whole seconds, floor 1) so the HTTP layer's
  * Retry-After header tells clients the truth: with a hardcoded "1"
  * and a 30 s backoff, 29 of every 30 advised retries would burn a
  * rate-limit token on a replayed cached failure.
  */
final class SnapshotUnavailableException(msg: String,
                                         cause: Throwable = null,
                                         val retryAfterSeconds: Long = 1L)
  extends RuntimeException(msg, cause)

/** Serving-side snapshot resolution with the reference's freshness
  * contract (api-service/src/query_engine.py:78-115): a TTL-cached view
  * of `current/manifest.json`; when the TTL lapses the manifest is
  * re-read and, if the version moved, the temp views are re-registered
  * against the new generation's parquet dirs. No data download step —
  * executors read the (possibly remote) parquet directly.
  *
  * Also recreates the reference's built-in derived view
  * `v_inventory_summary` (etl-service/src/sync.py:105-114) whenever an
  * `inventory` table is present.
  */
/** One adopted generation: the manifest plus the CHILD SparkSession
  * whose temp-view catalog holds exactly that generation's tables.
  * Swapped as a single volatile reference (round 15) — see
  * `SnapshotReader.register` for why this closes the mixed-catalog
  * window the per-view swap loop used to have.
  */
private[snapshot] final case class Served(manifest: Manifest,
                                          session: SparkSession)

final class SnapshotReader(store: SnapshotStore,
                           ttl: Duration = Duration.ofSeconds(120),
                           clock: () => Instant = () => Instant.now(),
                           coldRetryBackoff: Duration = Duration.ofSeconds(1)) {

  // what Retry-After should advise: the next probe is no sooner than
  // the backoff, so advising anything shorter schedules guaranteed
  // cache-hit failures
  private val retryAfterSeconds: Long =
    math.max(1L, (coldRetryBackoff.toMillis + 999L) / 1000L)

  @volatile private var served: Option[Served] = None
  @volatile private var loadedAt: Option[Instant] = None
  private def loadedVersion: Option[String] = served.map(_.manifest.version)
  // cold-boot failed probe, for backoff: when, and what was thrown —
  // the 503-shaped SnapshotUnavailableException or a bug-shaped fault
  // as itself. Inside the window the same throwable is replayed
  // without re-probing the store
  @volatile private var lastColdFailure: Option[(Instant, Throwable)] = None
  // test observability: how many times the pointer was actually read
  private[graft] val pointerProbes =
    new java.util.concurrent.atomic.AtomicLong(0)

  def currentManifest: Option[Manifest] = served.map(_.manifest)

  def tableNames: Seq[String] =
    currentManifest.map(_.tables.keys.toSeq.sorted).getOrElse(Seq.empty)

  /** The serving session: a query executed against it (`session.sql`,
    * `session.table`) sees ONE generation's tables, atomically. Capture
    * it ONCE per query — a single volatile read — and run the whole
    * query against the captured session; a refresh landing mid-query
    * publishes a NEW session and never mutates this one, so an
    * in-flight query keeps a consistent catalog for its whole life
    * (the serving analog of snapshot isolation). Falls back to the
    * store's session when nothing is adopted yet, where the catalog is
    * simply empty — refreshIfStale throws before any query reaches SQL
    * in that state.
    */
  def session: SparkSession = served.map(_.session).getOrElse(store.spark)

  /** Re-resolve the manifest if the TTL has lapsed — or on EVERY call
    * while nothing is loaded yet (reference parity: `_get_connection`
    * always downloads when it has no open snapshot,
    * api-service/src/query_engine.py:98-108; only a loaded snapshot is
    * TTL-cached).
    *
    * Every failure — unreadable pointer, a probe fault outside the
    * MalformedManifest/IO taxonomy, a damaged generation behind a valid
    * pointer, an absent pointer — goes through one state-dependent
    * policy, `refreshFailed`:
    *  - WHILE LOADED, keep serving the loaded generation as stale,
    *    LOGGED. The generation's data and manifest are complete before
    *    the pointer moves (SnapshotWriter orders them), so its views
    *    stay valid; a crashed object-store rename (copy+delete) or a
    *    store-client shim's RuntimeException must degrade to staleness,
    *    not flip a working deployment to 500 per query. The log line
    *    prints every TTL lapse, so a genuine bug does not hide.
    *  - COLD, there is nothing to fall back to: arm `coldRetryBackoff`
    *    and throw. Unreadable and absent pointers are retryable (a
    *    running publisher's next cycle writes the pointer) and surface
    *    as [[SnapshotUnavailableException]] (503 + Retry-After);
    *    anything else propagates AS ITSELF, so a bug does not
    *    masquerade as "not published yet". Calls inside the backoff
    *    window replay the cached throwable without touching the store,
    *    so a request storm costs one store probe per backoff period,
    *    not one per request.
    */
  def refreshIfStale(): Boolean = synchronized {
    val now = clock()
    val stale = loadedVersion.isEmpty || loadedAt.forall(t =>
      Duration.between(t, now).compareTo(ttl) >= 0)
    if (!stale) return false
    if (loadedVersion.isEmpty) lastColdFailure.foreach { case (t, e) =>
      if (Duration.between(t, now).compareTo(coldRetryBackoff) < 0) throw e
    }
    loadedAt = Some(now)
    val read = try {
      pointerProbes.incrementAndGet()
      store.readCurrentManifest()
    } catch {
      // torn/garbage pointer (a non-rename writer mid-overwrite) or an
      // IO blip
      case e @ (_: MalformedManifest | _: java.io.IOException) =>
        return refreshFailed(now, e, retryable = true,
          "the publish pointer is unreadable")
      // outside the taxonomy: store-client shims wrap IO faults in
      // RuntimeExceptions, but so does a genuine bug
      case NonFatal(e) =>
        return refreshFailed(now, e, retryable = false,
          "the manifest refresh failed")
    }
    read match {
      case Some(m) if !loadedVersion.contains(m.version) =>
        // adopting can fail too — a damaged dir behind a valid manifest
        // (foreign partial delete; the writer always completes data
        // before the swap). register is all-or-nothing, so a loaded
        // generation still serves consistently
        try { register(m); lastColdFailure = None; true }
        catch {
          case NonFatal(e) => refreshFailed(now, e, retryable = false,
            s"generation ${m.version} is unreadable")
        }
      case Some(_) =>
        lastColdFailure = None
        false
      // fresh deployment, nothing published yet: the publisher's FIRST
      // cycle creates the pointer
      case None => refreshFailed(now,
        new java.io.FileNotFoundException(store.currentManifestPath.toString),
        retryable = true, "the publish pointer is absent")
    }
  }

  /** The one refresh-failure policy. While a generation is loaded: log
    * and keep serving it as stale (false). Cold: arm the backoff and
    * throw — a [[SnapshotUnavailableException]] (503) when `retryable`,
    * else `cause` itself (500).
    */
  private def refreshFailed(now: Instant, cause: Throwable,
                            retryable: Boolean, what: String): Boolean = {
    loadedVersion match {
      case Some(v) =>
        System.err.println(
          s"[snapshot] WARNING: $what (${cause.getClass.getName}: " +
            s"${cause.getMessage}) — continuing to serve loaded generation " +
            s"$v as stale; if neither a transient store fault nor a " +
            "foreign writer explains it, it is a bug")
        false
      case None =>
        val thrown =
          if (!retryable) cause
          else new SnapshotUnavailableException(
            s"no snapshot loaded and $what — transient if a publisher is " +
              s"running (its next cycle writes the pointer): " +
              cause.getMessage, cause, retryAfterSeconds)
        lastColdFailure = Some((now, thrown))
        throw thrown
    }
  }

  private def register(m: Manifest): Unit = {
    // Zero-width swap (round 15; closes the r14-documented limitation):
    // the generation's views are registered in a FRESH child session
    // (same SparkContext, its own temp-view catalog) that no query can
    // see until the single volatile write of `served` below. The old
    // per-view createOrReplaceTempView loop over the SHARED session
    // meant a query racing a successful refresh could resolve some
    // tables against the new generation and some against the old —
    // cross-generation joins in a microseconds-but-nonzero window.
    // Now: adoption failure-atomic (a damaged dir fails the parquet
    // footer/schema read here, `served` untouched, the loaded
    // generation keeps serving) AND publication atomic (one reference
    // write); an in-flight query that captured the previous session
    // keeps its complete old catalog — nothing is ever mutated behind
    // it. Old sessions are unreferenced once their queries finish and
    // are GC'd; a child session is a driver-side metadata object
    // (shared SparkContext/executors), so one per adoption at a 60 s
    // publish cadence is noise.
    val s = store.spark.newSession()
    m.tables.keys.toSeq.foreach { t =>
      s.read.parquet(store.tableDir(m.version, t).toString)
        .createOrReplaceTempView(t)
    }
    if (m.tables.contains("inventory")) {
      s.sql(
        """CREATE OR REPLACE TEMP VIEW v_inventory_summary AS
          |SELECT COUNT(*)        AS total_items,
          |       SUM(quantity)   AS total_quantity,
          |       AVG(price)      AS avg_price,
          |       MIN(updated_at) AS oldest_update,
          |       MAX(updated_at) AS latest_update
          |FROM inventory""".stripMargin)
    }
    served = Some(Served(m, s))
  }
}
