package graft.query

import java.util.concurrent.{ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.immutable.ArraySeq
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.model.QueryResult
import graft.snapshot.SnapshotReader
import graft.validate.{PlanGuard, QuerySanitizer, QueryValidator}

/** 400-class failure (reference: ValueError → HTTP 400,
  * api-service/src/main.py:125-127).
  */
final class InvalidQueryException(msg: String)
    extends IllegalArgumentException(msg)

/** Query exceeded the execution-time cap and its Spark jobs were
  * cancelled (the whitelist's `max_execution_time_seconds: 30`,
  * query_whitelist.json:71 — declared by the reference, enforced here;
  * SURVEY.md §2.3).
  */
final class QueryTimeoutException(msg: String)
    extends RuntimeException(msg)

/** The serving query path (reference execute_query,
  * api-service/src/query_engine.py:117-149 + SURVEY.md §3.1):
  *
  *   sanitize → validate (block/allow-list) → snapshot freshness check
  *   → parse-time read-only guard → spark.sql → row cap → collect
  *
  * The collected rows go back as they are, by position ([[QueryResult]]);
  * HttpApi writes each cell straight into the JSON envelope, so a row
  * is converted once.
  *
  * Differences from the reference, both deliberate (SURVEY.md §2.3):
  * the per-pattern `max_rows` caps and read-only enforcement are real
  * here, not just declared. The cap is injected as `.limit(cap)` BEFORE
  * collect, so Catalyst plans a GlobalLimit (or TakeOrderedAndProject
  * under ORDER BY) and the driver never materializes an unbounded
  * result — mandatory at scale (SURVEY.md §7.4 risk 5).
  *
  * Timing matches the reference's observable contract: the clock starts
  * before validation and any snapshot refresh (query_engine.py:129-132).
  */
final class QueryEngine(spark: SparkSession, reader: SnapshotReader,
                        maxExecutionSeconds: Int =
                          QueryValidator.maxExecutionTimeSeconds) {

  def execute(rawQuery: String): QueryResult = {
    val t0 = System.nanoTime()

    val query = QuerySanitizer.sanitize(rawQuery)
    val v = QueryValidator.validate(query)
    if (!v.valid)
      throw new InvalidQueryException(v.error.getOrElse("invalid query"))

    reader.refreshIfStale()

    // ONE volatile read pins this query to a single generation's
    // catalog: the reader swaps whole child sessions on adoption and
    // never mutates a published one, so even a refresh landing between
    // here and the collect cannot mix generations inside this query
    // (round 15 — the per-view swap loop this replaces had a
    // microseconds-wide mixed-catalog window)
    val session = reader.session
    PlanGuard.assertReadOnly(session, query) // parse-time, pre-execution
    val df = session.sql(query)
    val capped = v.maxRows.map(df.limit).getOrElse(df)

    val rows = collectWithTimeout(capped, query)

    QueryResult(
      columns = capped.schema.fieldNames.toSeq,
      rows = ArraySeq.unsafeWrapArray(rows),
      executionTimeMs = (System.nanoTime() - t0) / 1e6)
  }

  /** Execution-time cap: the collect runs on the calling thread under a
    * per-query job group. At the cap the shared timer cancels the
    * group's jobs, and any the planner submits later (an AQE stage), on
    * the cluster — the work actually STOPS — and the declared-contract
    * timeout surfaces as 500-class.
    *
    * Under FAIR (set by EngineSession) the jobs run in a pool named
    * after the serving thread, so a long query cannot serialize a fast
    * one on another thread (the reference serves through 2×CPU+1
    * workers). Spark never removes a pool: naming them per thread
    * bounds them by the server's workers.
    */
  private def collectWithTimeout(df: DataFrame, query: String): Array[Row] = {
    val sc = spark.sparkContext
    val groupId = s"graft-query-${java.util.UUID.randomUUID()}"
    val timedOut = new AtomicBoolean(false)
    val timer = QueryEngine.timer.schedule((() => {
      timedOut.set(true)
      sc.cancelJobGroupAndFutureJobs(groupId)
    }): Runnable, maxExecutionSeconds.toLong, TimeUnit.SECONDS)
    try {
      sc.setJobGroup(groupId, query, interruptOnCancel = true)
      sc.setLocalProperty("spark.scheduler.pool",
        s"graft-serve-${Thread.currentThread.getName}")
      df.collect()
    } catch {
      case NonFatal(e) if timedOut.get => throw new QueryTimeoutException(
        s"Query exceeded maximum execution time of ${maxExecutionSeconds}s")
        .initCause(e)
    } finally {
      timer.cancel(false)
      sc.setLocalProperty("spark.scheduler.pool", null)
      sc.clearJobGroup()
    }
  }

  /** GET /schema equivalent (api-service/src/query_engine.py:151-165):
    * `{table: [column, ...]}` over the registered snapshot tables.
    */
  def schema(): Map[String, Seq[String]] = {
    reader.refreshIfStale()
    // same capture discipline as execute(): one session, one generation
    val session = reader.session
    reader.tableNames
      .map(t => t -> session.table(t).schema.fieldNames.toSeq).toMap
  }
}

object QueryEngine {
  /** One JVM-wide daemon timer for every engine's cap. It only posts
    * cancellations; a finished query's task is removed at once.
    */
  private val timer = new ScheduledThreadPoolExecutor(1, { (r: Runnable) =>
    val t = new Thread(r, "graft-query-timer")
    t.setDaemon(true)
    t
  })
  timer.setRemoveOnCancelPolicy(true)
}

/** Per-client sliding-window rate limiter (reference
  * api-service/src/rate_limiter.py:15-24: 50 req / 60 s per client).
  * Driver-side, in-memory, thread-safe.
  */
final class RateLimiter(maxRequests: Int = 50, windowSeconds: Int = 60,
                        clock: () => Long = () => System.currentTimeMillis()) {
  private val hits =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Queue[Long]]

  def allow(clientKey: String): Boolean = synchronized {
    val now = clock()
    val q = hits.getOrElseUpdate(clientKey, scala.collection.mutable.Queue.empty)
    while (q.nonEmpty && q.head <= now - windowSeconds * 1000L) q.dequeue()
    val allowed = q.size < maxRequests
    if (allowed) q.enqueue(now)
    // periodic sweep of idle clients: memory stays bounded by the
    // active-window set, not by every client IP ever seen. Idle
    // clients' queues keep their stale timestamps (dequeue happens on
    // THEIR next allow()), so prune by timestamp, not emptiness.
    if (hits.size > 10000) {
      val cutoff = now - windowSeconds * 1000L
      hits.filterInPlace((_, v) => v.nonEmpty && v.last > cutoff)
    }
    allowed
  }

  /** Number of tracked clients (test observability). */
  private[graft] def trackedClients: Int = synchronized(hits.size)
}
