package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.Row

import graft.query.{InvalidQueryException, QueryEngine, RateLimiter}

/** The HTTP facade (reference: FastAPI app, api-service/src/main.py):
  *
  *   GET /health          → {status, timestamp}                 (V7)
  *   GET /schema          → {schema: {table: [cols]}}           (V8)
  *   GET /query?q=SQL     → result envelope                     (V9)
  *
  * with bearer auth (V3) + scope checks (V4: read:analytics /
  * read:schema), per-client-IP rate limiting (V5: 429 after 50/min),
  * structured JSON request logging (V6: method, path, status,
  * duration_ms, client_ip), and graceful shutdown (V12). Error
  * taxonomy mirrors the reference: validation → 400, auth → 401/403,
  * execution → 500 (main.py:125-130).
  *
  * Built on the JDK's HttpServer — the serving layer is deliberately
  * dependency-free; Spark does the heavy lifting behind QueryEngine.
  */
final class HttpApi(engine: QueryEngine,
                    auth: Authenticator = new NoAuth(),
                    rateLimiter: RateLimiter = new RateLimiter(),
                    port: Int = 0,
                    log: String => Unit = s => System.err.println(s)) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  def start(): Int = synchronized {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/health", handler(handleHealth))
    server.createContext("/schema", handler(handleSchema))
    server.createContext("/query", handler(handleQuery))
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    boundPort
  }

  def boundPort: Int = server.getAddress.getPort

  /** V12: stop accepting, drain briefly, release the executor. */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(1)
      server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService]
        .shutdown()
    }
  }

  // ── plumbing ──────────────────────────────────────────────────────────

  private def handler(f: HttpExchange => (Int, ObjectNode)):
      com.sun.net.httpserver.HttpHandler = { ex =>
    val t0 = System.nanoTime()
    // V5: rate-limit middleware applies before routing (main.py:57,
    // rate_limiter.py:15-24)
    val (status, body) =
      if (!rateLimiter.allow(clientIp(ex))) (429, err("Rate limit exceeded"))
      else try f(ex)
      catch {
        // cold-boot torn-pointer window: a controlled, retryable 503 —
        // the publisher's next cycle rewrites the pointer, so clients
        // should simply come back (no stack-trace 500 storm, and the
        // reader's backoff caps pointer reads at one per backoff period
        // however hard clients hammer us). Retry-After echoes the
        // reader's CONFIGURED backoff — advising a shorter retry than
        // the backoff window schedules clients into guaranteed
        // cached-failure 503s that still burn rate-limit tokens.
        case e: graft.snapshot.SnapshotUnavailableException =>
          ex.getResponseHeaders.set("Retry-After",
            e.retryAfterSeconds.toString)
          (503, err(s"Snapshot temporarily unavailable: ${e.getMessage}"))
        case e: Exception => (500, err(s"Internal error: ${e.getMessage}"))
      }
    val bytes = body.toString.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
    // V6: structured request log
    val line = mapper.createObjectNode()
    line.put("method", ex.getRequestMethod)
    line.put("path", ex.getRequestURI.getPath)
    line.put("status", status)
    line.put("duration_ms", (System.nanoTime() - t0) / 1e6)
    line.put("client_ip", clientIp(ex))
    log(line.toString)
  }

  private def clientIp(ex: HttpExchange): String =
    ex.getRemoteAddress.getAddress.getHostAddress

  private def err(msg: String): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("success", false)
    n.put("detail", msg)
    n
  }

  private def withAuth(ex: HttpExchange, scope: String)(
      f: Principal => (Int, ObjectNode)): (Int, ObjectNode) = {
    auth.authenticate(
      Option(ex.getRequestHeaders.getFirst("Authorization"))) match {
      case Left(msg) => (401, err(msg))
      case Right(p) if !p.hasScope(scope) =>
        (403, err(s"Missing required scope: $scope"))
      case Right(p) => f(p)
    }
  }

  // ── endpoints ─────────────────────────────────────────────────────────

  private def handleHealth(ex: HttpExchange): (Int, ObjectNode) = {
    val n = mapper.createObjectNode()
    n.put("status", "healthy")
    n.put("timestamp", Instant.now().toString)
    (200, n)
  }

  private def handleSchema(ex: HttpExchange): (Int, ObjectNode) =
    withAuth(ex, "read:schema") { _ =>
      val n = mapper.createObjectNode()
      val s = n.putObject("schema")
      engine.schema().toSeq.sortBy(_._1).foreach { case (t, cols) =>
        val arr = s.putArray(t)
        cols.foreach(arr.add)
      }
      (200, n)
    }

  private def handleQuery(ex: HttpExchange): (Int, ObjectNode) =
    withAuth(ex, "read:analytics") { _ =>
      queryParam(ex, "q") match {
        case None => (400, err("Missing required parameter: q"))
        case Some(q) =>
          try {
            val r = engine.execute(q)
            val n = mapper.createObjectNode()
            n.put("success", true)
            val data = n.putArray("data")
            r.rows.foreach(row => writeRow(data, r.columns, row))
            val cols = n.putArray("columns")
            r.columns.foreach(cols.add)
            n.put("row_count", r.rowCount)
            n.put("execution_time_ms", r.executionTimeMs)
            n.put("cached", false)
            (200, n)
          } catch {
            case e: InvalidQueryException => (400, err(e.getMessage))
            case e: graft.snapshot.SnapshotUnavailableException =>
              throw e // mapped to 503 by the outer handler plumbing
            case e: Exception =>
              (500, err(s"Query execution failed: ${e.getMessage}"))
          }
      }
    }

  /** Cell `i` goes under `columns(i)`; a repeated name keeps its first
    * position and the last cell's value, as Jackson's `put` replaces.
    */
  private def writeRow(arr: ArrayNode, columns: Seq[String], row: Row): Unit = {
    val o = arr.addObject()
    columns.indices.foreach { i =>
      val c = columns(i)
      row.get(i) match {
        case null => o.putNull(c)
        case v: java.lang.Long => o.put(c, v.longValue())
        case v: java.lang.Integer => o.put(c, v.intValue())
        case v: java.lang.Double => o.put(c, v.doubleValue())
        case v: java.lang.Boolean => o.put(c, v.booleanValue())
        case v: java.math.BigDecimal => o.put(c, v)
        case v => o.put(c, v.toString) // timestamps, strings, arrays
      }
    }
  }

  // the server has already refused a malformed %-escape (`%zz`, a
  // trailing `%`) with 400 "Bad request URI", so decoding cannot fail
  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap(_.split('&').collectFirst {
      case kv if kv.takeWhile(_ != '=') == name =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
    })
}
