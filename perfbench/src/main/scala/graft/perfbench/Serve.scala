package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.ingest.{ParquetSource, SyncManager, SyncMode}
import graft.query.{QueryEngine, RateLimiter}
import graft.serve.{HttpApi, RsaJwksAuthenticator}
import graft.snapshot.{SnapshotReader, SnapshotStore}
import graft.validate.{PlanGuard, QuerySanitizer, QueryValidator}

/** RS256 signing key, JWKS authenticator and one bearer token per
  * client: the reference's Auth0 contract, verified on every request.
  */
final class Credentials(clients: Int) {
  private val keys = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }
  val auth = new RsaJwksAuthenticator(
    RsaJwksAuthenticator.jwks(Seq("bench-key" ->
      keys.getPublic.asInstanceOf[java.security.interfaces.RSAPublicKey])),
    "graft-api", "graft-bench")
  val tokens: IndexedSeq[String] = (0 to clients).map(i =>
    RsaJwksAuthenticator.mint(keys.getPrivate, "bench-key", "graft-api", "graft-bench",
      s"client-$i", Seq("read:analytics", "read:schema"),
      Instant.now().getEpochSecond + 24 * 3600))
}

/** The serving stack, wired as ServeMain wires it: sync manager over a
  * parquet source, snapshot store and reader, query engine, HTTP API.
  * The rate limiter's ceiling is far above anything one process can
  * send, so `allow()` is paid on every request but never refuses.
  */
final class Stack(spark: SparkSession, val root: java.nio.file.Path, sourceDir: String,
                  tables: Seq[String], mode: SyncMode, ttl: Duration, creds: Credentials) {
  val store = new SnapshotStore(spark, root.toString)
  val sync = new SyncManager(spark, new ParquetSource(sourceDir, tables), store, mode = mode)
  val reader = new SnapshotReader(store, ttl)
  val engine = new QueryEngine(spark, reader)
  val limiter = new RateLimiter(maxRequests = Int.MaxValue / 2, windowSeconds = 60)
  // request log lines are built as in production; only the print is dropped
  val api = new HttpApi(engine, auth = creds.auth, rateLimiter = limiter, log = _ => ())
  lazy val port: Int = api.start()
}

/** One completed /query call as the client saw it. */
final case class Sample(client: Int, seq: Int, text: QueryText, startNs: Long, endNs: Long,
                        status: Int, bytes: Int, rows: Long, body: Array[Byte],
                        generation: String, stalenessS: Double) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Closed-loop HTTP load: each client sends its next request only after
  * the previous reply has been read in full.
  */
final class Clients(port: Int, creds: Credentials, n: Int) {
  private val pool = Executors.newFixedThreadPool(math.max(1, n))
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .executor(pool).build()
  private val mapper = new ObjectMapper()

  def get(sql: String, client: Int): HttpResponse[Array[Byte]] = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query?q=" +
      java.net.URLEncoder.encode(sql, StandardCharsets.UTF_8)))
      .header("Authorization", s"Bearer ${creds.tokens(client)}").GET().build()
    http.send(req, HttpResponse.BodyHandlers.ofByteArray())
  }

  /** Row count from the envelope without a full parse. */
  private def rowCount(body: Array[Byte]): Long = {
    val s = new String(body, math.max(0, body.length - 256), math.min(256, body.length),
      StandardCharsets.UTF_8)
    val m = "\"row_count\":(\\d+)".r.findFirstMatchIn(s)
    m.map(_.group(1).toLong).getOrElse(-1L)
  }

  /** Run `n` clients while `going()`; `next(client, seq)` picks each
    * text and `keep` says whether to hold the body for checking.
    */
  def run(going: () => Boolean, next: (Int, Int) => QueryText,
          keep: (Int, Int, QueryText) => Boolean,
          served: () => Option[graft.model.Manifest]): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => {
        var seq = 0
        while (going()) {
          val q = next(c, seq)
          val t0 = System.nanoTime()
          val (status, body) =
            try { val r = get(q.sql, c); (r.statusCode(), r.body()) }
            catch { case e: Exception => (-1, e.toString.getBytes(StandardCharsets.UTF_8)) }
          val t1 = System.nanoTime()
          val m = served()
          val stale = m.map(x => (Instant.now().toEpochMilli -
            Instant.parse(x.timestamp).toEpochMilli) / 1000.0).getOrElse(-1.0)
          out.add(Sample(c, seq, q, t0, t1, status, body.length,
            if (status == 200) rowCount(body) else -1L,
            if (status != 200 || keep(c, seq, q)) body else null,
            m.map(_.version).getOrElse(""), stale))
          seq += 1
        }
      }, s"bench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(s => (s.startNs, s.client))
  }

  def parse(body: Array[Byte]): JsonNode = mapper.readTree(body)

  def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** Answers computed outside the engine: a plain session with the
  * source parquet registered as views, compared value by value with the
  * HTTP envelope (numbers to a relative 1e-9, rows as a multiset).
  */
final class AnswerCheck(spark: SparkSession, sourceDir: String, tables: Seq[String]) {
  private val plain = {
    val s = spark.newSession()
    tables.foreach(t => graft.core.Tables.load(s, sourceDir, t).createOrReplaceTempView(t))
    s
  }
  private val mapper = new ObjectMapper()

  private def cell(v: Any): JsonNode = v match {
    case null => mapper.nullNode()
    case x: java.lang.Long => mapper.getNodeFactory.numberNode(x.longValue())
    case x: java.lang.Integer => mapper.getNodeFactory.numberNode(x.intValue())
    case x: java.lang.Double => mapper.getNodeFactory.numberNode(x.doubleValue())
    case x: java.lang.Boolean => mapper.getNodeFactory.booleanNode(x.booleanValue())
    case x: java.math.BigDecimal => mapper.getNodeFactory.numberNode(x)
    case x => mapper.getNodeFactory.textNode(x.toString)
  }

  private def key(row: Seq[JsonNode]): String = row.map { v =>
    if (v.isNumber) f"${v.asDouble()}%.6e" else v.toString
  }.mkString("\u0001")

  private def same(a: JsonNode, b: JsonNode): Boolean =
    if (a.isNumber && b.isNumber) {
      val x = a.asDouble(); val y = b.asDouble()
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    } else a.isNull && b.isNull || a.asText() == b.asText()

  def expected(sql: String): (Seq[String], Seq[Seq[JsonNode]]) = {
    val v = QueryValidator.validate(QuerySanitizer.sanitize(sql))
    val df = plain.sql(sql)
    val capped = v.maxRows.map(df.limit).getOrElse(df)
    val rows = capped.collect()
    (capped.schema.fieldNames.toSeq, rows.toSeq.map(r => r.toSeq.map(cell)))
  }

  private def actual(env: JsonNode): (Seq[String], Seq[Seq[JsonNode]]) = {
    val cols = env.get("columns").elements().asScala.map(_.asText()).toSeq
    val rows = env.get("data").elements().asScala.map(o => cols.map(c => o.get(c))).toSeq
    (cols, rows)
  }

  /** None when the envelope carries exactly the expected answer. With
    * `subsetOf`, the rows need only be distinct rows of the full answer
    * (LIMIT without ORDER BY: which rows is the engine's choice).
    */
  def diff(env: JsonNode, want: (Seq[String], Seq[Seq[JsonNode]]),
           subsetOf: Option[Int] = None): Option[String] = {
    val (cols, rows) = actual(env)
    if (cols != want._1) return Some(s"columns ${cols.mkString(",")} vs ${want._1.mkString(",")}")
    subsetOf match {
      case Some(n) =>
        val all = want._2.map(key).toSet
        if (rows.size != math.min(n, want._2.size))
          Some(s"rows ${rows.size} vs ${math.min(n, want._2.size)}")
        else rows.find(r => !all.contains(key(r))).map(r => s"row not in source: ${key(r)}")
      case None =>
        if (rows.size != want._2.size) return Some(s"rows ${rows.size} vs ${want._2.size}")
        val a = rows.sortBy(key); val b = want._2.sortBy(key)
        a.zip(b).collectFirst {
          case (x, y) if !x.zip(y).forall { case (p, q) => same(p, q) } =>
            s"row ${key(x)} vs ${key(y)}"
        }
    }
  }
}

/** Layer-by-layer replay of one request through the public calls the
  * request path makes, each wrapped in a span. Spark work of the
  * replayed collect runs under a job group named after the request.
  */
final class Replayer(spark: SparkSession, stack: Stack, clients: Clients,
                     creds: Credentials, tracer: Tracer) {
  /** `refreshIfStale`, its span named after the outcome: a call that
    * adopted a new generation costs footer reads and a new child
    * session, a plain one does not.
    */
  private def refresh(id: String, parent: Long): Unit = {
    val r0 = System.nanoTime()
    val adopted = stack.reader.refreshIfStale()
    tracer.record(if (adopted) "snapshot.adopt" else "snapshot.refresh", id, parent,
      r0, System.nanoTime())
  }

  def replay(id: String, raw: String): Unit =
    tracer.span("request", id) { root =>
      // first, so that an adoption due now is timed here rather than
      // hidden inside the HTTP call or QueryEngine.execute below
      refresh(id, root)
      tracer.span("serve.http", id, root)(_ => clients.get(raw, 0))
      tracer.span("query.execute", id, root)(_ => stack.engine.execute(raw))
      tracer.span("replay", id, root) { rp =>
        tracer.span("serve.auth", id, rp)(_ =>
          creds.auth.authenticate(Some(s"Bearer ${creds.tokens(0)}")))
        tracer.span("serve.ratelimit", id, rp)(_ => stack.limiter.allow("127.0.0.1"))
        val q = tracer.span("validate.sanitize", id, rp)(_ => QuerySanitizer.sanitize(raw))
        val v = tracer.span("validate.whitelist", id, rp)(_ => QueryValidator.validate(q))
        refresh(id, rp)
        val session = stack.reader.session
        tracer.span("validate.planguard", id, rp)(_ => PlanGuard.assertReadOnly(session, q))
        val capped = tracer.span("query.analyze", id, rp) { _ =>
          val df = session.sql(q)
          val c = v.maxRows.map(df.limit).getOrElse(df)
          c.schema
          c
        }
        tracer.span("query.plan", id, rp)(_ => capped.queryExecution.executedPlan)
        val rows = tracer.span("query.collect", id, rp) { _ =>
          spark.sparkContext.setJobGroup(s"pb-req-$id", "replay", interruptOnCancel = false)
          try capped.collect() finally spark.sparkContext.clearJobGroup()
        }
        rows.length
      }
    }

  /** Per-request figures from the replay spans. */
  def layers: Map[String, Summary] = {
    val by = tracer.spans.asScala.toSeq.groupBy(_.owner)
    def durs(name: String, scale: Double) = tracer.byName(name).map(_.durNs / scale)
    val perReq = by.values.flatMap { all =>
      // the replay span's children, plus the two calls timed beside them
      val rp = all.find(_.name == "replay").map(_.id)
      val ss = all.filter(s => rp.contains(s.parent) || s.name.startsWith("serve.http") ||
        s.name == "query.execute")
      def d(n: String) = ss.find(_.name == n).map(_.durNs / 1e6)
      for (h <- d("serve.http"); e <- d("query.execute")) yield {
        val kids = Seq("validate.sanitize", "validate.whitelist", "snapshot.refresh",
          "snapshot.adopt", "validate.planguard", "query.analyze", "query.plan",
          "query.collect").flatMap(d).sum
        (h - e, e - kids)
      }
    }
    Map(
      "serve.http_ms" -> Stats.summarize(durs("serve.http", 1e6)),
      "serve.overhead_ms" -> Stats.summarize(perReq.map(_._1)),
      "serve.auth_us" -> Stats.summarize(durs("serve.auth", 1e3)),
      "serve.ratelimit_us" -> Stats.summarize(durs("serve.ratelimit", 1e3)),
      "validate.sanitize_us" -> Stats.summarize(durs("validate.sanitize", 1e3)),
      "validate.whitelist_us" -> Stats.summarize(durs("validate.whitelist", 1e3)),
      "validate.planguard_ms" -> Stats.summarize(durs("validate.planguard", 1e6)),
      "query.execute_ms" -> Stats.summarize(durs("query.execute", 1e6)),
      "query.analyze_ms" -> Stats.summarize(durs("query.analyze", 1e6)),
      "query.plan_ms" -> Stats.summarize(durs("query.plan", 1e6)),
      "query.collect_ms" -> Stats.summarize(durs("query.collect", 1e6)),
      "query.convert_ms" -> Stats.summarize(perReq.map(_._2)),
      "snapshot.refresh_us" -> Stats.summarize(durs("snapshot.refresh", 1e3)),
      "snapshot.adopt_ms" -> Stats.summarize(durs("snapshot.adopt", 1e6)))
  }
}
