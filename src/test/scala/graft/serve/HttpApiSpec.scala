package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkSpec
import graft.ingest.{ParquetSource, SyncManager}
import graft.query.{QueryEngine, RateLimiter}
import graft.snapshot.{SnapshotReader, SnapshotStore}

/** Drives the serving facade over real HTTP on a loopback port. */
class HttpApiSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private val signer = new TestSigner()

  private lazy val api: (HttpApi, Int, StringBuilder) = {
    val srcDir = Files.createTempDirectory("graft-hsrc").toString
    val snapDir = Files.createTempDirectory("graft-hsnap").toString
    Seq((1L, "widget", 5L, 9.99, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "gadget", 3L, 19.50, Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("id", "name", "quantity", "price", "updated_at")
      .write.mode("overwrite").parquet(s"$srcDir/inventory.parquet")
    val store = new SnapshotStore(spark, snapDir)
    new SyncManager(spark, new ParquetSource(srcDir, Seq("inventory")), store)
      .runCycle()
    val engine = new QueryEngine(spark, new SnapshotReader(store))
    val logs = new StringBuilder
    val a = new HttpApi(engine,
      auth = signer.auth,
      rateLimiter = new RateLimiter(maxRequests = 1000),
      log = s => logs.synchronized { logs.append(s).append('\n') })
    val port = a.start()
    (a, port, logs)
  }

  private def token(scopes: Seq[String] =
                    Seq("read:analytics", "read:schema")): String =
    signer.token("tester", scopes)

  private def get(path: String, bearer: Option[String]): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api._2}$path"))
    bearer.foreach(t => b.header("Authorization", s"Bearer $t"))
    val r = http.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("GET /health — no auth required") {
    val (code, body) = get("/health", None)
    assert(code == 200)
    assert(mapper.readTree(body).get("status").asText() == "healthy")
  }

  test("GET /query executes validated SQL and returns the envelope") {
    val (code, body) = get(
      "/query?q=" + java.net.URLEncoder.encode(
        "SELECT id, name FROM inventory ORDER BY id", "UTF-8"),
      Some(token()))
    assert(code == 200, body)
    val j = mapper.readTree(body)
    assert(j.get("success").asBoolean())
    assert(j.get("row_count").asLong() == 2L)
    assert(j.get("columns").get(0).asText() == "id")
    assert(j.get("data").get(0).get("name").asText() == "widget")
    assert(j.get("execution_time_ms").asDouble() > 0)
    assert(!j.get("cached").asBoolean())
  }

  test("the /query envelope: positional cells, repeated names, NULL, DECIMAL, TIMESTAMP") {
    val (code, body) = get("/query?q=" + java.net.URLEncoder.encode(
      "SELECT id, id, NULL AS n, CAST(price AS DECIMAL(10,2)) AS d, " +
        "updated_at FROM inventory ORDER BY id", "UTF-8"), Some(token()))
    assert(code == 200, body)
    // a repeated column name is one JSON key, at its first position
    assert(body.replaceFirst(""""execution_time_ms":[0-9.Ee+-]+""",
      """"execution_time_ms":0""") ==
      """{"success":true,"data":[""" +
      """{"id":1,"n":null,"d":9.99,"updated_at":"2024-01-01 00:00:00.0"},""" +
      """{"id":2,"n":null,"d":19.50,"updated_at":"2024-01-02 00:00:00.0"}],""" +
      """"columns":["id","id","n","d","updated_at"],"row_count":2,""" +
      """"execution_time_ms":0,"cached":false}""")
  }

  test("a malformed %-escape in q is a 400") {
    // java.net.URI refuses these, so the request line goes out raw
    def status(target: String): String = {
      val s = new java.net.Socket("127.0.0.1", api._2)
      try {
        s.getOutputStream.write((s"GET $target HTTP/1.1\r\nHost: x\r\n" +
          s"Authorization: Bearer ${token()}\r\nConnection: close\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        new java.io.BufferedReader(new java.io.InputStreamReader(
          s.getInputStream, java.nio.charset.StandardCharsets.US_ASCII)).readLine()
      } finally s.close()
    }
    assert(status("/query?q=SELECT%zz").startsWith("HTTP/1.1 400"))
    assert(status("/query?q=SELECT%").startsWith("HTTP/1.1 400"))
  }

  test("blocked SQL → 400; unauthenticated → 401; wrong scope → 403") {
    val (code400, body400) = get(
      "/query?q=" + java.net.URLEncoder.encode("DROP TABLE inventory", "UTF-8"),
      Some(token()))
    assert(code400 == 400, body400)
    val (code401, _) = get("/query?q=SELECT%20*%20FROM%20inventory", None)
    assert(code401 == 401)
    val (code403, _) = get(
      "/query?q=SELECT%20*%20FROM%20inventory",
      Some(token(Seq("read:schema"))))
    assert(code403 == 403)
    val (codeExp, _) = get("/query?q=SELECT%20*%20FROM%20inventory",
      Some(signer.token("tester", Seq("read:analytics"),
        Instant.now().getEpochSecond - 10)))
    assert(codeExp == 401) // expired
    val (codeBadAud, _) = get("/query?q=SELECT%20*%20FROM%20inventory",
      Some(signer.token("tester", Seq("read:analytics"), aud = "other-api")))
    assert(codeBadAud == 401)
  }

  test("GET /schema returns table→columns and requires read:schema") {
    val (code, body) = get("/schema", Some(token()))
    assert(code == 200)
    val j = mapper.readTree(body)
    assert(j.get("schema").get("inventory").get(0).asText() == "id")
  }

  test("rate limit → 429") {
    val tight = new HttpApi(
      new QueryEngine(spark, new SnapshotReader(
        new SnapshotStore(spark, Files.createTempDirectory("graft-rl").toString))),
      auth = new NoAuth(),
      rateLimiter = new RateLimiter(maxRequests = 2))
    val port = tight.start()
    try {
      def hit(): Int = http.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(hit() == 200 && hit() == 200)
      assert(hit() == 429)
    } finally tight.stop()
  }

  test("concurrent queries all succeed (FAIR-ish serving)") {
    import scala.jdk.CollectionConverters._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    try {
      val tok = token()
      val tasks = (1 to 5).map { i =>
        new java.util.concurrent.Callable[Int] {
          def call(): Int = get(
            "/query?q=" + java.net.URLEncoder.encode(
              s"SELECT * FROM inventory WHERE id >= $i ORDER BY id", "UTF-8"),
            Some(tok))._1
        }
      }
      val codes = pool.invokeAll(tasks.asJava).asScala.map(_.get())
      assert(codes.forall(_ == 200), codes)
    } finally pool.shutdown()
  }

  test("FAIR pools: a slow query does not serialize a fast one") {
    def q(sql: String): (Int, String) = get(
      "/query?q=" + java.net.URLEncoder.encode(sql, "UTF-8"), Some(token()))
    // a long many-task job: 96 short tasks over 4 cores — under plain
    // FIFO the fast query's single task would queue behind all of
    // them; under FAIR pools (one per serving thread) it takes the next
    // free slot.
    // (range() is admitted by the whitelist's COUNT prefix pattern —
    // the same de facto surface the reference's validator admits.)
    val slowSql = "SELECT COUNT(*) FROM range(0, 24000000000, 1, 96)"
    val fastSql = "SELECT COUNT(*) FROM inventory"
    // warm both plans so the timed run compares scheduling, not
    // codegen/classloading
    assert(q("SELECT COUNT(*) FROM range(0, 1000, 1, 4)")._1 == 200)
    assert(q(fastSql)._1 == 200)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    // a co-tenant load burst landing on the fast query's 1-task window
    // can inflate its wall time even though scheduling is correct, so
    // the experiment retries a couple of times and passes if ANY run
    // shows the overlap (a FIFO serialization would fail every run)
    def attempt(): (Boolean, String) = {
      val t0 = System.nanoTime()
      val slowFut = pool.submit(new java.util.concurrent.Callable[(Int, String)] {
        def call(): (Int, String) = q(slowSql)
      })
      Thread.sleep(300) // let the slow query occupy every task slot
      val fast = q(fastSql)
      val fastEndMs = (System.nanoTime() - t0) / 1e6
      val slow = slowFut.get()
      val slowEndMs = (System.nanoTime() - t0) / 1e6
      assert(fast._1 == 200, fast._2)
      assert(slow._1 == 200, slow._2)
      // overlapping wall-times: the fast query must come back while
      // the slow one is still running, not after it drains
      (fastEndMs < slowEndMs / 2,
        s"fast finished at ${fastEndMs}ms, slow at ${slowEndMs}ms")
    }
    try {
      var ok = false
      val logs = Vector.newBuilder[String]
      var i = 0
      while (!ok && i < 3) {
        val (passed, detail) = attempt()
        ok = passed; logs += detail; i += 1
      }
      assert(ok, s"serialized in all $i attempts: " +
        logs.result().mkString("; "))
    } finally pool.shutdownNow()
  }

  test("structured request logs carry method/path/status/duration/ip") {
    get("/health", None)
    val lines = api._3.synchronized(api._3.toString)
    val line = lines.linesIterator.find(_.contains("/health")).get
    val j = mapper.readTree(line)
    assert(j.get("method").asText() == "GET")
    assert(j.get("status").asInt() == 200)
    assert(j.get("duration_ms").asDouble() >= 0)
    assert(j.get("client_ip").asText() == "127.0.0.1")
  }
}
