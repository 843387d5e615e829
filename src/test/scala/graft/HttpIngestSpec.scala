package graft

import java.io.OutputStream
import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{HttpIngest, HttpIngestConfig, PrismaConnector}
import org.scalatest.funsuite.AnyFunSuite

/** Live-HTTP ingestion contract (R1–R5) against an in-process
  * com.sun.net.httpserver fixture speaking the reference protocol:
  * login → token, x-redlock-auth on every call, pageToken pagination
  * with both exit conditions, 429-only exponential backoff with the
  * exact sleep schedule, inter-request throttle, and the landed pages
  * flowing into the connector's schema-declared alertReport.
  */
class HttpIngestSpec extends AnyFunSuite with SharedSpark {

  private val Token = "tok-fixture-1"

  /** Fixture handle: server state + a stop() that also shuts the
    * request thread pool down (leaked pools accumulate across tests).
    * `maxOverlap` records the highest number of simultaneously
    * IN-FLIGHT alert requests the server observed — the deterministic
    * way to prove the token-chain client never overlaps requests
    * (wall-clock ratios flake on loaded machines).
    */
  private case class Fx(server: HttpServer, base: String,
      calls: AtomicInteger, lastAuth: AtomicReference[String],
      maxOverlap: AtomicInteger, pool: java.util.concurrent.ExecutorService) {
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  /** Pages: `nPages` pages of `pageSize` items, the last page SHORT by
    * one (forces exit condition 2); `rateLimitFirst` initial alert
    * calls answer 429.
    */
  private def fixture(pageSize: Int, nPages: Int, rateLimitFirst: Int = 0,
      latencyMs: Long = 0L): Fx = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // a thread pool so overlapping requests WOULD be served concurrently
    // (the default executor serializes exchanges), and an
    // injectable per-request latency modeling a real API's RTT
    val pool = java.util.concurrent.Executors.newFixedThreadPool(64)
    server.setExecutor(pool)
    def simulateRtt(): Unit = if (latencyMs > 0) Thread.sleep(latencyMs)
    val alertCalls = new AtomicInteger(0)
    val remaining429 = new AtomicInteger(rateLimitFirst)
    val lastAuth = new AtomicReference[String]("")
    val inFlight = new AtomicInteger(0)
    val maxOverlap = new AtomicInteger(0)
    def tracked[T](f: => T): T = {
      val now = inFlight.incrementAndGet()
      maxOverlap.getAndUpdate(m => math.max(m, now))
      try f finally inFlight.decrementAndGet()
    }
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      val os: OutputStream = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    def bodyOf(ex: HttpExchange): String =
      new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    server.createContext("/login", (ex: HttpExchange) => {
      val b = bodyOf(ex)
      if (ex.getRequestMethod == "POST" && b.contains("\"u1\"") &&
          b.contains("\"p1\"") && b.contains("\"id1\""))
        respond(ex, 200, s"""{"token": "$Token"}""")
      else respond(ex, 401, """{"message": "login_failed"}""")
    })
    server.createContext("/alerts", (ex: HttpExchange) => tracked {
      simulateRtt()
      alertCalls.incrementAndGet()
      lastAuth.set(Option(ex.getRequestHeaders.getFirst("x-redlock-auth")).getOrElse(""))
      if (lastAuth.get != Token) respond(ex, 401, """{"message": "no_auth"}""")
      else if (remaining429.getAndDecrement() > 0) respond(ex, 429, "slow down")
      else {
        remaining429.set(0)
        val b = bodyOf(ex)
        // fixture pageToken protocol: "" → page 0, "page-k" → page k
        val page = "\"pageToken\": \"page-(\\d+)\"".r.findFirstMatchIn(b)
          .map(_.group(1).toInt).getOrElse(0)
        val count = if (page == nPages - 1) pageSize - 1 else pageSize
        val items = (0 until count).map { i =>
          val id = page * pageSize + i
          s"""{"id": "a$id", "resource": {"account": "acct${id % 3}",
             |  "accountId": "A${id % 3}", "cloudType": "aws",
             |  "cloudAccountGroups": ["g${id % 2}"]}}""".stripMargin
        }.mkString("[", ",", "]")
        respond(ex, 200,
          s"""{"policyId": "pol-1", "items": $items,
             |  "nextPageToken": "page-${page + 1}"}""".stripMargin)
      }
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    Fx(server, base, alertCalls, lastAuth, maxOverlap, pool)
  }

  test("login yields the token; wrong credentials fail fast (R1)") {
    val Fx(server, base, _, _, maxOverlap, pool) = fixture(pageSize = 3, nPages = 2)
    try {
      val ok = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1"))
      assert(ok.login() == Token)
      val bad = new HttpIngest(HttpIngestConfig(base, "u1", "WRONG", "id1"))
      val e = intercept[IllegalArgumentException](bad.login())
      assert(e.getMessage.contains("401"))
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("pagination walks pageTokens until the short page; every call authenticated (R2/R3)") {
    val Fx(server, base, calls, lastAuth, maxOverlap, pool) = fixture(pageSize = 4, nPages = 3)
    try {
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1", pageSize = 4))
      val tok = ing.login()
      val pages = ing.fetchPages("/alerts", tok)
      assert(pages.length == 3, "two full pages + the short terminal page")
      assert(calls.get == 3, "exactly one request per page")
      assert(lastAuth.get == Token, "x-redlock-auth must be sent on page fetches")
      // 4 + 4 + 3 items land
      val n = pages.map(p => "\"id\":".r.findAllIn(p).size).sum
      assert(n == 11)
      // an unauthenticated fetch is refused by the server and surfaces
      val e = intercept[IllegalArgumentException](
        ing.fetchPages("/alerts", "bad-token"))
      assert(e.getMessage.contains("401"))
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("429s back off exponentially then succeed; schedule is exact (R4)") {
    val Fx(server, base, calls, _, maxOverlap, pool) = fixture(pageSize = 2, nPages = 1, rateLimitFirst = 3)
    try {
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1",
        pageSize = 2, backoffBaseMs = 100, sleeper = sleeps += _))
      val tok = ing.login()
      val pages = ing.fetchPages("/alerts", tok)
      assert(pages.length == 1)
      assert(calls.get == 4, "three 429s then the successful fetch")
      assert(sleeps.toSeq == Seq(100L, 200L, 400L),
        s"backoff must be base*2^attempt, got $sleeps")
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("retries exhaust after maxRetries and the failure surfaces (R4)") {
    val Fx(server, base, calls, _, maxOverlap, pool) = fixture(pageSize = 2, nPages = 1, rateLimitFirst = 99)
    try {
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1",
        pageSize = 2, maxRetries = 3, backoffBaseMs = 10, sleeper = sleeps += _))
      val tok = ing.login()
      val e = intercept[IllegalArgumentException](ing.fetchPages("/alerts", tok))
      assert(e.getMessage.contains("429"))
      assert(calls.get == 3, "exactly maxRetries attempts")
      assert(sleeps.toSeq == Seq(10L, 20L),
        s"no sleep after the FINAL attempt (it precedes an unconditional give-up): $sleeps")
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("maxRetries < 1 is refused at construction with a clear error (R4)") {
    // maxRetries counts attempts: 0 would send nothing and leave login()
    // with no response to read
    val e = intercept[IllegalArgumentException](new HttpIngest(
      HttpIngestConfig("http://127.0.0.1:9", "u1", "p1", "id1", maxRetries = 0)).login())
    assert(e.getMessage.contains("maxRetries"), e.getMessage)
  }

  test("throttle inserts a gap between consecutive requests (R5)") {
    val Fx(server, base, _, _, maxOverlap, pool) = fixture(pageSize = 2, nPages = 3)
    try {
      val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1",
        pageSize = 2, throttleMs = 500, sleeper = sleeps += _))
      val tok = ing.login()
      ing.fetchPages("/alerts", tok)
      // localhost round-trips are far under 500 ms, so every gap after
      // the first request must have slept a positive remainder <= 500
      assert(sleeps.size >= 3, s"expected a throttle sleep per follow-up request, got $sleeps")
      assert(sleeps.forall(s => s > 0 && s <= 500), s"gaps must be bounded by throttleMs: $sleeps")
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("the sequential token-chain loop never overlaps requests and pays every RTT") {
    // The reference's structural ceiling is its SEQUENTIAL loop: one
    // page per round-trip (plus an unconditional 1 s sleep the fixture
    // charitably omits). Proven via the SERVER-side in-flight counter
    // (deterministic under load); the 100 ms RTT keeps each request in
    // flight long enough that any overlap would be observed.
    val Fx(server, base, _, _, maxOverlap, pool) = fixture(pageSize = 20, nPages = 24, latencyMs = 100)
    try {
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1", pageSize = 20))
      val tok = ing.login()
      val t0 = System.nanoTime()
      val seqPages = ing.fetchPages("/alerts", tok)
      val seqMs = (System.nanoTime() - t0) / 1e6
      assert(seqPages.length == 24)
      assert(maxOverlap.get == 1,
        "the token-chain client is request-at-a-time by construction")
      assert(seqMs >= 24 * 100, "sequential must pay every RTT serially")
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("fetched pages land and flow into the schema-declared alertReport") {
    val Fx(server, base, _, _, maxOverlap, pool) = fixture(pageSize = 5, nPages = 2)
    try {
      import spark.implicits._
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1", pageSize = 5))
      val tok = ing.login()
      val pages = ing.land(spark, ing.fetchPages("/alerts", tok))
      val policies =
        """{"policies": [{"policyId": "pol-1", "policyName": "Open S3",
          |  "policyType": "config", "severity": "high", "alertCount": 9}]}""".stripMargin
      val report = PrismaConnector.alertReport(spark, Seq(policies).toDF("json"), pages)
      val rows = report.collect()
      // 9 items over 3 account ids -> 3 per-account rows, counts 3/3/3
      assert(rows.length == 3)
      assert(rows.map(_.getAs[Long]("Failed Resource Count")).sum == 9)
      assert(rows.forall(_.getAs[String]("Policy Severity") == "HIGH"))
      assert(rows.forall(_.getAs[String]("Cloud Type") == "AWS"))
    } finally { server.stop(0); pool.shutdownNow() }
  }
}
