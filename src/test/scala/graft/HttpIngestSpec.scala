package graft

import java.io.OutputStream
import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.{HttpIngest, HttpIngestConfig, PrismaConnector}
import org.apache.spark.sql.functions._
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
    * way to prove the parallel transport overlaps requests (wall-clock
    * ratios flake on loaded machines).
    */
  private case class Fx(server: HttpServer, base: String,
      calls: AtomicInteger, lastAuth: AtomicReference[String],
      maxOverlap: AtomicInteger, pool: java.util.concurrent.ExecutorService) {
    def stop(): Unit = { server.stop(0); pool.shutdownNow() }
  }

  /** Pages: `nPages` pages of `pageSize` items, the last page SHORT by
    * one (forces exit condition 2); `rateLimitFirst` initial alert
    * calls (token-chain AND page endpoints) answer 429.
    */
  private def fixture(pageSize: Int, nPages: Int, rateLimitFirst: Int = 0,
      latencyMs: Long = 0L): Fx = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    // a thread pool so the PARALLEL transport can actually overlap
    // requests (the default executor serializes exchanges), and an
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
    // offset-paginated endpoint for the DSv2 parallel-page transport:
    // applies the requested fields + equality filters SERVER-side and
    // synthesizes items from the same AlertPages.fieldValue truth the
    // synthetic reader uses, so the two transports are value-comparable
    server.createContext("/alerts_page", (ex: HttpExchange) => tracked {
      import graft.sources.v2.{AlertPages => AP}
      simulateRtt()
      alertCalls.incrementAndGet()
      if (Option(ex.getRequestHeaders.getFirst("x-redlock-auth")).getOrElse("") != Token)
        respond(ex, 401, """{"message": "no_auth"}""")
      else if (remaining429.getAndDecrement() > 0) respond(ex, 429, "slow down")
      else {
        remaining429.set(0)
        val b = bodyOf(ex)
        val page = "\"page\": (\\d+)".r.findFirstMatchIn(b).get.group(1).toInt
        val limit = "\"limit\": (\\d+)".r.findFirstMatchIn(b).get.group(1).toInt
        val fields = "\"fields\": \\[([^\\]]*)\\]".r.findFirstMatchIn(b).get.group(1)
          .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty)
        val eqs = """\{"name": "([^"]+)", "operator": "=", "value": "([^"]+)"\}""".r
          .findAllMatchIn(b).map(m => (m.group(1), m.group(2))).toSeq
        val items = (0 until limit).map(i => page.toLong * limit + i)
          .filter(n => eqs.forall { case (a, v) => AP.fieldValue(a, n) == v })
          .map(n => fields.map(f => s""""$f": "${AP.fieldValue(f, n)}"""")
            .mkString("{", ",", "}"))
          .mkString("[", ",", "]")
        respond(ex, 200, s"""{"items": $items}""")
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

  test("DSv2 live transport: parallel page partitions fetch over HTTP with pushdowns applied server-side") {
    val Fx(server, base, _, _, maxOverlap, pool) = fixture(pageSize = 3, nPages = 2)
    try {
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1"))
      val tok = ing.login()
      def live = spark.read.format("graft.sources.v2.AlertPages")
        .option("pages", "4").option("pageSize", "25")
        .option("httpBase", base).option("httpToken", tok).load()
      def synth = spark.read.format("graft.sources.v2.AlertPages")
        .option("pages", "4").option("pageSize", "25").load()
      // full scan: the two transports agree row for row (the fixture
      // server synthesizes from the same fieldValue truth)
      assert(live.count() == 100)
      assert(live.exceptAll(synth).isEmpty && synth.exceptAll(live).isEmpty)
      // pruned + filtered: fields/filters applied SERVER-side, values equal
      val lf = live.filter(col("cloudType") === "aws")
        .select("alert_id", "policyId").collect().map(_.toSeq).toSet
      val sf2 = synth.filter(col("cloudType") === "aws")
        .select("alert_id", "policyId").collect().map(_.toSeq).toSet
      assert(lf == sf2 && lf.size == 50)
      // a bad token surfaces as a task failure, not silent empties
      val bad = spark.read.format("graft.sources.v2.AlertPages")
        .option("pages", "1").option("pageSize", "5")
        .option("httpBase", base).option("httpToken", "nope").load()
      val e = intercept[Exception](bad.count())
      assert(e.getMessage.contains("401") ||
        Option(e.getCause).exists(_.getMessage.contains("401")))
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("parallel page partitions overlap requests; the sequential loop never does") {
    // The reference's structural ceiling is its SEQUENTIAL loop: one
    // page per round-trip (plus an unconditional 1 s sleep the fixture
    // charitably omits). The DSv2 transport overlaps pages across
    // executor threads. Proven via the SERVER-side in-flight counter
    // (deterministic under load) rather than wall-clock ratios, which
    // flake when a loaded CI machine pauses the parallel run; timings
    // stay as info lines. The 100 ms RTT keeps requests in flight long
    // enough that overlap MUST be observed if it exists.
    val Fx(server, base, calls, _, maxOverlap, pool) = fixture(pageSize = 20, nPages = 24, latencyMs = 100)
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
      maxOverlap.set(0)
      val live = spark.read.format("graft.sources.v2.AlertPages")
        .option("pages", "24").option("pageSize", "20")
        .option("httpBase", base).option("httpToken", tok).load()
      val t1 = System.nanoTime()
      assert(live.count() == 480)
      val parMs = (System.nanoTime() - t1) / 1e6
      info(f"sequential token chain: $seqMs%.0f ms; parallel partitions: $parMs%.0f ms " +
        f"(${seqMs / parMs}%.1fx)")
      assert(maxOverlap.get >= 2,
        s"parallel partitions must overlap in-flight requests, observed ${maxOverlap.get}")
    } finally { server.stop(0); pool.shutdownNow() }
  }

  test("live DSv2 reader retries 429s executor-side on the exact short schedule (R4)") {
    val Fx(server, base, calls, _, _, pool) = fixture(pageSize = 5, nPages = 1, rateLimitFirst = 3)
    val origSleeper = graft.sources.v2.AlertHttp.sleeper
    try {
      val sleeps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      graft.sources.v2.AlertHttp.sleeper = sleeps.add(_)
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1"))
      val tok = ing.login()
      val live = spark.read.format("graft.sources.v2.AlertPages")
        .option("pages", "1").option("pageSize", "5")
        .option("httpBase", base).option("httpToken", tok).load()
      assert(live.count() == 5, "the page succeeds after backed-off retries")
      assert(calls.get == 4, "three 429s then the successful fetch — retried in-task, not via task re-run")
      assert(sleeps.toArray.toSeq == Seq(100L, 200L, 400L),
        s"executor-side schedule must be base*2^attempt with the 100 ms base, got $sleeps")
      // exhaustion: more 429s than retries -> the failure surfaces with
      // the status (Spark task retry is the outer layer, local mode has 1)
      val Fx(server2, base2, _, _, _, pool2) =
        fixture(pageSize = 5, nPages = 1, rateLimitFirst = 99)
      try {
        val bad = spark.read.format("graft.sources.v2.AlertPages")
          .option("pages", "1").option("pageSize", "5")
          .option("httpBase", base2).option("httpToken", tok)
          .option("httpMaxRetries", "2").load()
        val e = intercept[Exception](bad.count())
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).toSeq
        assert(msgs.exists(_.contains("429")), s"exhausted retries must surface the 429: $msgs")
      } finally { server2.stop(0); pool2.shutdownNow() }
    } finally {
      graft.sources.v2.AlertHttp.sleeper = origSleeper
      server.stop(0); pool.shutdownNow()
    }
  }

  test("live DSv2 reader enforces the per-JVM min request gap across parallel partitions (R5)") {
    val Fx(server, base, calls, _, _, pool) = fixture(pageSize = 5, nPages = 1)
    val origSleeper = graft.sources.v2.AlertHttp.sleeper
    try {
      val sleeps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      graft.sources.v2.AlertHttp.sleeper = sleeps.add(_)
      val ing = new HttpIngest(HttpIngestConfig(base, "u1", "p1", "id1"))
      val tok = ing.login()
      val live = spark.read.format("graft.sources.v2.AlertPages")
        .option("pages", "6").option("pageSize", "5")
        .option("httpBase", base).option("httpToken", tok)
        .option("httpMinGapMs", "200").load()
      assert(live.count() == 30)
      assert(calls.get == 6)
      // the CAS gate hands each of the 6 concurrent readers a start slot
      // >= 200 ms after the previous one; with the sleeper recording
      // instead of sleeping, every reader after the first sees a
      // positive wait (the gate accumulates 200 ms per claim)
      val waits = sleeps.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
      assert(waits.length >= 5, s"expected a gap wait for every reader after the first: ${waits.toSeq}")
      assert(waits.forall(_ > 0) && waits.last >= 200,
        s"waits must space request starts minGap apart: ${waits.toSeq}")
    } finally {
      graft.sources.v2.AlertHttp.sleeper = origSleeper
      server.stop(0); pool.shutdownNow()
    }
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
