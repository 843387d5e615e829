package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Prisma API: login, inventory, per-service resource types,
  * the policy list and paginated alerts, all generated from the seed.
  *
  * The network round trip is injected by COMPLETING each exchange on a
  * schedule (arrival + rtt) from a timer thread, never by sleeping a
  * handler thread, so `threads` (≤ cpus) handler threads serve any
  * number of requests in flight. `sun.net.httpserver.nodelay` must be on:
  * without it a small response waits on the client's delayed ACK.
  *
  * About `rate429` of the requests after login answer 429. Whether a
  * request does is a hash of (seed, cycle, resource, pageToken, attempt),
  * so the choice does not depend on request order.
  */
final class PrismaFixture(seed: Long, nPolicies: Int, totalAlerts: Int,
    nServices: Int, rttMs: Long, rate429: Double, threads: Int) {
  import PrismaFixture._

  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val rng = new scala.util.Random(seed)
  private val mapper = new ObjectMapper()

  val services: IndexedSeq[String] = (0 until nServices).map(i => s"Service $i")
  // 40 accounts over 30 display names: distinct ids may share a name
  private val accounts = (0 until 40).map(i =>
    (s"acct-${i % 30}", s"${100000 + i}", Clouds(i % Clouds.size),
      if (i % 7 == 0) Nil else List(s"group-${i % 5}")))
  val policies: IndexedSeq[(String, String, String, String)] = (0 until nPolicies).map(i =>
    (s"pol-$i", s"Policy $i", PolicyTypes(i % PolicyTypes.size), Severities(rng.nextInt(3))))

  /** Skewed alert counts: weight 1/(rank+1) over a seeded ranking. */
  val alertCounts: IndexedSeq[Int] = {
    val ranks = rng.shuffle((0 until nPolicies).toList)
    val w = ranks.map(r => 1.0 / (r + 1))
    val raw = w.map(x => (x / w.sum * totalAlerts).toInt)
    val fixed = raw.toArray
    fixed(ranks.indexOf(0)) += totalAlerts - raw.sum
    fixed.toIndexedSeq
  }

  /** Expected Alert_Report: failed count per (policy name, account id). */
  val expected = mutable.Map.empty[(String, String), Long]

  /** Pre-rendered alert pages per policy id. */
  private val pages: Map[String, IndexedSeq[String]] = policies.zip(alertCounts).map {
    case ((pid, pname, _, _), n) =>
      val items = (0 until n).map { j =>
        val (acct, acctId, cloud, groups) = accounts(skewed(40))
        expected((pname, acctId)) = expected.getOrElse((pname, acctId), 0L) + 1
        val g = groups.map(x => "\"" + x + "\"").mkString("[", ",", "]")
        s"""{"id":"$pid-a$j","resource":{"account":"$acct","accountId":"$acctId",""" +
          s""""cloudType":"$cloud","cloudAccountGroups":$g}}"""
      }
      // a full last page is followed by an empty one (the short-page exit)
      val chunks = items.grouped(PageSize).toIndexedSeq
      val all = if (n % PageSize == 0) chunks :+ IndexedSeq.empty else chunks
      pid -> all.zipWithIndex.map { case (c, k) =>
        val next = if (k + 1 < all.size) s""","nextPageToken":"$pid-p${k + 1}"""" else ""
        s"""{"policyId":"$pid","items":${c.mkString("[", ",", "]")}$next}"""
      }
  }.toMap

  private def skewed(n: Int): Int = math.min(n - 1, (n * math.pow(rng.nextDouble(), 2)).toInt)

  private val timestampMs = 1712500000000L + (seed % 300) * 86400000L

  private def aggregates(field: String, name: String, r: scala.util.Random): String = {
    val crit = r.nextInt(5); val high = r.nextInt(9); val passed = r.nextInt(50)
    // medium counts left out on every third row: the report's null fill
    val medium = if (r.nextInt(3) == 0) "" else s""","mediumSeverityFailedResources":${r.nextInt(9)}"""
    s"""{"$field":"$name","criticalSeverityFailedResources":$crit,""" +
      s""""highSeverityFailedResources":$high$medium,"lowSeverityFailedResources":1,""" +
      s""""informationalSeverityFailedResources":0,"passedResources":$passed,""" +
      s""""failedResources":${crit + high},"totalResources":${crit + high + passed}}"""
  }

  private val inventory: String = {
    val r = new scala.util.Random(seed + 1)
    s"""{"timestamp":$timestampMs,"requestedTimestamp":${timestampMs + 1500},"summary":{},""" +
      services.map(s => aggregates("serviceName", s, r)).mkString(""""groupedAggregates":[""", ",", "]}")
  }

  private val resourceTypes: Map[String, String] = services.zipWithIndex.map { case (s, i) =>
    val r = new scala.util.Random(seed * 31 + i)
    s -> (s"""{"timestamp":$timestampMs,"requestedTimestamp":$timestampMs,""" +
      (0 until 2 + r.nextInt(4)).map(k => aggregates("resourceTypeName", s"$s type $k", r))
        .mkString(""""groupedAggregates":[""", ",", "]}"))
  }.toMap

  private val policyList: String = policies.zip(alertCounts).map { case ((id, n, t, sev), c) =>
    s"""{"policyId":"$id","policyName":"$n","policyType":"$t","severity":"$sev","alertCount":$c}"""
  }.mkString("""{"policies":[""", ",", "]}")

  // ---- server ----
  val requests = new AtomicLong()
  val throttled = new AtomicLong()
  val pagesServed = new AtomicLong()
  val serviceNs = new AtomicLong()
  private val cycle = new AtomicInteger()
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  private val timer: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor()
  server.setExecutor(pool)

  private def reject429(resource: String, pageToken: String): Boolean = {
    val key = s"${cycle.get}|$resource|$pageToken"
    val attempt = attempts.computeIfAbsent(key, _ => new AtomicInteger()).getAndIncrement()
    val h = scala.util.hashing.MurmurHash3.stringHash(s"$seed|$key|$attempt")
    (h & 0x7fffffff) / 2147483648.0 < rate429
  }

  private def handle(ex: HttpExchange, arrival: Long)(answer: => (Int, String)): Unit = {
    requests.incrementAndGet()
    val (code, body) =
      try answer catch { case e: Throwable => (500, s"""{"message":"${e.getClass.getSimpleName}"}""") }
    val bytes = body.getBytes("UTF-8")
    val ready = System.nanoTime()
    serviceNs.addAndGet(ready - arrival)
    val delay = math.max(0L, arrival + rttMs * 1000000L - ready)
    timer.schedule(new Runnable {
      def run(): Unit = try {
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      } catch { case _: java.io.IOException => ex.close() }
    }, delay, TimeUnit.NANOSECONDS)
  }

  private def authed(ex: HttpExchange): Boolean =
    ex.getRequestHeaders.getFirst("x-redlock-auth") == Token

  server.createContext("/login", (ex: HttpExchange) => {
    val t = System.nanoTime()
    val b = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    handle(ex, t) {
      val j = mapper.readTree(b)
      if (j.path("username").asText() == User && j.path("password").asText() == Password) {
        cycle.incrementAndGet()
        (200, s"""{"token":"$Token"}""")
      } else (401, """{"message":"login_failed"}""")
    }
  })
  server.createContext("/v2/", (ex: HttpExchange) => {
    val t = System.nanoTime()
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val b = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    handle(ex, t) {
      if (!authed(ex)) (401, """{"message":"no_auth"}""")
      else if (path == "/v2/alert") {
        val j = mapper.readTree(b)
        val pid = j.path("filters").path(0).path("value").asText()
        val tok = j.path("pageToken").asText()
        if (reject429(pid, tok)) { throttled.incrementAndGet(); (429, """{"message":"slow down"}""") }
        else {
          val k = if (tok.isEmpty) 0 else tok.substring(tok.lastIndexOf("-p") + 2).toInt
          pagesServed.incrementAndGet()
          (200, pages(pid)(k))
        }
      } else if (reject429(path + "?" + query, "")) {
        throttled.incrementAndGet(); (429, """{"message":"slow down"}""")
      } else path match {
        case "/v2/inventory" => (200, inventory)
        case "/v2/resource-types" =>
          (200, resourceTypes(java.net.URLDecoder.decode(query.stripPrefix("service="), "UTF-8")))
        case "/v2/policy" => (200, policyList)
        case _ => (404, """{"message":"not_found"}""")
      }
    }
  })
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    pool.shutdownNow()
    timer.awaitTermination(5, TimeUnit.SECONDS)
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
}

object PrismaFixture {
  val PageSize = 100
  val User = "bench-user"
  val Password = "bench-pass"
  val Token = "bench-token"
  private val Clouds = IndexedSeq("aws", "azure", "gcp")
  private val PolicyTypes = IndexedSeq("config", "network", "audit_event")
  private val Severities = IndexedSeq("low", "medium", "high")
}
