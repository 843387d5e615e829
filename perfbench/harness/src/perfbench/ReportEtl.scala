package perfbench

import java.io.File
import scala.collection.mutable
import graft.sources.{HttpIngest, HttpIngestConfig, PrismaConnector}

/** The reference's scheduled job as a closed loop of cycles: login →
  * inventory → resource types per service → policies → paginated alerts
  * per policy → land → `runReportPipelineLiteral`, which overwrites one
  * literal date-folder output root. Each cycle's published tree is
  * checked (outside the timed span) against the generated alerts.
  */
final class ReportEtl extends Workload {
  import ReportEtl._

  private var fx: PrismaFixture = _
  private var outRoot: String = _
  private val cycles = mutable.ArrayBuffer.empty[Double]
  private val fetches = mutable.ArrayBuffer.empty[Double]
  private val publishes = mutable.ArrayBuffer.empty[Double]
  private var requestNs, sleptMs = 0L
  private var filesOut, bytesOut, checks = 0L
  private var timedCycles = 0
  private var measureStartMs = 0L

  private def config = HttpIngestConfig(fx.baseUrl, PrismaFixture.User,
    PrismaFixture.Password, "bench", pageSize = PrismaFixture.PageSize,
    backoffBaseMs = BackoffBaseMs, throttleMs = ThrottleMs,
    sleeper = ms => { sleptMs += ms; Thread.sleep(ms) })

  /** One cycle; returns (fetch seconds, publish seconds). */
  private def cycle(ctx: Ctx): (Double, Double) = ctx.trace("report_etl", "cycle") {
    val spark = ctx.spark
    import spark.implicits._
    val t0 = System.nanoTime()
    val ing = new HttpIngest(config)
    def call[A](name: String)(body: => A): A = ctx.trace("HttpIngest", name) {
      val t = System.nanoTime()
      try body finally requestNs += System.nanoTime() - t
    }
    val tok = call("login")(ing.login())
    def get(path: String): String =
      call("getJson")(ing.getJson(path, tok))
        .getOrElse(throw new IllegalStateException(s"GET $path failed"))
    val inventory = get("/v2/inventory")
    val resourceTypes = fx.services.map(s =>
      s -> get("/v2/resource-types?service=" + java.net.URLEncoder.encode(s, "UTF-8")))
    val policyList = get("/v2/policy")
    val pages = fx.policies.flatMap { case (pid, _, _, _) =>
      call("fetchPages")(ing.fetchPages("/v2/alert", tok,
        s"""[{"name":"policy.id","operator":"=","value":"$pid"}]"""))
    }
    val alertPages = ctx.trace("HttpIngest", "land")(ing.land(spark, pages))
    val t1 = System.nanoTime()
    ctx.trace("PrismaConnector", "runReportPipelineLiteral") {
      PrismaConnector.runReportPipelineLiteral(spark, Seq(inventory).toDF("json"),
        resourceTypes.toDF("service", "json"), Seq(policyList).toDF("json"), alertPages, outRoot)
    }
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def setup(ctx: Ctx): Map[String, Double] = {
    val t0 = System.nanoTime()
    fx = new PrismaFixture(ctx.seed, Policies, Alerts, Services, RttMs, Rate429,
      threads = math.min(ctx.cpus, 4))
    outRoot = s"${ctx.workDir}/etl_out/reports"
    val tFixture = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    (1 to WarmCycles).foreach { i =>
      ctx.op(s"warm cycle $i")(cycle(ctx))
      ctx.op(s"check warm cycle $i")(check())
    }
    Map("fixture_s" -> tFixture, "warm_s" -> (System.nanoTime() - t1) / 1e9)
  }

  def run(ctx: Ctx): Unit = {
    val r0 = fx.requests.get; val th0 = fx.throttled.get
    val p0 = fx.pagesServed.get; val s0 = fx.serviceNs.get
    requestNs = 0L; sleptMs = 0L
    measureStartMs = System.currentTimeMillis()
    var measured = 0.0
    var n = 0
    while (n < MinCycles || (measured < ctx.seconds && n < MaxCycles)) {
      n += 1
      var parts: (Double, Double) = null
      val c = ctx.op(s"cycle $n") { parts = cycle(ctx) }
      measured += c.seconds
      // a cycle whose run or published tree failed is no sample
      if (c.ok && ctx.op(s"check cycle $n")(check()).ok) {
        cycles += c.seconds; fetches += parts._1; publishes += parts._2
      }
    }
    timedCycles = n
    reqs = fx.requests.get - r0
    retries = fx.throttled.get - th0
    pagesOk = fx.pagesServed.get - p0
    svcNs = fx.serviceNs.get - s0
    fx.stop()
  }

  private var reqs, retries, pagesOk, svcNs = 0L

  /** The published tree: _SUCCESS, every date folder holding all three
    * reports, and Alert_Report counts equal to the generated alerts.
    */
  private def check(): Unit = {
    val root = new File(outRoot)
    require(new File(root, "_SUCCESS").isFile, "no _SUCCESS in the published root")
    val files = walk(root)
    checks += 1
    filesOut += files.size
    bytesOut += files.map(_.length).sum
    val dayDirs = files.filter(_.getName.endsWith(".csv")).map(_.getParentFile).distinct
    require(dayDirs.nonEmpty, "no date folder published")
    dayDirs.foreach { d =>
      Reports.foreach(r => require(new File(d, s"$r.csv").isFile, s"$d lacks $r.csv"))
    }
    val got = mutable.Map.empty[(String, String), Long]
    dayDirs.foreach { d =>
      val lines = scala.io.Source.fromFile(new File(d, "Alert_Report.csv"), "UTF-8").getLines().toList
      val header = Csv.split(lines.head)
      val (iName, iId, iCount) = (header.indexOf("Policy Name"),
        header.indexOf("Cloud Account Id"), header.indexOf("Failed Resource Count"))
      lines.tail.filter(_.nonEmpty).foreach { l =>
        val f = Csv.split(l)
        got((f(iName), f(iId))) = got.getOrElse((f(iName), f(iId)), 0L) + f(iCount).toLong
      }
    }
    require(got == fx.expected,
      s"Alert_Report counts differ from the generated alerts: ${got.size} vs ${fx.expected.size} groups")
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)

  def finish(ctx: Ctx): Map[String, Any] = {
    val n = math.max(1, timedCycles).toDouble
    val alerts = Alerts.toDouble * cycles.size
    Map(
      "params" -> Map("alerts" -> Alerts, "policies" -> Policies, "services" -> Services,
        "rtt_ms" -> RttMs, "rate_429" -> Rate429, "throttle_ms" -> ThrottleMs,
        "backoff_base_ms" -> BackoffBaseMs, "warm_cycles" -> WarmCycles, "min_cycles" -> MinCycles,
        "max_cycles" -> MaxCycles),
      "units" -> timedCycles, "measure_start_ms" -> measureStartMs,
      "e2e" -> Map(
        "op_p50_s" -> Stats.median(cycles.toSeq), "items_per_s" -> alerts / cycles.sum,
        "part_a_s" -> Stats.median(fetches.toSeq), "part_b_s" -> Stats.median(publishes.toSeq),
        "op_geomean_s" -> Stats.geomean(cycles.toSeq)),
      "named" -> Map("etl.alerts_per_s" -> alerts / cycles.sum,
        "etl.cycle_p50_s" -> Stats.median(cycles.toSeq)),
      "layers" -> Map(
        "HttpIngest.requests" -> reqs / n, "HttpIngest.retries" -> retries / n,
        "HttpIngest.useful_ratio" -> pagesOk.toDouble / math.max(1L, reqs),
        "HttpIngest.overhead_ms" ->
          ((requestNs / 1e6 - sleptMs) / math.max(1L, reqs) - RttMs),
        "fixture.service_ms" -> svcNs / 1e6 / math.max(1L, reqs),
        "PrismaConnector.files_out" -> filesOut.toDouble / math.max(1L, checks),
        "PrismaConnector.bytes_out" -> bytesOut.toDouble / math.max(1L, checks)),
      "samples" -> Map("cycle_s" -> cycles.toList, "fetch_s" -> fetches.toList,
        "publish_s" -> publishes.toList))
  }
}

object ReportEtl {
  val Alerts = 1000
  val Policies = 20
  val Services = 30
  val RttMs = 20L
  val Rate429 = 0.02
  val ThrottleMs = 0L
  val BackoffBaseMs = 5L
  val WarmCycles = 3
  val MinCycles = 4
  val MaxCycles = 12
  val Reports = Seq("Inventory_Report", "Inventory_Resource_Type_Report", "Alert_Report")
}

/** Splits one QUOTE_NONNUMERIC CSV line ("" escapes a quote). */
object Csv {
  def split(line: String): IndexedSeq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.toIndexedSeq
  }
}
