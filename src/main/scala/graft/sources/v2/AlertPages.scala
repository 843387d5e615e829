package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector modeling the reference's paginated alert API
  * (`/root/reference/modules/src/prisma_report/lambda.py:267-318`: POST
  * /v2/alert, `limit: 100` + `pageToken` loop, 1 s sleep per page —
  * ≤ 100 alerts/sec, sequential).
  *
  * Re-expressed Spark-first: each page is an InputPartition, so pages
  * are fetched in PARALLEL across executor threads, and the four
  * classic pushdowns reach the source:
  *
  *  - '''limit''' (SupportsPushDownLimit): only ⌈n/pageSize⌉ pages are
  *    planned — the engine-side equivalent of stopping the pagination
  *    loop early. Applied ONLY when no filter was pushed: a pushed
  *    filter reduces per-page yield, so page-count reduction could
  *    under-deliver rows that later pages contain (classic source bug;
  *    guarded + spec-tested instead).
  *  - '''column pruning''' (SupportsPushDownRequiredColumns): the
  *    reader materializes only the requested fields — the analog of an
  *    API `fields=` parameter shrinking the response payload.
  *  - '''equality filters''' (SupportsPushDownFilters): `EqualTo` on
  *    any alert attribute is applied INSIDE the partition reader (the
  *    analog of the API's server-side filter body — the reference POSTs
  *    a `filters: [...]` JSON); other predicates are left for Spark.
  *    Pushed filters are fully applied, so they are not returned for
  *    re-evaluation.
  *  - '''aggregates''' (SupportsPushDownAggregates): count/min/max
  *    grouped by alert attributes — the analog of the API's server-side
  *    `groupBy=` aggregation (the reference requests
  *    `groupBy=cloud.service` and receives grouped counts,
  *    `prisma_report/lambda.py:13,145`). Partial pushdown: each page
  *    returns ≤ |groups| partial rows and Spark merges, so a
  *    count-per-policy ships group tallies, not alert rows.
  *
  * Default build: rows are deterministic synthetic alerts (seeded per
  * page). With `httpBase` (+ `httpToken`) set, each partition reader
  * issues the page POST itself, EXECUTOR-SIDE (round 10, composing
  * with `sources.HttpIngest`'s protocol): the request body carries the
  * page index, the pruned column list (the `fields=` analog), and the
  * pushed equality filters (the server-side filter body), authenticated
  * via `x-redlock-auth` — so N pages transfer over N parallel
  * connections instead of the reference's sequential 1-page/s loop.
  * Distributed-fetch caveat, stated honestly: a pageToken CHAIN is
  * inherently sequential, so parallel page partitions model an
  * offset-capable endpoint (or a driver that pre-walked the cheap
  * token chain); HttpIngest.fetchPages remains the faithful
  * token-chain client. Aggregate pushdown stays on the synthetic
  * transport (this live protocol exposes no server-side groupBy;
  * pushAggregation declines and Spark aggregates the fetched rows).
  * HttpIngestSpec drives this path against the in-process fixture
  * server (the zero-egress boundary).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.v2.AlertPages")
  *     .option("pages", "10").option("pageSize", "100").load()
  *   // live transport:
  *   //   .option("httpBase", "http://127.0.0.1:8080")
  *   //   .option("httpToken", token)
  *   //   .option("httpMaxRetries", "4")      // 429 backoff attempts
  *   //   .option("httpBackoffBaseMs", "100") // 100/200/400 ms schedule
  *   //   .option("httpMinGapMs", "0")        // per-executor request gap
  * }}}
  */
class AlertPages extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AlertPages.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // Spark read options are case-insensitive (.option("pagesize", …) and
    // SQL OPTIONS must not silently fall back to defaults), so re-wrap
    // the raw properties map before lookup.
    val opts = new CaseInsensitiveStringMap(properties)
    // maxRetries counts ATTEMPTS (HttpIngest.sendWithBackoff's loop
    // bound): refuse 0 here, where the user can see which option.
    val maxRetries = opts.getInt("httpMaxRetries", 4)
    require(maxRetries >= 1,
      s"httpMaxRetries must be >= 1 (attempts, not retries-after-first); got $maxRetries")
    val http = Option(opts.get("httpBase")).map(base => LiveHttp(
      base,
      Option(opts.get("httpToken")).getOrElse(""),
      maxRetries,
      opts.getLong("httpBackoffBaseMs", 100L),
      opts.getLong("httpMinGapMs", 0L)))
    new AlertPagesTable(
      opts.getInt("pages", 10),
      opts.getInt("pageSize", 100),
      http)
  }
}

/** Live-transport config carried from read options into each page
  * partition. Executor-side defaults are deliberately SHORT
  * (100/200/400 ms): Spark's blind task retry adds an outer retry
  * layer, so the inner loop only needs to absorb transient 429 bursts
  * without hammering — the long driver-side schedule lives in
  * [[graft.sources.HttpIngest]].
  *
  * `minGapMs` is the per-JVM (per-executor) minimum gap between request
  * STARTS across all partition readers — the reference's R5 throttle
  * (`prisma_report/lambda.py:268`) generalized to a parallel fetcher:
  * cluster-wide request rate = numExecutors / minGap, tunable without
  * serializing pages.
  */
case class LiveHttp(base: String, token: String, maxRetries: Int = 4,
    backoffBaseMs: Long = 100L, minGapMs: Long = 0L)

/** Executor-side HTTP plumbing shared by every live page reader in the
  * JVM: ONE HttpClient (connection reuse across partitions instead of a
  * socket per page), [[graft.sources.HttpIngest.sendWithBackoff]]'s
  * 429-only exponential backoff (R4), and a JVM-wide inter-request
  * throttle gate (R5). The sleeper is injectable so specs assert the
  * exact schedule wall-clock-free (local mode: executor == driver JVM);
  * clusters use the default.
  */
object AlertHttp {
  import java.util.concurrent.atomic.AtomicLong
  lazy val client: java.net.http.HttpClient = java.net.http.HttpClient.newHttpClient()
  @volatile var sleeper: Long => Unit = Thread.sleep

  // next permitted request-start time per endpoint, claimed by CAS so N
  // concurrent partition readers serialize their STARTS (not their
  // transfers) minGapMs apart
  private val gates =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private[v2] def throttle(base: String, minGapMs: Long): Unit = if (minGapMs > 0) {
    val gate = gates.computeIfAbsent(base, _ => new AtomicLong(Long.MinValue))
    val gapNs = minGapMs * 1000000L
    var slot = 0L
    var claimed = false
    while (!claimed) {
      val prev = gate.get()
      val now = System.nanoTime()
      slot = if (prev == Long.MinValue) now else math.max(now, prev + gapNs)
      claimed = gate.compareAndSet(prev, slot)
    }
    val waitMs = (slot - System.nanoTime()) / 1000000L
    if (waitMs > 0) sleeper(waitMs)
  }
}

object AlertPages {
  val schema: StructType = StructType(Seq(
    StructField("alert_id", StringType, nullable = false),
    StructField("policyId", StringType, nullable = false),
    StructField("account", StringType, nullable = false),
    StructField("accountId", StringType, nullable = false),
    StructField("cloudType", StringType, nullable = false)))

  /** Field value of synthetic alert #n — single source of truth for the
    * reader and the pushed-filter evaluation.
    */
  def fieldValue(name: String, n: Long): String = name match {
    case "alert_id"  => s"alert-$n"
    case "policyId"  => s"policy-${n % 7}"
    case "account"   => s"acct-name-${n % 5}"
    case "accountId" => s"acct-${n % 13}"
    case "cloudType" => if (n % 2 == 0) "aws" else "azure"
    case other       => throw new IllegalArgumentException(s"no such field: $other")
  }
}

class AlertPagesTable(pages: Int, pageSize: Int,
    http: Option[LiveHttp] = None) extends Table with SupportsRead {
  override def name(): String = s"alert_pages($pages x $pageSize)"
  override def schema(): StructType = AlertPages.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AlertScanBuilder(pages, pageSize, http)
}

class AlertScanBuilder(pages: Int, pageSize: Int,
    http: Option[LiveHttp] = None)
    extends ScanBuilder with SupportsPushDownLimit
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  private var limit: Int = Int.MaxValue
  private var required: StructType = AlertPages.schema
  private var pushed: Array[Filter] = Array.empty
  // pushed aggregation: group-by column names + (func, column) descriptors
  private var aggGroups: Array[String] = Array.empty
  private var aggFuncs: Array[(String, String)] = Array.empty
  private var aggPushed = false

  override def pushLimit(l: Int): Boolean = { limit = l; true }
  // Pages over-deliver up to pageSize-1 rows beyond the limit, so Spark
  // must keep its Limit operator: partial push, stated explicitly rather
  // than relying on the interface default.
  override def isPartiallyPushed: Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    // After an aggregation push the scan output IS the aggregation
    // schema (already minimal); pruning requests then reference agg
    // column names, not alert fields, and must not clobber it.
    if (!aggPushed) required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (eq, rest) = filters.partition {
      case EqualTo(attr, _: String) => AlertPages.schema.fieldNames.contains(attr)
      case _ => false
    }
    pushed = eq
    rest // equality filters are FULLY applied in the reader; the rest stay Spark-side
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Server-side aggregation — the analog of the reference API's
    * `groupBy=` parameter (`prisma_report/lambda.py:13,145` groups by
    * cloud.service server-side). PARTIAL pushdown: each page partition
    * returns per-group partial rows (count/min/max over its own page,
    * pushed filters already applied) and Spark's final aggregate merges
    * them — exactly map-side partial aggregation, moved into the source
    * so a count-per-policy ships ≤ groups rows per page instead of
    * pageSize alert rows. Complete pushdown is declined (default
    * supportCompletePushDown = false): pages are independent partitions,
    * so globally-merged groups would need a single-partition scan — the
    * sequential pagination loop this connector exists to avoid.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    // the live protocol exposes no server-side groupBy — decline, Spark
    // aggregates the fetched rows (see class doc)
    if (http.isDefined) return false
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case f: NamedReference if f.fieldNames.length == 1 &&
          AlertPages.schema.fieldNames.contains(f.fieldNames()(0)) =>
          Some(f.fieldNames()(0))
        case _ => None
      }
    val groups = aggregation.groupByExpressions.map(fieldOf)
    if (groups.exists(_.isEmpty)) return false
    val funcs = aggregation.aggregateExpressions.map {
      case _: CountStar => Some(("count_star", ""))
      case c: Count if !c.isDistinct => fieldOf(c.column).map(("count", _))
      case m: Min => fieldOf(m.column).map(("min", _))
      case m: Max => fieldOf(m.column).map(("max", _))
      case _ => None
    }
    if (funcs.isEmpty || funcs.exists(_.isEmpty)) return false
    aggGroups = groups.map(_.get)
    aggFuncs = funcs.map(_.get)
    aggPushed = true
    true
  }

  override def build(): Scan = {
    val eqPairs = pushed.collect { case EqualTo(a, v: String) => (a, v) }
    if (aggPushed)
      // a Limit above an Aggregate never maps to a page count (every
      // page contributes partials to every group), so no page reduction
      return new AlertAggScan(pages, pageSize, aggGroups, aggFuncs, eqPairs)
    // Page-count reduction from the limit is only sound when every page
    // yields pageSize rows toward it — i.e. when no filter was pushed.
    // Long arithmetic: (limit + pageSize - 1) overflows Int for limits
    // near Int.MaxValue, which would plan zero pages.
    val neededPages =
      if (limit == Int.MaxValue || pushed.nonEmpty) pages
      else math.min(pages.toLong, (limit.toLong + pageSize - 1) / pageSize).toInt
    new AlertScan(neededPages, pageSize, required, eqPairs, http)
  }
}

class AlertScan(pages: Int, pageSize: Int, required: StructType,
    eqFilters: Array[(String, String)],
    http: Option[LiveHttp] = None) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"AlertScan(pages=$pages, pageSize=$pageSize, " +
      s"columns=[${required.fieldNames.mkString(",")}], " +
      s"pushedFilters=[${eqFilters.map { case (a, v) => s"$a=$v" }.mkString(",")}])"
  override def planInputPartitions(): Array[InputPartition] =
    (0 until pages).map(p =>
      AlertPagePartition(p, pageSize, required.fieldNames, eqFilters,
        http): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory = new AlertPageReaderFactory
}

/** Scan variant for a pushed aggregation: each page partition emits one
  * partial row per group it observed — (group cols..., partial agg
  * vals...) — instead of pageSize alert rows. Spark's final aggregate
  * merges partials (sums counts, re-mins mins), the standard partial-
  * pushdown contract.
  */
class AlertAggScan(pages: Int, pageSize: Int, groups: Array[String],
    funcs: Array[(String, String)], eqFilters: Array[(String, String)])
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(
    groups.map(g => StructField(g, StringType, nullable = false)) ++
      funcs.map {
        case ("count_star", _) => StructField("count_star", LongType, nullable = false)
        case ("count", c)      => StructField(s"count_$c", LongType, nullable = false)
        case (f, c)            => StructField(s"${f}_$c", StringType, nullable = false)
      })
  override def toBatch: Batch = this
  override def description(): String =
    s"AlertAggScan(pages=$pages, pageSize=$pageSize, " +
      s"groupBy=[${groups.mkString(",")}], " +
      s"aggs=[${funcs.map { case (f, c) => s"$f($c)" }.mkString(",")}], " +
      s"pushedFilters=[${eqFilters.map { case (a, v) => s"$a=$v" }.mkString(",")}])"
  override def planInputPartitions(): Array[InputPartition] =
    (0 until pages).map(p =>
      AlertAggPartition(p, pageSize, groups, funcs, eqFilters): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory = new AlertAggReaderFactory
}

case class AlertAggPartition(page: Int, pageSize: Int, groups: Array[String],
    funcs: Array[(String, String)], eqFilters: Array[(String, String)]) extends InputPartition

class AlertAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AlertAggPartition]
    // A live connector issues the page POST with the API's groupBy=
    // parameter here and streams back the grouped response; the offline
    // build aggregates the page's synthetic alerts in one bounded pass
    // (≤ pageSize rows, the page buffer a live reader holds anyway).
    val partials = collection.mutable.LinkedHashMap.empty[Seq[String], Array[Any]]
    val first = p.page.toLong * p.pageSize
    (first until first + p.pageSize).foreach { n =>
      val keep = p.eqFilters.forall { case (a, v) => AlertPages.fieldValue(a, n) == v }
      if (keep) {
        val key = p.groups.toSeq.map(AlertPages.fieldValue(_, n))
        val acc = partials.getOrElseUpdate(key, p.funcs.map {
          case ("count_star", _) | ("count", _) => 0L: Any
          case _ => null: Any
        })
        p.funcs.indices.foreach { i =>
          p.funcs(i) match {
            case ("count_star", _) | ("count", _) =>
              acc(i) = acc(i).asInstanceOf[Long] + 1L
            case ("min", c) =>
              val v = AlertPages.fieldValue(c, n)
              if (acc(i) == null || v < acc(i).asInstanceOf[String]) acc(i) = v
            case ("max", c) =>
              val v = AlertPages.fieldValue(c, n)
              if (acc(i) == null || v > acc(i).asInstanceOf[String]) acc(i) = v
            case (other, _) =>
              throw new IllegalStateException(s"unpushable agg func: $other")
          }
        }
      }
    }
    val rows = partials.iterator.map { case (key, acc) =>
      InternalRow((key.map(UTF8String.fromString(_): Any) ++
        acc.map { case s: String => UTF8String.fromString(s): Any; case v => v }): _*)
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) current = rows.next(); h }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

case class AlertPagePartition(page: Int, pageSize: Int,
    columns: Array[String], eqFilters: Array[(String, String)],
    http: Option[LiveHttp] = None) extends InputPartition

class AlertPageReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[AlertPagePartition]
    p.http match {
      case Some(cfg) => httpReader(p, cfg)
      case None => syntheticReader(p)
    }
  }

  private def syntheticReader(p: AlertPagePartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      private def alertNo: Long = p.page.toLong * p.pageSize + i
      private def matches(n: Long): Boolean =
        p.eqFilters.forall { case (a, v) => AlertPages.fieldValue(a, n) == v }
      override def next(): Boolean = {
        i += 1
        while (i < p.pageSize && !matches(alertNo)) i += 1
        i < p.pageSize
      }
      override def get(): InternalRow =
        InternalRow(p.columns.map(c =>
          UTF8String.fromString(AlertPages.fieldValue(c, alertNo)): Any): _*)
      override def close(): Unit = ()
    }

  /** The live transport: this partition's page POST runs HERE, on the
    * executor — pruned columns as the `fields` selection, pushed
    * equality filters as the server-side filter body, x-redlock-auth
    * header — so N pages transfer in parallel. The server applies
    * fields/filters (the reference API contract), and the reader
    * re-checks nothing: pushed means pushed.
    *
    * Operational behavior (round 11): the send goes through
    * [[AlertHttp]] — ONE HttpClient per executor JVM, 429-only
    * exponential backoff on the short executor schedule, and the
    * JVM-wide min-gap throttle — so a rate-limited endpoint sees
    * backed-off retries instead of Spark's blind task-retry hammer,
    * and N parallel partitions respect a configured aggregate rate.
    */
  private def httpReader(p: AlertPagePartition,
      cfg: LiveHttp): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private lazy val rows: Iterator[InternalRow] = {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        def js(s: String) = mapper.writeValueAsString(s)
        val filters = p.eqFilters
          .map { case (a, v) => s"""{"name": ${js(a)}, "operator": "=", "value": ${js(v)}}""" }
          .mkString("[", ",", "]")
        val body =
          s"""{"page": ${p.page}, "limit": ${p.pageSize},
             | "fields": ${p.columns.map(js).mkString("[", ",", "]")},
             | "filters": $filters}""".stripMargin
        val req = java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"${cfg.base}/alerts_page"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .header("Content-Type", "application/json; charset=UTF-8")
          .header("Accept", "application/json; charset=UTF-8")
          .header("x-redlock-auth", cfg.token)
          .build()
        val resp = graft.sources.HttpIngest.sendWithBackoff(AlertHttp.client, req,
          cfg.maxRetries, cfg.backoffBaseMs, AlertHttp.sleeper,
          () => AlertHttp.throttle(cfg.base, cfg.minGapMs))
        require(resp.statusCode() == 200,
          s"page ${p.page} fetch failed with status ${resp.statusCode()} after retries")
        val items = mapper.readTree(resp.body()).path("items")
        require(items.isArray, s"page ${p.page} response has no items array")
        (0 until items.size()).iterator.map { i =>
          val it = items.get(i)
          InternalRow(p.columns.map { c =>
            val f = it.path(c)
            // any present, non-null value renders as text (the schema is
            // string-typed); only genuinely absent fields are an error —
            // a numeric JSON field must not break the reader
            require(!f.isMissingNode && !f.isNull,
              s"item $i missing requested field $c")
            UTF8String.fromString(f.asText()): Any
          }: _*)
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean = {
        val h = rows.hasNext
        if (h) current = rows.next()
        h
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}
