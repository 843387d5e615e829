package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 paginated-source semantics: parallel page partitions, limit
  * pushdown pruning pages, and composition with the relational layer.
  */
class AlertPagesSourceSpec extends AnyFunSuite with SharedSpark {

  private def read(pages: Int, pageSize: Int) =
    spark.read.format("graft.sources.v2.AlertPages")
      .option("pages", pages.toString).option("pageSize", pageSize.toString).load()

  /** The scan node, descending through the AQE wrapper aggregate plans
    * carry (scan-only plans have no shuffle, so no wrapper).
    */
  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    def find(p: org.apache.spark.sql.execution.SparkPlan): Option[BatchScanExec] = p match {
      case b: BatchScanExec => Some(b)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        find(a.executedPlan)
      case other => other.children.view.flatMap(find(_)).headOption
    }
    find(df.queryExecution.executedPlan).get
  }

  /** Rows the source actually transfers, counted through the public
    * reader API (executing the leaf node alone would skip the unsafe
    * projection the real plan inserts above it).
    */
  private def shippedRows(scan: BatchScanExec): Int = {
    val batch = scan.scan.toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().map { p =>
      val r = factory.createReader(p)
      var c = 0
      while (r.next()) c += 1
      r.close()
      c
    }.sum
  }

  test("reads pages x pageSize rows with one partition per page (parallel pagination)") {
    val df = read(6, 50)
    assert(df.count() == 300)
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.length == 6)
  }

  test("limit pushdown plans only the needed pages") {
    val df = read(10, 100).limit(150)
    assert(df.count() == 150)
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.length == 2,
      s"limit(150) over 100-row pages must plan 2 pages, got ${scan.inputPartitions.length}")
  }

  test("read options are case-insensitive (Spark option contract)") {
    val df = spark.read.format("graft.sources.v2.AlertPages")
      .option("PAGES", "3").option("pagesize", "20").load()
    assert(df.count() == 60, "lowercase/uppercase option keys must not fall back to defaults")
  }

  test("a limit near Int.MaxValue plans all pages, not zero (no Int overflow)") {
    val df = read(5, 100).limit(Int.MaxValue - 1)
    assert(df.count() == 500)
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.length == 5,
      s"overflowed page math planned ${scan.inputPartitions.length} pages")
  }

  test("column pruning reaches the source: reader materializes only requested fields") {
    val df = read(4, 50).select("policyId")
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("policyId"),
      s"scan must read only policyId, got ${scan.scan.readSchema().fieldNames.mkString(",")}")
    assert(df.distinct().count() == 7)
  }

  test("equality filter pushes into the reader (the API filter-body analog)") {
    val df = read(4, 50).filter(col("cloudType") === "aws")
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("cloudType=aws"),
      s"filter must reach the scan: ${scan.scan.description()}")
    assert(df.count() == 100, "even alert numbers are aws: exactly half of 200")
    // result parity with the unpushed evaluation
    val unpushed = read(4, 50).collect().count(_.getAs[String]("cloudType") == "aws")
    assert(unpushed == 100)
  }

  test("a pushed filter disables limit page-reduction (no under-delivery)") {
    // azure rows are the odd half; limit(120) needs 240 raw rows = 3 pages.
    // If the source still cut pages by ceil(120/100)=2, only 100 azure rows
    // would exist to return — an under-delivery bug. With the guard, all
    // pages are planned and Spark's own Limit takes 120.
    val df = read(5, 100).filter(col("cloudType") === "azure").limit(120)
    assert(df.count() == 120,
      "filter+limit must still deliver the full limit when matches exist")
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.inputPartitions.length == 5,
      s"pushed filter must disable page reduction, got ${scan.inputPartitions.length} pages")
  }

  test("non-equality predicates stay Spark-side and still apply") {
    val df = read(3, 40).filter(col("policyId") > "policy-4") // range: not pushed
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().contains("pushedFilters=[]"),
      s"a range predicate must not be claimed as pushed: ${scan.scan.description()}")
    assert(df.collect().map(_.getAs[String]("policyId")).toSet == Set("policy-5", "policy-6"))
  }

  test("source rows feed the standard aggregation path") {
    val perPolicy = read(4, 25)
      .groupBy("policyId").agg(count(lit(1)).as("n"))
    assert(perPolicy.count() == 7)
    assert(perPolicy.agg(sum("n")).head().getLong(0) == 100)
  }

  test("grouped count pushes into the source: partials shipped, result equals raw scan") {
    val agg = read(6, 50).groupBy("policyId").agg(count(lit(1)).as("n"))
    val scan = scanOf(agg)
    assert(scan.scan.description().contains("groupBy=[policyId]"),
      s"aggregation must reach the scan: ${scan.scan.description()}")
    // pre-aggregated transfer: each page ships ≤ 7 group partials, not 50 alerts
    assert(shippedRows(scan) == 6 * 7,
      s"expected 42 partial rows (6 pages x 7 groups), got ${shippedRows(scan)}")
    // parity with the unpushed computation over raw collected rows
    val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = read(6, 50).collect().toSeq
      .groupBy(_.getAs[String]("policyId")).map { case (k, v) => k -> v.length.toLong }
    assert(got == raw)
  }

  test("min/max push with the group-by and match the raw scan") {
    val agg = read(4, 50).groupBy("cloudType")
      .agg(min("account").as("mn"), max("accountId").as("mx"), count(lit(1)).as("n"))
    val scan = scanOf(agg)
    assert(scan.scan.description().contains("min(account)") &&
      scan.scan.description().contains("max(accountId)"),
      s"min/max must reach the scan: ${scan.scan.description()}")
    val got = agg.collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    val raw = read(4, 50).collect().toSeq.groupBy(_.getAs[String]("cloudType"))
      .map { case (k, v) =>
        k -> ((v.map(_.getAs[String]("account")).min,
          v.map(_.getAs[String]("accountId")).max, v.length.toLong))
      }
    assert(got == raw)
  }

  test("pushed filter composes with pushed aggregation") {
    val agg = read(4, 50).filter(col("cloudType") === "aws")
      .groupBy("policyId").agg(count(lit(1)).as("n"))
    val scan = scanOf(agg)
    assert(scan.scan.description().contains("cloudType=aws") &&
      scan.scan.description().contains("groupBy=[policyId]"),
      s"filter AND aggregation must both reach the scan: ${scan.scan.description()}")
    assert(agg.agg(sum("n")).head().getLong(0) == 100,
      "aggregation must run over the FILTERED rows (the aws half of 200)")
  }

  test("an unpushable aggregate falls back to the row scan and stays correct") {
    val agg = read(3, 30).groupBy("policyId").agg(countDistinct("account").as("d"))
    val scan = scanOf(agg)
    assert(!scan.scan.description().contains("AlertAggScan"),
      s"count(distinct) must not be claimed as pushed: ${scan.scan.description()}")
    val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val raw = read(3, 30).collect().toSeq.groupBy(_.getAs[String]("policyId"))
      .map { case (k, v) => k -> v.map(_.getAs[String]("account")).distinct.length.toLong }
    assert(got == raw)
  }

  test("httpMaxRetries < 1 is refused at option-parse time with a clear error (round 12)") {
    // maxRetries bounds sendWithBackoff's ATTEMPT loop: surface a 0
    // where the user can see which option, not deep in the reader
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft.sources.v2.AlertPages")
        .option("pages", "1").option("pageSize", "5")
        .option("httpMaxRetries", "0").load().collect()
    }
    assert(e.getMessage.contains("httpMaxRetries"), e.getMessage)
  }

  test("a global count (no grouping) ships one partial row per page") {
    val df = read(8, 25)
    assert(df.count() == 200)
    // the count's own plan: the scan under the Aggregate carries the push
    val cnt = df.groupBy().agg(count(lit(1)).as("n"))
    val scan = scanOf(cnt)
    assert(scan.scan.description().contains("aggs=[count_star()]") ||
      scan.scan.description().contains("aggs=[count()]"),
      s"global count must reach the scan: ${scan.scan.description()}")
    assert(shippedRows(scan) == 8, "one partial per page")
    assert(cnt.head().getLong(0) == 200)
  }
}
