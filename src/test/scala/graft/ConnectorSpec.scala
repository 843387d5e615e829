package graft

import java.nio.file.Files

import graft.sources.PrismaConnector
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Connector-layer semantics vs the reference pipeline (SURVEY.md §2a),
  * including the §7.5 bug fixes and the FIXTURES.md §B edge cases:
  * empty payloads (R21), missing metric fields (R12 NaN-fill path),
  * duplicate account names with distinct ids (bug B3).
  */
class ConnectorSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** Every file under `dir`: relative path → bytes. */
  private def tree(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  private val invPayload =
    """{"timestamp": 1712500000000, "requestedTimestamp": 1712500000000,
      | "summary": {"x": 1},
      | "groupedAggregates": [
      |  {"serviceName": "Amazon EC2", "criticalSeverityFailedResources": 1,
      |   "highSeverityFailedResources": 2, "passedResources": 10,
      |   "failedResources": 3, "totalResources": 13},
      |  {"serviceName": "Amazon S3", "passedResources": 5,
      |   "failedResources": 0, "totalResources": 5}
      | ]}""".stripMargin.replace("\n", " ")

  test("inventory report: normalize + enrich + fill (R6/R7/R8/R9)") {
    val out = PrismaConnector.inventoryReport(spark, Seq(invPayload).toDF("json"))
    assert(out.count() == 2)
    val ec2 = out.filter(col("serviceName") === "Amazon EC2").head()
    assert(ec2.getAs[Long]("criticalSeverityFailedResources") == 1)
    // missing metric fields fill to 0, not null (R9)
    val s3 = out.filter(col("serviceName") === "Amazon S3").head()
    assert(s3.getAs[Long]("criticalSeverityFailedResources") == 0)
    assert(out.filter(col("timestamp").isNull).count() == 0)
    // timestamp derived from payload epoch-millis, formatted (R7)
    assert(ec2.getAs[String]("timestamp") == "2024-04-07 14:26:40")
    assert(ec2.getAs[String]("transaction_date") == "2024-04-07")
  }

  test("empty groupedAggregates → 0-row report with full schema (R21)") {
    val empty =
      """{"timestamp": 1712500000000, "requestedTimestamp": 1712500000000,
        | "groupedAggregates": []}""".stripMargin.replace("\n", " ")
    val out = PrismaConnector.inventoryReport(spark, Seq(empty).toDF("json"))
    assert(out.count() == 0, "empty groupedAggregates must yield zero report rows")
    assert(out.columns.contains("timestamp") && out.columns.contains("transaction_date"))
  }

  test("resource-type fan-out carries resourceIdentity lineage (R11)") {
    val payload =
      """{"timestamp": 1712500000000, "requestedTimestamp": 1712500000000,
        | "groupedAggregates": [
        |  {"resourceTypeName": "EC2 Instance", "failedResources": 1,
        |   "passedResources": 2, "totalResources": 3}]}"""
        .stripMargin.replace("\n", " ")
    val out = PrismaConnector.resourceTypeReport(spark,
      Seq(("Amazon EC2", payload), ("Amazon EKS", payload)).toDF("service", "json"))
    assert(out.count() == 2)
    assert(out.select("resourceIdentity").as[String].collect().sorted.toSeq ==
      Seq("Amazon EC2", "Amazon EKS"))
  }

  test("alert report: join + per-accountId agg + projection (R16/R17/R19/R20, bug B3 fixed)") {
    val policies =
      """{"policies": [
        | {"policyId": "p1", "policyName": "Public bucket", "policyType": "config",
        |  "severity": "high", "alertCount": 3},
        | {"policyId": "p2", "policyName": "Open SG", "policyType": "network",
        |  "severity": "critical", "alertCount": 1}]}""".stripMargin.replace("\n", " ")
    // two distinct accounts SHARING a display name (reference bug B3
    // would merge them); one alert for p2; one empty page (R21)
    def alert(id: String, acct: String, acctId: String) =
      s"""{"id": "$id", "resource": {"account": "$acct", "accountId": "$acctId",
         | "cloudType": "aws", "cloudAccountGroups": ["g1", "g2"]}}""".stripMargin.replace("\n", " ")
    // a5: empty cloudAccountGroups — must yield NULL group, not an ANSI
    // element_at index error
    val emptyGroupsAlert =
      """{"id": "a5", "resource": {"account": "stage", "accountId": "444",
        | "cloudType": "gcp", "cloudAccountGroups": []}}""".stripMargin.replace("\n", " ")
    val pages = Seq(
      ("p1", s"""{"policyId": "p1", "items": [${alert("a1", "prod", "111")},
                |${alert("a2", "prod", "111")}, ${alert("a3", "prod", "222")}],
                | "nextPageToken": null}""".stripMargin.replace("\n", " ")),
      ("p2", s"""{"policyId": "p2", "items": [${alert("a4", "dev", "333")}]}"""),
      ("p2", s"""{"policyId": "p2", "items": [$emptyGroupsAlert]}"""),
      ("p2", """{"policyId": "p2", "items": []}"""))
      .toDF("pid", "json").select("json")
    val out = PrismaConnector.alertReport(spark, Seq(policies).toDF("json"), pages)
    assert(out.columns.toSeq == Seq("Policy Name", "Policy Type", "Policy Severity",
      "Cloud Type", "Cloud Account Name", "Cloud Account Id", "Cloud Account Group",
      "Status", "Failed Resource Count"))
    val rows = out.orderBy(col("Cloud Account Id")).collect()
    assert(rows.length == 4) // 111 and 222 stay distinct despite same name
    val r444 = rows.find(_.getAs[String]("Cloud Account Id") == "444").get
    assert(r444.getAs[String]("Cloud Account Group") == null,
      "empty cloudAccountGroups must project as NULL")
    val r111 = rows.find(_.getAs[String]("Cloud Account Id") == "111").get
    assert(r111.getAs[Long]("Failed Resource Count") == 2)
    assert(r111.getAs[String]("Policy Severity") == "HIGH") // R20 upper
    assert(r111.getAs[String]("Cloud Type") == "AWS")
    assert(r111.getAs[String]("Cloud Account Group") == "g1") // R18 element 1
    assert(rows.forall(_.getAs[String]("Status") == "fail"))
  }

  test("alert report carries inventory-derived timestamp columns when the feed is given") {
    val policies =
      """{"policies": [
        | {"policyId": "p1", "policyName": "Public bucket", "policyType": "config",
        |  "severity": "high", "alertCount": 1}]}""".stripMargin.replace("\n", " ")
    val pages = Seq(
      """{"policyId": "p1", "items": [{"id": "a1", "resource": {"account": "prod",
        | "accountId": "111", "cloudType": "aws", "cloudAccountGroups": ["g1"]}}]}"""
        .stripMargin.replace("\n", " ")).toDF("json")
    val out = PrismaConnector.alertReport(spark, Seq(policies).toDF("json"), pages,
      inventoryPayload = Some(Seq(invPayload).toDF("json")))
    assert(out.columns.takeRight(2).toSeq == Seq("timestamp", "requestedTimestamp"),
      s"expected trailing timestamp columns, got ${out.columns.toSeq}")
    val r = out.head()
    // derived from the payload epoch-millis (B2 semantics), not wall clock
    assert(r.getAs[String]("timestamp") == "2024-04-07 14:26:40")
    assert(r.getAs[String]("requestedTimestamp") == "2024-04-07 14:26:40")
  }

  test("end-to-end pipeline (R25): three reports published to partitioned CSV") {
    import graft.sources.ReportPipeline.Fixtures
    val out = Files.createTempDirectory("graft_pipeline").toString
    PrismaConnector.runReportPipelineLiteral(spark,
      Fixtures.inventory.toDF("json"), Fixtures.resourceType.toDF("service", "json"),
      Fixtures.policies.toDF("json"), Fixtures.alertPages.toDF("json"), out)
    // one payload-derived date folder holding all three reports
    val folder = new java.io.File(s"$out/2024/April/7-April-2024")
    def dataRows(r: String) =
      scala.io.Source.fromFile(new java.io.File(folder, s"$r.csv")).getLines().size - 1
    assert(dataRows("Inventory_Report") == 2)
    assert(dataRows("Inventory_Resource_Type_Report") == 3)
    assert(dataRows("Alert_Report") == 3) // accounts 111, 222, 333
    assert(new java.io.File(s"$out/_SUCCESS").isFile)
  }

  test("QUOTE_NONNUMERIC sink: strings quoted, numerics bare, quotes doubled (R22 exact dialect)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_qnn").toString
    val report = Seq(
      ("svc one", 3L, 1.5, "has \"quotes\" inside", "2024-03-01"),
      ("svc,two", 0L, 0.0, "plain", "2024-03-01"))
      .toDF("name", "n_failed", "ratio", "note", "transaction_date")
    PrismaConnector.writeReportsLiteralLayout(Seq(report -> "report"), dir)
    val file = s"$dir/2024/March/1-March-2024/report.csv"
    val lines = scala.io.Source.fromFile(file).getLines().toList
    // header first, all names quoted (header cells are strings)
    assert(lines.head == """"name","n_failed","ratio","note","transaction_date"""")
    assert(lines.length == 3)
    // pandas QUOTE_NONNUMERIC byte-level dialect: strings quoted (incl.
    // embedded delimiter), quotes escaped by doubling, numbers bare
    assert(lines.contains(""""svc one",3,1.5,"has ""quotes"" inside","2024-03-01""""),
      s"dialect mismatch: $lines")
    assert(lines.contains(""""svc,two",0,0.0,"plain","2024-03-01""""),
      s"dialect mismatch: $lines")
    // and the dialect stays machine-readable: a schema'd read recovers
    // the exact values
    val back = spark.read.option("header", "true")
      .schema("name STRING, n_failed BIGINT, ratio DOUBLE, note STRING, transaction_date STRING")
      .csv(file)
    assert(back.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("svc one", 3L), ("svc,two", 0L)))
  }

  test("literal date-folder layout: {yyyy}/{MonthName}/{d-MonthName-yyyy}/{file}.csv, one header'd file per date (R23 byte-compat option)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_lit").toString
    // two dates; one date's rows split across TWO input partitions —
    // the layout contract is still ONE csv object per date
    val report = Seq(
      ("svc one", 3L, "2024-03-05"),
      ("svc two", 1L, "2024-03-05"),
      ("svc three", 0L, "2024-12-31"))
      .toDF("name", "n_failed", "transaction_date")
      .repartition(2)
    PrismaConnector.writeReportsLiteralLayout(Seq(report -> "alert_report"), dir)
    val march = new java.io.File(s"$dir/2024/March/5-March-2024/alert_report.csv")
    val dec = new java.io.File(s"$dir/2024/December/31-December-2024/alert_report.csv")
    assert(march.isFile && dec.isFile,
      s"literal tree missing: ${new java.io.File(dir).listFiles().map(_.getName).toSeq}")
    // each file is a complete CSV: header FIRST, then that date's rows
    // in the exact QUOTE_NONNUMERIC dialect — INCLUDING transaction_date
    // as a quoted column (the reference assigns it as a strftime string
    // and to_csv writes it; round-13 review: consumers of the reference
    // files expect the column in both header and rows)
    val mLines = scala.io.Source.fromFile(march).getLines().toList
    assert(mLines.head == "\"name\",\"n_failed\",\"transaction_date\"",
      s"header must lead: $mLines")
    assert(mLines.tail.sorted == List(
      "\"svc one\",3,\"2024-03-05\"",
      "\"svc two\",1,\"2024-03-05\""), mLines.toString)
    val dLines = scala.io.Source.fromFile(dec).getLines().toList
    assert(dLines == List("\"name\",\"n_failed\",\"transaction_date\"",
      "\"svc three\",0,\"2024-12-31\""), dLines.toString)
    // no staging or prev sibling of root (round-13 stage-then-swap)
    // survives, commit marker present
    val root = new java.io.File(dir)
    val leftovers = root.getParentFile.listFiles().map(_.getName)
      .filter(_.startsWith(root.getName + "__"))
    assert(leftovers.isEmpty, s"no sibling may survive a publish: ${leftovers.toSeq}")
    assert(new java.io.File(s"$dir/_SUCCESS").isFile)
    // rerun = overwrite (round-12 review): a second publish with only
    // ONE of the dates must not fail renaming onto the existing csv
    // and must not leave the stale December date under fresh _SUCCESS
    val rerun = Seq(("svc four", 9L, "2024-03-05"))
      .toDF("name", "n_failed", "transaction_date")
    // a numbered staging tree an older per-report publisher left after a
    // crash is swept with the rest
    assert(new java.io.File(s"${dir}__staging_literal_1/transaction_date=2024-01-01").mkdirs())
    PrismaConnector.writeReportsLiteralLayout(Seq(rerun -> "alert_report"), dir)
    val m2 = scala.io.Source.fromFile(
      s"$dir/2024/March/5-March-2024/alert_report.csv").getLines().toList
    assert(m2 == List("\"name\",\"n_failed\",\"transaction_date\"",
      "\"svc four\",9,\"2024-03-05\""), m2.toString)
    assert(!new java.io.File(s"$dir/2024/December").exists(),
      "stale dates from the previous run must not survive an overwrite rerun")
    // the swap's prev-tree and every staging tree are dropped after a
    // successful publish
    assert(root.getParentFile.listFiles().map(_.getName)
      .forall(!_.startsWith(root.getName + "__")))
  }

  test("composed R25 flow: inventory → fan-out → alert, three CSVs in ONE literal date folder, rollback-equivalent rerun (round 13)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_pipeline").toString
    val rtPayload =
      """{"timestamp": 1712500000000, "requestedTimestamp": 1712500000000,
        | "groupedAggregates": [
        |  {"resourceTypeName": "EC2 Instance", "failedResources": 1,
        |   "passedResources": 2, "totalResources": 3}]}"""
        .stripMargin.replace("\n", " ")
    val policies =
      """{"policies": [
        | {"policyId": "p1", "policyName": "Public bucket", "policyType": "config",
        |  "severity": "high", "alertCount": 3}]}""".stripMargin.replace("\n", " ")
    val pages = Seq(
      """{"policyId": "p1", "items": [{"id": "a1", "resource": {"account": "prod",
        | "accountId": "111", "cloudType": "aws",
        | "cloudAccountGroups": ["g1"]}}]}""".stripMargin.replace("\n", " "))
      .toDF("json")
    PrismaConnector.runReportPipelineLiteral(spark,
      Seq(invPayload).toDF("json"),
      Seq(("Amazon EC2", rtPayload)).toDF("service", "json"),
      Seq(policies).toDF("json"), pages, dir)
    // all three reports share the payload-derived 2024-04-07 folder,
    // with the reference's exact file names
    val folder = new java.io.File(s"$dir/2024/April/7-April-2024")
    // ignore ChecksumFileSystem's local-only .crc sidecars
    def visible() = folder.listFiles().filterNot(_.getName.startsWith("."))
    assert(visible().map(_.getName).sorted.toSeq == Seq(
      "Alert_Report.csv", "Inventory_Report.csv",
      "Inventory_Resource_Type_Report.csv"),
      s"composed tree: ${visible().map(_.getName).toSeq}")
    assert(new java.io.File(s"$dir/_SUCCESS").isFile)
    // each file is a complete header'd QUOTE_NONNUMERIC csv
    val alertLines = scala.io.Source.fromFile(
      s"$dir/2024/April/7-April-2024/Alert_Report.csv").getLines().toList
    assert(alertLines.head.startsWith("\"Policy Name\",\"Policy Type\""),
      s"alert header: ${alertLines.head}")
    assert(alertLines.length == 2 && alertLines(1).contains("\"Public bucket\""))
    val invLines = scala.io.Source.fromFile(
      s"$dir/2024/April/7-April-2024/Inventory_Report.csv").getLines().toList
    assert(invLines.length == 3, s"inventory rows: $invLines") // header + EC2 + S3
    // rollback-equivalent rerun: a second composed run that FAILS (an
    // inventory payload with no timestamp → null transaction_date on
    // every derived report → the pre-IO date guard fires) must leave
    // the first tree byte-identical, _SUCCESS intact — the structural
    // form of the reference's rollback() contract
    val before = visible().map(f =>
      f.getName -> scala.io.Source.fromFile(f).getLines().toList).toMap
    val badInv =
      """{"summary": {"x": 1}, "groupedAggregates": [
        |  {"serviceName": "Amazon EC2", "failedResources": 3,
        |   "passedResources": 10, "totalResources": 13}]}"""
        .stripMargin.replace("\n", " ")
    intercept[Exception](PrismaConnector.runReportPipelineLiteral(spark,
      Seq(badInv).toDF("json"),
      Seq(("Amazon EC2", rtPayload)).toDF("service", "json"),
      Seq(policies).toDF("json"), pages, dir))
    val after = visible().map(f =>
      f.getName -> scala.io.Source.fromFile(f).getLines().toList).toMap
    assert(after == before, "failed composed rerun must not touch the committed tree")
    assert(new java.io.File(s"$dir/_SUCCESS").isFile)
  }

  test("literal layout keeps the previously committed tree intact when the write job fails mid-run (stage-then-swap)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_lit_swap").toString
    val first = Seq(("svc one", 3L, "2024-03-05"))
      .toDF("name", "n_failed", "transaction_date")
    PrismaConnector.writeReportsLiteralLayout(Seq(first -> "alert_report"), dir)
    assert(new java.io.File(s"$dir/_SUCCESS").isFile)
    // second publish passes the date guard but fails DURING the Spark
    // staging write (raise_error fires row-side). Round-13 review: the
    // old delete-root-then-stage order left external consumers an EMPTY
    // root for the whole failed job; stage-then-swap must leave the
    // previous committed tree byte-identical.
    val boom = Seq(("ok", 1L, "2024-03-06"), ("boom", 2L, "2024-03-06"))
      .toDF("name", "n_failed", "transaction_date")
      .withColumn("name", when(col("name") === "boom",
        raise_error(lit("mid-job failure"))).otherwise(col("name")))
    intercept[Exception](
      PrismaConnector.writeReportsLiteralLayout(Seq(boom -> "alert_report"), dir))
    val m = scala.io.Source.fromFile(
      s"$dir/2024/March/5-March-2024/alert_report.csv").getLines().toList
    assert(m == List("\"name\",\"n_failed\",\"transaction_date\"",
      "\"svc one\",3,\"2024-03-05\""),
      s"previous tree must survive a failed rerun: $m")
    assert(new java.io.File(s"$dir/_SUCCESS").isFile,
      "previous commit marker must survive a failed rerun")
  }

  test("literal layout crash recovery: a prev tree with no committed root is restored, not deleted (round 13)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_lit_rec").toString
    val good = Seq(("svc one", 3L, "2024-03-05"))
      .toDF("name", "n_failed", "transaction_date")
    PrismaConnector.writeReportsLiteralLayout(Seq(good -> "alert_report"), dir)
    // simulate a crash mid-swap: the publisher had renamed the
    // committed tree aside and died before rebuilding root + _SUCCESS
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"${dir}__prev_literal")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/2024")) // partial, no _SUCCESS
    // next run must RESTORE prev (the only good copy) before publishing
    // — the old code deleted it as a leftover; a failure after that
    // delete lost the last committed data permanently
    val next = Seq(("svc two", 5L, "2024-03-06"))
      .toDF("name", "n_failed", "transaction_date")
    PrismaConnector.writeReportsLiteralLayout(Seq(next -> "alert_report"), dir)
    val m = scala.io.Source.fromFile(
      s"$dir/2024/March/6-March-2024/alert_report.csv").getLines().toList
    assert(m == List("\"name\",\"n_failed\",\"transaction_date\"",
      "\"svc two\",5,\"2024-03-06\""), m.toString)
    assert(new java.io.File(s"$dir/_SUCCESS").isFile)
    assert(!new java.io.File(s"${dir}__prev_literal").exists())
    // and the recovery path ALONE (a failing rerun after the crash)
    // leaves the restored tree committed: crash again, then run a
    // GUARD-failing publish — the restored tree must be back at root
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"${dir}__prev_literal")))
    val bad = Seq(("x", Option.empty[String])).toDF("name", "transaction_date")
    intercept[IllegalArgumentException](
      PrismaConnector.writeReportsLiteralLayout(Seq(bad -> "report"), dir))
    val restored = scala.io.Source.fromFile(
      s"$dir/2024/March/6-March-2024/alert_report.csv").getLines().toList
    assert(restored.last == "\"svc two\",5,\"2024-03-06\"",
      s"restored tree must survive a failing rerun: $restored")
    assert(new java.io.File(s"$dir/_SUCCESS").isFile)
  }

  test("literal layout refuses null / non-ISO transaction_date values with a clear error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_lit_bad").toString
    val report = Seq(("a", Some("2024-03-05")), ("b", None))
      .toDF("name", "transaction_date")
    val e = intercept[IllegalArgumentException](
      PrismaConnector.writeReportsLiteralLayout(Seq(report -> "report"), dir))
    assert(e.getMessage.contains("yyyy-MM-dd"), e.getMessage)
    // nothing half-published
    assert(!new java.io.File(s"$dir/_SUCCESS").exists())
    // a NON-ISO string must hit the SAME clear require, not an ANSI
    // CANNOT_PARSE from inside the guard aggregate (round-13 review:
    // Spark 4 runs ANSI-on, so the guard uses try_to_date)
    val nonIso = Seq(("a", "05/03/2024"), ("b", "2024-03-05"))
      .toDF("name", "transaction_date")
    val e2 = intercept[IllegalArgumentException](
      PrismaConnector.writeReportsLiteralLayout(Seq(nonIso -> "report"), dir))
    assert(e2.getMessage.contains("yyyy-MM-dd"), e2.getMessage)
    assert(!new java.io.File(s"$dir/_SUCCESS").exists())
    // several reports validate in one action, and the message still
    // names the report at fault and its own bad-row count
    val parent = Files.createTempDirectory("graft_report_lit_bad2")
    val clean = Seq(("a", "2024-03-05"), ("b", "2024-03-05")).toDF("name", "transaction_date")
    val second = Seq(("c", Some("2024-03-05")), ("d", None), ("e", None))
      .toDF("name", "transaction_date")
    val e3 = intercept[IllegalArgumentException](PrismaConnector.writeReportsLiteralLayout(
      Seq(clean -> "Inventory_Report", second -> "Alert_Report"),
      parent.resolve("reports").toString))
    assert(e3.getMessage.contains("2 rows of 'Alert_Report'"), e3.getMessage)
    assert(parent.toFile.listFiles().isEmpty,
      s"a refused publish must write nothing: ${parent.toFile.listFiles().toSeq}")
  }

  test("literal layout refuses a report without transaction_date before any IO (wall clock never consulted)") {
    val parent = Files.createTempDirectory("graft_report_lit_undated")
    val dir = parent.resolve("reports").toString
    val dated = Seq(("svc one", 3L, "2024-03-05")).toDF("name", "n_failed", "transaction_date")
    val undated = Seq(("svc two", 1L)).toDF("name", "n_failed")
    val e = intercept[IllegalArgumentException](PrismaConnector.writeReportsLiteralLayout(
      Seq(dated -> "Inventory_Report", undated -> "Alert_Report"), dir))
    assert(e.getMessage.contains("transaction_date") && e.getMessage.contains("Alert_Report"),
      e.getMessage)
    // no root, no staging sibling, no folder stamped with today's date
    assert(parent.toFile.listFiles().isEmpty,
      s"a refused publish must write nothing: ${parent.toFile.listFiles().toSeq}")
  }

  test("multi-report publish: a later report's executor-side failure keeps the committed tree and cleans every staging") {
    val dir = Files.createTempDirectory("graft_report_lit_multi").toString
    val alerts = Seq(("acct", 1L, "2024-03-05")).toDF("account", "n", "transaction_date")
    PrismaConnector.writeReportsLiteralLayout(Seq(
      Seq(("svc one", 3L, "2024-03-05")).toDF("name", "n_failed", "transaction_date") ->
        "Inventory_Report",
      alerts -> "Alert_Report"), dir)
    val before = tree(dir)
    assert(before.contains("_SUCCESS"))
    // report one stages a new tree, then report two fails inside an
    // executor task: spark.range runs as real tasks, while a raise_error
    // over a local Seq can fire on the driver while planning, before
    // report one's staging is left to clean up
    val boom = spark.range(0, 4, 1, 2).select(
      when(col("id") === 3, raise_error(lit("executor-side failure")))
        .otherwise(concat(lit("acct-"), col("id").cast("string"))).as("account"),
      col("id").as("n"), lit("2024-03-06").as("transaction_date"))
    val e = intercept[Exception](PrismaConnector.writeReportsLiteralLayout(Seq(
      Seq(("svc two", 5L, "2024-03-06")).toDF("name", "n_failed", "transaction_date") ->
        "Inventory_Report",
      boom -> "Alert_Report"), dir))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("executor-side failure")), msgs.toString)
    assert(tree(dir) == before, "a failed publish must leave the committed tree byte-identical")
    val root = new java.io.File(dir)
    val leftovers = root.getParentFile.listFiles().map(_.getName)
      .filter(_.startsWith(root.getName + "__"))
    assert(leftovers.isEmpty, s"staging siblings must not survive a failed publish: ${leftovers.toSeq}")
  }

  test("QUOTE_NONNUMERIC sink: null numeric cells render as empty fields, never drop (column counts fixed)") {
    // concat_ws silently skips null arguments — an uncoalesced null
    // BIGINT/DOUBLE cell would delete its field and shift every later
    // cell left. pandas QUOTE_NONNUMERIC writes an empty bare field for
    // NaN/None; pin that exact byte shape on a row with null numerics
    // in the middle AND at the end.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_qnn_null").toString
    val report = Seq(
      ("a", Some(1L), Some(2.5), "x", "2024-03-01"),
      ("b", None, Some(0.5), "y", "2024-03-01"),
      ("c", Some(7L), None, "z", "2024-03-01"))
      .toDF("name", "n", "ratio", "note", "transaction_date")
    PrismaConnector.writeReportsLiteralLayout(Seq(report -> "report"), dir)
    val file = s"$dir/2024/March/1-March-2024/report.csv"
    val lines = scala.io.Source.fromFile(file).getLines().toList
    assert(lines.tail.sorted == Seq(
      "\"a\",1,2.5,\"x\",\"2024-03-01\"",
      "\"b\",,0.5,\"y\",\"2024-03-01\"",
      "\"c\",7,,\"z\",\"2024-03-01\""), s"null numerics must be empty fields: $lines")
    // every row still parses to the full 5-column schema with nulls intact
    val back = spark.read.option("header", "true")
      .schema("name STRING, n BIGINT, ratio DOUBLE, note STRING, transaction_date STRING")
      .csv(file)
    val rows = back.collect().map(r =>
      (r.getString(0), Option(r.get(1)), Option(r.get(2)), r.getString(3))).toSet
    assert(rows == Set(
      ("a", Some(1L), Some(2.5), "x"),
      ("b", None, Some(0.5), "y"),
      ("c", Some(7L), None, "z")))
  }

  test("literal layout: an empty report publishes a header-only CSV in every date folder (round 14)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_lit_empty").toString
    val full = Seq(("svc one", 3L, "2024-03-05"))
      .toDF("name", "n_failed", "transaction_date")
    val empty = full.filter(col("name") === "nope")
      .select(col("name").as("policy"), col("n_failed"), col("transaction_date"))
    PrismaConnector.writeReportsLiteralLayout(
      Seq(full -> "Inventory_Report", empty -> "Alert_Report"), dir)
    // the reference's to_csv always uploads a header-only file — the
    // empty report must appear in the full report's date folder, not
    // silently vanish under a fresh _SUCCESS
    val folder = s"$dir/2024/March/5-March-2024"
    val alert = scala.io.Source.fromFile(s"$folder/Alert_Report.csv").getLines().toList
    assert(alert == List("\"policy\",\"n_failed\",\"transaction_date\""),
      s"empty report must publish header-only: $alert")
    val inv = scala.io.Source.fromFile(s"$folder/Inventory_Report.csv").getLines().toList
    assert(inv == List("\"name\",\"n_failed\",\"transaction_date\"",
      "\"svc one\",3,\"2024-03-05\""), inv.toString)
    assert(new java.io.File(s"$dir/_SUCCESS").isFile)
    // a report with rows on only SOME of the publish's dates still
    // lands a header-only file on the others (all-files-per-folder)
    val two = Seq(("svc a", 1L, "2024-03-05"), ("svc b", 2L, "2024-03-06"))
      .toDF("name", "n_failed", "transaction_date")
    PrismaConnector.writeReportsLiteralLayout(
      Seq(two -> "Inventory_Report", full -> "Alert_Report"), dir)
    val mar6Alert = scala.io.Source.fromFile(
      s"$dir/2024/March/6-March-2024/Alert_Report.csv").getLines().toList
    assert(mar6Alert == List("\"name\",\"n_failed\",\"transaction_date\""),
      s"date folders must carry every file name: $mar6Alert")
    // EVERY report empty → refused (payload-derived dates: there is no
    // date anywhere to anchor a folder; wall clock is never consulted)
    val e = intercept[IllegalArgumentException](
      PrismaConnector.writeReportsLiteralLayout(Seq(empty -> "Alert_Report"),
        Files.createTempDirectory("graft_report_lit_allempty").toString))
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("composed R25 flow pins the INVENTORY report to the anchor date too (midnight boundary, round 14)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_report_pin_inv").toString
    // two inventory payloads straddling midnight UTC: 2024-04-07
    // 23:59:50 and 2024-04-08 00:00:10 — unpinned, Inventory_Report
    // would split across two date folders while the other two reports
    // pin to min = 2024-04-07
    def inv(tsMs: Long, svc: String) =
      s"""{"timestamp": $tsMs, "requestedTimestamp": $tsMs,
         | "groupedAggregates": [
         |  {"serviceName": "$svc", "failedResources": 1,
         |   "passedResources": 2, "totalResources": 3}]}"""
        .stripMargin.replace("\n", " ")
    val invPayloads = Seq(
      inv(1712534390000L, "Amazon EC2"),   // 2024-04-07 23:59:50 UTC
      inv(1712534410000L, "Amazon S3"))    // 2024-04-08 00:00:10 UTC
      .toDF("json")
    val rtPayload =
      """{"timestamp": 1712534410000, "requestedTimestamp": 1712534410000,
        | "groupedAggregates": [
        |  {"resourceTypeName": "EC2 Instance", "failedResources": 1,
        |   "passedResources": 2, "totalResources": 3}]}"""
        .stripMargin.replace("\n", " ")
    val policies =
      """{"policies": [
        | {"policyId": "p1", "policyName": "Public bucket", "policyType": "config",
        |  "severity": "high", "alertCount": 3}]}""".stripMargin.replace("\n", " ")
    val pages = Seq(
      """{"policyId": "p1", "items": [{"id": "a1", "resource": {"account": "prod",
        | "accountId": "111", "cloudType": "aws",
        | "cloudAccountGroups": ["g1"]}}]}""".stripMargin.replace("\n", " "))
      .toDF("json")
    PrismaConnector.runReportPipelineLiteral(spark, invPayloads,
      Seq(("Amazon EC2", rtPayload)).toDF("service", "json"),
      Seq(policies).toDF("json"), pages, dir)
    // ONE date folder (the anchor), all three files, both inventory
    // rows inside it with the anchor date rendered in their cells
    assert(!new java.io.File(s"$dir/2024/April/8-April-2024").exists(),
      "inventory rows must not split into a second date folder")
    val folder = new java.io.File(s"$dir/2024/April/7-April-2024")
    assert(folder.listFiles().filterNot(_.getName.startsWith("."))
      .map(_.getName).sorted.toSeq == Seq("Alert_Report.csv",
        "Inventory_Report.csv", "Inventory_Resource_Type_Report.csv"))
    val invLines = scala.io.Source.fromFile(
      s"$dir/2024/April/7-April-2024/Inventory_Report.csv").getLines().toList
    assert(invLines.length == 3, s"both inventory rows must land: $invLines")
    assert(invLines.tail.forall(_.endsWith("\"2024-04-07\"")),
      s"inventory cells must carry the anchor date: $invLines")
  }

  /** The composed flow's fixed side inputs: one resource-type payload,
    * one policy, one alert page.
    */
  private def publishWith(inventory: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    val rtPayload =
      """{"timestamp": 1712500000000, "requestedTimestamp": 1712500000000,
        | "groupedAggregates": [
        |  {"resourceTypeName": "EC2 Instance", "failedResources": 1,
        |   "passedResources": 2, "totalResources": 3}]}"""
        .stripMargin.replace("\n", " ")
    val policies =
      """{"policies": [
        | {"policyId": "p1", "policyName": "Public bucket", "policyType": "config",
        |  "severity": "high", "alertCount": 3}]}""".stripMargin.replace("\n", " ")
    val pages = Seq(
      """{"policyId": "p1", "items": [{"id": "a1", "resource": {"account": "prod",
        | "accountId": "111", "cloudType": "aws",
        | "cloudAccountGroups": ["g1"]}}]}""".stripMargin.replace("\n", " "))
      .toDF("json")
    PrismaConnector.runReportPipelineLiteral(spark, inventory,
      Seq(("Amazon EC2", rtPayload)).toDF("service", "json"),
      Seq(policies).toDF("json"), pages, dir)
  }

  test("composed R25 flow: an inventory payload with no aggregates never anchors the date, but stamps the alert timestamps") {
    val dir = Files.createTempDirectory("graft_report_anchor").toString
    // the earlier payload (2024-04-06 10:40:00 UTC) lists no aggregates,
    // so it adds no inventory row and cannot anchor the folder; the
    // alert stamps are the minima over every payload, each on its own
    def inv(tsMs: Long, reqMs: Long, aggregates: String) =
      s"""{"timestamp": $tsMs, "requestedTimestamp": $reqMs,
         | "groupedAggregates": [$aggregates]}""".stripMargin.replace("\n", " ")
    publishWith(Seq(
      inv(1712400000000L, 1712600000000L, ""),
      inv(1712500000000L, 1712450000000L,
        """{"serviceName": "Amazon EC2", "failedResources": 1,
          | "passedResources": 2, "totalResources": 3}""".stripMargin.replace("\n", " ")))
      .toDF("json"), dir)
    assert(!new java.io.File(s"$dir/2024/April/6-April-2024").exists(),
      "a payload without inventory rows must not anchor the date folder")
    val folder = s"$dir/2024/April/7-April-2024"
    val invLines = scala.io.Source.fromFile(s"$folder/Inventory_Report.csv").getLines().toList
    assert(invLines.length == 2 && invLines(1).endsWith("\"2024-04-07\""), invLines.toString)
    val alertLines = scala.io.Source.fromFile(s"$folder/Alert_Report.csv").getLines().toList
    assert(alertLines.head.endsWith("\"timestamp\",\"requestedTimestamp\",\"transaction_date\""),
      alertLines.head)
    // timestamp from the earlier payload, requestedTimestamp from the
    // other one, the date from the anchor
    assert(alertLines.length == 2 && alertLines(1).endsWith(
      "\"2024-04-06 10:40:00\",\"2024-04-07 00:33:20\",\"2024-04-07\""), alertLines.toString)
  }

  test("composed R25 flow: an inventory payload read from a file publishes the same tree as a local frame") {
    val parent = Files.createTempDirectory("graft_report_file_inv")
    val json = parent.resolve("inventory.json")
    Files.write(json, (invPayload + "\n").getBytes("UTF-8"))
    val local = parent.resolve("local").toString
    val fromFile = parent.resolve("file").toString
    publishWith(Seq(invPayload).toDF("json"), local)
    publishWith(spark.read.text(json.toString).toDF("json"), fromFile)
    def visible(dir: String) = tree(dir).filter { case (p, _) => !p.endsWith(".crc") }
    assert(visible(local).keySet.contains("2024/April/7-April-2024/Alert_Report.csv"))
    assert(visible(fromFile) == visible(local),
      s"trees differ: ${visible(fromFile).keySet} vs ${visible(local).keySet}")
  }
}
