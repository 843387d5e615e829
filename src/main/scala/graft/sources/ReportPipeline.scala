package graft.sources

/** End-to-end report pipeline — the reference's `handler()` orchestration
  * (`prisma_report/lambda.py:386-441`, R25) as one Spark driver program:
  * [[PrismaConnector.runReportPipelineLiteral]] publishes the inventory,
  * per-service resource-type and alert reports into one literal
  * date-folder tree, all-or-nothing. Fixture payloads stand in for the
  * live API (offline build); a deployment swaps [[Fixtures]] for
  * [[HttpIngest]]'s landed pages.
  *
  * Usage: runMain graft.sources.ReportPipeline <outDir>
  */
object ReportPipeline {

  /** Reference-shaped payloads (FIXTURES.md §B). */
  object Fixtures {
    val inventory: Seq[String] = Seq(
      """{"timestamp": 1712500000000, "requestedTimestamp": 1712500000000,
        | "groupedAggregates": [
        |  {"serviceName": "Amazon EC2", "criticalSeverityFailedResources": 1,
        |   "highSeverityFailedResources": 2, "passedResources": 10,
        |   "failedResources": 3, "totalResources": 13},
        |  {"serviceName": "Amazon S3", "passedResources": 5,
        |   "failedResources": 0, "totalResources": 5}
        | ]}""".stripMargin.replace("\n", " "))

    val resourceType: Seq[(String, String)] = Seq(
      "Amazon EC2" ->
        """{"timestamp": 1712500000000, "requestedTimestamp": 1712500000000,
          | "groupedAggregates": [
          |  {"resourceTypeName": "EC2 Instance", "failedResources": 2,
          |   "passedResources": 8, "totalResources": 10},
          |  {"resourceTypeName": "Security Group", "failedResources": 1,
          |   "passedResources": 2, "totalResources": 3}]}""".stripMargin.replace("\n", " "),
      "Amazon S3" ->
        """{"timestamp": 1712500000000, "requestedTimestamp": 1712500000000,
          | "groupedAggregates": [
          |  {"resourceTypeName": "S3 Bucket", "failedResources": 0,
          |   "passedResources": 5, "totalResources": 5}]}""".stripMargin.replace("\n", " "))

    val policies: Seq[String] = Seq(
      """{"policies": [
        | {"policyId": "p1", "policyName": "Public bucket", "policyType": "config",
        |  "severity": "high", "alertCount": 3},
        | {"policyId": "p2", "policyName": "Open security group", "policyType": "network",
        |  "severity": "critical", "alertCount": 1}]}""".stripMargin.replace("\n", " "))

    val alertPages: Seq[String] = Seq(
      """{"policyId": "p1", "items": [
        | {"id": "a1", "resource": {"account": "prod", "accountId": "111",
        |  "cloudType": "aws", "cloudAccountGroups": ["g1"]}},
        | {"id": "a2", "resource": {"account": "prod", "accountId": "111",
        |  "cloudType": "aws", "cloudAccountGroups": ["g1"]}},
        | {"id": "a3", "resource": {"account": "prod", "accountId": "222",
        |  "cloudType": "aws", "cloudAccountGroups": ["g2"]}}],
        | "nextPageToken": null}""".stripMargin.replace("\n", " "),
      """{"policyId": "p2", "items": [
        | {"id": "a4", "resource": {"account": "dev", "accountId": "333",
        |  "cloudType": "azure", "cloudAccountGroups": []}}]}""".stripMargin.replace("\n", " "),
      """{"policyId": "p2", "items": []}""")
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "/tmp/graft_reports"
    val spark = graft.GraftSession()
    import spark.implicits._
    PrismaConnector.runReportPipelineLiteral(spark,
      Fixtures.inventory.toDF("json"), Fixtures.resourceType.toDF("service", "json"),
      Fixtures.policies.toDF("json"), Fixtures.alertPages.toDF("json"), outDir)
    println(s"REPORTS published to $outDir")
    spark.stop()
  }
}
