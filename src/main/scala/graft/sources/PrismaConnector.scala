package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Offline connector layer (SURVEY.md §7.1 step 4): consumes JSON
  * payloads shaped exactly like the reference's Prisma Cloud API
  * responses (schemas transcribed in FIXTURES.md §B from
  * `/root/reference/modules/src/prisma_report/lambda.py`) and produces
  * the three reports the reference uploads — re-expressed as declarative
  * Spark plans.
  *
  * Reference-semantics mapping (SURVEY.md §2a), with its bugs fixed
  * (§7.5): JSON→table normalize (R6) = `from_json` + explode; timestamp
  * enrichment (R7/R8) is data-derived, never ambient globals (bug B2);
  * null fill (R9) = `na.fill(0)`; the per-service fan-out loop (R11) is
  * a single groupBy/join; the per-account dict aggregation (R17) groups
  * by accountId, not display name (bug B3); report projection+rename
  * (R19/R20); the reference's exact QUOTE_NONNUMERIC CSVs in its
  * literal date folders (R22/R23), published all-or-nothing by
  * stage-then-swap instead of hand-rolled rollback (R24, bug B5). No
  * credentials anywhere (config comes from the environment; the
  * reference hard-codes them — SURVEY.md §0 security note).
  *
  * 100 TB design: payload parsing is a map-only `from_json` over
  * whatever partitioning the landed JSON files have; the only shuffles
  * are the declared aggregations; the policy side of the alert join is
  * dimension-sized and broadcast.
  */
object PrismaConnector {

  val TsFmt = "yyyy-MM-dd HH:mm:ss"

  // ---- payload schemas (FIXTURES.md §B1-B3) ----

  private def aggregatesSchema(groupField: String) = StructType(Seq(
    StructField(groupField, StringType),
    StructField("criticalSeverityFailedResources", LongType),
    StructField("highSeverityFailedResources", LongType),
    StructField("mediumSeverityFailedResources", LongType),
    StructField("lowSeverityFailedResources", LongType),
    StructField("informationalSeverityFailedResources", LongType),
    StructField("passedResources", LongType),
    StructField("failedResources", LongType),
    StructField("totalResources", LongType)))

  def inventorySchema(groupField: String = "serviceName"): StructType = StructType(Seq(
    StructField("timestamp", LongType),
    StructField("requestedTimestamp", LongType),
    StructField("groupedAggregates", ArrayType(aggregatesSchema(groupField)))))

  val policySchema: StructType = StructType(Seq(
    StructField("policies", ArrayType(StructType(Seq(
      StructField("policyId", StringType), StructField("policyName", StringType),
      StructField("policyType", StringType), StructField("severity", StringType),
      StructField("alertCount", LongType)))))))

  val alertPageSchema: StructType = StructType(Seq(
    StructField("policyId", StringType), // page is fetched per policy (R16)
    StructField("items", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("resource", StructType(Seq(
        StructField("account", StringType), StructField("accountId", StringType),
        StructField("cloudType", StringType),
        StructField("cloudAccountGroups", ArrayType(StringType))))))))),
    StructField("nextPageToken", StringType)))

  // ---- R6: JSON → table normalize ----

  /** One inventory payload (JSON lines of responses) → flat aggregate
    * rows + R7/R8 enrichment + R9 null fill. `groupField` selects the
    * by-service vs by-resource-type variant.
    */
  def inventoryReport(spark: SparkSession, payloads: DataFrame,
      groupField: String = "serviceName"): DataFrame = {
    val parsed = payloads
      .select(from_json(col("json"), inventorySchema(groupField)).as("p"))
      .select(col("p.timestamp").as("ts_ms"),
        col("p.requestedTimestamp").as("req_ms"),
        // explode (not _outer): an empty/missing groupedAggregates list
        // contributes no report rows (R21) — explode_outer would emit a
        // phantom all-null record that na.fill turns into junk zeros
        explode(col("p.groupedAggregates")).as("g"))
    parsed
      .select(col("g.*"),
        // R7: epoch-millis → formatted string, derived from the payload
        // (never wall clock / module globals — bugs B2/B4)
        date_format(timestamp_millis(col("ts_ms")), TsFmt).as("timestamp"),
        date_format(timestamp_millis(col("req_ms")), TsFmt).as("requestedTimestamp"),
        date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd").as("transaction_date"))
      .na.fill(0) // R9
  }

  /** Per-service resource-type fan-out (R11) — the reference's
    * sequential per-service GET loop becomes one payload set carrying a
    * `service` lineage column (→ `resourceIdentity`); no driver-side
    * loop, one declarative plan.
    */
  def resourceTypeReport(spark: SparkSession, payloads: DataFrame): DataFrame = {
    val parsed = payloads
      .select(col("service").as("resourceIdentity"),
        from_json(col("json"), inventorySchema("resourceTypeName")).as("p"))
      .select(col("resourceIdentity"),
        col("p.timestamp").as("ts_ms"), col("p.requestedTimestamp").as("req_ms"),
        explode(col("p.groupedAggregates")).as("g"))
    parsed
      .select(col("g.*"),
        date_format(timestamp_millis(col("ts_ms")), TsFmt).as("timestamp"),
        date_format(timestamp_millis(col("ts_ms")), "yyyy-MM-dd").as("transaction_date"),
        col("resourceIdentity"))
      .na.fill(0)
  }

  /** Alert report (R16/R17/R19/R20): policies ⋈ alert pages on policyId
    * (broadcast — policy list is dimension-sized), per-account hash
    * aggregation keyed by accountId (bug B3 fixed: the reference keys by
    * display name and merges distinct accounts), projected/renamed to
    * the reference's report schema.
    *
    * `inventoryPayload`, when given, supplies the report-wide
    * `timestamp`/`requestedTimestamp` columns the reference's
    * Alert_Report.csv carries (lambda.py sets them from the inventory
    * response) — data-derived like the B2 fix, read on the driver by
    * [[inventoryStamps]] and attached as literals, never wall clock.
    * Omitted → columns absent (schema-narrowing deviation for callers
    * with no inventory feed).
    */
  def alertReport(spark: SparkSession, policyPayload: DataFrame,
      alertPages: DataFrame, inventoryPayload: Option[DataFrame] = None): DataFrame = {
    val policies = policyPayload
      .select(from_json(col("json"), policySchema).as("p"))
      .select(explode(col("p.policies")).as("pol"))
      .select(col("pol.policyId"), col("pol.policyName"),
        col("pol.policyType"), col("pol.severity"))
    val alerts = alertPages
      .select(from_json(col("json"), alertPageSchema).as("a"))
      // explode drops empty pages: R21, nothing to report
      .select(col("a.policyId").as("alert_policyId"), explode(col("a.items")).as("item"))
      .select(col("alert_policyId"),
        col("item.resource.account").as("account"),
        col("item.resource.accountId").as("accountId"),
        col("item.resource.cloudType").as("cloudType"),
        // try_element_at: an EMPTY cloudAccountGroups array must yield
        // NULL, not the INVALID_ARRAY_INDEX error ANSI-mode element_at
        // raises (R18 + Spark 4 ANSI default)
        expr("try_element_at(item.resource.cloudAccountGroups, 1)").as("accountGroup"))
    val perAccount = alerts
      .groupBy(col("alert_policyId"), col("accountId")) // B3: key by id
      .agg(count(lit(1)).as("failedCount"),
        min(col("account")).as("account"), // deterministic "first"
        min(col("cloudType")).as("cloudType"),
        min(col("accountGroup")).as("accountGroup"))
    val report = perAccount
      .join(broadcast(policies), col("alert_policyId") === col("policyId"))
      .select( // R19 projection + R20 upper
        col("policyName").as("Policy Name"),
        col("policyType").as("Policy Type"),
        upper(col("severity")).as("Policy Severity"),
        upper(col("cloudType")).as("Cloud Type"),
        col("account").as("Cloud Account Name"),
        col("accountId").as("Cloud Account Id"),
        col("accountGroup").as("Cloud Account Group"),
        lit("fail").as("Status"),
        col("failedCount").as("Failed Resource Count"))
    inventoryPayload.fold(report)(inv => stamped(report, inventoryStamps(inv)))
  }

  /** What the inventory feed stamps on the reports, None where no
    * payload carries one:
    *   - `anchor`: the earliest `yyyy-MM-dd` of `timestamp` over the
    *     payloads that yield inventory rows (an empty or missing
    *     `groupedAggregates` list explodes to none, so it never anchors);
    *   - `ts`/`req`: the formatted `timestamp`/`requestedTimestamp` of
    *     the payload with the smallest of each, over every payload.
    */
  private final case class InventoryStamps(anchor: Option[String],
      ts: Option[String], req: Option[String])

  /** [[InventoryStamps]] from one projection collected to the driver
    * (one API response per row, so bounded; over a local frame it folds
    * on the driver and starts no job). Spark evaluates every expression,
    * so parsing and formatting (session time zone) are the reports' own;
    * the driver only picks the minima.
    */
  private def inventoryStamps(inventoryPayload: DataFrame): InventoryStamps = {
    val p = from_json(col("json"), inventorySchema())
    val (ts, req) = (p.getField("timestamp"), p.getField("requestedTimestamp"))
    def fmt(c: Column, f: String) = date_format(timestamp_millis(c), f)
    val rows = inventoryPayload
      .select(ts, fmt(ts, TsFmt), req, fmt(req, TsFmt),
        when(size(p.getField("groupedAggregates")) > 0, fmt(ts, "yyyy-MM-dd")))
      .collect()
    def earliest(ms: Int): Option[String] =
      rows.filterNot(_.isNullAt(ms)).minByOption(_.getLong(ms)).map(_.getString(ms + 1))
    InventoryStamps(rows.flatMap(r => Option(r.getString(4))).minOption,
      earliest(0), earliest(2))
  }

  /** `report` with the inventory's `timestamp`/`requestedTimestamp`
    * appended as string literals (null where the feed has none).
    */
  private def stamped(report: DataFrame, s: InventoryStamps): DataFrame =
    report.withColumn("timestamp", lit(s.ts.orNull).cast(StringType))
      .withColumn("requestedTimestamp", lit(s.req.orNull).cast(StringType))

  /** The QUOTE_NONNUMERIC row renderer: one map-only projection to
    * (value, part). The reference renders `transaction_date` as a
    * strftime STRING and to_csv quotes it, so the partition column is
    * always a quoted cell.
    */
  private def renderQuoteNonNumeric(out: DataFrame, part: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType => SStr}
    val cells = out.schema.fields.map { f =>
      if (f.dataType == SStr || f.name == part)
        concat(lit("\""),
          regexp_replace(coalesce(col(f.name).cast("string"), lit("")),
            "\"", "\"\""),
          lit("\"")).as(f.name)
      else
        // coalesce AFTER the cast: concat_ws silently DROPS null
        // arguments, so a bare null numeric cell would delete its field
        // and shift every later cell left. pandas QUOTE_NONNUMERIC
        // renders NaN/None as an empty bare field — match that.
        coalesce(col(f.name).cast("string"), lit("")).as(f.name)
    }
    out.select(concat_ws(",", cells.toIndexedSeq: _*).as("value"), col(part))
  }

  /** The QUOTE_NONNUMERIC header line (pandas quotes header cells). */
  private def headerLine(out: DataFrame): String = {
    import org.apache.spark.sql.types.{StringType => SStr}
    out.schema.fieldNames.map { n =>
      if (out.schema(n).dataType == SStr) "\"" + n.replace("\"", "\"\"") + "\""
      else "\"" + n + "\""
    }.mkString(",")
  }

  /** R22/R23/R24: the engine's one report publisher, in the shape the
    * reference's handler() publishes — SEVERAL report files into ONE
    * literal date-folder tree ({yyyy}/{MonthName}/{d-MonthName-yyyy}/
    * {Inventory_Report,Inventory_Resource_Type_Report,Alert_Report}.csv,
    * `prisma_report/lambda.py:26-30,381,406-418`), in its exact csv
    * dialect, QUOTE_NONNUMERIC (`aler_report/lambda.py:318`: strings
    * quoted, numerics bare, quoted header), with all-or-nothing
    * semantics (its rollback() deletes the already-uploaded keys on any
    * failure).
    *
    * Spark's csv sink quotes all-or-minimal with no per-type mode (and
    * re-quotes delimiter-bearing cells no matter what), so rows render
    * map-side in the exact dialect and go through the TEXT sink; a
    * per-(date, report) header row rides the same shuffle with a sort
    * flag so it lands first in its file without any extra sort (the
    * repartition-by-(date, report) ordering already satisfies the
    * dynamic sink's required ordering), and repartitioning on
    * (date, report) pins ONE file per date and report (the reference's
    * one-object-per-day contract).
    *
    * One publish is two Spark actions, whatever the report count: the
    * rendered rows of every report, tagged with the report's index, are
    * materialized once, and the date check rides on that job as an
    * `observe` metric (each report's bad-date count and the date
    * universe together); one write stages every file. Without the
    * materialization the write would re-run every report's plan.
    *
    * The rollback is structural instead of compensating: all reports
    * stage into ONE sibling tree first, and only after the Spark write
    * succeeds does a bounded driver-side rename pass (one same-FS
    * metadata op per file, no data movement) build the committed tree
    * and mark it with a trailing _SUCCESS — a failure in any report's
    * job leaves the prior committed tree byte-identical (stronger than
    * the reference, which deletes and can crash mid-rollback).
    *
    * Every report must carry a `transaction_date` column of yyyy-MM-dd
    * strings: dates are payload-derived, the wall clock is never
    * consulted.
    */
  def writeReportsLiteralLayout(reports: Seq[(DataFrame, String)],
      path: String): Unit = {
    require(reports.nonEmpty, "no reports to publish")
    require(reports.map(_._2).distinct.size == reports.size,
      s"duplicate literal-layout file names: ${reports.map(_._2)}")
    val part = "transaction_date"
    val undated = reports.collect { case (df, name) if !df.columns.contains(part) => name }
    require(undated.isEmpty,
      s"literal layout requires a $part column in every report; missing in: $undated")
    val spark = reports.head._1.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = new org.apache.hadoop.fs.Path(path)
    val qualRoot = fs.makeQualified(root)
    def sibling(suffix: String) =
      new org.apache.hadoop.fs.Path(qualRoot.getParent, qualRoot.getName + suffix)
    val prev = sibling("__prev_literal")
    val staging = sibling("__staging_literal")
    // Crash recovery FIRST — even before this run's own input guard
    // (round-13 review), so ANY visit repairs the tree: if a
    // previous publish crashed mid-swap, prev holds the LAST GOOD tree
    // and root a partial no-_SUCCESS one — restore it rather than
    // deleting the only surviving copy. Only when root carries its own
    // _SUCCESS is a surviving prev mere garbage (crash after commit).
    if (fs.exists(prev)) {
      val committed = fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS"))
      if (committed) fs.delete(prev, true)
      else {
        if (fs.exists(root)) fs.delete(root, true)
        require(fs.rename(prev, root),
          s"literal-layout crash recovery could not restore $prev to $root")
      }
    }
    // The reference renders transaction_date as a quoted CSV column
    // (lambda.py:358,377 assigns the strftime string, to_csv keeps it)
    // AND uses it as the folder key — so the partition column stays in
    // header and rows. The report index, not the file name, keys the
    // staging tree: a name is never escaped into a path.
    val idx = "report"
    // Fail BEFORE any IO on dates the folder key can't express: a null
    // (hive would write __HIVE_DEFAULT_PARTITION__) or non-ISO value
    // has no {yyyy}/{MonthName}/{d} rendering. The check is an observed
    // metric of the materialization itself: the set of good dates and
    // each report's bad-row count, bounded by dates + reports, with no
    // data row parsed on the driver. try_to_date, not to_date: under
    // Spark 4's default ANSI mode to_date THROWS CANNOT_PARSE on a
    // malformed string mid-aggregate; try_to_date yields null so
    // malformed rows are COUNTED and reported through the same clear
    // require message as nulls.
    val good = try_to_date(col(part), "yyyy-MM-dd").isNotNull
    val checked = reports.zipWithIndex
      .map { case ((out, _), i) => renderQuoteNonNumeric(out, part).withColumn(idx, lit(i)) }
      .reduce(_ unionByName _)
      .observe("literal_dates", collect_set(when(good, col(part))),
        reports.indices.map(i => count(when(col(idx) === i && !good, 1))): _*)
    val rendered = graft.Materialize.frame(checked)
    var hadPrev = false
    try {
      val observed = checked.queryExecution.observedMetrics("literal_dates")
      reports.zipWithIndex.foreach { case ((_, name), i) =>
        val bad = observed.getLong(1 + i)
        require(bad == 0,
          s"literal layout requires non-null yyyy-MM-dd $part values; $bad rows of " +
            s"'$name' violate")
      }
      // The date-folder universe is the UNION of every report's dates
      // (round-14 review): the reference's to_csv always uploads a
      // header-only file for an empty report, so each date folder carries
      // ALL the declared file names — a report with no rows on some date
      // (or no rows at all) publishes a header-only CSV there instead of
      // silently missing under a fresh _SUCCESS.
      val allDates = observed.getSeq[String](0)
      require(allDates.nonEmpty,
        s"every report is empty — no $part anywhere to anchor the literal " +
          "date-folder layout (the reference would stamp wall clock; here dates " +
          "are payload-derived, so an all-empty publish is refused)")
      // drop stale staging siblings of ANY earlier failed run, including
      // the numbered per-report trees older publishers left
      Option(fs.globStatus(sibling("__staging_literal*")))
        .foreach(_.foreach(st => fs.delete(st.getPath, true)))
      // Stage-then-swap (round-13 review): the Spark job writes a
      // SIBLING staging tree while the previously committed tree stays
      // intact — a mid-job failure leaves external consumers the prior
      // data, not an empty root. Only the bounded driver-side publish
      // pass below touches the committed tree. Every report gets a
      // header row on EVERY date of the publish, not just its own —
      // the all-files-per-folder contract above.
      val headers = spark.createDataFrame(for {
        ((out, _), i) <- reports.zipWithIndex; day <- allDates
      } yield (headerLine(out), day, i, 1)).toDF("value", part, idx, "__hdr")
      rendered.withColumn("__hdr", lit(0))
        .unionByName(headers)
        .repartition(col(part), col(idx))
        .sortWithinPartitions(col(part), col(idx), col("__hdr").desc)
        .select("value", part, idx)
        .write.mode("overwrite")
        .partitionBy(part, idx)
        .text(staging.toString)
      // Publish: rename the old committed tree aside (one metadata op —
      // overwrite semantics: stale dates from the previous run must not
      // survive, and HDFS refuses rename-onto-existing {file}.csv),
      // build the new tree from the staging tree, commit with _SUCCESS,
      // then drop the old tree. A crash mid-publish leaves the old tree
      // at <root>__prev_literal — which the recovery block above
      // RESTORES on the next run — and no fresh _SUCCESS over a partial
      // root.
      hadPrev = fs.exists(root)
      if (hadPrev) require(fs.rename(root, prev),
        s"literal-layout publish could not move the previous tree aside: $root")
      val monthFmt = java.time.format.DateTimeFormatter
        .ofPattern("MMMM", java.util.Locale.ENGLISH)
      def children(dir: org.apache.hadoop.fs.Path, prefix: String) =
        fs.listStatus(dir).map(_.getPath).filter(_.getName.startsWith(prefix))
      children(staging, s"$part=").foreach { dateDir =>
        val day = java.time.LocalDate.parse(dateDir.getName.stripPrefix(s"$part="))
        val month = day.format(monthFmt)
        val dest = new org.apache.hadoop.fs.Path(root,
          s"${day.getYear}/$month/${day.getDayOfMonth}-$month-${day.getYear}")
        fs.mkdirs(dest)
        children(dateDir, s"$idx=").foreach { dir =>
          val fileName = reports(dir.getName.stripPrefix(s"$idx=").toInt)._2
          val parts = children(dir, "part-")
          require(parts.length == 1,
            s"literal layout expects ONE file per date and report (repartition pinned it); got ${parts.length} in $dir")
          require(fs.rename(parts.head,
            new org.apache.hadoop.fs.Path(dest, s"$fileName.csv")),
            s"literal-layout publish rename failed for $dir")
        }
      }
      fs.create(new org.apache.hadoop.fs.Path(root, "_SUCCESS"), true).close()
    } finally {
      fs.delete(staging, true) // staging never survives, even a failed run
      graft.Materialize.release(rendered)
    }
    if (hadPrev) fs.delete(prev, true)
  }

  /** The reference handler()'s full composed flow (R25 orchestration,
    * lambda.py:386-431): inventory report → per-service resource-type
    * fan-out (concat ≡ one payload set with lineage, R11/R12) → alert
    * report enriched with the inventory timestamps → all three published
    * atomically into ONE literal date-folder tree in the exact byte
    * dialect and file names the reference uploads. The reference's
    * rollback-on-failure contract holds structurally: any failure before
    * the final bounded swap leaves the previously committed tree intact
    * (see [[writeReportsLiteralLayout]]).
    */
  def runReportPipelineLiteral(spark: SparkSession,
      inventoryPayload: DataFrame, resourceTypePayloads: DataFrame,
      policyPayload: DataFrame, alertPages: DataFrame, path: String): Unit = {
    // The reference stamps wall-clock "today" on all three reports
    // (module-level current_date), which is what makes them share one
    // date folder. Here the date is PAYLOAD-derived like every other
    // timestamp (the B2-fix style), and the INVENTORY feed is the ONE
    // anchor for all three reports — the resource-type fan-out payloads
    // are fetched moments after the inventory and could carry a
    // different calendar date at a midnight boundary, which would split
    // the three-files-per-folder contract across two folders. The anchor
    // is the earliest date of the inventory report's rows, read on the
    // driver with the alert stamps ([[inventoryStamps]]) and attached as
    // a literal that pins them; reruns of old payloads republish the
    // same tree instead of today's. No anchor (no dated inventory row)
    // pins a null date, which the writer's date guard refuses.
    val stamps = inventoryStamps(inventoryPayload)
    def pinned(df: DataFrame): DataFrame =
      df.withColumn("transaction_date", lit(stamps.anchor.orNull).cast(StringType))
    // pinned() covers the INVENTORY report too (round-14 review): at a
    // midnight boundary the inventory payload itself can carry rows on
    // two calendar dates, which would split Inventory_Report.csv across
    // two date folders while the two reports pinned to the anchor land
    // in one — breaking the three-files-per-folder contract the anchor
    // exists to protect.
    writeReportsLiteralLayout(Seq(
      pinned(inventoryReport(spark, inventoryPayload)) -> "Inventory_Report",
      pinned(resourceTypeReport(spark, resourceTypePayloads)) ->
        "Inventory_Resource_Type_Report",
      pinned(stamped(alertReport(spark, policyPayload, alertPages), stamps)) ->
        "Alert_Report"), path)
  }
}
