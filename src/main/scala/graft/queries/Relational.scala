package graft.queries

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.functions._

/** Relational core: scans, filters, scalar derivations, null handling,
  * the full join surface, and aggregations (SURVEY.md §2b, rows
  * q_scan_project … q_fanout_union).
  *
  * Scale notes (100 TB): every query here is a declarative plan —
  * predicate pushdown and column pruning reach the parquet scan via
  * Catalyst; the only broadcast hints are on genuinely bounded dimension
  * tables (part, nation, region, 1-row aggregates); big-big joins are
  * left to sort-merge + AQE.
  */
object Relational {

  val defs: Seq[QueryDef] = Seq(

    // R1/R10: projection must prune the scan (ReadSchema shows 4 cols).
    // ORDER BY spans every output column: (l_orderkey, l_linenumber) is
    // NOT unique in the fixture (duplicate line rows), so only a
    // full-row order makes the output engine-deterministic (hazard H2).
    QueryDef("q_scan_project",
      (s, d) => T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
          round(col("l_quantity"), 4).as("qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("qty")),
      Some("""SELECT l_orderkey, l_partkey, l_linenumber, round(l_quantity, 4) AS qty
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, qty""".stripMargin)),

    // R13: the alert filter payload shape (status/severity/timeRange) as
    // isin + between; Catalyst pushes all three predicates to parquet.
    QueryDef("q_filter_pred",
      (s, d) => T.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
          col("o_orderdate") >= lit("1996-01-01 00:00:00") &&
          col("o_orderdate") <= lit("1997-12-31 23:59:59"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice"), 4).as("price"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_orderstatus, round(o_totalprice, 4) AS price,
             |       strftime(o_orderdate, '%Y-%m-%d') AS odate
             |FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate <= TIMESTAMP '1997-12-31 23:59:59'
             |ORDER BY o_orderkey""".stripMargin)),

    // R7/R8 verbatim: epoch→formatted string + literal report columns.
    // Full-output ORDER BY — duplicate (okey, lineno) rows exist (H2).
    QueryDef("q_derive_ts",
      (s, d) => T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"),
          lit("2024-10-08").as("transaction_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship_ts")),
      Some("""SELECT l_orderkey, l_linenumber,
             |       strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts,
             |       '2024-10-08' AS transaction_date
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, ship_ts""".stripMargin)),

    // R14: first-of-month .. "now" window, with "now" data-derived
    // (max ts) for determinism (hazard H4). The 1-row aggregate is
    // broadcast — no shuffle of the fact side.
    QueryDef("q_month_range",
      (s, d) => {
        val e = T.events(s, d)
        val mx = e.agg(max(col("ts")).as("mx"))
        e.join(broadcast(mx),
            col("ts") >= date_trunc("month", col("mx")) && col("ts") <= col("mx"))
          .select(col("event_id"), col("event_type"),
            date_format(date_trunc("second", col("ts")), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
            round(col("value"), 4).as("value_r"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type,
             |       strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
             |       round(value, 4) AS value_r
             |FROM events
             |WHERE ts >= date_trunc('month', (SELECT max(ts) FROM events))
             |  AND ts <= (SELECT max(ts) FROM events)
             |ORDER BY event_id""".stripMargin)),

    // Recursive CTE (Spark 4 SQL surface): a gap-aware month spine from
    // min to max order month — the date-dimension utility a reporting
    // layer derives instead of storing. Bounds are carried THROUGH the
    // recursion (no correlated subquery in the recursive leg); depth =
    // month span (~81 on TPC-H dates), well under Spark's default
    // 100-level recursion limit. Zero-order months survive via the
    // left join against the pre-aggregated counts.
    QueryDef("q_recursive_spine",
      (s, d) => {
        T.orders(s, d).createOrReplaceTempView("orders_rs")
        s.sql("""WITH RECURSIVE bounds AS (
                |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
                |         date_trunc('month', max(o_orderdate)) AS hi
                |  FROM orders_rs
                |), spine(m, hi) AS (
                |  SELECT lo, hi FROM bounds
                |  UNION ALL
                |  SELECT m + INTERVAL '1' MONTH, hi FROM spine WHERE m < hi
                |), agg AS (
                |  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
                |  FROM orders_rs GROUP BY 1
                |)
                |SELECT date_format(s.m, 'yyyy-MM') AS month,
                |       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_orders
                |FROM spine s LEFT JOIN agg a ON a.m = s.m
                |ORDER BY month""".stripMargin)
      },
      Some("""WITH RECURSIVE bounds AS (
             |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
             |         date_trunc('month', max(o_orderdate)) AS hi
             |  FROM orders
             |), spine(m, hi) AS (
             |  SELECT lo, hi FROM bounds
             |  UNION ALL
             |  SELECT m + INTERVAL 1 MONTH, hi FROM spine WHERE m < hi
             |), agg AS (
             |  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
             |  FROM orders GROUP BY 1
             |)
             |SELECT strftime(s.m, '%Y-%m') AS month,
             |       CAST(COALESCE(a.n, 0) AS BIGINT) AS n_orders
             |FROM spine s LEFT JOIN agg a ON a.m = s.m
             |ORDER BY month""".stripMargin)),

    // R9/R12: left join + na.fill(0) — the reference's fillna after its
    // mismatched-schema concat (prisma_report/lambda.py:178,405).
    QueryDef("q_fill_null",
      (s, d) => {
        val c = T.customer(s, d)
        val o = T.orders(s, d)
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .na.fill(0, Seq("o_orderkey", "o_totalprice"))
          .select(col("c_custkey"), col("o_orderkey").as("o_orderkey_f"),
            round(col("o_totalprice"), 4).as("o_totalprice_f"))
          .orderBy(col("c_custkey"), col("o_orderkey_f"))
      },
      Some("""SELECT c.c_custkey,
             |       CAST(COALESCE(o.o_orderkey, 0) AS BIGINT) AS o_orderkey_f,
             |       round(COALESCE(o.o_totalprice, 0), 4) AS o_totalprice_f
             |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
             |ORDER BY c.c_custkey, o_orderkey_f""".stripMargin)),

    // ---- joins (R16 generalized) ----

    // Broadcast equi-join: part is a bounded dimension → broadcast, no
    // shuffle of lineitem.
    QueryDef("q_join_bcast",
      (s, d) => {
        val l = T.lineitem(s, d)
        val p = T.part(s, d)
        l.join(broadcast(p), l("l_partkey") === p("p_partkey"), "inner")
          .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"), col("p_type"),
            round(col("l_extendedprice"), 4).as("price"))
          // full-output order: duplicate (okey, lineno) line rows (H2)
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_brand"),
            col("p_type"), col("price"))
      },
      Some("""SELECT l_orderkey, l_linenumber, p_brand, p_type,
             |       round(l_extendedprice, 4) AS price
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |ORDER BY l_orderkey, l_linenumber, p_brand, p_type, price""".stripMargin)),

    // Big-big sort-merge join (hinted; at 100 TB neither side broadcasts).
    QueryDef("q_join_smj",
      (s, d) => {
        val l = T.lineitem(s, d)
        val o = T.orders(s, d).hint("merge")
        l.join(o, l("l_orderkey") === o("o_orderkey"), "inner")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 4).as("sum_qty"),
            round(sum(col("l_extendedprice")), 4).as("sum_price"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |       round(sum(l_quantity), 4) AS sum_qty,
             |       round(sum(l_extendedprice), 4) AS sum_price
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Multi-way dimension chain + aggregate.
    QueryDef("q_join_chain",
      (s, d) => {
        val c = T.customer(s, d)
        val n = T.nation(s, d)
        val r = T.region(s, d)
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 4).as("sum_bal"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
             |       round(sum(c_acctbal), 4) AS sum_bal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // Left semi ≈ EXISTS.
    QueryDef("q_join_semi",
      (s, d) => {
        val o = T.orders(s, d)
        val l = T.lineitem(s, d).filter(col("l_quantity") > 45).select("l_orderkey")
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .select(col("o_orderkey"), round(col("o_totalprice"), 4).as("price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, round(o_totalprice, 4) AS price
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |ORDER BY o_orderkey""".stripMargin)),

    // Left anti ≈ NOT EXISTS (R21's empty-result guard as a set op).
    QueryDef("q_join_anti",
      (s, d) => {
        val c = T.customer(s, d)
        val o = T.orders(s, d).select("o_custkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // Equi key + theta residual.
    QueryDef("q_join_theta",
      (s, d) => {
        val l = T.lineitem(s, d)
        val o = T.orders(s, d)
        l.join(o, l("l_orderkey") === o("o_orderkey") && l("l_shipdate") > o("o_orderdate"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
             |       round(sum(l_quantity), 4) AS sum_qty
             |FROM lineitem JOIN orders
             |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // PURE range join (interval containment, NO equi key): events inside
    // each of the 100 highest-value "incident windows" (±30 min around
    // the seed event). The naive plan is a BroadcastNestedLoopJoin —
    // O(n·m) predicate evaluations, and a hard failure once the interval
    // side outgrows broadcast. The scale shape used here is the BIN
    // REWRITE (the manual form of Databricks' range-join optimization):
    // events key to floor(ts/1h); each ≤1h interval explodes to the ≤2
    // bins it overlaps; the join becomes an EQUI join on bin with the
    // containment predicate as residual — O(n + m·span/width) rows
    // through a hash join, no nested loop anywhere. Each (event,
    // interval) pair meets in exactly the event's own bin, so no
    // post-join dedup is needed.
    QueryDef("q_join_range",
      (s, d) => {
        val e = T.events(s, d)
        val binSec = graft.plans.RewriteRangeJoin.BinSeconds
        val evB = e.select(col("ts"), col("value"),
          floor(unix_timestamp(col("ts")) / binSec).as("bin"))
        val winB = incidentWindows(e).withColumn("bin", explode(sequence(
          floor(unix_timestamp(col("w_start")) / binSec),
          floor(unix_timestamp(col("w_end")) / binSec))))
        evB.join(winB, evB("bin") === winB("bin") &&
            col("ts") >= col("w_start") && col("ts") < col("w_end"))
          .groupBy(col("win_id"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 4).as("sum_value"))
          .orderBy(col("win_id"))
      },
      Some(rangeJoinOracle)),

    // The optimizer-rule deployment of the bin rewrite: the query text
    // is the NAIVE containment join (exactly what a user writes — no
    // bins anywhere), and the scoped RewriteRangeJoin rule injects the
    // equi key underneath it, turning the BroadcastNestedLoopJoin plan
    // into a hash join mechanically. Same answer, same oracle as
    // q_join_range. The result must materialize inside the rule's
    // register→deregister window (lazy eval would escape it), so we
    // force it with an EAGER localCheckpoint: executors materialize the
    // rewritten plan's partitions in place and the returned frame reads
    // those blocks — no row ever transits the driver, unlike a
    // collect()+createDataFrame forcing, which would pull every matched
    // (window, event) row driver-side and grow with events-per-window.
    // RangeRewriteSpec pins the plan shape, parity, and no-fire guards.
    QueryDef("q_range_rewrite",
      (s, d) => {
        val naive = rangeJoinNaive(s, d)
        graft.plans.RewriteRangeJoin.withRule(s) {
          graft.Materialize.frame(naive)
        }
      },
      Some(rangeJoinOracle)),

    // ---- aggregations (R17 generalized) ----

    // The reference's accounts-dict aggregation (count + first-seen),
    // with the nondeterministic first() replaced by min() (bug B3 note:
    // the engine groups by id-like keys, not display names).
    QueryDef("q_agg_report",
      (s, d) => T.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          min(col("event_id")).as("first_event_id"))
        .orderBy(col("event_type"), col("user_id")),
      Some("""SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n,
             |       round(sum(value), 4) AS sum_value,
             |       CAST(min(event_id) AS BIGINT) AS first_event_id
             |FROM events GROUP BY event_type, user_id
             |ORDER BY event_type, user_id""".stripMargin)),

    // TPC-H Q1 style: partial+final hash agg for free (SURVEY.md §7.2).
    QueryDef("q_agg_q1",
      (s, d) => T.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-01-01 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |       round(sum(l_quantity), 4) AS sum_qty,
             |       round(sum(l_extendedprice), 4) AS sum_base_price,
             |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
             |       round(avg(l_quantity), 4) AS avg_qty,
             |       round(avg(l_discount), 4) AS avg_disc,
             |       CAST(count(*) AS BIGINT) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Exact distinct (expands to a two-phase agg in Spark — scales).
    QueryDef("q_agg_distinct",
      (s, d) => T.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // HLL approx distinct — estimates differ across engines, so no
    // hash-match oracle; instead a TOLERANCE oracle checks the estimate
    // against the exact distinct within HLL's bound (default rsd 0.05;
    // 3σ → 15% ceiling), plus scalatest bounds vs exact.
    QueryDef("q_agg_approx",
      (s, d) => T.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy(col("event_type")),
      None,
      Some(graft.ApproxOracle(
        """SELECT event_type,
          |       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_users
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
        Map("approx_users" -> 0.15)))),

    // Rollup over a 3-table join. NULLS FIRST is explicit on both sides:
    // Spark defaults nulls-first on ASC, DuckDB defaults nulls-last.
    QueryDef("q_rollup",
      (s, d) => {
        val c = T.customer(s, d)
        val o = T.orders(s, d)
        val n = T.nation(s, d)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .rollup(col("n_name"), col("c_mktsegment"))
          .agg(round(sum(col("o_totalprice")), 4).as("sum_price"), count(lit(1)).as("n"))
          .orderBy(col("n_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
      },
      Some("""SELECT n_name, c_mktsegment, round(sum(o_totalprice), 4) AS sum_price,
             |       CAST(count(*) AS BIGINT) AS n
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP(n_name, c_mktsegment)
             |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin)),

    // Cube over a derived bucket column.
    QueryDef("q_cube",
      (s, d) => T.events(s, d)
        .withColumn("bucket", when(col("value") < 100, lit("low")).otherwise(lit("high")))
        .cube(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first, col("bucket").asc_nulls_first),
      Some("""SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
             |       round(sum(value), 4) AS sum_value
             |FROM (SELECT event_type,
             |             CASE WHEN value < 100 THEN 'low' ELSE 'high' END AS bucket,
             |             value
             |      FROM events)
             |GROUP BY CUBE(event_type, bucket)
             |ORDER BY event_type NULLS FIRST, bucket NULLS FIRST""".stripMargin)),

    // R11/R12: the reference's per-service fan-out + concat, proved
    // equivalent to one groupBy. The per-key frames are built from a
    // bounded driver-side key list (5 regions) and unioned by name.
    QueryDef("q_fanout_union",
      (s, d) => {
        val c = T.customer(s, d)
        val n = T.nation(s, d)
        val r = T.region(s, d)
        val joined = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        val keys = r.select("r_name").as(org.apache.spark.sql.Encoders.STRING)
          .collect().toSeq.sorted // bounded: |region| = 5
        val frames = keys.map { k =>
          joined.filter(col("r_name") === k)
            .groupBy(col("r_name"))
            .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 4).as("sum_bal"))
        }
        frames.reduce(_.unionByName(_)).orderBy(col("r_name"))
      },
      Some("""SELECT r_name, CAST(count(*) AS BIGINT) AS n_cust,
             |       round(sum(c_acctbal), 4) AS sum_bal
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // Set operations.
    QueryDef("q_set_ops",
      (s, d) => {
        val n = T.nation(s, d)
        val custN = T.customer(s, d)
          .join(broadcast(n), col("c_nationkey") === n("n_nationkey")).select("n_name")
        val suppN = T.supplier(s, d)
          .join(broadcast(n), col("s_nationkey") === n("n_nationkey")).select("n_name")
        custN.intersect(suppN).withColumn("tag", lit("intersect"))
          .unionByName(custN.except(suppN).withColumn("tag", lit("except")))
          .select(col("tag"), col("n_name"))
          .orderBy(col("tag"), col("n_name"))
      },
      Some("""SELECT 'intersect' AS tag, n_name FROM
             |  (SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
             |   INTERSECT
             |   SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
             |UNION ALL
             |SELECT 'except' AS tag, n_name FROM
             |  (SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
             |   EXCEPT
             |   SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey)
             |ORDER BY tag, n_name""".stripMargin))
  )

  /** The single definition of the range-join interval side — the 100
    * highest-value events, each widened to a ±30-min incident window
    * (win_id, w_start, w_end). Shared by q_join_range (bin form),
    * rangeJoinNaive (containment form), and — in spirit — the oracle
    * text below; one place to change the width/limit keeps the three
    * declared-identical.
    */
  private[graft] def incidentWindows(e: org.apache.spark.sql.DataFrame) =
    e.orderBy(col("value").desc, col("event_id")).limit(100)
      .select(col("event_id").as("win_id"),
        (col("ts") - expr("INTERVAL 30 MINUTES")).as("w_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))

  /** One oracle for both q_join_range and q_range_rewrite — they are
    * declared result-identical, so they must share the literal text.
    * (lazy: referenced from `defs`, which is declared ABOVE this val —
    * a strict val would still be null while defs initializes)
    */
  private lazy val rangeJoinOracle: String =
    """WITH win AS (
      |  SELECT event_id AS win_id,
      |         ts - INTERVAL 30 MINUTE AS w_start,
      |         ts + INTERVAL 30 MINUTE AS w_end
      |  FROM events ORDER BY value DESC, event_id LIMIT 100)
      |SELECT win_id, CAST(count(*) AS BIGINT) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM win JOIN events e ON e.ts >= w_start AND e.ts < w_end
      |GROUP BY win_id ORDER BY win_id""".stripMargin

  /** The NAIVE containment-join form shared by q_range_rewrite (which
    * runs it under the scoped RewriteRangeJoin rule) and
    * RangeRewriteSpec (which asserts plan shape and parity with and
    * without the rule): events aggregated per incident window, joined
    * by interval membership alone — no bin column anywhere.
    */
  def rangeJoinNaive(s: org.apache.spark.sql.SparkSession,
                     d: String): org.apache.spark.sql.DataFrame = {
    val e = T.events(s, d)
    e.join(incidentWindows(e),
        col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("win_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("win_id"))
  }
}
