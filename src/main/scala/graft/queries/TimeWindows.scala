package graft.queries

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window aggregations — the batch `window()` / `session_window()`
  * forms of the q_stream_* queries (SURVEY.md §2b).
  *
  * The aggregation cores (`tumbleAgg`/`slideAgg`/`sessionAgg`/`dedupAgg`)
  * take a plain DataFrame so the *same* plan runs in batch (below, as
  * the declared oracle queries) and as a file-source Structured Stream
  * (graft.streaming.StreamOps + StreamingParitySpec assert batch≡stream,
  * SURVEY.md §5.2.4).
  */
object TimeWindows {

  /** Tumbling 1h window × event_type. Spark window() starts are
    * epoch-aligned, exactly DuckDB's time_bucket.
    */
  def tumbleAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** Sliding 1h window every 30min: each event lands in exactly two
    * windows.
    */
  def slideAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** Per-user session windows, 30-minute gap: a session breaks when the
    * gap to the previous event is >= 30 minutes; session end = last ts
    * + gap.
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** Stream-static enrichment: events joined against the (small,
    * broadcast) customer dimension, then a tumbling 1h revenue window
    * per market segment — the canonical "enrich the stream against a
    * slowly-changing dimension" shape. The static side broadcasts, so
    * the streaming side never shuffles for the join; only the windowed
    * aggregation is stateful (watermark-bounded in the streaming form,
    * StreamOps.enriched).
    */
  def enrichAgg(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
        broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** Exactly-once dedup on event_id, then count per type — the batch
    * form of dropDuplicatesWithinWatermark.
    */
  def dedupAgg(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))

  private def fmtWindow(df: DataFrame): DataFrame =
    df.select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type"))

  /** q_active_users core over ABSOLUTE epoch-day activity rows
    * (user_id, day_abs) — shared by the batch query and
    * streaming.IncrementalDau's snapshot (which accumulates exactly
    * such rows across micro-batches; absolute days are what make a
    * late backfill that shifts the corpus min date re-anchor correctly
    * instead of corrupting a moving-origin bitmask). The relative day
    * axis, the per-user BIGINT mask, and the three bit-test counts are
    * all derived inside, so incremental and one-shot share one body.
    */
  def activeUsersOf(ud: DataFrame): DataFrame = {
    // 64-day word SHARDING: Spark's shiftleft has Java shift-mod-64
    // semantics, so a single BIGINT mask silently wraps on any corpus
    // spanning >= 64 days (day 64 collides with day 0, and the naive
    // mau lowbits form (1<<(t+1))-1 wraps to 0 at t=63). Each user
    // therefore carries map<word, mask> with word = day div 64 and
    // bit = day mod 64 — any horizon, no wrap, still one compact row
    // per user (ceil(span/64) map entries, only non-empty words stored).
    val b = ud.agg(min(col("day_abs")).as("a0"),
      (max(col("day_abs")) - min(col("day_abs"))).as("maxd"))
    val wordMasks = ud.join(broadcast(b))
      .select(col("user_id"),
        (col("day_abs") - col("a0")).cast("int").as("day"), col("maxd"))
      .groupBy(col("user_id"), col("maxd"),
        expr("CAST(day DIV 64 AS INT)").as("word"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(day % 64 AS INT)))")
        .as("m"))
    val masks = wordMasks.groupBy(col("user_id"), col("maxd"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("m"))))
        .as("wm"))
    // Word/bit addressing over the t axis. lowBits(h) = bits 0..h (the
    // unsigned right shift sidesteps the (1<<64)-1 wrap at h=63);
    // hiBits(l) = bits l..63 as -1 << l — pure shift, no arithmetic
    // (the tempting -(1<<l) form overflows ANSI mode at l=63, where
    // 1<<63 is already Long.MinValue).
    // A missing word reads as an all-zero mask via coalesce. The wau7
    // span is 7 days < 64, so it straddles AT MOST two words — the
    // CASE's two arms are exhaustive.
    def w(d: String) = s"CAST(($d) DIV 64 AS INT)"
    def bit(d: String) = s"CAST(($d) % 64 AS INT)"
    def at(word: String) = s"coalesce(element_at(wm, $word), CAST(0 AS BIGINT))"
    def lowBits(h: String) = s"shiftrightunsigned(CAST(-1 AS BIGINT), 63 - ($h))"
    def hiBits(l: String) = s"shiftleft(CAST(-1 AS BIGINT), $l)"
    val lo = "greatest(0, t - 6)"
    val dauC = s"(${at(w("t"))} & shiftleft(CAST(1 AS BIGINT), ${bit("t")})) != 0"
    val wauC =
      s"""CASE WHEN ${w(lo)} = ${w("t")}
         | THEN (${at(w("t"))} & (${hiBits(bit(lo))} & ${lowBits(bit("t"))})) != 0
         | ELSE (${at(w(lo))} & ${hiBits(bit(lo))}) != 0
         |   OR (${at(w("t"))} & ${lowBits(bit("t"))}) != 0 END""".stripMargin
    val mauC = s"exists(map_keys(wm), k -> k < ${w("t")})" +
      s" OR (${at(w("t"))} & ${lowBits(bit("t"))}) != 0"
    masks
      .select(explode(sequence(lit(0), col("maxd"))).as("t"), col("wm"))
      .groupBy(col("t")).agg(
        sum(expr(s"CASE WHEN $dauC THEN 1 ELSE 0 END")).as("dau"),
        sum(expr(s"CASE WHEN $wauC THEN 1 ELSE 0 END")).as("wau7"),
        sum(expr(s"CASE WHEN $mauC THEN 1 ELSE 0 END")).as("mau"))
      .orderBy(col("t"))
  }

  /** Shared by q_active_users and q_dau_inc (the q_substr_inc contract:
    * the incremental query's snapshot is spec-proven ≡ the one-shot
    * body, so it reuses the one-shot oracle VERBATIM).
    */
  val activeUsersOracle: String =
    """WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0,
      |                   date_diff('day', min(CAST(ts AS DATE)),
      |                             max(CAST(ts AS DATE))) AS maxd
      |            FROM events),
      |ud AS (SELECT DISTINCT user_id,
      |              date_diff('day', d0, CAST(ts AS DATE)) AS day
      |       FROM events, d0),
      |ts_axis AS (SELECT unnest(generate_series(0, (SELECT maxd FROM d0))) AS t)
      |SELECT CAST(t AS INTEGER) AS t,
      |       CAST(count(DISTINCT CASE WHEN day = t THEN user_id END) AS BIGINT) AS dau,
      |       CAST(count(DISTINCT CASE WHEN day BETWEEN t - 6 AND t
      |                               THEN user_id END) AS BIGINT) AS wau7,
      |       CAST(count(DISTINCT CASE WHEN day <= t THEN user_id END) AS BIGINT) AS mau
      |FROM ts_axis CROSS JOIN ud
      |GROUP BY t ORDER BY t""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Time-series densification (gap filling): the hourly event count
    // per type over a COMPLETE hour spine — q_stream_tumble only emits
    // hours that have events; every dashboard/forecast consumer needs
    // the zero rows too. The spine is generated from the 1-row
    // min/max agg (sequence → explode: spine length = hours of data
    // span, catalog-scale even at 100 TB) crossed with the bounded
    // type dimension; the fill join is keyed on (type, hour) — the
    // same key the count agg just shuffled on.
    QueryDef("q_gap_fill",
      (s, d) => {
        val ev = T.events(s, d)
        val bounds = ev.agg(
          date_trunc("hour", min(col("ts"))).as("t0"),
          date_trunc("hour", max(col("ts"))).as("t1"))
        val hours = bounds.select(explode(expr(
          "sequence(t0, t1, interval 1 hour)")).as("hr"))
        val types = ev.select(col("event_type")).distinct()
        val spine = hours.crossJoin(broadcast(types))
        val counts = ev.groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        spine.join(counts, Seq("event_type", "hr"), "left")
          .select(col("event_type"),
            date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hr"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some("""WITH b AS (
             |  SELECT date_trunc('hour', min(ts)) AS t0,
             |         date_trunc('hour', max(ts)) AS t1 FROM events),
             |hrs AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hr FROM b),
             |types AS (SELECT DISTINCT event_type FROM events),
             |spine AS (SELECT event_type, hr FROM types CROSS JOIN hrs),
             |c AS (SELECT event_type, date_trunc('hour', ts) AS hr,
             |             count(*) AS n
             |      FROM events GROUP BY 1, 2)
             |SELECT s.event_type, strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hr,
             |       CAST(coalesce(c.n, 0) AS BIGINT) AS n
             |FROM spine s LEFT JOIN c ON s.event_type = c.event_type AND s.hr = c.hr
             |ORDER BY s.event_type, hr""".stripMargin)),

    QueryDef("q_stream_tumble",
      (s, d) => fmtWindow(tumbleAgg(T.events(s, d))),
      Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
             |       event_type, CAST(count(*) AS BIGINT) AS n,
             |       round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    QueryDef("q_stream_slide",
      (s, d) => fmtWindow(slideAgg(T.events(s, d))),
      Some("""SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
             |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
             |FROM (
             |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS w, event_type, value FROM events
             |  UNION ALL
             |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS w,
             |         event_type, value FROM events)
             |GROUP BY w, event_type ORDER BY w_start, event_type""".stripMargin)),

    // The oracle reproduces Spark's session merge exactly with lag() + a
    // running break count.
    QueryDef("q_stream_session",
      (s, d) => sessionAgg(T.events(s, d))
        .select(col("user_id"),
          date_format(date_trunc("second", col("session_window.start")), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          date_format(date_trunc("second", col("session_window.end")), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
          col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("sess_start")),
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, value,
             |         CASE WHEN lag(ts, 1) OVER w IS NULL
             |                OR ts - lag(ts, 1) OVER w >= INTERVAL '30 minutes'
             |              THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
             |), sessions AS (
             |  SELECT user_id, ts, value,
             |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
             |                        ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flagged)
             |SELECT user_id,
             |       strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS sess_start,
             |       strftime(date_trunc('second', max(ts) + INTERVAL '30 minutes'),
             |                '%Y-%m-%d %H:%M:%S') AS sess_end,
             |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
             |FROM sessions GROUP BY user_id, sid
             |ORDER BY user_id, sess_start""".stripMargin)),

    QueryDef("q_stream_enrich",
      (s, d) => enrichAgg(T.events(s, d), T.customer(s, d))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("c_mktsegment"), col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("c_mktsegment")),
      Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
             |       c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             |       round(sum(value), 4) AS sum_value
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY 1, 2 ORDER BY w_start, c_mktsegment""".stripMargin)),

    QueryDef("q_stream_dedup_late",
      (s, d) => dedupAgg(T.events(s, d)).orderBy(col("event_type")),
      None),

    // Windowed anomaly detection: per (event_type, 1h tumble) mean value
    // vs the type's overall mean/σ of WINDOW MEANS — flags the windows
    // whose hourly behavior deviates > 2σ from that type's norm (the
    // time-series complement of q_outliers' per-event z-score). Two
    // aggregations sharing the first's shuffle; the per-type moment
    // table is tiny and broadcast. Membership decided on the ROUNDED
    // z (hazard H1).
    QueryDef("q_anomaly_window",
      (s, d) => {
        val wm = T.events(s, d)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), avg(col("value")).as("wmean"))
        val stats = wm.groupBy(col("event_type"))
          .agg(avg(col("wmean")).as("gmean"), stddev(col("wmean")).as("gstd"))
        wm.join(broadcast(stats), "event_type")
          .withColumn("z", round((col("wmean") - col("gmean")) / col("gstd"), 4))
          .filter(abs(col("z")) > 2.0)
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
            col("event_type"), col("n"), round(col("wmean"), 4).as("wmean"), col("z"))
          .orderBy(col("w_start"), col("event_type"))
      },
      Some("""WITH wm AS (
             |  SELECT time_bucket(INTERVAL '1 hour', ts) AS w, event_type,
             |         CAST(count(*) AS BIGINT) AS n, avg(value) AS wmean
             |  FROM events GROUP BY 1, 2),
             |stats AS (
             |  SELECT event_type, avg(wmean) AS gmean, stddev_samp(wmean) AS gstd
             |  FROM wm GROUP BY event_type)
             |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS w_start, event_type, n,
             |       round(wmean, 4) AS wmean,
             |       round((wmean - gmean) / gstd, 4) AS z
             |FROM wm JOIN stats USING (event_type)
             |WHERE abs(round((wmean - gmean) / gstd, 4)) > 2.0
             |ORDER BY w_start, event_type""".stripMargin)),

    // Per-EVENT session assignment (vs q_stream_session's per-session
    // aggregate): a session id as a column on every event — lag to flag
    // 30-min breaks, running sum to number them. One shuffle on user_id
    // shared by both windows.
    QueryDef("q_sessionize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        T.events(s, d)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
          .withColumn("brk", when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") >= 1800L * 1000000L, 1).otherwise(0))
          .withColumn("sess_id", sum(col("brk")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("event_id"), col("user_id"), col("sess_id"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH flagged AS (
             |  SELECT event_id, user_id, ts,
             |         CASE WHEN lag(ts, 1) OVER w IS NULL
             |                OR ts - lag(ts, 1) OVER w >= INTERVAL '30 minutes'
             |              THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT event_id, user_id,
             |       CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
             |FROM flagged ORDER BY user_id, event_id""".stripMargin)),

    // Multi-touch attribution: every purchase distributes one unit of
    // credit LINEARLY across the user's view/click touches in the 24h
    // window before it (the marketing-analytics operator next to
    // q_funnel's single-path conversion and q_ab_test's readout).
    // Scale shape: ONE user-keyed equi join with the 24h band as
    // residual (the q_stream_join state-bounding trick in batch form);
    // the per-purchase touch count is a window partitioned by the
    // purchase (bounded by touches-per-24h, never a global sort);
    // credits 1/k are doubles summed then rounded 4dp — the engine-wide
    // round(sum(double),4) convention (q_agg_q1 et al.).
    QueryDef("q_attribution",
      (s, d) => {
        val e = T.events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            unix_micros(col("ts")).as("p_us"))
        val touches = e.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_type").as("touch_type"),
            col("event_id").as("t_id"), unix_micros(col("ts")).as("t_us"))
        val joined = purchases.join(touches, Seq("user_id"))
          .filter(col("t_us") <= col("p_us") &&
            col("t_us") >= col("p_us") - 24L * 3600L * 1000000L)
        val k = count(lit(1)).over(Window.partitionBy(col("p_id")))
        joined.withColumn("credit", lit(1.0) / k)
          .groupBy(col("touch_type"))
          .agg(count(lit(1)).as("n_touches"),
            count_distinct(col("p_id")).as("n_purchases"),
            round(sum(col("credit")), 4).as("credit"))
          .orderBy(col("touch_type"))
      },
      Some("""WITH purchases AS (
             |  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
             |  FROM events WHERE event_type = 'purchase'),
             |touches AS (
             |  SELECT user_id, event_type AS touch_type, event_id AS t_id,
             |         epoch_us(ts) AS t_us
             |  FROM events WHERE event_type IN ('view', 'click')),
             |joined AS (
             |  SELECT p.p_id, t.touch_type,
             |         count(*) OVER (PARTITION BY p.p_id) AS k
             |  FROM purchases p JOIN touches t ON p.user_id = t.user_id
             |  WHERE t.t_us <= p.p_us AND t.t_us >= p.p_us - 86400000000)
             |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_touches,
             |       CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
             |       round(sum(CAST(1.0 AS DOUBLE) / k), 4) AS credit
             |FROM joined GROUP BY touch_type ORDER BY touch_type""".stripMargin)),

    // Interval-OVERLAP join — the interval×interval sibling of
    // q_join_range's point×interval containment: which user SESSIONS
    // overlap which incident windows, with exact overlap durations.
    // Both sides are intervals, so a pair can share MANY bins — the bin
    // rewrite needs a dedup guard, and the standard one is built into
    // the join predicate: a pair is emitted only in the bin of its
    // overlap's START (bin == greatest(s_start, w_start) div W), so no
    // post-join distinct is ever materialized. All arithmetic runs on
    // unix_micros BIGINTs (durations exact, no float). The naive plan
    // is a BroadcastNestedLoopJoin over sessions × windows; here both
    // sides explode to their ≤span/W bins and meet in an EQUI hash
    // join.
    QueryDef("q_join_overlap",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val binUs = 3600L * 1000000L
        val sess = T.events(s, d)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
          .withColumn("brk", when(col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") >= 1800L * 1000000L, 1).otherwise(0))
          .withColumn("sid", sum(col("brk")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(unix_micros(col("ts"))).as("s_start"),
            max(unix_micros(col("ts"))).as("s_end"))
        val sessB = sess.withColumn("bin", explode(sequence(
          expr(s"s_start div $binUs"), expr(s"s_end div $binUs"))))
        val winB = Relational.incidentWindows(T.events(s, d))
          .select(col("win_id"), unix_micros(col("w_start")).as("w_s"),
            unix_micros(col("w_end")).as("w_e"))
          .withColumn("bin", explode(sequence(
            expr(s"w_s div $binUs"), expr(s"w_e div $binUs"))))
        sessB.join(winB, sessB("bin") === winB("bin") &&
            col("s_start") <= col("w_e") && col("w_s") <= col("s_end") &&
            sessB("bin") === expr(s"greatest(s_start, w_s) div $binUs"))
          .groupBy(col("win_id"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(least(col("s_end"), col("w_e")) -
              greatest(col("s_start"), col("w_s"))).as("total_overlap_us"))
          .orderBy(col("win_id"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id, ts,
             |         CASE WHEN lag(ts, 1) OVER w IS NULL
             |                OR ts - lag(ts, 1) OVER w >= INTERVAL '30 minutes'
             |              THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id, sid, min(epoch_us(ts)) AS s_start,
             |         max(epoch_us(ts)) AS s_end
             |  FROM (SELECT user_id, ts,
             |          sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                         ROWS UNBOUNDED PRECEDING) AS sid
             |        FROM flagged)
             |  GROUP BY user_id, sid),
             |win AS (
             |  SELECT event_id AS win_id,
             |         epoch_us(ts - INTERVAL 30 MINUTE) AS w_s,
             |         epoch_us(ts + INTERVAL 30 MINUTE) AS w_e
             |  FROM events ORDER BY value DESC, event_id LIMIT 100)
             |SELECT win_id, CAST(count(*) AS BIGINT) AS n_sessions,
             |       CAST(sum(least(s_end, w_e) - greatest(s_start, w_s)) AS BIGINT)
             |         AS total_overlap_us
             |FROM win JOIN sess ON s_start <= w_e AND w_s <= s_end
             |GROUP BY win_id ORDER BY win_id""".stripMargin)),

    // Ordered conversion funnel: signup → first view at-or-after it →
    // first purchase at-or-after that. Each stage is a filtered
    // pre-aggregation (map-side combined min per user) followed by an
    // equi-join with the previous stage — no per-user event window, no
    // cross-stage explosion; at 100 TB each stage shuffles only its
    // event-type slice keyed by user.
    QueryDef("q_funnel",
      (s, d) => {
        val e = T.events(s, d)
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val s2 = e.filter(col("event_type") === "view").join(s1, "user_id")
          .filter(col("ts") >= col("t1"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
          .filter(col("ts") >= col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        def stage(df: DataFrame, step: Int, name: String) =
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(step).as("step"), lit(name).as("stage"), col("n_users"))
        stage(s1, 1, "signup")
          .unionByName(stage(s2, 2, "view_after_signup"))
          .unionByName(stage(s3, 3, "purchase_after_view"))
          .orderBy(col("step"))
      },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
             |            WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
             |       JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
             |       JOIN s2 ON e.user_id = s2.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1)
             |SELECT 1 AS step, 'signup' AS stage,
             |       (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users
             |UNION ALL
             |SELECT 2, 'view_after_signup', (SELECT CAST(count(*) AS BIGINT) FROM s2)
             |UNION ALL
             |SELECT 3, 'purchase_after_view', (SELECT CAST(count(*) AS BIGINT) FROM s3)
             |ORDER BY step""".stripMargin)),

    // A/B experiment readout: two-proportion z-test between user
    // cohorts (variant = user_id % 2 — the deterministic hash split a
    // real assignment service produces). Exposure = the user's first
    // 'view'; conversion = any 'purchase' within the 24h attribution
    // window after it (unwindowed conversion saturates at 100% on the
    // fixture's dense per-user streams — SE would be 0 and z undefined
    // at every scale). All inputs to the z statistic are exact
    // integers, so p̂/SE/z are identical IEEE-double chains in both
    // engines (one sqrt, rounded at 4 dp only in the final projection).
    // Scale shape: two user-keyed pre-aggs (map-side combined) + one
    // user-keyed join, then everything reduces to ONE row — no window,
    // no per-event shuffle beyond the cohort aggs.
    QueryDef("q_ab_test",
      (s, d) => {
        val e = T.events(s, d)
        val exposed = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
        val conv = e.filter(col("event_type") === "purchase")
          .join(exposed, "user_id")
          .filter(col("ts") >= col("t_view") &&
            col("ts") <= col("t_view") + expr("INTERVAL 24 HOURS"))
          .select(col("user_id")).distinct()
          .withColumn("converted", lit(1L))
        val per = exposed.join(conv, Seq("user_id"), "left")
          .select((col("user_id") % 2).as("variant"),
            coalesce(col("converted"), lit(0L)).as("converted"))
          .groupBy(col("variant"))
          .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
        val wide = per.agg(
          sum(when(col("variant") === 0, col("n"))).as("n0"),
          sum(when(col("variant") === 0, col("c"))).as("c0"),
          sum(when(col("variant") === 1, col("n"))).as("n1"),
          sum(when(col("variant") === 1, col("c"))).as("c1"))
        val p0 = col("c0").cast("double") / col("n0")
        val p1 = col("c1").cast("double") / col("n1")
        val pPool = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
        val se = sqrt(pPool * (lit(1.0) - pPool) *
          (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
        wide.select(col("n0"), col("c0"), round(p0, 4).as("p0"),
          col("n1"), col("c1"), round(p1, 4).as("p1"),
          round((p1 - p0) / se, 4).as("z"))
      },
      Some("""WITH exposed AS (
             |  SELECT user_id, min(ts) AS t_view FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |conv AS (
             |  SELECT DISTINCT e.user_id FROM events e
             |  JOIN exposed x ON e.user_id = x.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts >= x.t_view
             |    AND e.ts <= x.t_view + INTERVAL 24 HOUR),
             |per AS (
             |  SELECT x.user_id % 2 AS variant,
             |         CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS converted
             |  FROM exposed x LEFT JOIN conv c ON x.user_id = c.user_id),
             |wide AS (
             |  SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n0,
             |         CAST(sum(CASE WHEN variant = 0 THEN converted END) AS BIGINT) AS c0,
             |         CAST(sum(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n1,
             |         CAST(sum(CASE WHEN variant = 1 THEN converted END) AS BIGINT) AS c1
             |  FROM per)
             |SELECT n0, c0, round(CAST(c0 AS DOUBLE) / n0, 4) AS p0,
             |       n1, c1, round(CAST(c1 AS DOUBLE) / n1, 4) AS p1,
             |       round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             |             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
             |                    * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
             |                    * (1.0 / n0 + 1.0 / n1)), 4) AS z
             |FROM wide""".stripMargin)),

    // CUPED variance-reduced experiment readout (Deng et al., WSDM
    // 2013) — the adjustment every mature experimentation platform runs
    // on top of the raw q_ab_test readout: the PRE-period covariate X
    // (a user's event count before the data-derived midpoint) explains
    // away between-user variance in the post-period outcome Y (spend),
    // Y_adj = Y − θ·(X − mean(X)) with θ = cov(X,Y)/var(X) pooled across
    // variants. Pre-period behavior is independent of assignment, so
    // the adjustment shifts no true effect — it only shrinks variance.
    // Scale shape: ONE user-keyed aggregation builds the (X, Y) frame;
    // θ/mean(X) reduce to ONE broadcast row; everything downstream
    // operates on the user-sized frame, never raw events. The midpoint
    // is day-integer arithmetic on data bounds (H4: no wall clock).
    QueryDef("q_cuped",
      (s, d) => {
        val e = T.events(s, d)
        val cut = e.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(date_add(col("d0"),
            floor(datediff(col("d1"), col("d0")) / 2).cast("int")).as("cut"))
        val per = e.join(broadcast(cut))
          .groupBy(col("user_id"))
          .agg(
            sum(when(to_date(col("ts")) < col("cut"), 1L).otherwise(0L)).as("x"),
            round(coalesce(sum(when(to_date(col("ts")) >= col("cut"),
              col("value"))), lit(0.0)), 2).as("y"))
          .withColumn("variant", col("user_id") % 2)
        val stats = per.agg(avg(col("x")).as("mx"),
          (covar_samp(col("x"), col("y")) / var_samp(col("x"))).as("theta"))
        val adj = per.join(broadcast(stats))
          .withColumn("y_adj", col("y") - col("theta") * (col("x") - col("mx")))
        adj.agg(
            sum(when(col("variant") === 0, 1L)).as("n0"),
            round(avg(when(col("variant") === 0, col("y"))), 4).as("my0"),
            round(avg(when(col("variant") === 0, col("y_adj"))), 4).as("ma0"),
            sum(when(col("variant") === 1, 1L)).as("n1"),
            round(avg(when(col("variant") === 1, col("y"))), 4).as("my1"),
            round(avg(when(col("variant") === 1, col("y_adj"))), 4).as("ma1"),
            round(first(col("theta")), 4).as("theta"),
            round(lit(1.0) - var_samp(col("y_adj")) / var_samp(col("y")), 4)
              .as("var_red"))
      },
      Some("""WITH cut AS (
             |  SELECT min(CAST(ts AS DATE))
             |         + CAST(floor(date_diff('day', min(CAST(ts AS DATE)),
             |                                 max(CAST(ts AS DATE))) / 2) AS INTEGER)
             |         AS cut
             |  FROM events),
             |per AS (
             |  SELECT user_id,
             |         CAST(sum(CASE WHEN CAST(ts AS DATE) < cut THEN 1 ELSE 0 END) AS BIGINT) AS x,
             |         round(coalesce(sum(CASE WHEN CAST(ts AS DATE) >= cut THEN value END), 0), 2) AS y,
             |         user_id % 2 AS variant
             |  FROM events, cut GROUP BY user_id),
             |stats AS (
             |  SELECT avg(x) AS mx, covar_samp(x, y) / var_samp(x) AS theta FROM per),
             |adj AS (
             |  SELECT variant, y, y - theta * (x - mx) AS y_adj, theta FROM per, stats)
             |SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n0,
             |       round(avg(CASE WHEN variant = 0 THEN y END), 4) AS my0,
             |       round(avg(CASE WHEN variant = 0 THEN y_adj END), 4) AS ma0,
             |       CAST(sum(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n1,
             |       round(avg(CASE WHEN variant = 1 THEN y END), 4) AS my1,
             |       round(avg(CASE WHEN variant = 1 THEN y_adj END), 4) AS ma1,
             |       round(any_value(theta), 4) AS theta,
             |       round(1.0 - var_samp(y_adj) / var_samp(y), 4) AS var_red
             |FROM adj""".stripMargin)),

    // First-order Markov transition matrix over per-user event streams:
    // P(next event type | previous), the behavioral model behind
    // session simulation and anomaly scoring (a transition with
    // near-zero p flags a bot path). ONE user-keyed shuffle for the lag
    // window; the (prev, next) count table is event-type²-bounded, so
    // the normalizing window runs over ≤ |types|² rows regardless of
    // corpus size.
    QueryDef("q_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val seq = T.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
        val cnt = seq.groupBy(col("prev"), col("event_type").as("next"))
          .agg(count(lit(1)).as("n"))
        cnt.withColumn("p",
            round(col("n") / sum(col("n")).over(Window.partitionBy(col("prev"))), 4))
          .orderBy(col("prev"), col("next"))
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events)
             |SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n,
             |       round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY prev), 4) AS p
             |FROM seq WHERE prev IS NOT NULL
             |GROUP BY prev, next ORDER BY prev, next""".stripMargin)),

    // Second-order path mining: counts + shares of every 3-step event
    // path (prev2 → prev1 → current) over per-user ordered streams —
    // where q_transitions models one step of memory, this is the
    // sequence table session-simulation and bot-path detection actually
    // consume (a frequent (signup → purchase → purchase) vs a never-seen
    // (error → purchase → purchase) differ only at depth 2). ONE
    // user-keyed shuffle feeds BOTH lag windows; the path table is
    // |types|³-bounded (125 rows here) at any corpus size, so the
    // normalizing window over it is driver-trivial.
    QueryDef("q_event_paths",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val seq = T.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("p2", lag(col("event_type"), 2).over(w))
          .withColumn("p1", lag(col("event_type"), 1).over(w))
          .filter(col("p2").isNotNull && col("p1").isNotNull)
        seq.groupBy(col("p2"), col("p1"), col("event_type").as("cur"))
          .agg(count(lit(1)).as("n"))
          .withColumn("share",
            round(col("n") / sum(col("n")).over(Window.partitionBy()), 4))
          .orderBy(col("p2"), col("p1"), col("cur"))
      },
      Some("""WITH seq AS (
             |  SELECT event_type,
             |         lag(event_type, 2) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS p2,
             |         lag(event_type, 1) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS p1
             |  FROM events)
             |SELECT p2, p1, event_type AS cur, CAST(count(*) AS BIGINT) AS n,
             |       round(count(*) * 1.0 / sum(count(*)) OVER (), 4) AS share
             |FROM seq WHERE p2 IS NOT NULL AND p1 IS NOT NULL
             |GROUP BY p2, p1, cur ORDER BY p2, p1, cur""".stripMargin)),

    // Rolling tail-latency dashboard shape: hourly p95 of value per
    // event type, then a trailing 6-hour PEAK-HOLD of that p95 (the
    // alerting form: "worst recent tail") — the percentile-over-time-
    // then-smooth pattern every observability pipeline runs. Peak-hold
    // (max), not mean, deliberately: a rolling MEAN of 4-dp-rounded
    // values lands on exact .xxxx5 half-edges (measured: flipped a row
    // between Spark's HALF_UP and the oracle's half-even on the first
    // fixture run) — max is arithmetic-free and engine-exact. Scale:
    // values pre-round to 2 dp so the EXACT percentile's value→count
    // buffer is bounded by the value range × 100 (the q_curriculum
    // trick — raw continuous doubles would make it O(group size)); the
    // rolling window runs over the (type × hour)-bounded pre-agg,
    // never raw events.
    QueryDef("q_rolling_p95",
      (s, d) => {
        val hourly = T.events(s, d)
          .select(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"),
            round(col("value"), 2).as("v"))
          .groupBy(col("event_type"), col("hour"))
          .agg(round(expr("percentile(v, 0.95)"), 4).as("p95"),
            count(lit(1)).as("n"))
          .withColumn("hour_num",
            floor(unix_timestamp(col("hour")) / 3600L))
        // RANGE over the hour NUMBER, not ROWS over the pre-agg: hours
        // with zero events are absent from the hourly frame, so a
        // 6-ROW frame would reach arbitrarily far back in wall-clock
        // time across traffic gaps — a 12-hour-old spike is not the
        // "worst recent tail"
        val w = Window.partitionBy(col("event_type")).orderBy(col("hour_num"))
          .rangeBetween(-5, 0)
        hourly
          .withColumn("p95_peak6", max(col("p95")).over(w))
          .select(col("event_type"),
            date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
            col("n"), col("p95"), col("p95_peak6"))
          .orderBy(col("event_type"), col("hour_s"))
      },
      Some("""WITH hourly AS (
             |  SELECT event_type, date_trunc('hour', ts) AS hour,
             |         CAST(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS hour_num,
             |         round(quantile_cont(round(value, 2), 0.95), 4) AS p95,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2, 3)
             |SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
             |       n, p95,
             |       max(p95) OVER (PARTITION BY event_type ORDER BY hour_num
             |             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS p95_peak6
             |FROM hourly ORDER BY event_type, hour_s""".stripMargin)),

    // Cohort retention matrix: users grouped by first-activity month,
    // counted in each later activity month. Two aggregations (first-seen
    // per user, distinct user-months) + one user-keyed join — the
    // classic retention triangle without any window function; month
    // arithmetic on month-truncated timestamps is exact in both engines.
    QueryDef("q_cohort_retention",
      (s, d) => {
        val e = T.events(s, d)
        val first = e.groupBy(col("user_id"))
          .agg(date_trunc("month", min(col("ts"))).as("cm"))
        val act = e.select(col("user_id"), date_trunc("month", col("ts")).as("am"))
          .distinct()
        first.join(act, "user_id")
          .groupBy(date_format(col("cm"), "yyyy-MM").as("cohort_s"),
            months_between(col("am"), col("cm")).cast("int").as("month_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_s"), col("month_offset"))
      },
      Some("""WITH first AS (SELECT user_id, date_trunc('month', min(ts)) AS cm
             |               FROM events GROUP BY 1),
             |act AS (SELECT DISTINCT user_id, date_trunc('month', ts) AS am FROM events)
             |SELECT strftime(f.cm, '%Y-%m') AS cohort_s,
             |       CAST(datediff('month', f.cm, a.am) AS INTEGER) AS month_offset,
             |       CAST(count(*) AS BIGINT) AS n_users
             |FROM first f JOIN act a ON f.user_id = a.user_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Stream-stream interval join, declared as a query: each purchase
    // joined to same-user signups within the 24h before it. The body IS
    // the streaming core (StreamOps.purchaseSignupJoin — withWatermark
    // is a no-op in batch), so the oracle checks the very plan
    // StreamingParitySpec proves batch≡stream on. The time-range
    // predicate is what bounds streaming state; in batch it is the join
    // band that keeps the per-user pairing from going quadratic.
    QueryDef("q_stream_join",
      (s, d) => graft.streaming.StreamOps.purchaseSignupJoin(T.events(s, d))
        .select(col("p_id").as("purchase_id"), col("user_id"),
          date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
          (unix_timestamp(col("p_ts")) - unix_timestamp(col("s_ts")))
            .as("gap_s"))
        .orderBy(col("purchase_id"), col("signup_ts")),
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
             |       strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
             |       CAST(date_diff('second', s.ts, p.ts) AS BIGINT) AS gap_s
             |FROM events p JOIN events s
             |  ON p.event_type = 'purchase' AND s.event_type = 'signup'
             | AND p.user_id = s.user_id
             | AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL '24 hours'
             |ORDER BY purchase_id, signup_ts""".stripMargin)),

    // LEFT OUTER stream-stream join: every purchase emits — matched, or
    // null-padded once the watermark proves no in-horizon signup can
    // still arrive (StreamOps.purchaseSignupLeftJoin; the null decision
    // is watermark-gated in the streaming form, unconditional in
    // batch). The no-match slice is the interesting physical path: the
    // outer side must survive the band join unmatched, not be dropped
    // with the state.
    QueryDef("q_stream_join_outer",
      (s, d) => graft.streaming.StreamOps.purchaseSignupLeftJoin(T.events(s, d))
        .select(col("p_id").as("purchase_id"), col("user_id"),
          coalesce(date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss"), lit("none"))
            .as("signup_ts"),
          coalesce(unix_timestamp(col("p_ts")) - unix_timestamp(col("s_ts")),
            lit(-1L)).as("gap_s"))
        .orderBy(col("purchase_id"), col("signup_ts")),
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
             |       coalesce(strftime(s.ts, '%Y-%m-%d %H:%M:%S'), 'none') AS signup_ts,
             |       CAST(coalesce(date_diff('second', s.ts, p.ts), -1) AS BIGINT) AS gap_s
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
             |  ON p.user_id = s.user_id
             | AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL '24 hours'
             |ORDER BY purchase_id, signup_ts""".stripMargin)),

    // Two-sample Kolmogorov–Smirnov test between the user_id%2 cohorts
    // on value — the distributional complement of q_ab_test/q_cuped's
    // mean readouts (a treatment that moves the SHAPE but not the mean
    // is invisible to both; KS sees it). Scale shape: values
    // pre-rounded to 2 dp bound the distinct-value table at range×100
    // rows (the q_anomaly_mad buffer argument), so the two CDFs are
    // cumulative windows over that BOUNDED bin table, never over raw
    // events — the global ORDER BY v window is bin-count rows, not a
    // one-partition corpus sort. Exactness: the KS statistic is kept as
    // the exact BIGINT cross-product numerator d_num =
    // max|cum0·n1 − cum1·n0| (headroom: per-cohort counts to ~3e9
    // before n0·n1 nears 2^63; rescale the cross-terms past that),
    // published as the floor-scaled integer d_e4 = (10000·d_num) div
    // (n0·n1) — `div`/`//` agree on non-negatives — and the 5%
    // rejection verdict compares two doubles each produced by a single
    // correctly-rounded IEEE op chain on identical integer inputs
    // (long→double casts, one divide, one sqrt, one multiply — no
    // accumulation order anywhere).
    QueryDef("q_ks_test",
      (s, d) => {
        val e = T.events(s, d).select((col("user_id") % 2).as("g"),
          round(col("value"), 2).as("v"))
        val per = e.groupBy(col("v")).agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"))
        val n = e.agg(
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"))
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        per.withColumn("cum0", sum(col("c0")).over(w))
          .withColumn("cum1", sum(col("c1")).over(w))
          .join(broadcast(n))
          .agg(max(abs(col("cum0") * col("n1") - col("cum1") * col("n0")))
              .as("d_num"),
            first(col("n0")).as("n0"), first(col("n1")).as("n1"))
          .select(col("n0"), col("n1"), col("d_num"),
            expr("(10000 * d_num) div (n0 * n1)").as("d_e4"),
            (col("d_num").cast("double") / (col("n0") * col("n1"))
              > lit(1.358) * sqrt((col("n0") + col("n1")).cast("double")
                / (col("n0") * col("n1")))).as("reject_5pct"))
      },
      Some("""WITH e AS (SELECT user_id % 2 AS g, round(value, 2) AS v FROM events),
             |n AS (SELECT sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n0,
             |             sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1 FROM e),
             |per AS (SELECT v, sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS c0,
             |               sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1
             |        FROM e GROUP BY v),
             |cum AS (SELECT sum(c0) OVER (ORDER BY v) AS cum0,
             |               sum(c1) OVER (ORDER BY v) AS cum1 FROM per),
             |d AS (SELECT max(abs(cum0 * n1 - cum1 * n0)) AS d_num FROM cum, n)
             |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
             |       CAST(d_num AS BIGINT) AS d_num,
             |       CAST((10000 * d_num) // (n0 * n1) AS BIGINT) AS d_e4,
             |       CAST(d_num AS DOUBLE) / CAST(n0 * n1 AS DOUBLE)
             |         > 1.358 * sqrt(CAST(n0 + n1 AS DOUBLE) / CAST(n0 * n1 AS DOUBLE))
             |         AS reject_5pct
             |FROM d, n""".stripMargin)),

    // Per-type OLS trend of daily revenue — the closed-form regression
    // slope = (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²) every metrics
    // dashboard fits, computed WITHOUT regr_slope's float accumulation
    // (partial-agg order would differ between engines at the ulp):
    // y is exact daily revenue-cents (floor(value·100 + 0.5) — one
    // IEEE multiply + add + floor, deterministic), t the data-derived
    // day index (H4), so all five sufficient statistics are exact
    // BIGANTs aggregated map-side, the slope numerator/denominator are
    // exact, and the published slope_e6 is sign(num)·(10⁶·|num| div
    // den) — floor-div of non-negatives, engine-identical. Scale: one
    // fact-table aggregation to |types|×|days| rows, then a types-sized
    // reduction; headroom documented at BENCH scale (Σty < 2^63 until
    // daily corpus revenue passes ~3e14 cents·days).
    QueryDef("q_trend_ols",
      (s, d) => {
        val e = T.events(s, d)
        val d0 = e.agg(min(to_date(col("ts"))).as("d0"))
        val daily = e.join(broadcast(d0))
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), col("d0")).as("t"))
          .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("y"))
        daily.groupBy(col("event_type")).agg(
            count(lit(1)).as("n"), sum(col("t")).as("st"),
            sum(col("y")).as("sy"), sum(col("t") * col("y")).as("sty"),
            sum(col("t") * col("t")).as("stt"))
          .withColumn("num", col("n") * col("sty") - col("st") * col("sy"))
          .withColumn("den", col("n") * col("stt") - col("st") * col("st"))
          .select(col("event_type"), col("n").as("n_days"),
            col("sy").as("sum_cents"), col("num"), col("den"),
            (signum(col("num")).cast("long")
              * expr("(1000000 * abs(num)) div den")).as("slope_e6"))
          .orderBy(col("event_type"))
      },
      Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
             |daily AS (
             |  SELECT event_type, date_diff('day', d0, CAST(ts AS DATE)) AS t,
             |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
             |  FROM events, d0 GROUP BY 1, 2),
             |stats AS (
             |  SELECT event_type, count(*) AS n, sum(t) AS st, sum(y) AS sy,
             |         sum(t * y) AS sty, sum(t * t) AS stt
             |  FROM daily GROUP BY 1),
             |nd AS (SELECT event_type, n, sy, n * sty - st * sy AS num,
             |              n * stt - st * st AS den FROM stats)
             |SELECT event_type, CAST(n AS BIGINT) AS n_days,
             |       CAST(sy AS BIGINT) AS sum_cents,
             |       CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den,
             |       CAST(sign(num) AS BIGINT)
             |         * CAST((1000000 * abs(num)) // den AS BIGINT) AS slope_e6
             |FROM nd ORDER BY event_type""".stripMargin)),

    // Kaplan–Meier risk table over user lifetimes — the survival/churn
    // operator: per-user lifetime t = days between first and last
    // event, right-CENSORED when the user is still active in the final
    // 7 days of the corpus (H4: the boundary derives from max(ts), not
    // the wall clock). For each observed t: deaths, censorings, the
    // at-risk count n_t (reverse-cumulative over the day-bounded
    // lifetime axis), and the discrete hazard d_t/n_t published as the
    // exact floor-scaled integer hazard_e4 — the survival curve itself
    // is the trivial ≤|days|-row product fold downstream of this table
    // (AnalyticsSpec folds it and checks monotonicity). Scale: ONE
    // user-keyed aggregation reduces the corpus; everything after
    // operates on ≤|days| rows.
    QueryDef("q_survival_km",
      (s, d) => {
        val e = T.events(s, d)
        val bounds = e.agg(max(to_date(col("ts"))).as("dmax"))
        val life = e.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("b"), max(to_date(col("ts"))).as("dd"))
          .join(broadcast(bounds))
          .select(datediff(col("dd"), col("b")).as("t"),
            (col("dd") >= date_sub(col("dmax"), 6)).as("cens"))
        val w = Window.orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        life.groupBy(col("t")).agg(
            sum(when(col("cens"), 0L).otherwise(1L)).as("n_deaths"),
            sum(when(col("cens"), 1L).otherwise(0L)).as("n_censored"))
          .withColumn("n_risk",
            sum(col("n_deaths") + col("n_censored")).over(w))
          .select(col("t"), col("n_risk"), col("n_deaths"), col("n_censored"),
            expr("(10000 * n_deaths) div n_risk").as("hazard_e4"))
          .orderBy(col("t"))
      },
      Some("""WITH bounds AS (SELECT max(CAST(ts AS DATE)) AS dmax FROM events),
             |life AS (
             |  SELECT date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS t,
             |         max(CAST(ts AS DATE)) >= (SELECT dmax FROM bounds) - 6 AS cens
             |  FROM events GROUP BY user_id),
             |by_t AS (
             |  SELECT t, sum(CASE WHEN cens THEN 0 ELSE 1 END) AS n_deaths,
             |         sum(CASE WHEN cens THEN 1 ELSE 0 END) AS n_censored
             |  FROM life GROUP BY t),
             |risk AS (
             |  SELECT t, n_deaths, n_censored,
             |         sum(n_deaths + n_censored) OVER (ORDER BY t DESC) AS n_risk
             |  FROM by_t)
             |SELECT CAST(t AS INTEGER) AS t, CAST(n_risk AS BIGINT) AS n_risk,
             |       CAST(n_deaths AS BIGINT) AS n_deaths,
             |       CAST(n_censored AS BIGINT) AS n_censored,
             |       CAST((10000 * n_deaths) // n_risk AS BIGINT) AS hazard_e4
             |FROM risk ORDER BY t""".stripMargin)),

    // CUSUM changepoint detection on the daily event-count series per
    // type: the classic argmax_k |Σ_{i≤k}(x_i − x̄)| estimator, kept
    // EXACT by clearing the mean's denominator — cus_num_k = n·prefix_k
    // − k·total is an integer identical in both engines, so the argmax
    // (ties broken toward the earlier day) needs no float tolerance
    // anywhere. Scale: the fact table reduces to |types|×|days| daily
    // rows in one map-side-combined aggregation; the prefix window and
    // argmax run per type over that bounded series.
    QueryDef("q_changepoint",
      (s, d) => {
        val e = T.events(s, d)
        val d0 = e.agg(min(to_date(col("ts"))).as("d0"))
        val daily = e.join(broadcast(d0))
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), col("d0")).as("t"))
          .agg(count(lit(1)).as("x"))
        val tot = daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("tot"))
        val wo = Window.partitionBy(col("event_type")).orderBy(col("t"))
        val cus = daily
          .withColumn("k", row_number().over(wo))
          .withColumn("pre", sum(col("x")).over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .join(broadcast(tot), "event_type")
          .withColumn("cus_num", col("n") * col("pre") - col("k") * col("tot"))
        val pick = Window.partitionBy(col("event_type"))
          .orderBy(abs(col("cus_num")).desc, col("t"))
        cus.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
          .select(col("event_type"), col("t").as("cp_t"), col("cus_num"),
            col("n").as("n_days"), col("tot").as("n_events"))
          .orderBy(col("event_type"))
      },
      Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
             |daily AS (
             |  SELECT event_type, date_diff('day', d0, CAST(ts AS DATE)) AS t,
             |         count(*) AS x
             |  FROM events, d0 GROUP BY 1, 2),
             |tot AS (SELECT event_type, count(*) AS n, sum(x) AS tot
             |        FROM daily GROUP BY 1),
             |cus AS (
             |  SELECT d.event_type, d.t,
             |         row_number() OVER (PARTITION BY d.event_type ORDER BY d.t) AS k,
             |         sum(d.x) OVER (PARTITION BY d.event_type ORDER BY d.t) AS pre,
             |         t2.n, t2.tot
             |  FROM daily d JOIN tot t2 USING (event_type)),
             |num AS (SELECT event_type, t, n * pre - k * tot AS cus_num, n, tot,
             |               row_number() OVER (PARTITION BY event_type
             |                 ORDER BY abs(n * pre - k * tot) DESC, t) AS rn
             |        FROM cus)
             |SELECT event_type, CAST(t AS INTEGER) AS cp_t,
             |       CAST(cus_num AS BIGINT) AS cus_num,
             |       CAST(n AS BIGINT) AS n_days, CAST(tot AS BIGINT) AS n_events
             |FROM num WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // Exponentially-weighted daily-revenue smoother (α = 1/2), the
    // dashboard EWMA — made oracle-eligible by keeping every weight a
    // DYADIC integer: the kernel is truncated at 10 observed points
    // (residual mass 2⁻¹⁰ < 0.1%, documented), each term is
    // 2^(10−j)·cents so the smoothed numerator s1024 and the weight
    // normalizer are exact BIGINTs, and the published smooth_cents is
    // their floor quotient — no float enters the query at all. Early
    // rows renormalize over the lags that exist instead of leaking the
    // missing mass to an implicit zero history. Scale: one
    // map-side-combined daily aggregation, then 10 row-based lags over
    // the |types|×|days| series — per-key state is the 10-row frame,
    // constant at any corpus size.
    QueryDef("q_ewma",
      (s, d) => {
        val e = T.events(s, d)
        val d0 = e.agg(min(to_date(col("ts"))).as("d0"))
        val daily = e.join(broadcast(d0))
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), col("d0")).as("t"))
          .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
        val wo = Window.partitionBy(col("event_type")).orderBy(col("t"))
        val terms = (0 to 9).map { j =>
          val wgt = 1L << (10 - j)
          (coalesce(lag(col("cents"), j).over(wo) * wgt, lit(0L)),
            when(lag(col("cents"), j).over(wo).isNotNull, lit(wgt))
              .otherwise(lit(0L)))
        }
        daily
          .withColumn("s1024", terms.map(_._1).reduce(_ + _))
          .withColumn("w1024", terms.map(_._2).reduce(_ + _))
          .select(col("event_type"), col("t"), col("cents"),
            expr("s1024 div w1024").as("smooth_cents"))
          .orderBy(col("event_type"), col("t"))
      },
      Some {
        val terms = (0 to 9).map { j =>
          val wgt = 1L << (10 - j)
          s"coalesce(lag(cents, $j) OVER w * $wgt, 0)"
        }.mkString(" + ")
        val wsum = (0 to 9).map { j =>
          val wgt = 1L << (10 - j)
          s"CASE WHEN lag(cents, $j) OVER w IS NOT NULL THEN $wgt ELSE 0 END"
        }.mkString(" + ")
        s"""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
           |daily AS (
           |  SELECT event_type, date_diff('day', d0, CAST(ts AS DATE)) AS t,
           |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
           |  FROM events, d0 GROUP BY 1, 2),
           |sm AS (
           |  SELECT event_type, t, cents,
           |         $terms AS s1024,
           |         $wsum AS w1024
           |  FROM daily
           |  WINDOW w AS (PARTITION BY event_type ORDER BY t))
           |SELECT event_type, CAST(t AS INTEGER) AS t, CAST(cents AS BIGINT) AS cents,
           |       CAST(s1024 // w1024 AS BIGINT) AS smooth_cents
           |FROM sm ORDER BY event_type, t""".stripMargin
      }),

    // DAU / rolling WAU-7 / cumulative MAU per day — the sliding-window
    // COUNT DISTINCT dashboard, which is NOT decomposable as a window
    // aggregate (distinct users in [t−6, t] ≠ any combination of daily
    // distincts). The 100-TB form is the activity BITMASK: one
    // user-keyed aggregation folds each user's active days into a
    // map<word, BIGINT> of 64-day words (bit day%64 of word day/64 =
    // active; sharded, so a >=64-day horizon can never hit Java's
    // shift-mod-64 wrap), after which every day's three counts are bit
    // tests on the user-dimension-sized mask table — the corpus is
    // touched exactly once, and the window never re-scans it. The
    // ORACLE deliberately computes the same numbers the NAIVE way
    // (per-day windowed COUNT DISTINCT over a day×user-day join), so
    // the hash-match proves the bitmap algebra, not a mirrored
    // implementation. Day indexes are data-derived (H4).
    QueryDef("q_active_users",
      (s, d) => activeUsersOf(T.events(s, d).select(col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("day_abs"))),
      Some(activeUsersOracle)),

    // q_active_users maintained across real foreachBatch micro-batches:
    // each batch commits its DISTINCT (user, epoch-day) pairs (the
    // batch-local dedup is the mergeable partial), the snapshot is the
    // IDENTICAL activeUsersOf aggregation — so this shares the batch
    // query's oracle VERBATIM (q_substr_inc contract). Absolute days
    // make a min-date-shifting backfill re-anchor instead of
    // corrupting committed masks; replay and redelivery are proven
    // no-ops in IncrementalDauSpec.
    QueryDef("q_dau_inc",
      (s, d) => graft.streaming.IncrementalDau.fixtureRun(s, d),
      Some(activeUsersOracle)),

    // Seasonal-naive forecast backtest: tomorrow looks like the same
    // weekday last week (f_t = x_{t−7}), scored against the naive-1
    // persistence baseline (f_t = x_{t−1}) on daily event counts per
    // type. The lags are DAY-OFFSET joins, not row-offset window lags,
    // so a gap in the series can never silently misalign the season;
    // the scored errors are exact integer counts (sae = Σ|x−f|,
    // mae_e2 the floor-scaled mean) and the skill verdict is an
    // integer comparison. Scale: the corpus reduces to |types|×|days|
    // in one map-side agg; both lag joins run on that bounded table.
    QueryDef("q_forecast_snaive",
      (s, d) => {
        val e = T.events(s, d)
        val d0 = e.agg(min(to_date(col("ts"))).as("d0"))
        val daily = e.join(broadcast(d0))
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), col("d0")).as("t"))
          .agg(count(lit(1)).as("x"))
        val l7 = daily.select(col("event_type"),
          (col("t") + 7).as("t"), col("x").as("f7"))
        val l1 = daily.select(col("event_type"),
          (col("t") + 1).as("t"), col("x").as("f1"))
        daily.join(l7, Seq("event_type", "t"))
          .join(l1, Seq("event_type", "t"))
          .groupBy(col("event_type")).agg(
            count(lit(1)).as("n_scored"),
            sum(abs(col("x") - col("f7"))).as("sae7"),
            sum(abs(col("x") - col("f1"))).as("sae1"))
          .select(col("event_type"), col("n_scored"), col("sae7"),
            expr("(100 * sae7) div n_scored").as("mae7_e2"), col("sae1"),
            (col("sae7") < col("sae1")).as("seasonal_wins"))
          .orderBy(col("event_type"))
      },
      Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
             |daily AS (
             |  SELECT event_type, date_diff('day', d0, CAST(ts AS DATE)) AS t,
             |         count(*) AS x
             |  FROM events, d0 GROUP BY 1, 2),
             |sc AS (
             |  SELECT d.event_type, d.x, l7.x AS f7, l1.x AS f1
             |  FROM daily d
             |  JOIN daily l7 ON d.event_type = l7.event_type AND l7.t = d.t - 7
             |  JOIN daily l1 ON d.event_type = l1.event_type AND l1.t = d.t - 1)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
             |       CAST(sum(abs(x - f7)) AS BIGINT) AS sae7,
             |       CAST((100 * sum(abs(x - f7))) // count(*) AS BIGINT) AS mae7_e2,
             |       CAST(sum(abs(x - f1)) AS BIGINT) AS sae1,
             |       sum(abs(x - f7)) < sum(abs(x - f1)) AS seasonal_wins
             |FROM sc GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Difference-in-differences readout — the third leg of the causal
    // stack (q_ab_test: mean shift; q_cuped: variance-reduced shift;
    // DiD: shift NET of a shared time trend): cells are variant ×
    // period (pre/post the data-derived day midpoint, H4 — the same
    // cut q_cuped uses), cell outcome = spend cents per distinct
    // active user, and DiD = (T·post − T·pre) − (C·post − C·pre).
    // Exactness: each cell mean is the floor-scaled integer
    // (10⁴·S) div u (documented e4 cell rounding; clearing all four
    // denominators would need Π n_g headroom no BIGINT has), so every
    // published number — including the DiD of those integers — is
    // engine-identical arithmetic on exact integers. Scale: ONE
    // fact-table aggregation to 4 cells (sum + distinct-user count,
    // map-side combined); everything after is 4-row arithmetic.
    QueryDef("q_did",
      (s, d) => {
        val e = T.events(s, d)
        val cut = e.agg(min(to_date(col("ts"))).as("d0"),
            max(to_date(col("ts"))).as("d1"))
          .select(date_add(col("d0"),
            floor(datediff(col("d1"), col("d0")) / 2).cast("int")).as("cut"))
        val cells = e.join(broadcast(cut))
          .select((col("user_id") % 2).as("variant"),
            when(to_date(col("ts")) >= col("cut"), 1).otherwise(0).as("period"),
            floor(col("value") * 100 + 0.5).cast("long").as("c"), col("user_id"))
          .groupBy(col("variant"), col("period"))
          .agg(sum(col("c")).as("s"), countDistinct(col("user_id")).as("u"))
          .withColumn("mean_e4", expr("(10000 * s) div u"))
        cells.groupBy().pivot("variant", Seq(0, 1)).agg(
            sum(when(col("period") === 0, col("mean_e4"))).as("pre"),
            sum(when(col("period") === 1, col("mean_e4"))).as("post"))
          .select(col("0_pre").as("c_pre"), col("0_post").as("c_post"),
            col("1_pre").as("t_pre"), col("1_post").as("t_post"),
            ((col("1_post") - col("1_pre")) - (col("0_post") - col("0_pre")))
              .as("did_e4"))
      },
      Some("""WITH cut AS (
             |  SELECT min(CAST(ts AS DATE))
             |         + CAST(floor(date_diff('day', min(CAST(ts AS DATE)),
             |                                 max(CAST(ts AS DATE))) / 2) AS INTEGER)
             |         AS cut
             |  FROM events),
             |cells AS (
             |  SELECT user_id % 2 AS variant,
             |         CASE WHEN CAST(ts AS DATE) >= cut THEN 1 ELSE 0 END AS period,
             |         CAST((10000 * sum(CAST(floor(value * 100 + 0.5) AS BIGINT)))
             |              // count(DISTINCT user_id) AS BIGINT) AS mean_e4
             |  FROM events, cut GROUP BY 1, 2)
             |SELECT
             |  (SELECT mean_e4 FROM cells WHERE variant = 0 AND period = 0) AS c_pre,
             |  (SELECT mean_e4 FROM cells WHERE variant = 0 AND period = 1) AS c_post,
             |  (SELECT mean_e4 FROM cells WHERE variant = 1 AND period = 0) AS t_pre,
             |  (SELECT mean_e4 FROM cells WHERE variant = 1 AND period = 1) AS t_post,
             |  ((SELECT mean_e4 FROM cells WHERE variant = 1 AND period = 1)
             |   - (SELECT mean_e4 FROM cells WHERE variant = 1 AND period = 0))
             |  - ((SELECT mean_e4 FROM cells WHERE variant = 0 AND period = 1)
             |     - (SELECT mean_e4 FROM cells WHERE variant = 0 AND period = 0))
             |    AS did_e4""".stripMargin)),

    // Theil–Sen robust trend — the median of all pairwise daily-revenue
    // slopes, immune to the outlier days that drag q_trend_ols' least
    // squares. Every pairwise slope is the floor-scaled integer
    // sign·(10⁶·|Δcents|) div Δdays, and the published statistic is
    // 2·median (= the sum of the two middle order statistics — an
    // exact integer even when the median interpolates, so no float
    // rounding can flip it). Scale: the pair explosion is over the
    // |types|×|days| DAILY table (≤ C(|days|, 2) pairs per type at any
    // corpus size — bounded by the calendar, not the data), after the
    // corpus reduces in one map-side-combined aggregation.
    QueryDef("q_theilsen",
      (s, d) => {
        val e = T.events(s, d)
        val d0 = e.agg(min(to_date(col("ts"))).as("d0"))
        val daily = e.join(broadcast(d0))
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), col("d0")).as("t"))
          .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("y"))
        val b = daily.select(col("event_type"), col("t").as("t2"), col("y").as("y2"))
        daily.join(b, Seq("event_type")).filter(col("t") < col("t2"))
          .withColumn("slope_e6",
            signum(col("y2") - col("y")).cast("long")
              * expr("(1000000 * abs(y2 - y)) div (t2 - t)"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"),
            expr("CAST(2 * percentile(slope_e6, 0.5) AS BIGINT)").as("ts_slope2_e6"))
          .orderBy(col("event_type"))
      },
      Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
             |daily AS (
             |  SELECT event_type, date_diff('day', d0, CAST(ts AS DATE)) AS t,
             |         sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS y
             |  FROM events, d0 GROUP BY 1, 2),
             |slopes AS (
             |  SELECT a.event_type,
             |         CAST(sign(b.y - a.y) AS BIGINT)
             |           * CAST((1000000 * abs(b.y - a.y)) // (b.t - a.t) AS BIGINT)
             |           AS slope_e6
             |  FROM daily a JOIN daily b
             |    ON a.event_type = b.event_type AND a.t < b.t)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
             |       CAST(2 * quantile_cont(slope_e6, 0.5) AS BIGINT) AS ts_slope2_e6
             |FROM slopes GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Sequence-pattern detection over per-user event streams — the
    // MATCH_RECOGNIZE-lite operator: each user's history becomes a
    // single-char-coded string (one char per event type, ordered by
    // (ts, event_id)), a regex counts non-overlapping browse-then-buy
    // runs ('v+p': one or more views then a purchase), and the output
    // is the corpus-level distribution of per-user match counts. Both
    // engines scan left-to-right resuming after each match with greedy
    // quantifiers, so the count is engine-identical. Scale: ONE
    // user-keyed shuffle; the sort + encode + regex all run inside the
    // aggregation's merge (per-user strings bounded by per-user
    // activity, the same bound q_transitions/q_event_paths rely on);
    // the match-count histogram is ≤ max-activity rows.
    QueryDef("q_seq_detect",
      (s, d) => {
        val e = T.events(s, d).select(col("user_id"), col("ts"),
          col("event_id"), substring(col("event_type"), 1, 1).as("c"))
        e.groupBy(col("user_id"))
          .agg(expr("array_join(transform(array_sort(" +
            "collect_list(struct(ts, event_id, c))), x -> x.c), '')").as("str"))
          .select(size(expr("regexp_extract_all(str, 'v+p', 0)")).as("n_matches"))
          .groupBy(col("n_matches")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_matches"))
      },
      Some("""WITH s AS (
             |  SELECT user_id,
             |         string_agg(substr(event_type, 1, 1), ''
             |                    ORDER BY ts, event_id) AS str
             |  FROM events GROUP BY user_id),
             |m AS (SELECT len(regexp_extract_all(str, 'v+p')) AS n_matches FROM s)
             |SELECT CAST(n_matches AS INTEGER) AS n_matches,
             |       CAST(count(*) AS BIGINT) AS n_users
             |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Autocorrelation of the daily count series per type at lags 1 and
    // 7 — the seasonality detector behind q_forecast_snaive's fixed
    // season (a high acf@7 is what justifies f_t = x_{t−7}). The ACF
    // rational is kept exact by clearing the mean's denominator:
    // NUM_k = Σ(n·x_t − S)(n·x_{t−k} − S) over day-offset pairs (a gap
    // never misaligns the lag), DEN = Σ(n·x_t − S)² over the full
    // series, acf_e4 = sign·(10⁴·|NUM|) div DEN — floor-div of
    // non-negatives after the sign split, engine-identical. Headroom:
    // (n·x − S) ~ n·daily-count keeps NUM below 2^63 until
    // n²·maxdev² ≈ 9e18 (rescale past ~3e4 daily corpus days·counts).
    QueryDef("q_autocorr",
      (s, d) => {
        val sess = s; import sess.implicits._
        val e = T.events(s, d)
        val d0 = e.agg(min(to_date(col("ts"))).as("d0"))
        // daily/dev are (event_type × day) rows — tiny — but feed 2 and
        // 3 plan branches respectively; uncheckpointed, each branch
        // re-scanned events and re-ran the daily aggregation (round 15:
        // the before plan reads events.parquet 12× — guide §7.2
        // duplicated subtrees). Two cheap materializations make the
        // corpus-scale pass run once.
        val daily = graft.Materialize.frame(e.join(broadcast(d0))
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), col("d0")).as("t"))
          .agg(count(lit(1)).as("x")))
        val st = daily.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("ss"))
        val dev = graft.Materialize.frame(daily.join(broadcast(st), "event_type")
          .select(col("event_type"), col("t"),
            (col("n") * col("x") - col("ss")).as("dx")))
        val den = dev.groupBy(col("event_type"))
          .agg(sum(col("dx") * col("dx")).as("den"))
        val lags = Seq(1, 7).toDF("lag")
        val lagged = dev.join(broadcast(lags))
          .select(col("event_type"), (col("t") + col("lag")).as("t"),
            col("lag"), col("dx").as("dx_lag"))
        dev.join(lagged, Seq("event_type", "t"))
          .groupBy(col("event_type"), col("lag"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("dx") * col("dx_lag")).as("num"))
          .join(broadcast(den), "event_type")
          .select(col("event_type"), col("lag"), col("n_pairs"),
            (signum(col("num")).cast("long")
              * expr("(10000 * abs(num)) div den")).as("acf_e4"))
          .orderBy(col("event_type"), col("lag"))
      },
      Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
             |daily AS (
             |  SELECT event_type, date_diff('day', d0, CAST(ts AS DATE)) AS t,
             |         count(*) AS x
             |  FROM events, d0 GROUP BY 1, 2),
             |st AS (SELECT event_type, count(*) AS n, sum(x) AS ss
             |       FROM daily GROUP BY 1),
             |dev AS (SELECT d.event_type, d.t, s2.n * d.x - s2.ss AS dx
             |        FROM daily d JOIN st s2 USING (event_type)),
             |den AS (SELECT event_type, sum(dx * dx) AS den FROM dev GROUP BY 1),
             |lags(lag) AS (VALUES (1), (7)),
             |pairs AS (
             |  SELECT a.event_type, l.lag, a.dx, b.dx AS dx_lag
             |  FROM dev a CROSS JOIN lags l
             |  JOIN dev b ON b.event_type = a.event_type AND b.t = a.t - l.lag)
             |SELECT p.event_type, CAST(p.lag AS INTEGER) AS lag,
             |       CAST(count(*) AS BIGINT) AS n_pairs,
             |       CAST(sign(sum(p.dx * p.dx_lag)) AS BIGINT)
             |         * CAST((10000 * abs(sum(p.dx * p.dx_lag))) // any_value(d2.den)
             |                AS BIGINT) AS acf_e4
             |FROM pairs p JOIN den d2 USING (event_type)
             |GROUP BY p.event_type, p.lag ORDER BY p.event_type, p.lag""".stripMargin)),

    // Seasonal decomposition (STL-lite, additive): daily counts split
    // into trend (7-day centered moving average — only days with the
    // full window, the classic STL edge rule), weekly seasonal (per
    // day-of-week mean of the detrended series), and residual. The
    // detector-side complement of q_autocorr's ACF: autocorr SAYS the
    // season exists, this query REMOVES it so q_outliers-style flags run
    // on the residual instead of refiring every weekend. All arithmetic
    // on cleared-denominator BIGINTs (det7 = 7·x − sum7 is exact; e4
    // scalings via the sign·(10⁴·|v|) div d convention), so the oracle
    // hash-matches with no float accumulation anywhere. Scale shape: the
    // corpus reduces to the |types|×|days| daily table in one map-side
    // agg; every window after that is calendar-bounded.
    QueryDef("q_seasonal_decompose",
      (s, d) => {
        val e = T.events(s, d)
        val d0 = e.agg(min(to_date(col("ts"))).as("d0"))
        val daily = e.join(broadcast(d0))
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), col("d0")).as("t"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("t"))
          .rangeBetween(-3, 3)
        val trended = daily
          .withColumn("sum7", sum(col("x")).over(w))
          .withColumn("n7", count(lit(1)).over(w))
          .filter(col("n7") === 7)
          .withColumn("det7", lit(7) * col("x") - col("sum7"))
          .withColumn("dow", pmod(col("t"), lit(7)))
        val seasonal = trended.groupBy(col("event_type"), col("dow"))
          .agg(sum(col("det7")).as("s_num"), count(lit(1)).as("s_n"))
          .select(col("event_type"), col("dow"),
            (signum(col("s_num")).cast("long")
              * expr("(10000 * abs(s_num)) div (7 * s_n)")).as("seasonal_e4"))
        trended.join(seasonal, Seq("event_type", "dow"))
          .select(col("event_type"), col("t"), col("x"),
            expr("(10000 * sum7) div 7").as("trend_e4"),
            col("seasonal_e4"),
            (signum(col("det7")).cast("long")
              * expr("(10000 * abs(det7)) div 7")
              - col("seasonal_e4")).as("residual_e4"))
          .orderBy(col("event_type"), col("t"))
      },
      Some("""WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
             |daily AS (
             |  SELECT event_type, date_diff('day', d0, CAST(ts AS DATE)) AS t,
             |         count(*) AS x
             |  FROM events, d0 GROUP BY 1, 2),
             |tr AS (
             |  SELECT event_type, t, x,
             |         sum(x) OVER w AS sum7, count(*) OVER w AS n7
             |  FROM daily
             |  WINDOW w AS (PARTITION BY event_type ORDER BY t
             |               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |det AS (
             |  SELECT event_type, t, x, sum7, 7 * x - sum7 AS det7,
             |         t % 7 AS dow
             |  FROM tr WHERE n7 = 7),
             |seas AS (
             |  SELECT event_type, dow,
             |         CAST(sign(sum(det7)) AS BIGINT)
             |           * CAST((10000 * abs(sum(det7))) // (7 * count(*)) AS BIGINT)
             |           AS seasonal_e4
             |  FROM det GROUP BY 1, 2)
             |SELECT d2.event_type, CAST(d2.t AS INTEGER) AS t,
             |       CAST(d2.x AS BIGINT) AS x,
             |       CAST((10000 * d2.sum7) // 7 AS BIGINT) AS trend_e4,
             |       s2.seasonal_e4,
             |       CAST(sign(d2.det7) AS BIGINT)
             |         * CAST((10000 * abs(d2.det7)) // 7 AS BIGINT)
             |         - s2.seasonal_e4 AS residual_e4
             |FROM det d2 JOIN seas s2 USING (event_type, dow)
             |ORDER BY d2.event_type, d2.t""".stripMargin))
  )
}
