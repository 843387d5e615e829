package graft.queries

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial analytics over a deterministic point layout (SURVEY.md §2b
  * q_geo_radius / q_geo_grid) — the geo axis of the engine: radius
  * search and density aggregation without ever forming a cross join.
  *
  * The fixture has no coordinate columns, so each event gets an
  * INTEGER grid position derived from md5(event_id) — the q_dsir_hashed
  * portability trick (Spark `conv(substr(md5(x),1,6),16,10)` ≡ DuckDB
  * `CAST('0x' || substring(md5(x),1,6) AS BIGINT)`), so the oracle
  * derives bit-identical coordinates. Integer coordinates make every
  * distance a BIGINT: dist² = (x−cx)² + (y−cy)² compares exactly
  * against R² in both engines — no haversine transcendentals, no float
  * boundary rows (SURVEY.md §7.5 H1).
  *
  * Scale shape (the point of the pack): the naive radius join is
  * O(points × centers) — a BroadcastNestedLoopJoin that at 100 TB
  * scans every point against every query region. The engine instead
  * snaps points to CellSize grid cells map-side and explodes each
  * center to its 3×3 neighborhood (R ≤ CellSize guarantees the
  * neighborhood covers the disk), turning containment into an EQUI
  * join on the cell key with the exact integer distance as residual —
  * the q_join_range bin-rewrite idea lifted to 2-D. The oracle runs
  * the definitional brute-force join (algorithm ≠ oracle, q_skyline
  * pattern).
  */
object Geo {

  /** Coordinate domain [0, Extent): ~100k units square. */
  val Extent = 100000L
  /** Grid cell edge; must be ≥ Radius for 3×3 neighbor coverage. */
  val CellSize = 4096L
  /** Radius search distance (units); R² fits comfortably in BIGINT. */
  val Radius = 3000L
  require(Radius <= CellSize, "3x3 neighborhood must cover the search disk")
  /** Neighbors per center for the kNN query. */
  val KnnK = 5
  /** kNN uses a coarser grid than the radius search: the exactness
    * bound (kth distance ≤ cell edge) must hold at the SPARSEST fixture
    * (sf0.001 ≈ 0.4 points per 4096-cell — the 5th neighbor sits ~6600
    * units out, past a 4096 cell but well inside 16384). Expected kth
    * distance √(k/(nπ))·extent shrinks with density, so the bound only
    * tightens at larger scales.
    */
  val KnnCellSize = 16384L
  /** Pair-join distance: the all-pairs self-join bins at exactly this
    * edge, so a qualifying pair is always within one cell Chebyshev.
    */
  val PairDist = 200L

  /** events + deterministic integer coordinates (map-side, codegen'd). */
  def pointsOf(events: DataFrame): DataFrame = {
    def coord(salt: String) =
      pmod(conv(substring(md5(concat(lit(salt),
        col("event_id").cast("string"))), 1, 6), 16, 10).cast("long"), lit(Extent))
    events.select(col("event_id"), col("event_type"), col("value"),
      coord("gx:").as("x"), coord("gy:").as("y"))
  }

  private def pointsSql: String =
    """SELECT event_id, event_type, value,
      |       CAST('0x' || substring(md5('gx:' || CAST(event_id AS VARCHAR)), 1, 6) AS BIGINT) % 100000 AS x,
      |       CAST('0x' || substring(md5('gy:' || CAST(event_id AS VARCHAR)), 1, 6) AS BIGINT) % 100000 AS y
      |FROM events""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Radius search: for each of the 20 highest-value events (the
    // "incident centers"), how many events lie within Radius, and the
    // strongest one — count and max are order-independent, so no float
    // accumulation can disagree (sum-of-doubles would).
    QueryDef("q_geo_radius",
      (s, d) => {
        val pts = pointsOf(T.events(s, d))
        // top-20 centers: TakeOrderedAndProject, never a global sort
        val centers = pts
          .orderBy(col("value").desc, col("event_id")).limit(20)
          .select(col("event_id").as("center_id"),
            col("x").as("cx"), col("y").as("cy"))
        // 3×3 neighborhood explode on the TINY side (20 → 180 rows),
        // broadcast into the point scan: one equi hash join on the
        // cell key, residual = exact integer disk test.
        val offs = array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
          struct(lit(i.toLong).as("dx"), lit(j.toLong).as("dy")))): _*)
        val ccells = centers
          .select(col("center_id"), col("cx"), col("cy"), explode(offs).as("o"))
          .select(col("center_id"), col("cx"), col("cy"),
            (expr(s"cx div $CellSize") + col("o.dx")).as("gx"),
            (expr(s"cy div $CellSize") + col("o.dy")).as("gy"))
        val binned = pts.withColumn("gx", expr(s"x div $CellSize"))
          .withColumn("gy", expr(s"y div $CellSize"))
        val d2 = (col("x") - col("cx")) * (col("x") - col("cx")) +
          (col("y") - col("cy")) * (col("y") - col("cy"))
        binned.join(broadcast(ccells), Seq("gx", "gy"))
          .filter(d2 <= Radius * Radius)
          .groupBy(col("center_id"), col("cx"), col("cy"))
          .agg(count(lit(1)).as("n_within"), max(col("value")).as("max_val"))
          .orderBy(col("center_id"))
      },
      Some(s"""WITH pts AS ($pointsSql),
              |centers AS (
              |  SELECT event_id AS center_id, x AS cx, y AS cy
              |  FROM pts ORDER BY value DESC, event_id LIMIT 20)
              |SELECT c.center_id, c.cx, c.cy,
              |       CAST(count(*) AS BIGINT) AS n_within,
              |       max(p.value) AS max_val
              |FROM centers c JOIN pts p
              |  ON (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)
              |     <= ${Radius * Radius}
              |GROUP BY c.center_id, c.cx, c.cy
              |ORDER BY c.center_id""".stripMargin)),

    // k-nearest-neighbor search: the exact 5 nearest events per center,
    // answered from the 3×3 cell neighborhood through the custom
    // GroupedTopK bounded-heap operator (k-heaps inside the aggregation
    // exchange — candidates never sort globally). Exactness guarantee:
    // the 3×3 block covers every point within Chebyshev distance
    // KnnCellSize of the center, so the answer is exact whenever the
    // 5th candidate distance ≤ KnnCellSize — AnalyticsSpec asserts it
    // holds for every fixture center AND brute-force parity; a
    // production run re-probes at 5×5 for the (rare) centers that fail
    // the bound. The oracle states the definitional brute-force window
    // over all points (algorithm ≠ oracle).
    QueryDef("q_geo_knn",
      (s, d) => {
        val pts = pointsOf(T.events(s, d))
        val centers = pts
          .orderBy(col("value").desc, col("event_id")).limit(20)
          .select(col("event_id").as("center_id"),
            col("x").as("cx"), col("y").as("cy"))
        val offs = array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
          struct(lit(i.toLong).as("dx"), lit(j.toLong).as("dy")))): _*)
        val ccells = centers
          .select(col("center_id"), col("cx"), col("cy"), explode(offs).as("o"))
          .select(col("center_id"), col("cx"), col("cy"),
            (expr(s"cx div $KnnCellSize") + col("o.dx")).as("gx"),
            (expr(s"cy div $KnnCellSize") + col("o.dy")).as("gy"))
        val cand = pts.withColumn("gx", expr(s"x div $KnnCellSize"))
          .withColumn("gy", expr(s"y div $KnnCellSize"))
          .join(broadcast(ccells), Seq("gx", "gy"))
          .withColumn("d2", (col("x") - col("cx")) * (col("x") - col("cx")) +
            (col("y") - col("cy")) * (col("y") - col("cy")))
          .select(col("center_id"), col("event_id"), col("d2"))
        val top = graft.plans.GroupedTopKOp.topK(cand, KnnK,
          Seq("center_id"), Seq(("d2", false), ("event_id", false)))
        // rank over the groups×k survivors only (≤ 100 rows)
        top.withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("center_id")).orderBy(col("d2"), col("event_id"))))
          .select(col("center_id"), col("rank"), col("event_id"), col("d2"))
          .orderBy(col("center_id"), col("rank"))
      },
      Some(s"""WITH pts AS ($pointsSql),
              |centers AS (
              |  SELECT event_id AS center_id, x AS cx, y AS cy
              |  FROM pts ORDER BY value DESC, event_id LIMIT 20),
              |d AS (
              |  SELECT c.center_id, p.event_id,
              |         (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS d2
              |  FROM centers c CROSS JOIN pts p),
              |ranked AS (
              |  SELECT center_id, event_id, d2,
              |         row_number() OVER (PARTITION BY center_id
              |                            ORDER BY d2, event_id) AS rank
              |  FROM d)
              |SELECT center_id, CAST(rank AS INTEGER) AS rank, event_id, d2
              |FROM ranked WHERE rank <= $KnnK
              |ORDER BY center_id, rank""".stripMargin)),

    // Spatial SELF-join: all event pairs within PairDist of each other,
    // summarized per (type, type) — the all-pairs proximity operator
    // (collision detection, co-location mining) whose naive plan is the
    // O(n²) cross join. Exactly-once bin trick: each point lives in ONE
    // PairDist-sized cell; only the LEFT side explodes to its 3×3
    // neighborhood, the right side keeps its own cell, and the
    // a.id < b.id filter picks exactly one of the pair's two
    // productions — no post-join distinct, no multi-bin dedup (every
    // qualifying pair is within one cell Chebyshev, so b's cell is
    // always in a's 3×3). avg_d2 is a ratio of an exact BIGINT sum.
    QueryDef("q_geo_pairs",
      (s, d) => {
        val pts = pointsOf(T.events(s, d))
        // both join sides read one materialization of the narrow binned
        // points (round 15 — uncheckpointed, lhs and rhs each re-ran
        // the events scan + hash-projection)
        val binned = graft.Materialize.frame(pts.select(col("event_id"), col("event_type"),
          col("x"), col("y"),
          expr(s"x div $PairDist").as("gx"), expr(s"y div $PairDist").as("gy")))
        val offs = array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
          struct(lit(i.toLong).as("dx"), lit(j.toLong).as("dy")))): _*)
        val lhs = binned.select(col("event_id").as("id_a"),
            col("event_type").as("t_a"), col("x").as("xa"), col("y").as("ya"),
            col("gx"), col("gy"), explode(offs).as("o"))
          .select(col("id_a"), col("t_a"), col("xa"), col("ya"),
            (col("gx") + col("o.dx")).as("gx"), (col("gy") + col("o.dy")).as("gy"))
        val rhs = binned.select(col("event_id").as("id_b"),
          col("event_type").as("t_b"), col("x").as("xb"), col("y").as("yb"),
          col("gx"), col("gy"))
        val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb"))
        lhs.join(rhs, Seq("gx", "gy"))
          .filter(col("id_a") < col("id_b") && d2 <= PairDist * PairDist)
          .select(least(col("t_a"), col("t_b")).as("tlo"),
            greatest(col("t_a"), col("t_b")).as("thi"), d2.as("d2"))
          .groupBy(col("tlo"), col("thi"))
          .agg(count(lit(1)).as("n"), round(avg(col("d2")), 4).as("avg_d2"))
          .orderBy(col("tlo"), col("thi"))
      },
      Some(s"""WITH pts AS ($pointsSql)
              |SELECT least(a.event_type, b.event_type) AS tlo,
              |       greatest(a.event_type, b.event_type) AS thi,
              |       CAST(count(*) AS BIGINT) AS n,
              |       round(avg((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)), 4) AS avg_d2
              |FROM pts a JOIN pts b ON a.event_id < b.event_id
              |  AND (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= ${PairDist * PairDist}
              |GROUP BY tlo, thi ORDER BY tlo, thi""".stripMargin)),

    // Density heatmap: top-30 densest 8192-unit grid cells with their
    // tight integer bounding boxes — the per-cell min/max bounds are
    // exactly what a spatial file layout (the q_zorder idea in 2-D)
    // turns into skipped IO.
    QueryDef("q_geo_grid",
      (s, d) => pointsOf(T.events(s, d))
        .withColumn("gx", expr("x div 8192"))
        .withColumn("gy", expr("y div 8192"))
        .groupBy(col("gx"), col("gy"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"),
          min(col("y")).as("y_min"), max(col("y")).as("y_max"))
        .orderBy(col("n").desc, col("gx"), col("gy")).limit(30),
      Some(s"""WITH pts AS ($pointsSql)
              |SELECT x // 8192 AS gx, y // 8192 AS gy,
              |       CAST(count(*) AS BIGINT) AS n,
              |       min(x) AS x_min, max(x) AS x_max,
              |       min(y) AS y_min, max(y) AS y_max
              |FROM pts GROUP BY 1, 2
              |ORDER BY n DESC, gx, gy LIMIT 30""".stripMargin))
  )
}
