package graft.queries

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on an entity graph contracted from the
  * fact table (SURVEY.md §2b q_pagerank).
  *
  * The graph: part co-purchase — parts appearing in the same order are
  * linked, edge weight = number of co-occurrences. The 100-TB shape is
  * the point: the corpus-scale work is the ONE self-join on the fact
  * table's own key (co-located — both sides shuffle on l_orderkey
  * once) plus a map-side-combined edge aggregation; the PageRank loop
  * then iterates over the CONTRACTED graph whose node set is the part
  * dimension, each iteration one shuffle keyed by dst. Rank state is
  * localCheckpointed per iteration so 10 iterations don't compound
  * lineage into one giant plan.
  *
  * Determinism (what makes this oracle-eligible when float PageRank is
  * not): ranks are scaled BIGINTs and every division is integral
  * (`div` in Spark, `//` in DuckDB) — no float accumulation order to
  * disagree on. rank' (v) = base15 + (85 · Σ_u (rank(u)·w(u,v) div
  * W(u))) div 100, dangling mass dropped (documented leak, mirrored in
  * the oracle). The oracle unrolls the fixed 10 iterations as chained
  * CTEs — generated, not hand-copied 10×.
  */
object Graph {

  /** Rank scale: 1e12 ≪ 2^63 leaves headroom for rank·weight products
    * (max ~1e12 · weight) with exact BIGINT arithmetic at any corpus
    * size where per-edge weights stay below ~9e6.
    */
  val Scale = 1000000000000L
  val Iterations = 10

  /** Node-dimension broadcast ceiling for the iterative loops: a
    * (node, BIGINT-state) row is ~50 bytes materialized, so 10M nodes
    * ≈ 500 MB — the most an executor should hold of somebody else's
    * state. Below it, rank/label/vote vectors broadcast and each round
    * costs ONE dst-keyed shuffle; above it, the SAME plan runs with the
    * hints dropped — two m-row shuffle joins per round, still linear,
    * no plan rewrite (the triangleStats fallback contract, now uniform
    * across all three iterative operators).
    */
  val BroadcastNodeLimit = 10000000L

  private def maybeBcast(df: DataFrame, nodeCount: Long, limit: Long): DataFrame =
    if (nodeCount <= limit) broadcast(df) else df

  /** Eager localCheckpoint whose row count rides the materialization
    * job as an `observe` metric (round 15) — every iterative operator
    * here pays a bounding count right after a checkpoint, and the
    * separate count action was pure job latency at fixture scale.
    */
  private def ckCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = df.observe("n", count(lit(1)))
    val ck = graft.Materialize.frame(obs)
    (ck, obs.queryExecution.observedMetrics("n").getLong(0))
  }

  /** Spark-side deterministic integer PageRank; factored out so specs
    * can run it on crafted graphs (GraphSpec parity vs a naive
    * in-test implementation).
    */
  def pagerankOf(nodes: DataFrame, edges: DataFrame, iterations: Int,
                 bcastLimit: Long = BroadcastNodeLimit): DataFrame = {
    val (nd, n) = ckCounted(nodes) // bounded: dimension-table count
    // materialize the loop-invariant state ONCE: edges pre-joined with
    // their source's out-weight (the denominator never changes), and
    // the node list. Without this every iteration re-derives the edge
    // aggregation all the way from the fact-table self-join — measured
    // 20.5 s → 7 s at sf0.1. Round 15: destinations are additionally
    // semi-joined to the node set HERE (loop-invariant, one broadcast
    // below the ceiling) so the union-form iteration below needs no
    // per-iteration node join at all — previously each round LEFT-
    // joined the full node list against the contribution aggregate,
    // which cost a second join and a driver-funnelled broadcast of the
    // node-count contribution frame every iteration (guide §2.4:
    // remove shuffles outright). wtot is aggregated BEFORE the
    // restriction, so out-of-node-set destinations still dilute their
    // source's rank exactly as the oracle's deg CTE prescribes.
    val ew = graft.Materialize.frame(edges.join(
        maybeBcast(edges.groupBy(col("src")).agg(sum(col("w")).as("wtot")), n, bcastLimit),
        "src")
      .select(col("src"), col("dst"), col("w"), col("wtot"))
      .join(maybeBcast(nd.select(col("node").as("dst")), n, bcastLimit),
        Seq("dst"), "left_semi"))
    val base = Scale / n
    val base15 = (15L * base) / 100L
    var pr = nd.withColumn("pr", lit(base))
    // zero-contribution rows for every node: unioned into the per-round
    // aggregation so isolated/dangling-target nodes keep their base
    // rank without a node-list join (Σ(c ∪ {0}) ≡ coalesce(Σc, 0))
    val zeros = nd.select(col("node"), lit(0L).as("c"))
    var it = 0
    while (it < iterations) {
      // rank is node-count rows (the contracted graph) — broadcast it
      // into the edge scan (conditional on BroadcastNodeLimit) so the
      // only shuffle per iteration is the node-keyed contribution agg
      // truncate lineage: 10 chained join+agg rounds would otherwise
      // compound into one mega-plan (node-count rows only — cheap)
      pr = graft.Materialize.frame(
        maybeBcast(pr, n, bcastLimit).join(ew, pr("node") === ew("src"))
          .selectExpr("dst AS node", "(pr * w) div wtot AS c")
          .unionByName(zeros)
          .groupBy(col("node")).agg(sum(col("c")).as("s"))
          .selectExpr("node", s"${base15}L + ((85 * s) div 100) AS pr"))
      it += 1
    }
    pr
  }

  /** Co-purchase edges from lineitem: both directions, weight = number
    * of same-order co-occurrences. ONE shuffle on the fact table's own
    * key (groupBy orderkey → per-order part list → pair explosion),
    * not a two-sided self-join — measured 1.7× faster at sf0.1 and
    * half the shuffled volume. Per-group lists are bounded by order
    * size (≤ a few dozen lines), so collect_list never builds a hot
    * key; the pair blow-up happens AFTER the shuffle, map-side.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("ok"), col("l_partkey"))
      .groupBy(col("ok")).agg(collect_list(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))

  /** The unrolled-iteration oracle: r1..rN generated as chained CTEs,
    * integer arithmetic mirroring pagerankOf exactly.
    */
  private def pagerankSql(iterations: Int): String = {
    val iters = (1 to iterations).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |         (SELECT base15 FROM consts) + (85 * COALESCE(c.s, 0)) // 100 AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, CAST(sum((r.pr * e.w) // d.wtot) AS BIGINT) AS s
         |    FROM r${k - 1} r JOIN edges e ON r.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.dst = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot FROM edges GROUP BY 1),
       |nodes AS (SELECT p_partkey AS node FROM part),
       |consts AS (SELECT CAST((15 * ($Scale // count(*))) // 100 AS BIGINT) AS base15,
       |                  CAST($Scale // count(*) AS BIGINT) AS base FROM part),
       |r0 AS (SELECT node, (SELECT base FROM consts) AS pr FROM nodes),
       |$iters
       |SELECT node, pr FROM r$iterations ORDER BY pr DESC, node LIMIT 100""".stripMargin
  }

  val LpaIterations = 5

  /** Minimum distinct-order support for an association rule
    * (q_assoc_rules). At 100 TB this threshold is what keeps the rule
    * table bounded: pairs below it are pruned at the first aggregation.
    */
  val MinRuleSupport = 3

  /** Synchronous weighted label propagation (community detection):
    * every node starts as its own label; each round every node adopts
    * the label with the highest incoming edge-weight vote (ties to the
    * smallest label — with integer weights this makes the whole run
    * deterministic and therefore oracle-eligible, the q_pagerank
    * trick). Factored out so GraphSpec can run it on crafted graphs.
    *
    * Scale shape: corpus-scale work is the shared co-purchase edge
    * build; each round is one (dst, label)-keyed vote aggregation over
    * the contracted graph plus a per-dst argmax taken with the
    * GroupedTopK bounded-heap operator (k=1) — never a full sort of the
    * vote table. Labels are node-dimension rows and broadcast like the
    * PageRank rank vector (conditional on BroadcastNodeLimit — past it
    * the hint drops and the round runs as a shuffle join, same plan);
    * state localCheckpoints per round so lineage never stacks.
    */
  def lpaOf(edges: DataFrame, iterations: Int,
            bcastLimit: Long = BroadcastNodeLimit): DataFrame = {
    val ew = graft.Materialize.frame(edges)
    var (lab, n) = ckCounted(ew.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))) // node-dimension count rides the ck
    var it = 0
    while (it < iterations) {
      val votes = maybeBcast(lab, n, bcastLimit).join(ew, lab("node") === ew("src"))
        .groupBy(col("dst"), col("label")).agg(sum(col("w")).as("v"))
      lab = graft.Materialize.frame(graft.plans.GroupedTopKOp
        .topK(votes, 1, Seq("dst"), Seq(("v", true), ("label", false)))
        .select(col("dst").as("node"), col("label")))
      it += 1
    }
    lab.orderBy(col("node"))
  }

  /** The unrolled-iteration LPA oracle — same technique as
    * [[pagerankSql]]: l1..lN generated as chained CTEs, window argmax
    * with the identical (v desc, label asc) total order.
    */
  private def lpaSql(iterations: Int): String = {
    val iters = (1 to iterations).map { k =>
      s"""l$k AS (
         |  SELECT dst AS node, label FROM (
         |    SELECT e.dst, l.label, sum(e.w) AS v,
         |           row_number() OVER (PARTITION BY e.dst
         |               ORDER BY sum(e.w) DESC, l.label) AS rn
         |    FROM l${k - 1} l JOIN edges e ON l.node = e.src
         |    GROUP BY e.dst, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
       |$iters
       |SELECT node, label FROM l$iterations ORDER BY node""".stripMargin
  }

  /** Triangle count with degree-ordered edge orientation: every edge
    * points from its (degree, node)-smaller endpoint to the larger, so
    * each triangle is counted exactly once AND the wedge join fans out
    * from the LOW-degree endpoint — the standard trick that keeps hub
    * nodes from creating O(deg²) wedge candidates at scale (a hub's
    * edges mostly point INTO it, so it seeds few wedges). The count is
    * orientation-invariant, which is what makes the naive a<b<c oracle
    * formulation comparable.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // materialize the undirected edge list once: five downstream
    // branches (deg, orientation, both wedge sides, the three counts)
    // would otherwise each re-derive it from the fact-table self-join
    // edge count m bounds everything broadcast below: |deg| <= 2m rows,
    // and the adjacency arrays hold exactly m entries total; it rides
    // the checkpoint job as an observe metric. (Round-10 finding: the
    // 100x RelScale tier OOM'd a 64 GB heap on the then-UNCONDITIONAL
    // adj broadcast — ~2e8 oriented edges of arrays; the fallback below
    // turns that run into two m-row shuffle joins, exactly as this
    // comment always promised.)
    val (und, m) = ckCounted(edges.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b")))
    // deg materialized once (round 16): THREE consumers (both
    // orientation joins' broadcast builds + the node count) each re-ran
    // the two-sided union + aggregation over the edge checkpoint; now
    // one pass, node-dimension rows, and the node count rides the
    // checkpoint job as its observe metric (guide §7.2/§2.4)
    val (deg, nNodesCnt) = ckCounted(und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // deg is node-count rows — broadcast both orientation joins (below
    // the ceiling) so the m-row edge list never shuffles for them
    val oriented = graft.Materialize.frame(und
      .join(maybeBcast(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), m, BroadcastNodeLimit), "a")
      .join(maybeBcast(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), m, BroadcastNodeLimit), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("v"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("da")).otherwise(col("db")).as("du"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("db")).otherwise(col("da")).as("dv")))
    // adjacency-intersection count: tri = Σ over oriented edges (u,v)
    // of |N⁺(u) ∩ N⁺(v)| — each triangle a≺b≺c counted exactly once at
    // its (a,b) edge. This never materializes wedge rows (the first-cut
    // wedge-join formulation shuffled tens of millions of candidate
    // pairs and ran 28 s at sf0.1; this runs the same work as a
    // map-side array intersection). The adjacency table is node-count
    // rows whose arrays hold m entries total (out-degrees are
    // orientation-bounded by O(√m)), so it broadcasts like the PageRank
    // rank vector BELOW the edge ceiling; past it the hints drop and
    // the same plan runs as two m-row shuffle joins — still no wedge
    // blow-up (the 100x tier exercises this path for real).
    val adj = oriented.groupBy(col("u"))
      .agg(collect_list(col("v")).as("nbrs"))
    val tri = oriented.select(col("u"), col("v"))
      .join(maybeBcast(adj, m, BroadcastNodeLimit), Seq("u"), "inner")
      .withColumnRenamed("nbrs", "nu")
      .join(maybeBcast(adj.withColumnRenamed("u", "v"), m, BroadcastNodeLimit), Seq("v"), "left")
      .withColumn("common",
        when(col("nbrs").isNull, lit(0))
          .otherwise(size(array_intersect(col("nu"), col("nbrs")))))
      .agg(sum(col("common")).as("n_triangles"))
    // node/edge counts are the checkpoints' own observe metrics — the
    // previous two standalone count aggregations (one of which re-ran
    // the whole deg subtree) were pure job latency (round 16)
    tri.select(lit(nNodesCnt).as("n_nodes"), lit(m).as("n_edges"),
      col("n_triangles"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Product centrality: top-100 parts by co-purchase PageRank.
    QueryDef("q_pagerank",
      (s, d) => {
        val nodes = T.part(s, d).select(col("p_partkey").as("node"))
        val edges = coPurchaseEdges(T.lineitem(s, d))
        pagerankOf(nodes, edges, Iterations)
          .orderBy(col("pr").desc, col("node")).limit(100)
      },
      Some(pagerankSql(Iterations))),

    // Single-source BFS over the co-purchase graph: nodes reachable
    // from part 1 within 3 hops, counted per MINIMAL hop distance — the
    // frontier-expansion iterative pattern next to PageRank's fixed-
    // iteration one. Scale shape: the edge build pays its one shuffle
    // once (localCheckpointed, reused every hop); each hop is one
    // frontier⋈edges join + a left-anti against the visited set, both
    // on ids only; frontiers localCheckpoint so lineage never stacks
    // across iterations. Oracle = a recursive CTE with min-hop
    // dedup — Spark 4's WITH RECURSIVE could state it too, but the
    // frontier loop is the form that lets each hop repartition/AQE
    // independently at 100 TB.
    QueryDef("q_bfs",
      (s, d) => {
        val edges = graft.Materialize.frame(coPurchaseEdges(T.lineitem(s, d))
          .select(col("src"), col("dst")))
        import s.implicits._
        var best = graft.Materialize.frame(Seq((1L, 0)).toDF("node", "hop"))
        var frontier = best.select(col("node"))
        for (h <- 1 to 3) {
          val next = graft.Materialize.frame(
            frontier.join(edges, col("node") === col("src"))
              .select(col("dst").as("node")).distinct()
              .join(best.select(col("node").as("seen")),
                col("node") === col("seen"), "left_anti")
              .withColumn("hop", lit(h)))
          // best stays a lazy union of the ≤4 checkpointed hop frames:
          // re-checkpointing the union each hop re-materialized rows
          // that already live in block storage (round 15 — one fewer
          // job per hop, plan depth bounded by the hop count)
          best = best.unionByName(next)
          frontier = next.select(col("node"))
        }
        best.groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
          .orderBy(col("hop"))
      },
      Some("""WITH RECURSIVE edges AS (
             |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
             |  WHERE a.l_partkey <> b.l_partkey),
             |bfs(node, hop) AS (
             |  SELECT CAST(1 AS BIGINT), 0
             |  UNION
             |  SELECT e.dst, b.hop + 1
             |  FROM bfs b JOIN edges e ON e.src = b.node
             |  WHERE b.hop < 3),
             |best AS (SELECT node, min(hop) AS hop FROM bfs GROUP BY node)
             |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes
             |FROM best GROUP BY hop ORDER BY hop""".stripMargin)),

    // Community detection over the co-purchase graph: per-node label
    // after 5 synchronous weighted-vote LPA rounds (ties to smallest
    // label — integer votes make the run deterministic, so the full
    // per-node assignment hash-checks against the unrolled-CTE oracle).
    QueryDef("q_graph_lpa",
      (s, d) => lpaOf(coPurchaseEdges(T.lineitem(s, d)), LpaIterations),
      Some(lpaSql(LpaIterations))),

    // Market-basket association rules over co-purchases: directional
    // (antecedent → consequent) rules with order-level support ≥
    // MinRuleSupport, ranked by lift — the classic recommender /
    // affinity operator next to the graph views of the same fact
    // table. Support counts are DISTINCT-order based (a part twice in
    // one order is one basket occurrence), so confidence and lift are
    // ratios of exact integers — no float accumulation. Scale shape:
    // the corpus-scale work is the one orderkey-grouped pair explosion
    // (the coPurchaseEdges idea — per-basket lists bounded by order
    // size, the pair blow-up happens AFTER the shuffle, map-side);
    // item supports are a map-side-combined agg; the basket count is
    // ONE broadcast row; top-50 cuts via TakeOrderedAndProject.
    QueryDef("q_assoc_rules",
      (s, d) => {
        // three consumers (basket count, item supports, pair explosion)
        // — uncheckpointed, each re-ran the fact-table scan + distinct
        // exchange (round 15: 4 lineitem scans in the before plan)
        val items = graft.Materialize.frame(T.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
          .distinct())
        val nBaskets = items.select(col("ok")).distinct()
          .agg(count(lit(1)).as("n_baskets"))
        val itemSupp = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
        val pairSupp = items
          .groupBy(col("ok")).agg(collect_list(col("item")).as("is"))
          .select(explode(col("is")).as("ante"), col("is"))
          .select(col("ante"), explode(col("is")).as("cons"))
          .filter(col("ante") =!= col("cons"))
          .groupBy(col("ante"), col("cons")).agg(count(lit(1)).as("n_both"))
          .filter(col("n_both") >= MinRuleSupport)
        pairSupp
          .join(itemSupp.select(col("item").as("ante"), col("n_item").as("n_a")), "ante")
          .join(itemSupp.select(col("item").as("cons"), col("n_item").as("n_c")), "cons")
          .crossJoin(broadcast(nBaskets))
          .select(col("ante"), col("cons"), col("n_both"),
            round(col("n_both").cast("double") / col("n_a"), 4).as("confidence"),
            round(col("n_both").cast("double") * col("n_baskets") /
              (col("n_a") * col("n_c")), 4).as("lift"))
          .orderBy(col("lift").desc, col("ante"), col("cons")).limit(50)
      },
      Some(s"""WITH items AS (
              |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
              |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets FROM items),
              |supp AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
              |         FROM items GROUP BY item),
              |pairs AS (
              |  SELECT a.item AS ante, b.item AS cons, CAST(count(*) AS BIGINT) AS n_both
              |  FROM items a JOIN items b ON a.ok = b.ok AND a.item <> b.item
              |  GROUP BY 1, 2 HAVING count(*) >= $MinRuleSupport)
              |SELECT ante, cons, n_both,
              |       round(CAST(n_both AS DOUBLE) / sa.n_item, 4) AS confidence,
              |       round(CAST(n_both AS DOUBLE) * n.n_baskets
              |             / (sa.n_item * sc.n_item), 4) AS lift
              |FROM pairs
              |JOIN supp sa ON ante = sa.item
              |JOIN supp sc ON cons = sc.item
              |CROSS JOIN n
              |ORDER BY lift DESC, ante, cons LIMIT 50""".stripMargin)),

    // Clustering structure of the co-purchase graph: nodes-with-edges,
    // undirected edge count, triangle count. The semi-join wedge-check
    // is a left_semi on (x, y) — never materializes per-triangle rows.
    QueryDef("q_graph_triangles",
      (s, d) => triangleStats(coPurchaseEdges(T.lineitem(s, d))),
      Some("""WITH dir AS (
             |  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
             |  GROUP BY 1, 2),
             |e AS (SELECT src AS a, dst AS b FROM dir WHERE src < dst)
             |SELECT
             |  (SELECT CAST(count(*) AS BIGINT) FROM
             |     (SELECT a AS n FROM e UNION SELECT b FROM e)) AS n_nodes,
             |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
             |  (SELECT CAST(count(*) AS BIGINT)
             |   FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
             |   JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles""".stripMargin)),

    // Common-neighbor link prediction on the co-purchase graph: score
    // every NON-adjacent pair by how many neighbors it shares (the
    // "customers who bought both also bought" recommender primitive),
    // with the exact floor-scaled Jaccard (10⁴·cn) div (|N(a)∪N(b)|)
    // as the normalized tiebreak — all integers, no float anywhere.
    // Shape: the wedge join keyed on the shared neighbor z (the
    // triangle-counting shape — cost Σ_z deg(z)², the honest price of
    // exact common-neighbor counts; a 100-TB corpus with true
    // super-hubs would cap z's neighbor list like the LSH hot-bucket
    // cap, trading recall it would have to measure), existing edges
    // removed by ONE anti-join, degrees broadcast back (node set =
    // part dimension), and the top-100 cut is a total order
    // (cn, jacc_e4, a, b) → TakeOrderedAndProject, never a global sort.
    QueryDef("q_link_pred",
      (s, d) => {
        // w ≥ 2: only RELIABLY co-purchased pairs count as edges. This
        // is the semantic noise filter (a single co-order is incidental)
        // AND the scale lever: it cut the wedge count from 3.0e8 to
        // 1.2e4 at sf0.1 (42.9 s → sub-second) — sparsify the graph,
        // don't fight the wedge join.
        // checkpoint the sparsified edge list ONCE: five downstream
        // branches (deg, both nb sides, the anti join) would otherwise
        // each re-run the fact-table self-join + w>=2 aggregation
        // sparsified edge count bounds |deg| <= 2m; rides the ck job
        val (e, m) = ckCounted(coPurchaseEdges(T.lineitem(s, d))
          .filter(col("w") >= 2)
          .filter(col("src") < col("dst"))
          .select(col("src").as("a"), col("dst").as("b")))
        // materialized once (round 16): both degree-attach broadcast
        // builds consumed deg, each re-running the two-sided union +
        // aggregation over the edge checkpoint (node-dimension rows)
        val deg = graft.Materialize.frame(e.select(col("a").as("node"))
          .union(e.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg")))
        val nb = e.select(col("a").as("z"), col("b").as("x"))
          .union(e.select(col("b").as("z"), col("a").as("x")))
        val cand = nb.as("l")
          .join(nb.as("r"), col("l.z") === col("r.z") && col("l.x") < col("r.x"))
          .groupBy(col("l.x").as("a"), col("r.x").as("b"))
          .agg(count(lit(1)).as("cn"))
        cand.join(e, Seq("a", "b"), "left_anti")
          .join(maybeBcast(deg.select(col("node").as("a"), col("deg").as("deg_a")),
            m, BroadcastNodeLimit), "a")
          .join(maybeBcast(deg.select(col("node").as("b"), col("deg").as("deg_b")),
            m, BroadcastNodeLimit), "b")
          .withColumn("jacc_e4", expr("(10000 * cn) div (deg_a + deg_b - cn)"))
          .select(col("a"), col("b"), col("cn"), col("deg_a"), col("deg_b"),
            col("jacc_e4"))
          .orderBy(col("cn").desc, col("jacc_e4").desc, col("a"), col("b"))
          .limit(100)
      },
      Some("""WITH dir AS (
             |  SELECT a.l_partkey AS src, b.l_partkey AS dst
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |e AS (SELECT src AS a, dst AS b FROM dir WHERE src < dst),
             |deg AS (SELECT node, count(*) AS deg FROM
             |          (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
             |        GROUP BY 1),
             |nb AS (SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e),
             |cand AS (SELECT l.x AS a, r.x AS b, count(*) AS cn
             |         FROM nb l JOIN nb r ON l.z = r.z AND l.x < r.x
             |         GROUP BY 1, 2),
             |ne AS (SELECT c.a, c.b, c.cn FROM cand c
             |       LEFT JOIN e ON c.a = e.a AND c.b = e.b WHERE e.a IS NULL)
             |SELECT ne.a, ne.b, CAST(cn AS BIGINT) AS cn,
             |       CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
             |       CAST((10000 * cn) // (da.deg + db.deg - cn) AS BIGINT) AS jacc_e4
             |FROM ne JOIN deg da ON ne.a = da.node JOIN deg db ON ne.b = db.node
             |ORDER BY cn DESC, jacc_e4 DESC, a, b LIMIT 100""".stripMargin)),

    // k-core decomposition (k = 3) of the co-purchase graph by
    // iterative peeling: drop every node of degree < k, recompute,
    // repeat to fixpoint — the dense-substructure extractor (spam-ring
    // and community-nucleus detection) that no single window or join
    // can express. Each round is ONE degree aggregation + two
    // semi-joins on the shrinking edge list, localCheckpointed so
    // rounds don't compound lineage; the loop's driver-side state is a
    // single count per round (rounds are bounded by the degeneracy
    // ordering, O(max core) in the worst case, 2–3 on this graph).
    // Iterative fixpoint ⟹ not SQL-expressible → scalatest-verified
    // (GraphSpec: parity with a naive driver peeling on the fixture
    // AND on a crafted clique+tail graph where the answer is known).
    QueryDef("q_kcore",
      (s, d) => kcoreOf(coPurchaseEdges(T.lineitem(s, d)), 3)
        .orderBy(col("node")),
      None)
  )

  /** Iterative k-core peeling over a both-directions edge list
    * (src, dst): returns the surviving nodes with their degree INSIDE
    * the core. Factored out so GraphSpec can run it on crafted graphs.
    */
  def kcoreOf(edges: DataFrame, k: Int): DataFrame = {
    // fixpoint on the EDGE count (round 15): peeling only removes
    // edges, and an edge disappears iff an endpoint was dropped, so
    // |E| unchanged ⟺ no node dropped ⟺ fixpoint — the previous
    // distinct-src count answered the same question through an extra
    // exchange per round (guide §2.4). The count rides the round's
    // checkpoint job as an `observe` metric (the StarComponents
    // convention) instead of a separate action. keep is node-dimension
    // rows and broadcasts under the standard ceiling (edge count
    // bounds it), with the hint dropping past it like every other
    // iterative operator here.
    var (e, m) = ckCounted(edges.select(col("src"), col("dst")))
    var done = m == 0
    while (!done) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      val (e2, m2) = ckCounted(e
        .join(maybeBcast(keep.select(col("node").as("src")), m, BroadcastNodeLimit),
          Seq("src"), "left_semi")
        .join(maybeBcast(keep.select(col("node").as("dst")), m, BroadcastNodeLimit),
          Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      done = m2 == m || m2 == 0
      e = e2; m = m2
    }
    e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }
}
