package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed full-batch logistic regression by gradient aggregation —
  * the in-engine training loop behind q_quality_clf (a CCNet/fastText-
  * style document-quality classifier learned FROM the corpus rather
  * than imported into it).
  *
  * Execution shape (the 100-TB contract, same family as
  * [[KMeansLite]] / [[Bpe]]): the feature frame is hash-partitioned on
  * doc_id ONCE and localCheckpointed (LogicalRDD preserves the
  * partitioning, asserted in QualityClfSpec); each iteration is then
  * one vocab-bounded broadcast join (weights), a doc-keyed margin agg
  * that reuses the pinned partitioning, a doc_id EQUI-join of the
  * margins back onto the pinned frame in which only the narrow
  * (doc_id, r) rows move — the corpus-sized feature frame never
  * re-shuffles and the margins are never broadcast (a doc-keyed frame
  * is corpus-cardinality: broadcasting it is the classic
  * executor-OOM at scale) — and a feature-keyed gradient agg bounded
  * by the vocab. Only the model itself — one weight per feature,
  * ≤ vocabSize+1 — ever reaches the driver, the same bounded-collect
  * pattern as the ≤4096 k-means centroids.
  */
object LogReg {

  /** Vocab ceiling for the doc-major fast path: the model must ride
    * into each iteration's single pass as a literal map, so it is
    * bounded like every other driver-held model (the ≤4096 k-means
    * centroid convention). Above it [[train]] falls back to the
    * two-regime join formulation below.
    */
  val LiteralModelMaxFeatures: Int = 4096

  /** Train on `feats` (doc_id, y, f, x) for `iterations` full-batch
    * steps at rate `lr`, starting from zero weights:
    * w_f ← w_f − lr · Σ_docs x_f·(σ(w·x) − y) / nDocs.
    * Returns the learned (feature, weight) pairs sorted by feature.
    *
    * Execution (round 15, guide §2.3/§2.4 — shuffle fewer bytes, remove
    * shuffles outright): when the vocabulary fits a driver-side literal
    * model (≤ [[LiteralModelMaxFeatures]] — q_quality_clf's is 33), the
    * loop runs DOC-MAJOR: each document's sparse feature vector is
    * folded into one array column ONCE (a single doc_id-keyed
    * aggregation, checkpointed), and every iteration is then ONE job —
    * margin, residual, and per-feature gradient computed in a single
    * pass whose only exchange is the vocab-bounded f-keyed partial
    * aggregation. The previous shape paid, per iteration, a weight
    * broadcast join + a doc-keyed margin aggregation + a doc-keyed join
    * back onto the feature frame + the f-keyed gradient aggregation
    * (two exchanges and a driver-funnelled margin broadcast per step in
    * the small regime — measured 2× this form's time at sf0.1). The
    * margins never materialize as a frame at all, which also removes
    * the regime split: the doc-major pass is corpus-scale-safe (per-row
    * state is one doc's own features; the gradient is map-side
    * combined), so only a vocabulary too large to be a literal model
    * falls back to the join formulation. Summation order within a
    * document changes (array fold vs aggregate-buffer order) — both
    * orders are non-deterministic groupings of the same ~1e-16-ulp
    * doubles, and every consumer rounds at 4 dp (QualityClfSpec pins
    * doc-major ≡ join-form weights at 4 dp).
    */
  def train(spark: SparkSession, feats: DataFrame, nDocs: Double,
      iterations: Int, lr: Double): Seq[(String, Double)] = {
    // Regime decided FIRST, from the cheap vocab probe on the raw
    // feature rows (round 16, ADVICE): building docVec is a full-corpus
    // shuffle + materialization, so paying it before knowing whether
    // the >LiteralModelMaxFeatures fallback discards it contradicted
    // the scaling contract — the join-form path now never builds it.
    val vocab = feats.select(col("f")).distinct()
      .limit(LiteralModelMaxFeatures + 1)
      .collect().map(_.getString(0))
    if (vocab.length > LiteralModelMaxFeatures)
      trainJoinForm(spark, feats, nDocs, iterations, lr)
    else {
      val docVec = graft.Materialize.frame(feats.groupBy(col("doc_id"))
        .agg(max(col("y")).as("y"),
          collect_list(struct(col("f"), col("x"))).as("fx")))
      try {
        import spark.implicits._
        var w: Seq[(String, Double)] = vocab.sorted.map(_ -> 0.0).toSeq
        var it = 0
        while (it < iterations) {
          // the model as a literal map: ≤ LiteralModelMaxFeatures
          // entries, resolved per array element by GetMapValue (a
          // bounded scan — 33 keys for the shipped classifier)
          val wm = typedLit(w.toMap)
          val grad = docVec
            .withColumn("r",
              lit(1.0) / (lit(1.0) + exp(-aggregate(col("fx"), lit(0.0d),
                (acc, e) => acc + e.getField("x") *
                  element_at(wm, e.getField("f"))))) - col("y"))
            .select(explode(col("fx")).as("e"), col("r"))
            .groupBy(col("e.f").as("f")).agg(sum(col("e.x") * col("r")).as("s"))
            .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
          w = w.map { case (f, wt) => f -> (wt - lr * grad.getOrElse(f, 0.0) / nDocs) }
          it += 1
        }
        w
      } finally graft.Materialize.release(docVec)
    }
  }

  /** The join-form loop — the fallback for vocabularies too large for
    * a literal model (and the shape QualityClfSpec's plan audit pins).
    */
  private[graft] def trainJoinForm(spark: SparkSession, feats: DataFrame,
      nDocs: Double, iterations: Int, lr: Double): Seq[(String, Double)] = {
    // Two regimes, decided on the EXACT driver-side margin cardinality
    // (one row per doc) — the same stats-based decision AQE would make,
    // made here because the merge-join regime plans exchange-free and
    // so has no shuffle-stage boundary for AQE to replan at:
    //  - small corpus (margins provably broadcastable): pin with
    //    localCheckpoint and broadcast-hash-join the margins — no
    //    repartition, no sorts, the cheapest fixture-scale loop;
    //  - large corpus: repartition on doc_id + sortWithinPartitions +
    //    persist. A cached InMemoryRelation remaps its
    //    outputPartitioning AND outputOrdering onto fresh attribute
    //    ids on reuse (self-joins included), so every iteration plans
    //    exchange-free, sort-free doc merge joins; broadcasting the
    //    corpus-cardinality margins here would be the executor OOM.
    // QualityClfSpec pins the large-regime plan shape.
    val bcastMargins = nDocs <= BroadcastMarginDocs
    val pinned =
      if (bcastMargins) graft.Materialize.frame(feats)
      else feats.repartition(col("doc_id"))
        .sortWithinPartitions(col("doc_id")).persist()
    try {
      var w: Seq[(String, Double)] = pinned.select(col("f")).distinct()
        .collect().map(_.getString(0)).sorted.map(_ -> 0.0).toSeq
      import spark.implicits._
      var it = 0
      while (it < iterations) {
        val wDf = w.toDF("f", "wt")
        val grad =
          gradientFrame(pinned, residualFrame(pinned, wDf), bcastMargins)
            .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        w = w.map { case (f, wt) => f -> (wt - lr * grad.getOrElse(f, 0.0) / nDocs) }
        it += 1
      }
      w
    } finally graft.Materialize.release(pinned)
  }

  /** Margin-broadcast cutoff: ≤4M docs ≈ 64 MB of (doc_id, r) rows —
    * comfortably under executor memory; anything larger takes the
    * co-partitioned merge join.
    */
  val BroadcastMarginDocs: Double = 4e6

  /** Per-doc margin residuals σ(w·x) − y. The weight join is the one
    * legitimate broadcast (≤ vocab+1 rows); the doc-keyed agg reuses
    * the pinned frame's doc_id partitioning.
    */
  private[graft] def residualFrame(pinned: DataFrame, wDf: DataFrame): DataFrame =
    pinned.join(broadcast(wDf), "f")
      .groupBy(col("doc_id"))
      .agg(max(col("y")).as("y"), sum(col("x") * col("wt")).as("z"))
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-col("z"))) - col("y")).as("r"))

  /** Per-feature gradient Σ x·r. The doc_id join carries a broadcast
    * hint ONLY when [[train]] proved the margins tiny (exact driver-side
    * cardinality, ≤ [[BroadcastMarginDocs]]); at corpus scale both
    * sides are doc_id-partitioned already (QualityClfSpec asserts the
    * iteration plans with only the vocab-bounded f-keyed exchange) and
    * an unconditional broadcast of the corpus-cardinality margins would
    * be the executor-OOM at 100 TB.
    */
  private[graft] def gradientFrame(pinned: DataFrame, resid: DataFrame,
      broadcastMargins: Boolean = false): DataFrame =
    pinned.join(if (broadcastMargins) broadcast(resid) else resid, "doc_id")
      .groupBy(col("f")).agg(sum(col("x") * col("r")).as("s"))
}
