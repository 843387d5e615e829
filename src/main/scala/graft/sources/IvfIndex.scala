package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Similarity

/** On-disk IVF index: the 100-TB layout for the ANN operators.
  *
  * `q_sim_ivf` computes list assignments in-memory every run; at scale
  * the corpus is written ONCE partitioned by centroid list id, and each
  * probe then reads only its `nprobe` lists — Hive-style partition
  * pruning turns an O(corpus) scan into an O(nprobe/k · corpus) scan
  * before any executor runs. Layout:
  *
  * {{{
  *   <path>/lists/cid=<c>/…parquet   // (vec_id, emb) per inverted list
  *   <path>/centroids/…parquet       // (cid, centroid) — k rows
  *   <path>/meta/…parquet            // (k, train_residual) — 1 row
  *   <path>/delta/batch_id=<b>/cid=<c>/…parquet  // appended vectors
  * }}}
  *
  * The centroid matrix is persisted next to the lists so query-time
  * routing uses the *identical* scoring as build-time assignment
  * (Similarity.centroidScores); a drifted centroid set would silently
  * degrade recall. A continuously-ingesting pipeline composes
  * [[append]] per micro-batch (batch_id-keyed dynamic-overwrite delta
  * partitions — replay is a no-op) with the [[AppendStats]] drift
  * signal and [[retrain]] when the appended mass outgrows the trained
  * centroids.
  */
object IvfIndex {

  /** ‖x − argmax-centroid‖ from the adjusted-dot scores: centroidScores
    * returns dot(x,c) − ‖c‖²/2, so ‖x−c‖² = ‖x‖² − 2·max(scores). The
    * per-row routing residual — its corpus mean is the drift metric.
    */
  private def routingResidual: Column =
    sqrt(greatest(lit(0d),
      expr("aggregate(emb, 0d, (acc, x) -> acc + x * x)")
        - lit(2.0) * array_max(col("dots"))))

  /** Build the index: assign lists (k-means-refined data-sampled
    * centroids, map-side argmin) and write corpus partitioned by cid.
    * Also records the train-time mean routing residual — the baseline
    * [[append]] prices drift against.
    */
  def build(embeddings: DataFrame, path: String,
      k: Int = Similarity.IvfCentroids): Unit = {
    val spark = embeddings.sparkSession
    val (assigned, cents) = Similarity.ivfAssignOf(embeddings, k)
    val pinned = graft.Materialize.frame(assigned) // one assignment feeds both writes
    pinned.select(col("vec_id"), col("emb"), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    val trainRes = pinned.agg(avg(routingResidual)).head().getDouble(0)
    Seq((k, trainRes)).toDF("k", "train_residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private def readOr(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(spark.read.parquet(dir))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  private def readMeta(spark: SparkSession, path: String): (Int, Double) =
    readOr(spark, s"$path/meta").map { m =>
      val r = m.head(); (r.getInt(0), r.getDouble(1))
    }.getOrElse(throw new IllegalStateException(
      s"$path has no meta/ (pre-append index layout) — rebuild with " +
        "IvfIndex.build before appending"))

  /** Drift report from one appended batch: the batch's mean routing
    * residual against the train-time baseline. `retrainAdvised` trips
    * when the ratio exceeds the append's driftBound — the appended mass
    * is then far from every trained centroid, recall decays, and the
    * remedy is [[retrain]].
    */
  final case class AppendStats(appended: Long, meanResidual: Double,
      trainResidual: Double, retrainAdvised: Boolean)

  /** Route a batch of NEW vectors onto the existing lists — no
    * retraining, no touch of the base layout. Assignment uses the
    * persisted centroids with the identical scoring as build; rows land
    * in a batch_id-keyed delta subtree via dynamic partition overwrite,
    * so replaying a micro-batch (foreachBatch is at-least-once)
    * rewrites exactly its own partitions — a no-op, the same
    * idempotence contract as streaming.StreamingDedup. [[search]] reads
    * base and delta lists with the same cid partition pruning.
    */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      batchId: Long, driftBound: Double = 1.5): AppendStats = {
    val (_, trainRes) = readMeta(spark, path)
    // Replay fast-path (round 11): at-least-once delivery re-offers
    // committed batches (foreachBatch restart; repeated bench
    // executions). When delta/ already holds this batch_id with exactly
    // the batch's row count, the commit below would rewrite identical
    // partitions — recognize it and skip routing + write entirely, the
    // TRUE no-op (same-content dynamic overwrite remains the fallback
    // correctness story, IvfIndexSpec's replay test). The original
    // commit's routing residual is not persisted, so a skipped replay
    // reports residual 0 / no retrain advice — the FIRST commit already
    // carried the drift advisory for this data.
    // Recognition via the shared PAYLOAD-INCLUSIVE content fingerprint
    // ([[BatchFingerprint]], round 12): count alone let a reused
    // batch_id carrying different same-size data be silently dropped
    // with a success AppendStats, and an id-only hash still missed
    // same-ids-changed-vectors — both now fall through to the normal
    // overwrite path, where dynamic partition overwrite replaces the
    // stale rows correctly.
    val (nBatch, batchFp) = BatchFingerprint.of(batch)
    if (BatchFingerprint.isReplay(spark, path, batchId, nBatch, batchFp))
      return AppendStats(nBatch, 0.0, trainRes, retrainAdvised = false)
    val cents: Array[Array[Double]] =
      spark.read.parquet(s"$path/centroids").orderBy(col("cid")).collect()
        .map(_.getSeq[Double](1).toArray)
    // pin one routing for the stats AND the write
    val assigned = graft.Materialize.frame(Similarity.corpusOf(batch)
      .withColumn("dots", Similarity.centroidScores(col("emb"), cents))
      .withColumn("cid",
        expr("array_position(dots, array_max(dots)) - 1").cast("int")))
    val agg = assigned.agg(count(lit(1)), avg(routingResidual)).head()
    val n = agg.getLong(0)
    val meanRes = if (n == 0) 0.0 else agg.getDouble(1)
    assigned
      .select(col("vec_id"), col("emb"), lit(batchId).as("batch_id"), col("cid"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cid").parquet(s"$path/delta")
    batchFp.foreach(BatchFingerprint.record(spark, path, batchId, nBatch, _))
    AppendStats(n, meanRes, trainRes, meanRes > driftBound * trainRes)
  }

  /** Re-train from everything the index holds (base lists + all deltas):
    * fresh centroids at the adaptive k for the grown corpus, lists/ and
    * meta/ rewritten, delta/ cleared. The answer to a tripped
    * [[AppendStats.retrainAdvised]].
    */
  def retrain(spark: SparkSession, path: String): Unit = {
    // we rewrite the dirs this frame reads
    val all = graft.Materialize.frame(allListRows(spark, path)
      .select(col("vec_id"), col("emb").as("embedding")))
    build(all, path, Similarity.adaptiveCentroids(all.count()))
    val delta = new org.apache.hadoop.fs.Path(s"$path/delta")
    val fs = delta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(delta, true)
    // absorbed batches are now base rows; their replay records must go
    // with them or a post-retrain redelivery would wrongly no-op
    BatchFingerprint.clear(spark, path)
  }

  /** Base + delta list rows as one (vec_id, emb, cid) frame. */
  private def allListRows(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.parquet(s"$path/lists")
    readOr(spark, s"$path/delta") match {
      case Some(d) => base.unionByName(d.drop("batch_id"))
      case None    => base
    }
  }

  /** The pruned list scan for a probe set: reads ONLY the partitions in
    * `cids` — from the base layout and, when present, the delta subtree
    * (cid is a partition column in both, so pruning happens at file
    * listing in each). Assert `PartitionFilters` in the plan — see
    * IvfIndexSpec. Exposed separately so tests can explain() exactly
    * the frame that must prune.
    */
  def prunedLists(spark: SparkSession, path: String, cids: Seq[Int]): DataFrame = {
    val base = spark.read.parquet(s"$path/lists").filter(col("cid").isin(cids: _*))
    readOr(spark, s"$path/delta") match {
      case Some(d) =>
        base.unionByName(d.filter(col("cid").isin(cids: _*)).drop("batch_id"))
      case None => base
    }
  }

  /** Per-path build locks so two threads in one JVM (e.g. parallel test
    * suites) never race a rebuild of the same cached index.
    */
  private val BuildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Deterministic cache location for `sfDir`'s index (tmpdir + md5 of
    * the dir path). On a cluster this would be a table path next to the
    * corpus; the tmpdir stand-in keeps the fixture self-contained.
    */
  def cachePathFor(sfDir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_ivf_cache/$digest"
  }

  /** Train-ONCE entry for the query surface: reuse the persisted index
    * for `sfDir`'s embeddings when it is complete and sized for the
    * current corpus (centroid count == adaptive k AND list total ==
    * corpus count — a regenerated or truncated corpus forces a rebuild),
    * build it otherwise. Every later probe pays only bounded metadata
    * counts plus the pruned list scan — never k-means training. Returns
    * (index path, list count).
    */
  def ensureBuilt(spark: SparkSession, sfDir: String): (String, Int) = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val k = Similarity.adaptiveCentroids(n)
    val path = cachePathFor(sfDir)
    val lock = BuildLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      // meta/ is part of freshness: a pre-append cache layout (no drift
      // baseline) rebuilds here instead of failing later in append
      val fresh =
        try spark.read.parquet(s"$path/centroids").count() == k &&
          spark.read.parquet(s"$path/lists").count() == n &&
          spark.read.parquet(s"$path/meta").count() == 1
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      if (!fresh) build(emb, path, k)
    }
    (path, k)
  }

  /** The amortized ANN query (q_sim_ivf's surface): probe the persisted
    * index — [[ensureBuilt]] trains at most once per corpus, so repeated
    * queries run routing + pruned scan + re-rank only. nprobe scales with
    * the list count at the fixed [[Similarity.IvfProbes]]/16 ratio,
    * matching `ivfTopKAdaptive`'s geometry (results are identical —
    * IvfIndexSpec asserts it).
    */
  def topKPersisted(spark: SparkSession, sfDir: String, probeIds: Seq[Long],
      k: Int): DataFrame = {
    val (path, lists) = ensureBuilt(spark, sfDir)
    val probes = Similarity.corpusOf(graft.Tables.embeddings(spark, sfDir))
      .filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    search(spark, path, probes, k, nprobe = math.max(Similarity.IvfProbes,
      lists * Similarity.IvfProbes / Similarity.IvfCentroids))
  }

  /** The declared incremental-ANN surface (q_ann_inc): a deterministic
    * 80/10/10 split of the corpus by vec_id last digit — the 80% base is
    * indexed train-once (cached like [[ensureBuilt]], its own "-inc"
    * path), the two 10% slices arrive as [[append]] micro-batches
    * (replay-idempotent dynamic overwrite, so re-running the query
    * rewrites the same delta partitions — a no-op), and the probes are
    * DELTA vectors: their hits prove appended rows are routed, pruned,
    * and re-ranked next to base rows without any retrain. This is the
    * continuously-ingesting-pipeline shape: index the corpus once,
    * absorb arrivals incrementally, query the union.
    */
  def topKIncremental(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") % 10 < 8)
    val path = cachePathFor(sfDir) + "-inc"
    val nBase = base.count()
    val lists = Similarity.adaptiveCentroids(nBase)
    val lock = BuildLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      val fresh =
        try spark.read.parquet(s"$path/centroids").count() == lists &&
          spark.read.parquet(s"$path/lists").count() == nBase &&
          spark.read.parquet(s"$path/meta").count() == 1
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      if (!fresh) build(base, path, lists)
      append(spark, path, emb.filter(col("vec_id") % 10 === 8), 0L)
      append(spark, path, emb.filter(col("vec_id") % 10 === 9), 1L)
    }
    val probes = Similarity.corpusOf(emb)
      .filter(col("vec_id").isin(9L, 19L, 29L)) // delta (batch-1) vectors
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    search(spark, path, probes, k, nprobe = math.max(Similarity.IvfProbes,
      lists * Similarity.IvfProbes / Similarity.IvfCentroids))
  }

  /** ANN top-k against the on-disk index. Probes is a (probe_id, p_emb)
    * frame (array<double>, same prep as Similarity.corpusOf). Each probe
    * is routed to its `nprobe` best lists via the persisted centroids
    * (k-row collect — bounded), the union of needed lists is read with
    * partition pruning, and candidates re-rank by exact cosine.
    */
  def search(spark: SparkSession, path: String, probes: DataFrame,
      k: Int, nprobe: Int = Similarity.IvfProbes): DataFrame = {
    val cents: Array[Array[Double]] =
      spark.read.parquet(s"$path/centroids").orderBy(col("cid")).collect()
        .map(_.getSeq[Double](1).toArray)
    // p_cid tiebreak: with only p_dot.desc, two equal-scoring centroids
    // at the nprobe boundary could rank differently between the
    // neededCids evaluation and the join evaluation, routing a probe to
    // a pruned-out list. localCheckpoint additionally pins ONE routing
    // result for both consumers (and stops the scoring pipeline from
    // running twice).
    val routed = graft.Materialize.frame(probes
      .select(col("probe_id"), col("p_emb"),
        posexplode(Similarity.centroidScores(col("p_emb"), cents)))
      .withColumnRenamed("pos", "p_cid").withColumnRenamed("col", "p_dot")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("p_dot").desc, col("p_cid"))))
      .filter(col("rk") <= nprobe)
      .select(col("probe_id"), col("p_emb"), col("p_cid")))
    // the union of lists any probe needs — tiny driver-side set
    // (≤ nprobe × n_probes ids), which makes the scan prunable
    val neededCids = routed.select(col("p_cid")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val lists = prunedLists(spark, path, neededCids)
    val scored = lists.join(broadcast(routed),
        col("cid") === col("p_cid") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        graft.functions.VecExprs.cosineSim(col("emb"), col("p_emb")).as("cos"))
      .dropDuplicates("probe_id", "vec_id")
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("probe_id"), col("rn"))
  }
}
