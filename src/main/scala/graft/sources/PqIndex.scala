package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ml.KMeansLite
import graft.queries.Similarity

/** On-disk IVF-PQ index — the compressed-vector ANN path. At 100 TB the
  * raw float corpus does not fit executor memory or scan budgets; this
  * index stores each vector as a coarse list id plus M=8 subspace
  * codebook ids (16-entry codebooks → 4 bytes of codes/vector, a 64×
  * compression of the 64-d float payload), and queries scan CODES, not
  * vectors.
  *
  * PQ is RESIDUAL-encoded (the FAISS IVF-PQ design): codes quantize
  * `x − centroid(list(x))`, not x. On clustered corpora the plain-PQ
  * codebooks must span the global space, so within-cluster differences
  * sit far below cell resolution and ADC ordering inside a cluster is
  * noise — measured recall@5 collapsed 0.93 → 0.47 going 1×→10× on the
  * synthetic clustered corpus. Residuals live at noise scale, so the
  * same 8×16 codebooks resolve exactly the differences that rank
  * near-neighbors.
  *
  *  1. '''train''' (once): coarse k-means lists (the house IVF recipe,
  *     √n adaptive list count) + an independent k-means per 8-d
  *     RESIDUAL subspace;
  *  2. '''encode''' (once, map-side): subtract the broadcast-joined
  *     list centroid, then per-subspace nearest-centroid id via the
  *     codegen'd CentroidScores kernel — no shuffle beyond the tiny
  *     centroid broadcast;
  *  3. '''search''' (per query): route each probe to its nprobe lists,
  *     build one (subspace × centroid) squared-distance LUT per
  *     (probe, list) from the probe's residual — bounded driver-side
  *     work — then the code scan joins the broadcast LUTs on list id,
  *     sums M table lookups per row (no float math against the
  *     corpus), and the ADC top-`rerank` candidates re-rank EXACTLY by
  *     cosine against their original vectors (a join pruned to the
  *     candidate ids — the only touch of the float corpus).
  *
  * Layout: `<path>/codes` (vec_id, cid, codes), `<path>/books`
  * (sub, cid, centroid) and `<path>/coarse` (cid, centroid) so
  * query-time routing and LUTs use the identical quantizers that
  * encoded the corpus.
  */
object PqIndex {

  val Subspaces = 8   // M: 64-d → 8 × 8-d subvectors
  val Codebook = 16   // K: centroids per subspace (4-bit codes)

  private val BuildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Residual frame: (vec_id, emb, cid, res) with res = emb − coarse
    * centroid of the vector's list, via a broadcast join on cid (a k×64
    * literal array would breach codegen limits at the 4096-list cap).
    */
  private def residualsOf(assigned: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
    assigned.select(col("vec_id"), col("emb"), col("cid").cast("int").as("cid"))
      .join(broadcast(centsDf), "cid")
      .withColumn("res", zip_with(col("emb"), col("centroid"), (a, b) => a - b))
      .drop("centroid")
  }

  /** Per-subspace residual codebooks via deterministic data-sampled
    * seeds + 2 Lloyd iterations, mirroring the IVF training recipe.
    */
  def train(residuals: DataFrame, m: Int = Subspaces, k: Int = Codebook,
      iters: Int = 2): Array[Array[Array[Double]]] = {
    val n = residuals.count()
    val step = math.max(1L, n / k)
    val sub = Similarity.EmbedDim / m
    (0 until m).map { j =>
      val sl = residuals.select(col("vec_id"), slice(col("res"), j * sub + 1, sub).as("emb"))
      val seeds = sl.filter(col("vec_id") % step === 0).orderBy(col("vec_id")).limit(k)
        .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
      KMeansLite.fit(sl, seeds, iters)
    }.toArray
  }

  /** Map-side encoder: per-subspace argmin of the RESIDUAL against the
    * broadcast codebooks — one CentroidScores kernel call per subspace
    * per row.
    */
  def encode(residuals: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val sub = Similarity.EmbedDim / m
    // name each subspace's kernel output so the argmin expression
    // references it once instead of re-invoking the kernel
    val withScores = (0 until m).foldLeft(residuals) { (d, j) =>
      d.withColumn(s"pq_scores_$j", graft.functions.VecExprs.centroidScores(
        slice(col("res"), j * sub + 1, sub), books(j)))
    }
    withScores
      .select(col("vec_id") +: col("cid") +: (0 until m).map(j =>
        (expr(s"array_position(pq_scores_$j, array_max(pq_scores_$j))") - 1)
          .cast("int").as(s"c_$j")): _*)
      .select(col("vec_id"), col("cid"),
        array((0 until m).map(j => col(s"c_$j")): _*).as("codes"))
  }

  /** ‖res‖ of a residual row — its corpus mean is the drift baseline
    * [[append]] prices new batches against (residuals growing past the
    * train-time norm mean the coarse centroids no longer fit the data,
    * and the codebooks were trained on residuals that no longer exist).
    */
  private def resNorm: org.apache.spark.sql.Column =
    sqrt(expr("aggregate(res, 0d, (acc, x) -> acc + x * x)"))

  def build(embeddings: DataFrame, path: String): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val n = Similarity.corpusOf(embeddings).count()
    val lists = Similarity.adaptiveCentroids(n)
    val (assigned, coarse) = Similarity.ivfAssignOf(embeddings, lists)
    val residuals = graft.Materialize.frame(residualsOf(assigned, coarse))
    val books = train(residuals)
    encode(residuals, books)
      .write.mode("overwrite").parquet(s"$path/codes")
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toSeq.toDF("sub", "cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
    val trainRes = residuals.agg(avg(resNorm)).head().getDouble(0)
    Seq((lists, trainRes)).toDF("lists", "train_residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private def readOr(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(spark.read.parquet(dir))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Drift report from one appended batch — same metric and bound
    * semantics as [[IvfIndex.AppendStats]].
    */
  final case class AppendStats(appended: Long, meanResidual: Double,
      trainResidual: Double, retrainAdvised: Boolean)

  /** Encode a batch of NEW vectors into the existing index — no
    * retraining: coarse routing uses the persisted centroids, residual
    * codes the persisted codebooks (the quantizers that encoded the
    * base corpus, so ADC stays comparable across base and delta rows).
    * Codes land in a batch_id-keyed delta via dynamic partition
    * overwrite — replaying a micro-batch rewrites its own partition, a
    * no-op (the [[IvfIndex.append]] / StreamingDedup contract).
    * [[search]] scans base and delta codes identically.
    */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      batchId: Long, driftBound: Double = 1.5): AppendStats = {
    val trainRes = readOr(spark, s"$path/meta").map(_.head().getDouble(1))
      .getOrElse(throw new IllegalStateException(
        s"$path has no meta/ (pre-append index layout) — rebuild with " +
          "PqIndex.build before appending"))
    // Replay fast-path (round 11, the IvfIndex.append contract): a
    // committed batch_id with the batch's exact row count means the
    // encode + dynamic overwrite below would rewrite identical
    // partitions — skip entirely; the first commit already carried the
    // drift advisory for this data.
    // Shared payload-inclusive content fingerprint ([[BatchFingerprint]],
    // round 12): reused batch_ids with different content — including
    // same-ids-changed-vectors, which the codes_delta store (lossy
    // codes, no floats) could never reveal — fall through to the
    // overwrite, never silently no-op.
    val (nBatch, batchFp) = BatchFingerprint.of(batch)
    if (BatchFingerprint.isReplay(spark, path, batchId, nBatch, batchFp))
      return AppendStats(nBatch, 0.0, trainRes, retrainAdvised = false)
    val coarse: Array[Array[Double]] =
      spark.read.parquet(s"$path/coarse").orderBy(col("cid")).collect()
        .map(_.getSeq[Double](1).toArray)
    val books: Array[Array[Array[Double]]] = {
      val rows = spark.read.parquet(s"$path/books").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      (0 until Subspaces).map { j =>
        rows.filter(_._1 == j).sortBy(_._2).map(_._3)
      }.toArray
    }
    val assigned = Similarity.corpusOf(batch)
      .withColumn("dots", Similarity.centroidScores(col("emb"), coarse))
      .withColumn("cid",
        expr("array_position(dots, array_max(dots)) - 1").cast("int"))
    val res = graft.Materialize.frame(residualsOf(assigned, coarse))
    val agg = res.agg(count(lit(1)), avg(resNorm)).head()
    val n = agg.getLong(0)
    val meanRes = if (n == 0) 0.0 else agg.getDouble(1)
    encode(res, books)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "cid").parquet(s"$path/codes_delta")
    batchFp.foreach(BatchFingerprint.record(spark, path, batchId, nBatch, _))
    AppendStats(n, meanRes, trainRes, meanRes > driftBound * trainRes)
  }

  /** Base + delta code rows pruned to the probed lists — cid is a plain
    * column with row-group stats in the base layout and a partition
    * column in the delta, so both prune before the ADC scan.
    */
  private def prunedCodes(spark: SparkSession, path: String,
      cids: Seq[Int]): DataFrame = {
    val base = spark.read.parquet(s"$path/codes")
      .filter(col("cid").isin(cids: _*))
    readOr(spark, s"$path/codes_delta") match {
      case Some(d) =>
        base.unionByName(
          d.filter(col("cid").isin(cids: _*))
            .select(col("vec_id"), col("cid").cast("int").as("cid"), col("codes")))
      case None => base
    }
  }

  /** Full retrain on a drift trip. Codes are LOSSY — the original float
    * corpus cannot be reconstructed from the index, so the caller
    * supplies it (in any real pipeline the PQ index is derived state
    * next to the vector corpus it compresses). Rebuilds coarse lists,
    * codebooks, codes, and meta; clears the delta.
    */
  def retrain(spark: SparkSession, path: String, embeddings: DataFrame): Unit = {
    build(embeddings, path)
    val delta = new org.apache.hadoop.fs.Path(s"$path/codes_delta")
    val fs = delta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(delta, true)
    // absorbed batches are base state now — their replay records go too
    BatchFingerprint.clear(spark, path)
  }

  def cachePathFor(sfDir: String): String =
    IvfIndex.cachePathFor(sfDir) + "-pq"

  /** Train-once cache, same freshness contract as [[IvfIndex.ensureBuilt]]:
    * reuse when the codes total matches the corpus count and the book
    * table has M×K rows, rebuild otherwise. Returns (path, corpus size).
    */
  def ensureBuilt(spark: SparkSession, sfDir: String): (String, Long) = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val path = cachePathFor(sfDir)
    val lock = BuildLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      // meta/ is part of freshness: a pre-append cache layout (no drift
      // baseline) rebuilds here instead of failing later in append
      val fresh =
        try spark.read.parquet(s"$path/codes").count() == n &&
          spark.read.parquet(s"$path/books").count() == Subspaces.toLong * Codebook &&
          spark.read.parquet(s"$path/meta").count() == 1
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      if (!fresh) build(emb, path)
    }
    (path, n)
  }

  /** IVF-ADC search. Routing and LUT construction are driver-side over
    * the bounded probe set (the same contract as every ANN query
    * surface here); the code scan is pruned to the probed lists and
    * joins the broadcast LUTs on list id. Output layout matches the
    * other ANN queries: (probe_id, rn, vec_id, cosine).
    *
    * `rerank` ≤ 0 selects the adaptive exact-re-rank depth:
    * candidates/8 clamped to [50, 8192], where `candidates` is the
    * MEASURED row count of the probed lists (one cheap columnar count
    * on the pruned code scan). The window must scale with the probed
    * candidate stream, not global √n: under heavy-tailed cluster sizes
    * the probed lists hold far more rows than n·nprobe/lists, ADC
    * ordering noise deepens with them, and the old 4√n-capped-at-1024
    * window measured 0.87 recall@5 on the heavy 100× geometry tier.
    * The rerank ceiling study behind the formula (routing proven
    * perfect — recall 1.0 from depth 8192 — so the loss was purely ADC
    * rank depth) is in SCALING.md round 9; the cap keeps the re-rank
    * join bounded at 8192 × |probes| candidate rows no matter the
    * corpus.
    */
  def search(spark: SparkSession, path: String, probes: DataFrame,
      corpus: DataFrame, k: Int, rerank: Int = -1): DataFrame = {
    import spark.implicits._
    val m = Subspaces; val kk = Codebook
    val books: Map[(Int, Int), Array[Double]] =
      spark.read.parquet(s"$path/books").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val coarse: Array[Array[Double]] =
      spark.read.parquet(s"$path/coarse").orderBy(col("cid")).collect()
        .map(_.getSeq[Double](1).toArray)
    val sub = Similarity.EmbedDim / m
    val nprobe = math.max(Similarity.IvfProbes,
      coarse.length * Similarity.IvfProbes / Similarity.IvfCentroids)
    // bounded collect: the declared probe set (3 vectors), as in
    // Similarity's LSH probe prep
    val probeVecs: Array[(Long, Array[Double])] = probes
      .select(col("probe_id"), col("p_emb")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    // route each probe to its nprobe best lists (same adjusted-dot
    // scoring as build-time assignment), then one residual LUT per
    // (probe, list): lut[j*K + c] = ‖(q − coarse_cid)_j − book_{j,c}‖²
    val luts = probeVecs.toSeq.flatMap { case (pid, q) =>
      val scores = coarse.map { cent =>
        var dot = 0.0; var n2 = 0.0; var t = 0
        while (t < q.length) { dot += q(t) * cent(t); n2 += cent(t) * cent(t); t += 1 }
        dot - n2 / 2
      }
      val probed = scores.zipWithIndex.sortBy { case (s, c) => (-s, c) }
        .take(nprobe).map(_._2)
      probed.map { cid =>
        val cent = coarse(cid)
        val lut = new Array[Double](m * kk)
        for (j <- 0 until m; c <- 0 until kk) {
          val book = books((j, c))
          var d2 = 0.0
          var t = 0
          while (t < sub) {
            val d = (q(j * sub + t) - cent(j * sub + t)) - book(t)
            d2 += d * d; t += 1
          }
          lut(j * kk + c) = d2
        }
        (pid, cid, lut.toSeq)
      }
    }.toDF("probe_id", "cid", "lut")
    val probedCids = luts.select("cid").as[Int].collect().distinct.toSeq
    val codes = prunedCodes(spark, path, probedCids)
    val depth =
      if (rerank > 0) rerank
      else math.max(50, math.min(8192L, codes.count() / 8)).toInt
    val scored = codes.join(broadcast(luts), Seq("cid"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (cv, j) => element_at(col("lut"), j * lit(kk) + cv + 1)),
        lit(0.0d), (a, x) => a + x))
    // rank(), not row_number(): ADC collapses to exact ties whenever a
    // whole list shares codes (tight clusters vs 4-bit resolution), and
    // cutting INSIDE a tie block by vec_id silently drops candidates the
    // codes cannot distinguish — measured: an appended exact duplicate
    // (largest vec_id in its block) lost to rank noise. rank() admits
    // the boundary tie block whole and lets the exact re-rank decide;
    // worst case (every probed row tied) degrades to IVF-exact re-rank,
    // still bounded by the probed lists.
    val w = Window.partitionBy(col("probe_id")).orderBy(col("adc"))
    val cands = scored.withColumn("rk", rank().over(w))
      .filter(col("rk") <= depth)
      .select(col("probe_id"), col("vec_id"))
    val pv = probes.select(col("probe_id").as("pid"), col("p_emb"))
    val exact = cands
      .join(corpus.select(col("vec_id"), col("emb")), Seq("vec_id"))
      .join(broadcast(pv), col("probe_id") === col("pid"))
      .select(col("probe_id"), col("vec_id"),
        graft.functions.VecExprs.cosineSim(col("emb"), col("p_emb")).as("cos"))
    val wk = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    exact.withColumn("rn", row_number().over(wk)).filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** The amortized IVF-PQ query (q_sim_pq's surface): train-once via
    * [[ensureBuilt]], ADC-scan the 4-byte codes of the probed lists,
    * exact re-rank at the adaptive candidate-scaled depth.
    */
  def topKPersisted(spark: SparkSession, sfDir: String, probeIds: Seq[Long],
      k: Int): DataFrame = {
    val (path, _) = ensureBuilt(spark, sfDir)
    val corpus = Similarity.corpusOf(graft.Tables.embeddings(spark, sfDir))
    val probes = corpus.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    search(spark, path, probes, corpus, k)
  }
}
