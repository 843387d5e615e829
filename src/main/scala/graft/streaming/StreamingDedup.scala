package graft.streaming

import graft.queries.Similarity
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Streaming MinHash near-dedup — the continuously-ingesting corpus-build
  * form of q_dedup_near. Each micro-batch computes the codegen'd MinHash
  * signatures of the ARRIVING documents only, band-joins them against the
  * accumulated signature store (and the batch itself), emits the new
  * near-dup pairs, and appends the batch's band rows to the store.
  *
  * Scale shape mirrors the batch operator exactly: signatures are
  * map-only kernels over new docs only, candidates come from a bucketed
  * band equi-join (never doc × store cross), the hot-bucket cap bounds
  * any one bucket, and the store carries (doc_id, sig, band, band_hash) —
  * ids + a 32-long signature — never document text.
  *
  * Store layout (round 14) — TWO TIERS, the LSM shape every streaming
  * table store converges on:
  *
  *  - '''append tier''' (`<store>/batch_id=N/`): each micro-batch lands
  *    its band rows in its own partition via dynamic overwrite (the
  *    idempotence key), rows sorted by band_hash so parquet row-group
  *    stats stay tight. File count per batch = task count — small
  *    batches never explode into per-bucket fragments (the first
  *    formulation partitioned every BATCH by bucket and drowned in
  *    2500 tiny files by batch 10 — measured 3× slower than no pruning
  *    at all; StoreScale caught it).
  *  - '''bucketed tier''' (`<store>_bucketed/sb=K/`, sb =
  *    pmod(band_hash, StoreBuckets)): produced by [[compactStore]],
  *    which rewrites all append-tier batches up to a watermark into
  *    few LARGE per-bucket files (batch_id kept as a data column, the
  *    watermark in `_watermark`), publish-by-rename with the
  *    `__prev` crash recovery the literal-layout sink uses.
  *
  * Each micro-batch's candidate read ([[readStorePruned]]) restricts
  * the bucketed tier to the sb partitions the batch's own band hashes
  * touch (DIRECTORY pruning — untouched buckets are never opened) and
  * both tiers to rows matching the batch's band-hash set — as pushed
  * OR-of-equals parquet predicates when the set is small (row-group
  * skipping on the sorted files) or a broadcast left-semi join when
  * large (no 40k-literal plan bloat; the join input still shrinks to
  * true candidates before the shuffle). The pruning is EXACTLY
  * lossless: a store row whose band_hash the batch never produced can
  * only equi-join other store rows, and old×old pairs are already
  * excluded by the is_new emission condition (each pair belongs to the
  * batch where its LATER doc arrived); within a touched
  * (band, band_hash) bucket every store row survives, so the
  * hot-bucket cap ranks the identical row set (StreamingParitySpec
  * pins pair-set parity, the only-touched-buckets IO assertion, and
  * replay of a COMPACTED batch). Without this, every micro-batch
  * scanned + shuffled the ENTIRE accumulated store — per-batch cost
  * linear in corpus history, the round-13 VERDICT's one
  * unbounded-growth term. A pre-round-14 store is just an append tier
  * with unsorted files — it prunes through the same row-level path.
  *
  * Pair-emission invariant: documents arrive exactly once, so a pair
  * (a, b) forms in exactly the micro-batch where the LATER of the two
  * arrives (same batch if together) — no cross-batch duplicates.
  * Signatures are deterministic, so the emitted (doc_a, doc_b,
  * est_jaccard) rows equal batch `uncappedMinhashPairsOf` over the
  * union of all batches whenever the hot-bucket cap doesn't bind
  * mid-stream (StreamingParitySpec asserts set equality on the fixture,
  * any batch split). When the cap does bind, batch and stream may keep
  * different bucket representatives — the same recall-for-boundedness
  * trade, made at different times. The stream signs ALL shingles
  * (round 13: the declared batch q_dedup_near signs only the
  * df ≤ MaxShingleDf universe — a corpus-df prepass the append-only
  * signature store cannot replay; the streaming role is CANDIDATE
  * generation, with the capped exact stage as the verdict, so the
  * streaming path may additionally surface hot-boilerplate-only pairs
  * the batch query drops).
  *
  * Delivery: foreachBatch is at-least-once, so both sinks are made
  * IDEMPOTENT under replay: pairs and band rows land in a `batch_id=N`
  * partition via dynamic partition overwrite, and the store read
  * restricts to strictly-earlier batches. A replayed batch therefore
  * sees the identical store prefix, recomputes the identical rows, and
  * overwrites its own partition — a no-op (StreamingParitySpec replays
  * [[commitBatch]] and asserts the pair set is unchanged).
  */
object StreamingDedup {

  /** Emitted-pairs schema — fixed, so an empty pairs directory (no
    * near-dups yet) still reads back cleanly.
    */
  val PairsSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType),
    StructField("est_jaccard", DoubleType)))

  /** Signature-store schema ([[Similarity.bandedSignaturesOf]] layout). */
  val StoreSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("band", IntegerType), StructField("band_hash", LongType)))

  /** File-source stream of documents-shaped parquet under `dir`. */
  def docsStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Bucket count of the compacted tier. 256 bounds its file count
    * (one-ish large file per bucket per compaction) while a small
    * micro-batch's band hashes touch only the buckets they land in;
    * the row-level band-hash pruning does the fine selectivity inside
    * touched buckets, so sb only needs to bound DIRECTORY opens.
    */
  val StoreBuckets = 256

  /** Ceiling on the driver-collected band-hash probe used for the
    * PUSHED OR-of-equals form (row-group skipping needs source-
    * translatable predicates; a giant literal chain would bloat the
    * plan instead). Batches past it — ≥ ~128 docs — prune via the
    * broadcast left-semi join, which never collects hashes at all.
    */
  val PushdownHashLimit: Int = 1 << 10

  /** Compaction cadence of the production stream ([[nearDedupStream]]):
    * compact the band store whenever this many append-tier batches have
    * accumulated since the last watermark (round 15 — [[compactStore]]
    * previously had no caller in the streaming path, so a long-running
    * ingest never reached the measured flat-probe regime and its
    * per-batch directory listing grew with batch count). 16 bounds the
    * append tier at 16 × task-count files while keeping the rewrite
    * amortized (each row is rewritten once per ~16 batches of history
    * at most — and only rows below the watermark move, so the steady-
    * state rewrite is the whole store every 16 batches: an operator
    * tuning for write amplification raises it, one tuning for read
    * latency lowers it).
    */
  val DefaultCompactEvery: Int = 16

  /** The band store as a [[TieredStore]] (round 15: the two-tier
    * machinery factored out so the hubs store reuses it verbatim).
    */
  private[graft] def bandStoreOf(storeDir: String,
      targetBucketBytes: Long = 256L << 10): TieredStore =
    TieredStore.longKeyed(storeDir, StoreSchema.fieldNames.toSeq,
      "band_hash", StoreBuckets, PushdownHashLimit, label = "band-store",
      targetBucketBytes = targetBucketBytes)

  /** The compacted tier lives in a SIBLING directory so the append
    * tier's partition inference never sees two layouts in one tree.
    */
  def bucketedDirOf(storeDir: String): String =
    bandStoreOf(storeDir).bucketedDir

  /** One micro-batch step (also the unit under direct test): new pairs
    * from `batch` vs `store` ∪ `batch`, restricted to pairs touching the
    * batch. Returns (newPairs, newBandRows).
    */
  def processBatch(batch: DataFrame, store: Option[DataFrame],
      threshold: Double): (DataFrame, DataFrame) = {
    val newBands = Similarity.bandedSignaturesOf(batch)
    (pairsFromBands(newBands, store, threshold)._1, newBands)
  }

  /** The candidate join given precomputed batch band rows: cap buckets
    * over store ∪ batch, emit pairs touching the batch.
    */
  /** Returns (pairs, the materialized capped boundary) so the caller
    * can drop the boundary's blocks once the pairs are consumed — a
    * long-running stream must not accumulate one dead block set per
    * micro-batch.
    */
  private def pairsFromBands(newBands: DataFrame, store: Option[DataFrame],
      threshold: Double): (DataFrame, DataFrame) = {
    val tagged = newBands.withColumn("is_new", lit(true))
    val combined = store match {
      case Some(st) => st.withColumn("is_new", lit(false)).unionByName(tagged)
      case None     => tagged
    }
    // materialized ONCE (round 16): both sides of the candidate
    // self-join consume the capped frame, and Catalyst re-planned the
    // store-read → union → bucket-cap window tower per side — the
    // store's pruned read and the rank window each ran twice per
    // micro-batch (guide §7.2; the same fix as q_split_safe's). The
    // materialized rows are the pruned store ∪ batch band rows — the
    // join's own input, batch-proportional by the pruning contract.
    val capped = graft.Materialize.frame(
      Similarity.capBuckets(combined, Seq("band", "band_hash")))
    (Similarity
      .estPairsFromBands(capped, capped, col("x.is_new") || col("y.is_new"))
      .filter(col("est_jaccard") >= threshold), capped)
  }

  /** The accumulated store restricted to batches strictly before
    * `beforeBatch` — so a replayed batch sees the identical store prefix
    * even when its own rows already landed before the crash. Resolved by
    * attempting the read and treating a missing/empty path as "no store
    * yet": works identically for local disk, HDFS, and s3a URIs (a
    * java.io.File existence probe would silently report false on any
    * non-local filesystem and drop every cross-batch pair).
    */
  def readStore(spark: SparkSession, storeDir: String,
      beforeBatch: Long): Option[DataFrame] =
    // two-tier aware (round-14 review): after compactStore has moved
    // history into the bucketed tier, an append-tier-only read would
    // silently lose every compacted batch — the unpruned read must
    // union both tiers exactly like the pruned one, just without the
    // hash/bucket filters.
    bandStoreOf(storeDir).readAll(spark, beforeBatch)

  /** [[readStore]] pruned to what the micro-batch's own band rows can
    * possibly pair with — see the class doc for why this is lossless.
    * The bucketed tier additionally prunes to the touched sb
    * partitions (directory-level); both tiers prune rows to the
    * batch's band-hash set, as pushed OR-of-equals predicates when the
    * probe is ≤ [[PushdownHashLimit]] hashes (parquet row-group
    * skipping on the sorted files) or a broadcast left-semi join
    * otherwise (no literal-bloated plan; the driver never collects an
    * unbounded list). Mechanism: [[TieredStore.readPruned]].
    */
  def readStorePruned(spark: SparkSession, storeDir: String,
      beforeBatch: Long, batchBands: DataFrame): Option[DataFrame] =
    bandStoreOf(storeDir).readPruned(spark, beforeBatch, batchBands)

  /** Rewrite every append-tier batch with id ≤ `upTo` (plus the
    * existing bucketed tier) into a fresh bucketed tier — the
    * [[TieredStore.compact]] protocol: sb-partitioned band_hash-sorted
    * large files, batch_id kept as a data column, publish-by-rename
    * with `__prev` crash recovery, and the landed-batch watermark
    * clamp (a watermark past a not-yet-committed batch would hide its
    * rows forever once it lands).
    */
  def compactStore(spark: SparkSession, storeDir: String, upTo: Long): Unit =
    bandStoreOf(storeDir).compact(spark, upTo)

  /** All pairs emitted so far (any batch), in [[PairsSchema]] layout; an
    * absent/empty pairs directory reads as zero rows.
    */
  def readPairs(spark: SparkSession, pairsDir: String): DataFrame =
    // __prev-aware: the pairs store is batch-compactable offline
    // (BatchStore.compact via IncrementalCorpus.maintain)
    BatchStore.read(spark, pairsDir)
      .map(_.select(PairsSchema.fieldNames.map(col).toSeq: _*))
      .getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], PairsSchema))

  /** The full idempotent micro-batch commit (the foreachBatch body,
    * exposed so tests can replay it): read the earlier-batch store,
    * compute the batch's pairs and band rows, land both keyed on the
    * batch id. Running this twice for the same (batch, batchId) leaves
    * both sinks byte-identical. `compactEvery > 0` additionally runs
    * the [[TieredStore.maybeCompact]] cadence as a post-commit step —
    * safe under replay and crash (see there); 0 leaves compaction to
    * the operator ([[compactStore]]).
    */
  def commitBatch(batch: DataFrame, batchId: Long, storeDir: String,
      pairsDir: String, threshold: Double, prune: Boolean = true,
      compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    val bandStore = bandStoreOf(storeDir)
    // band rows feed the touched-hash collect, the pair join, AND the
    // store write — cut the streaming-source lineage and materialize
    // ONCE (signatures are the batch's expensive map-only work)
    val bands = Similarity.bandedSignaturesOf(batch).localCheckpoint(true)
    try {
      val store =
        if (prune) bandStore.readPruned(spark, batchId, bands)
        else bandStore.readAll(spark, batchId)
      val (pairs, cappedBoundary) = pairsFromBands(bands, store, threshold)
      // the capped boundary is dead once the pairs landed
      try BatchStore.land(pairs, batchId, pairsDir)
      finally graft.Materialize.release(cappedBoundary)
      // sorted-by-band_hash append (tight row-group stats for the pruned
      // read's pushed predicates); file count stays at task count — the
      // bucketed layout is compaction's job
      bandStore.append(bands, batchId)
      if (compactEvery > 0) bandStore.maybeCompact(spark, compactEvery)
    } finally graft.Materialize.release(bands)
  }

  /** Run the stream: docs under `docsDir` → near-dup pairs landed under
    * `pairsDir`, band rows accumulated under `storeDir`, both keyed by
    * micro-batch id. Blocks until all currently-available input is
    * processed. The band store compacts automatically every
    * `compactEvery` batches ([[DefaultCompactEvery]]) so a long-running
    * ingest converges to the bucketed flat-probe regime without
    * operator intervention; 0 disables.
    */
  def nearDedupStream(spark: SparkSession, docsDir: String, schema: StructType,
      storeDir: String, pairsDir: String, checkpoint: String,
      threshold: Double = 0.5, maxFilesPerTrigger: Int = 1,
      compactEvery: Int = DefaultCompactEvery): StreamingQuery = {
    val q = docsStream(spark, docsDir, schema, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, batchId, storeDir, pairsDir, threshold,
          compactEvery = compactEvery)
      }
      .start()
    // a batch that throws must not leave the query polling `docsDir`
    try q.processAllAvailable()
    catch { case e: Throwable => q.stop(); throw e }
    q
  }

  /** Self-contained fixture run (the q_stream_dedup_near query surface):
    * land the documents table as a multi-file parquet dir, stream it
    * batch-by-batch through [[commitBatch]] ([[StreamFixture.run]]),
    * return the accumulated pairs. Deterministic: the emitted pair SET
    * is independent of the batch split (see pair-emission invariant
    * above).
    */
  def nearDedupFixtureRun(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5, nFiles: Int = 4,
      compactEvery: Int = DefaultCompactEvery): DataFrame =
    StreamFixture.run(graft.Tables.documents(spark, sfDir), nFiles) {
      (batch, batchId, state) =>
        commitBatch(batch, batchId, s"$state/store", s"$state/pairs",
          threshold, compactEvery = compactEvery)
    } { state =>
      readPairs(spark, s"$state/pairs").orderBy(col("doc_a"), col("doc_b"))
    }
}
