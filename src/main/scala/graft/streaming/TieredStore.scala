package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A keyed two-tier (LSM-shaped) parquet store for streaming state —
  * the round-14 StreamingDedup band-store layout factored into a
  * reusable module (round 15: the hubs store needed the identical
  * tier/compaction/watermark machinery, and a second hand-rolled copy
  * of a crash-recovery protocol is how protocols drift).
  *
  * Layout:
  *
  *  - '''append tier''' (`<store>/batch_id=N/`): each micro-batch
  *    lands its rows in its own partition via dynamic partition
  *    overwrite (the idempotence key), rows sorted by `keyCol` within
  *    each task so parquet row-group stats stay tight. File count per
  *    batch = task count — never per-bucket fragments (the formulation
  *    that partitioned every batch by bucket drowned in 2,500 tiny
  *    files by batch 10; StoreScale measured it 3× slower than no
  *    pruning at all).
  *  - '''bucketed tier''' (`<store>_bucketed/sb=K/`, sb =
  *    `bucketExpr(keyCol)`): produced by [[compact]], which rewrites
  *    all append-tier batches up to a watermark into few LARGE
  *    per-bucket files (batch_id kept as a data column, the watermark
  *    in `_watermark`), publish-by-rename with `__prev` crash
  *    recovery.
  *
  * Reads: [[readAll]] unions both tiers (append tier restricted to
  * batches above the watermark — dirs a replay recreated after
  * compaction are garbage, not data). [[readPruned]] additionally
  * restricts the bucketed tier to the sb partitions the probe's keys
  * touch (DIRECTORY pruning) and both tiers to rows matching the
  * probe's key set — one pushed `In` parquet predicate when the probe
  * is ≤ `pushdownLimit` distinct keys (row-group skipping on the
  * key-sorted files; above 10 values Catalyst plans it as `InSet`,
  * whose generated code references the value set instead of inlining
  * it, so a batch's keys never become new code) or a broadcast
  * left-semi join otherwise (nothing unbounded ever collects to the
  * driver). Both tiers open through [[BatchStore.open]], with the
  * schema recorded in their own footers — no read starts a job.
  * Key-equality pruning is exactly lossless for any consumer
  * that only ever equi-joins the store on `keyCol` against the probe's
  * rows — a store row whose key the probe lacks cannot match anything
  * (TieredStorePropSpec proves pruned ≡ full ∩ probe over generated
  * batch splits, compaction points, and probe sizes on both literal
  * and semi-join paths).
  *
  * Crash protocol (spec-simulated at each window): compaction stages
  * the new tier at `__tmp`, renames the committed tier to `__prev`,
  * publishes, then deletes `__prev`; recovery-first on the next run;
  * the watermark may only advance over batches whose append dirs
  * actually LANDED. Correct under both POSIX rename (overwrites dst)
  * and HDFS rename (refuses): each attempt stages a complete tree
  * under a fresh delete-then-write `__tmp`, so either rename outcome
  * leaves one complete committed copy.
  *
  * `bucketOfValue` must agree with `bucketExpr` (driver-side twin for
  * the small-probe path, so deriving touched buckets costs no extra
  * Spark job); TieredStoreSpec pins the agreement for both shipped
  * instances, including the xxhash64 seed-42 twin the hubs store uses.
  *
  * Small-store overhead, remedied (round 16 — the round-15 doc only
  * NAMED this): a compacted tier used to carry all `buckets`
  * directories however small the store, so while the whole store was
  * a few MB the two-tier read paid ~0.5 s of listing + tiny-file
  * footers that a flat scan doesn't (measured, StoreScale longrun50).
  * [[compact]] now scales the EFFECTIVE bucket count with tier size:
  * m = clamp(1, buckets, ceil(tierBytes / targetBucketBytes)), records
  * m in `_buckets` next to `_watermark`, and reads derive touched
  * directories from the RECORDED m (a tier without `_buckets` — any
  * pre-round-16 store — reads as m = buckets, so existing state dirs
  * resume without migration). A sub-256KB store compacts to one
  * directory of one file; directory fan-out grows only once the tier
  * earns it (guide §6 — output sizing follows data size, never a
  * constant tuned for one scale). The 256 KB default is deliberately
  * SMALL: directory pruning needs m well above the probe's touched-key
  * count, and a bucket file is effectively one parquet row group (all
  * or nothing for the pushed predicates) — a 4 MB-target experiment
  * collapsed the 10×-tier band store to ~25 dirs, every ≤64-hash probe
  * touched all of them, and the compacted probe regressed 1.3 → 2.1 s
  * (StoreScale). 256 KB reaches the ceiling by ~64 MB of tier while
  * still sparing tiny stores the full fan-out's listing.
  *
  * @param dataCols      store schema field names (minus batch_id)
  * @param keyCol        the equi-join/prune key column
  * @param buckets       bucketed-tier partition CEILING — the most
  *                      directories a compaction may fan out to;
  *                      [[compact]] chooses the effective count from
  *                      tier bytes (see the small-store note above).
  *                      Row-level key pruning does the fine
  *                      selectivity inside touched buckets
  * @param bucketExprM   (key column, bucket count m) → INT bucket in
  *                      [0, m) — parameterized on m because the
  *                      effective count is chosen per compaction
  * @param bucketOfValueM driver-side twin of `bucketExprM` over a
  *                      collected key value
  * @param pushdownLimit probe-size ceiling for the pushed `In` form
  * @param label         store name used in error messages
  * @param targetBucketBytes bytes of tier data per bucket directory a
  *                      compaction aims for — the effective count is
  *                      ceil(tierBytes / this), clamped to
  *                      [1, buckets]. Pruned probes read O(touched ×
  *                      targetBucketBytes) however large the store,
  *                      until the ceiling is hit and row-group
  *                      key-pruning takes over the fine selectivity.
  */
final class TieredStore(
    val storeDir: String,
    val dataCols: Seq[String],
    val keyCol: String,
    val buckets: Int,
    val bucketExprM: (Column, Int) => Column,
    val bucketOfValueM: (Any, Int) => Int,
    val pushdownLimit: Int = 1 << 10,
    val label: String = "store",
    val targetBucketBytes: Long = 256L << 10) extends Serializable {

  /** The bucket expression/twin at the configured CEILING — the hash
    * agreement the twin spec pins is modulus-independent, so pinning
    * it here covers every effective m.
    */
  def bucketExpr: Column => Column = c => bucketExprM(c, buckets)
  def bucketOfValue: Any => Int = v => bucketOfValueM(v, buckets)

  /** The compacted tier lives in a SIBLING directory so the append
    * tier's partition inference never sees two layouts in one tree.
    */
  def bucketedDir: String = storeDir.stripSuffix("/") + "_bucketed"

  private def fsOf(spark: SparkSession): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** The committed compacted-tier directory, resolving the `__prev`
    * crash window: a compaction that died between its two publish
    * renames leaves the last good tier at `__prev` — readers use it
    * (and [[compact]] restores it) rather than losing the only
    * surviving copy.
    */
  private def resolvedBucketedDir(
      fs: org.apache.hadoop.fs.FileSystem): Option[String] = {
    val bucketed = new org.apache.hadoop.fs.Path(bucketedDir)
    val prev = new org.apache.hadoop.fs.Path(bucketedDir + "__prev")
    if (fs.exists(bucketed)) Some(bucketed.toString)
    else if (fs.exists(prev)) Some(prev.toString)
    else None
  }

  /** The bucket count the resolved bucketed tier was WRITTEN with —
    * recorded by [[compact]] in `_buckets` next to `_watermark`; a
    * tier without the file (pre-round-16 state) was written at the
    * ceiling, so that is what absent reads as. Falls back to the
    * ceiling when no tier exists (readers then never consult it).
    */
  def recordedBuckets(spark: SparkSession): Int = {
    val fs = fsOf(spark)
    resolvedBucketedDir(fs).map(recordedBucketsOf(fs, _)).getOrElse(buckets)
  }

  private def recordedBucketsOf(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir, "_buckets")
    if (!fs.exists(p)) buckets
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
      finally in.close()
    }
  }

  /** The compaction watermark of the resolved bucketed tier: batches
    * with id ≤ watermark live there; -1 when no tier exists (all
    * batches are append-tier).
    */
  def watermark(spark: SparkSession): Long = {
    val fs = fsOf(spark)
    resolvedBucketedDir(fs).map { dir =>
      val wPath = new org.apache.hadoop.fs.Path(dir, "_watermark")
      if (!fs.exists(wPath)) -1L
      else {
        val in = fs.open(wPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    }.getOrElse(-1L)
  }

  /** Append-tier batch ids currently on disk ([[BatchStore.landedIds]]:
    * a store whose append tier was never created — e.g. compact-before-
    * first-append — reads as empty).
    */
  def landedBatchIds(spark: SparkSession): Seq[Long] =
    BatchStore.landedIds(spark, storeDir)

  /** Land `df` as the append-tier `batch_id=batchId` partition
    * ([[BatchStore.land]] — a replay rewrites ONLY its own partition
    * with the identical recomputed rows). Rows are sorted by `keyCol`
    * within each task so row-group stats stay tight for the pruned
    * read's pushed predicates — NO extra shuffle and no per-batch
    * bucket fan-out. The append tier itself never has a `__prev` (the
    * bucketed tier's is `<store>_bucketed__prev`), so the land's
    * recovery probe is a no-op `exists`.
    */
  def append(df: DataFrame, batchId: Long): Unit =
    BatchStore.land(df.sortWithinPartitions(col(keyCol)), batchId, storeDir)

  /** The bucketed tier's `batch_id < beforeBatch` restriction, left out
    * when the watermark `w` already implies it: every row of that tier
    * has `batch_id ≤ w`, and a filter that is always true would only add
    * a per-batch literal to the plan.
    */
  private def bucketedBefore(w: Long, beforeBatch: Long)(tier: DataFrame): DataFrame =
    if (w < beforeBatch) tier else tier.filter(col("batch_id") < beforeBatch)

  /** The accumulated store (both tiers) restricted to batches strictly
    * before `beforeBatch` — so a replayed batch sees the identical
    * store prefix even when its own rows already landed before the
    * crash. A tier with no data file reads as "no store yet"
    * ([[BatchStore.open]]): works identically for local disk, HDFS,
    * and s3a URIs. Append tier restricted to batches ABOVE the
    * watermark: dirs a replay recreated after compaction are garbage,
    * not data.
    */
  def readAll(spark: SparkSession, beforeBatch: Long): Option[DataFrame] = {
    val cols = dataCols.map(col)
    val w = watermark(spark)
    val fs = fsOf(spark)
    val bucketed: Option[DataFrame] =
      if (w < 0) None
      else resolvedBucketedDir(fs).flatMap(BatchStore.open(spark, _))
        .map(bucketedBefore(w, beforeBatch)(_).select(cols: _*))
    val fresh: Option[DataFrame] = BatchStore.open(spark, storeDir)
      .map(_.filter(col("batch_id") > w && col("batch_id") < beforeBatch)
        .select(cols: _*))
    (bucketed, fresh) match {
      case (Some(b), Some(f)) => Some(b.unionByName(f))
      case (b, f) => b.orElse(f)
    }
  }

  /** [[readAll]] pruned to rows whose `keyCol` appears in `probe`
    * (any frame carrying a `keyCol` column) — see the class doc for
    * the two pruning forms and the losslessness contract.
    */
  def readPruned(spark: SparkSession, beforeBatch: Long,
      probe: DataFrame): Option[DataFrame] = {
    val distinctKeys = probe.select(col(keyCol)).distinct()
    val probed = distinctKeys.limit(pushdownLimit + 1)
      .collect().map(_.get(0))
    val small = probed.length <= pushdownLimit
    def keyPrune(df: DataFrame): DataFrame =
      if (small) {
        if (probed.isEmpty) df.limit(0) // empty probe matches nothing
        else df.filter(col(keyCol).isin(probed.toIndexedSeq: _*))
      } else df.join(broadcast(distinctKeys), Seq(keyCol), "left_semi")
    val cols = dataCols.map(col)
    val fs = fsOf(spark)
    val w = watermark(spark)
    val bucketed: Option[DataFrame] =
      if (w < 0) None
      else resolvedBucketedDir(fs).flatMap { dir =>
        BatchStore.open(spark, dir).map { tier =>
          // bucket derivation MUST use the count the tier was written
          // with, not the ceiling — a compaction may have chosen fewer
          val m = recordedBucketsOf(fs, dir)
          val sbs =
            if (small) probed.map(bucketOfValueM(_, m)).distinct
            else probe
              .select(bucketExprM(col(keyCol), m).as("sb"))
              .distinct().collect().map(_.getInt(0)) // bounded ≤ m
          keyPrune(bucketedBefore(w, beforeBatch)(
            tier.filter(col("sb").isin(sbs.map(Integer.valueOf).toSeq: _*))))
            .select(cols: _*)
        }
      }
    val fresh: Option[DataFrame] = BatchStore.open(spark, storeDir).map { tier =>
      keyPrune(tier
        // > w: batches ≤ w live in the bucketed tier; append-tier dirs
        // a replay recreated after compaction are garbage, not data
        .filter(col("batch_id") > w && col("batch_id") < beforeBatch))
        .select(cols: _*)
    }
    (bucketed, fresh) match {
      case (Some(b), Some(f)) => Some(b.unionByName(f))
      case (b, f) => b.orElse(f)
    }
  }

  /** Rewrite every append-tier batch with id ≤ `upTo` (plus the
    * existing bucketed tier) into a fresh bucketed tier: `sb=K/`
    * partitions, rows clustered one large file per bucket and sorted
    * by `keyCol` (tight row-group stats for the pruned read's pushed
    * predicates), batch_id kept as a DATA column so replay-prefix
    * reads still filter exactly. Publish is stage-then-swap with the
    * `__prev` recovery: a crash anywhere leaves either the old
    * committed tier or its recoverable `__prev`, never a torn mix,
    * and the append-tier dirs are deleted only AFTER the new tier is
    * committed. The watermark may only advance over batches whose
    * append dirs actually LANDED (enforced below): a watermark past a
    * not-yet-committed batch would hide that batch's rows forever
    * once it lands. Within that bound any `upTo` is safe — a later
    * REPLAY of a compacted batch stays a no-op: its rewritten append
    * dir is excluded by the watermark filter while the bucketed tier
    * already holds the identical rows.
    */
  def compact(spark: SparkSession, upTo: Long): Unit = {
    val fs = fsOf(spark)
    val bucketed = new org.apache.hadoop.fs.Path(bucketedDir)
    val prev = new org.apache.hadoop.fs.Path(bucketedDir + "__prev")
    val tmp = new org.apache.hadoop.fs.Path(bucketedDir + "__tmp")
    // crash recovery first, the literal-layout discipline: a committed
    // tier makes a surviving prev garbage; a missing tier restores it
    if (fs.exists(prev)) {
      if (fs.exists(bucketed)) fs.delete(prev, true)
      else require(fs.rename(prev, bucketed),
        s"$label compaction could not restore $prev")
    }
    fs.delete(tmp, true) // stale staging from an earlier failed run
    val w = watermark(spark)
    require(upTo >= w, s"compaction watermark can only advance ($w → $upTo)")
    // the landed-batch bound: the watermark must not pass the NEWEST
    // landed append batch — micro-batch ids are monotone, so a batch
    // committing later always carries a HIGHER id than everything
    // landed, but a watermark set past max(landed) would hide exactly
    // those future batches' rows forever once they land (dir ≤
    // watermark, invisible to reads and to the next compaction). Gaps
    // below max(landed) are safe: monotone ids are never back-filled.
    val maxLanded: Long = {
      val ids = landedBatchIds(spark)
      if (ids.nonEmpty) ids.max else w
    }
    require(upTo <= math.max(maxLanded, w),
      s"compaction watermark $upTo passes the newest landed batch " +
        s"$maxLanded — a batch committing later would be hidden forever; " +
        "compact only up to the newest LANDED batch")
    val cols = (dataCols :+ "batch_id").map(col)
    val oldTier: Option[DataFrame] =
      if (w < 0) None
      else BatchStore.open(spark, bucketed.toString).map(_.select(cols: _*))
    val freshRows: Option[DataFrame] = BatchStore.open(spark, storeDir)
      .map(_.filter(col("batch_id") > w && col("batch_id") <= upTo)
        .select(cols: _*))
    if (oldTier.isEmpty && freshRows.isEmpty) return // nothing to compact
    val all = (oldTier, freshRows) match {
      case (Some(o), Some(f)) => o.unionByName(f)
      case (o, f) => o.orElse(f).get
    }
    // Effective bucket count from tier size (round 16): compressed
    // input bytes (old tier + the append batches being folded in)
    // approximate the rewritten tier's bytes — same rows, same codec.
    // Small stores get few directories (a few-MB store: ONE), large
    // ones fan out until the ceiling bounds directory opens.
    def bytesOf(p: String): Long =
      try fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    val tierBytes =
      (if (oldTier.isDefined) bytesOf(bucketed.toString) else 0L) +
        landedBatchIds(spark).filter(b => b > w && b <= upTo)
          .map(b => bytesOf(BatchStore.partition(storeDir, b))).sum
    val m = math.min(buckets.toLong, math.max(1L,
      (tierBytes + targetBucketBytes - 1) / targetBucketBytes)).toInt
    all
      .withColumn("sb", bucketExprM(col(keyCol), m))
      .repartition(col("sb")) // one task's output per bucket → few large files
      .sortWithinPartitions(col("sb"), col(keyCol))
      .write.mode("overwrite").partitionBy("sb").parquet(tmp.toString)
    val os = fs.create(new org.apache.hadoop.fs.Path(tmp, "_watermark"), true)
    try os.write(upTo.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    val ob = fs.create(new org.apache.hadoop.fs.Path(tmp, "_buckets"), true)
    try ob.write(m.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally ob.close()
    if (fs.exists(bucketed)) require(fs.rename(bucketed, prev),
      s"$label compaction could not stage the previous tier aside: $bucketed")
    require(fs.rename(tmp, bucketed),
      s"$label compaction could not publish $tmp")
    fs.delete(prev, true)
    // the rewritten batches leave the append tier only after commit
    landedBatchIds(spark).filter(_ <= upTo).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(BatchStore.partition(storeDir, b)), true)
    }
  }

  /** The automatic compaction cadence for production streams (round
    * 15 — [[compact]] previously had no caller outside tests and
    * StoreScale, so a long-running ingest accumulated append-tier
    * dirs without bound and never reached the measured flat-probe
    * regime): compact when ≥ `every` append-tier batches have landed
    * since the last watermark, up to the newest landed batch. Runs as
    * a post-commit step inside foreachBatch — the landed-batch
    * watermark clamp makes any landed `upTo` safe, a crash
    * mid-compaction recovers via `__prev`, and a replay of a
    * compacted batch stays a no-op. Returns whether it compacted.
    */
  /** Size-ratio (geometric) cadence — the size-tiered LSM alternative
    * to the fixed-interval [[maybeCompact]]: compact when the append
    * tier's bytes reach `ratio` × the bucketed tier's bytes (with
    * `minBytes` as the floor so a near-empty store doesn't thrash).
    * Trigger points space geometrically (1, 2, 4, 8, … batches of
    * history between rewrites at ratio 1), so the TOTAL rewrite work
    * over N batches is O(N log N) rows versus the fixed-interval
    * policy's O(N²/every) — each row is rewritten O(log N) times —
    * while the append tier is bounded by a FRACTION of the store
    * instead of a fixed batch count (its dir count grows within an
    * epoch; the fixed-interval policy makes the opposite trade:
    * bounded listing, quadratic rewrite). StoreScale's longrun50
    * measures both curves; pick by whether listing cost or write
    * amplification binds. Same safety inheritance as [[maybeCompact]].
    */
  def maybeCompactBySize(spark: SparkSession, ratio: Double = 1.0,
      minBytes: Long = 64L << 20): Boolean = {
    val fs = fsOf(spark)
    def bytesOf(path: String): Long =
      try fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
      catch { case _: java.io.FileNotFoundException => 0L }
    val w = watermark(spark)
    val fresh = landedBatchIds(spark).filter(_ > w)
    if (fresh.isEmpty) return false
    // append bytes: only above-watermark batch dirs count (garbage
    // replay dirs below the watermark are invisible data)
    val appendBytes = fresh.map(b => bytesOf(BatchStore.partition(storeDir, b))).sum
    val bucketedBytes =
      resolvedBucketedDir(fs).map(bytesOf).getOrElse(0L)
    if (appendBytes >= math.max(minBytes, (ratio * bucketedBytes).toLong)) {
      compact(spark, fresh.max); true
    } else false
  }

  def maybeCompact(spark: SparkSession, every: Int): Boolean = {
    // count only batches ABOVE the watermark: a replayed compacted
    // batch recreates its (garbage, invisible) append dir below it,
    // which must neither inflate the cadence count nor produce an
    // upTo < watermark crash when only garbage dirs remain. Watermark
    // hoisted: it costs FS round trips and runs on every commit.
    val w = watermark(spark)
    val fresh = landedBatchIds(spark).filter(_ > w)
    if (fresh.length >= every) { compact(spark, fresh.max); true }
    else false
  }
}

object TieredStore {
  /** Driver-side twin of the SQL `xxhash64(stringCol)` (seed 42) — the
    * bucket function for string-keyed stores. Pinned equal to the SQL
    * expression by TieredStoreSpec (a seed drift would silently route
    * probes to the wrong buckets).
    */
  def xxhash64OfString(s: String): Long = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** A long-keyed store bucketed by `pmod(key, buckets)` (the band
    * store's shape).
    */
  def longKeyed(storeDir: String, dataCols: Seq[String], keyCol: String,
      buckets: Int, pushdownLimit: Int = 1 << 10,
      label: String = "store",
      targetBucketBytes: Long = 256L << 10): TieredStore =
    new TieredStore(storeDir, dataCols, keyCol, buckets,
      bucketExprM = (c, m) => pmod(c, lit(m.toLong)).cast("int"),
      bucketOfValueM = (v, m) =>
        java.lang.Math.floorMod(v.asInstanceOf[Long], m.toLong).toInt,
      pushdownLimit = pushdownLimit, label = label,
      targetBucketBytes = targetBucketBytes)

  /** A string-keyed store bucketed by `pmod(xxhash64(key), m)`
    * (the hubs store's shape).
    */
  def stringKeyed(storeDir: String, dataCols: Seq[String], keyCol: String,
      buckets: Int, pushdownLimit: Int = 1 << 10,
      label: String = "store",
      targetBucketBytes: Long = 256L << 10): TieredStore =
    new TieredStore(storeDir, dataCols, keyCol, buckets,
      bucketExprM = (c, m) => pmod(xxhash64(c), lit(m.toLong)).cast("int"),
      bucketOfValueM = (v, m) => java.lang.Math
        .floorMod(xxhash64OfString(v.asInstanceOf[String]), m.toLong).toInt,
      pushdownLimit = pushdownLimit, label = label,
      targetBucketBytes = targetBucketBytes)
}
