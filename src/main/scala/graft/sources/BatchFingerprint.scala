package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replay recognition for the append-only index stores (IvfIndex /
  * PqIndex): ONE shared content fingerprint, persisted per committed
  * batch, so the two indexes can never drift apart on what "the same
  * batch" means (they did in round 11/12: the check lived as two
  * copy-pasted blocks, and both fingerprinted vec_ids ONLY — a reused
  * batch_id whose ids matched but whose VECTORS changed was silently
  * dropped as a replay with a success AppendStats).
  *
  * The fingerprint is (row count, bit_xor of xxhash64(vec_id, emb,
  * multiplicity)) over the batch's canonical (vec_id, emb:
  * array<double>) frame GROUPED by (vec_id, emb) — order-insensitive
  * (xor), overflow-free (xor over hashes; the row count is a sum of
  * per-group counts, which cannot overflow for any real batch),
  * PAYLOAD-INCLUSIVE (the hash covers every vector component, so
  * changed embeddings under a reused id set fall through to the normal
  * dynamic-overwrite path), and MULTIPLICITY-SENSITIVE (round 13: a
  * plain xor over rows cancels duplicates pairwise, so {A,A,B} and
  * {B,B,B} — same count, same xor — collided; hashing each distinct
  * (vec_id, emb) together with its duplicate count makes duplicate rows
  * unable to cancel). It is computed on the BATCH both at commit and at
  * replay-check time and compared against the persisted record — never
  * re-derived from the store, which for PqIndex holds only lossy codes.
  * Changing the definition (as round 13 did) is safe for old stores:
  * a persisted old-format fingerprint simply never matches, so the
  * delivery takes the idempotent dynamic-overwrite path and re-records.
  *
  * Durability protocol: the fingerprint is written AFTER the data
  * commit, into `<path>/batch_fp/batch_id=<b>/` via the same
  * batch_id-keyed dynamic overwrite as the data. A crash between data
  * and fingerprint write leaves no record, so the next delivery re-runs
  * the (idempotent) overwrite and then records — at-least-once safe.
  */
private[graft] object BatchFingerprint {

  /** (count, content hash) of the batch. None hash for an empty batch —
    * empty never matches, so empty appends always take (and no-op
    * through) the normal path.
    */
  def of(batch: DataFrame): (Long, Option[Long]) = {
    val canon = graft.queries.Similarity.corpusOf(batch)
    // one extra compact shuffle (distinct (vec_id, emb) pairs, counted)
    // buys multiplicity sensitivity — see the class doc
    val r = canon.groupBy(col("vec_id"), col("emb"))
      .agg(count(lit(1)).as("cnt"))
      .agg(sum("cnt"), expr("bit_xor(xxhash64(vec_id, emb, cnt))")).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  private def dir(path: String) = s"$path/batch_fp"

  /** The fingerprint the last committed append for `batchId` recorded,
    * if any.
    */
  def committed(spark: SparkSession, path: String,
      batchId: Long): Option[(Long, Long)] =
    graft.streaming.BatchStore.open(spark, dir(path))
      .flatMap(_.filter(col("batch_id") === batchId)
        .select(col("n"), col("fp"))
        .collect().headOption // bounded: one row per batch_id
        .map(r => (r.getLong(0), r.getLong(1))))

  /** True iff `batchId` committed before with exactly this content. */
  def isReplay(spark: SparkSession, path: String, batchId: Long,
      n: Long, fp: Option[Long]): Boolean =
    fp.exists(f => n > 0 && committed(spark, path, batchId).contains((n, f)))

  /** Record the committed batch's fingerprint (call AFTER the data
    * write succeeds).
    */
  def record(spark: SparkSession, path: String, batchId: Long,
      n: Long, fp: Long): Unit = {
    import spark.implicits._
    Seq((batchId, n, fp)).toDF("batch_id", "n", "fp")
      .repartition(1)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir(path))
  }

  /** Forget all committed batches — pairs with clearing the delta
    * subtree (retrain).
    */
  def clear(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }
}
