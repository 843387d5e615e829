package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The shape shared by the batch-store incremental operators
  * (IncrementalCdc, IncrementalDau, IncrementalIndex, IncrementalSubstr):
  * each micro-batch lands the rows [[rowsOf]] derives from it as its own
  * `batch_id` partition ([[BatchStore.land]]), and [[snapshot]] runs the
  * operator's one-shot query over the ACCUMULATED rows — so each
  * declared `_inc` query reuses its batch query's DuckDB oracle
  * verbatim: the incremental machinery must reproduce the one-shot
  * answer to the hash.
  *
  * Idempotence ladder:
  *  - same-batchId replay: dynamic partition overwrite rewrites exactly
  *    this batch's partition with byte-identical recomputed rows.
  *  - cross-batch redelivery (an at-least-once source re-sending rows
  *    under a NEW batch id): deduped on `dedupKeys` in [[readRows]].
  *
  * An operator declares only its row schema, its rows-of-batch
  * function, its dedup and sort keys, its snapshot function and its
  * input table.
  *
  * @param rowSchema   store row schema (minus batch_id)
  * @param dedupKeys   redelivery dedup key of [[readRows]]
  * @param sortKeys    within-batch sort of [[maintain]]'s compacted files
  */
abstract class IncrementalOperator(val rowSchema: StructType,
    dedupKeys: Seq[String], sortKeys: Seq[String]) {

  /** The rows one micro-batch contributes to the store. */
  protected def rowsOf(batch: DataFrame): DataFrame

  /** The one-shot query over the accumulated rows. */
  protected def snapshotOf(rows: DataFrame): DataFrame

  /** The declared query's input table at `sfDir`. */
  protected def input(spark: SparkSession, sfDir: String): DataFrame

  /** Idempotent micro-batch commit: land the batch's rows as its
    * partition. The rows are localCheckpointed first to cut the
    * streaming-source lineage — a foreachBatch frame cannot be
    * re-scanned by the parquet writer's retry path otherwise.
    */
  def commitBatch(batch: DataFrame, batchId: Long, storeDir: String): Unit =
    BatchStore.land(graft.Materialize.frame(rowsOf(batch)), batchId, storeDir)

  /** All accumulated rows, deduped on `dedupKeys`; an absent store reads
    * as zero rows. Crash-window-safe: resolves a mid-maintenance
    * `__prev` tree ([[BatchStore.read]]).
    */
  def readRows(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.read(spark, storeDir)
      .map(_.select(rowSchema.fieldNames.map(col).toSeq: _*)
        .dropDuplicates(dedupKeys))
      .getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], rowSchema))

  /** Offline store maintenance: one `sortKeys`-sorted zstd file per batch
    * partition ([[BatchStore.compact]]); snapshot- and replay-preserving
    * (MaintenanceSpec).
    */
  def maintain(spark: SparkSession, storeDir: String): Boolean =
    BatchStore.compact(spark, storeDir, sortKeys)

  /** The query over everything ingested so far — identical
    * (spec-proven) to the one-shot query over the union of all batches.
    */
  def snapshot(spark: SparkSession, storeDir: String): DataFrame =
    snapshotOf(readRows(spark, storeDir))

  /** Declared-query body: land the input table as `nFiles` parquet
    * files, drain them as real micro-batches through [[commitBatch]],
    * snapshot ([[StreamFixture.run]]). Deterministic: the snapshot is a
    * pure function of the ingested set.
    */
  def fixtureRun(spark: SparkSession, sfDir: String, nFiles: Int = 3): DataFrame =
    StreamFixture.run(input(spark, sfDir), nFiles)(commitBatch)(snapshot(spark, _))
}
