package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Incremental CDC apply — q_cdc_apply's current-state materialization
  * maintained across micro-batches (SURVEY.md §2b q_cdc_inc): the
  * changelog arrives as a stream, each batch's rows land in a
  * batch_id-partitioned store, and the snapshot runs the IDENTICAL
  * last-writer-wins aggregation (queries.Versioning.cdcStateOf) over
  * the accumulated rows ([[IncrementalOperator]]).
  *
  * Redelivery is deduped on the changelog's own event_id. The max_by
  * state is redelivery-proof by itself (a re-seen last writer wins
  * identically); the n_ops COUNT is not — the dedup is what keeps it
  * exact.
  *
  * Scale shape: per-batch work is one projection of the batch (no
  * shuffle at commit); the snapshot aggregation is partially
  * aggregatable (max_by + count), so the map side reduces each key to
  * one candidate row before the single user-keyed exchange. A 100-TB
  * deployment compacts old batches into per-key partials with the same
  * aggregation — the merge is associative by construction.
  */
object IncrementalCdc extends IncrementalOperator(
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("event_type", StringType),
      StructField("value", DoubleType))),
    dedupKeys = Seq("event_id"), sortKeys = Seq("user_id", "event_id")) {

  protected def rowsOf(batch: DataFrame): DataFrame =
    batch.select(rowSchema.fieldNames.map(col).toSeq: _*)

  protected def snapshotOf(rows: DataFrame): DataFrame =
    graft.queries.Versioning.cdcStateOf(rows)

  protected def input(spark: SparkSession, sfDir: String): DataFrame =
    rowsOf(graft.Tables.events(spark, sfDir))
}
