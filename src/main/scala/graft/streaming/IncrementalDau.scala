package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental active-user rollup — q_active_users' bitmap DAU/WAU/MAU
  * maintained across micro-batches (SURVEY.md §2b q_dau_inc): each
  * batch lands its DISTINCT (user_id, absolute-epoch-day) pairs in a
  * batch_id-partitioned store (the batch-local dedup IS the mergeable
  * partial — a user active 500× in one batch commits one row), and the
  * snapshot runs the IDENTICAL activeUsersOf aggregation over the
  * accumulated rows ([[IncrementalOperator]]).
  *
  * Absolute epoch days are the load-bearing choice: the batch query's
  * day axis is anchored at the corpus min date, which a late BACKFILL
  * batch can shift backwards. A store keyed on relative days would
  * silently corrupt every previously-committed mask; absolute days
  * re-anchor at snapshot time for free (IncrementalDauSpec proves the
  * backfill case).
  *
  * Redelivery: the SAME (user, day) re-sent under a NEW batch id is
  * deduped at read — set-semantics state (a bit is a bit) makes the
  * masks redelivery-proof by construction, and the dedup is what keeps
  * the day-axis bounds exact too.
  *
  * Scale shape: per-batch work is one batch-sized distinct (map-side
  * combined); the snapshot re-aggregation is the batch query's own
  * user-keyed bit_or — partially aggregatable, so a 100-TB deployment
  * compacts old batches into per-(user, word) mask partials with the
  * same associative merge.
  */
object IncrementalDau extends IncrementalOperator(
    StructType(Seq(
      StructField("user_id", LongType),
      StructField("day_abs", IntegerType))),
    dedupKeys = Seq("user_id", "day_abs"), sortKeys = Seq("user_id", "day_abs")) {

  protected def rowsOf(batch: DataFrame): DataFrame =
    batch.select(col("user_id"),
        datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("day_abs"))
      .distinct()

  protected def snapshotOf(rows: DataFrame): DataFrame =
    graft.queries.TimeWindows.activeUsersOf(rows)

  protected def input(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.events(spark, sfDir).select(col("user_id"), col("ts"))
}
