package graft

import java.nio.file.Files

import graft.streaming.{BatchStore, StreamOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end incremental pipeline: a file-source stream maintains a
  * per-user aggregate across micro-batches with foreachBatch — each
  * batch's delta lands as its own `batch_id` partition through
  * [[BatchStore.land]], and the sum of the landed deltas must equal the
  * one-shot batch aggregate over all input. This is the "incremental
  * materialized view" composition of the engine's pieces: streaming
  * source + aggregation + the batch-store protocol + an additive read.
  */
class IncrementalPipelineSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def aggDelta(df: DataFrame): DataFrame =
    df.groupBy("user_id").agg(
      count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  test("foreachBatch incremental aggregate ≡ one-shot batch aggregate") {
    val in = Files.createTempDirectory("graft_inc_in").toString
    val ck = Files.createTempDirectory("graft_inc_ck").toString
    val store = Files.createTempDirectory("graft_inc_store").toString + "/user_stats"
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    def ts(h: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

    // three micro-batches with overlapping users
    write(Seq((1L, ts(1), 1L, "click", 1.0, "{}"), (2L, ts(1), 2L, "view", 2.0, "{}")))
    write(Seq((3L, ts(2), 1L, "click", 3.0, "{}")))
    write(Seq((4L, ts(3), 3L, "view", 4.0, "{}"), (5L, ts(3), 1L, "click", 5.0, "{}")))

    val schema = spark.read.parquet(in).schema
    val q = StreamOps.eventsStream(spark, in, schema, maxFilesPerTrigger = 1)
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        BatchStore.land(aggDelta(batch), batchId, store)
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    // additive state: the per-user sums over every landed delta
    val landed = BatchStore.read(spark, store)
    assert(landed.isDefined, s"no batch landed under $store")
    val got = landed.get
      .groupBy("user_id").agg(
        sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"))
      .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
    val want = aggDelta(spark.read.parquet(in))
      .orderBy("user_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == want, s"incremental state must equal the batch aggregate: $got vs $want")
    assert(got == Seq((1L, 3L, 9.0), (2L, 1L, 2.0), (3L, 1L, 4.0)))
    assert(BatchStore.landedIds(spark, store).sorted == Seq(0L, 1L, 2L))
  }
}
