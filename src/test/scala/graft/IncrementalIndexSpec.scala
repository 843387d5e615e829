package graft

import graft.queries.TextOps
import graft.streaming.IncrementalIndex
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** IncrementalIndex contract: snapshot ≡ one-shot invertedIndexOf over
  * the union of batches, micro-batch replay is a no-op, redelivery
  * under a new batchId does not double-count df, and the retroactive
  * case (later docs push an old term past the df floor, pulling the
  * EARLIER doc ids into its posting head) is exact.
  */
class IncrementalIndexSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def rowsOf(df: DataFrame): Seq[(String, Long, String)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq

  test("snapshot over micro-batches equals the one-shot index on the fixture") {
    val got = rowsOf(SparkEntry.queries("q_index_inc")(spark, sf))
    val want = rowsOf(TextOps.invertedIndexOf(Tables.documents(spark, sf),
      IncrementalIndex.MinDf, IncrementalIndex.HeadK))
    assert(want.nonEmpty, "fixture must produce index terms")
    assert(got == want, "incremental snapshot differs from one-shot")
  }

  test("replaying a committed batch leaves store and snapshot unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_index_replay").toString
    val b0 = (0L until 6L).map(i => (i, "alpha beta")).toDF("doc_id", "text")
    val b1 = (6L until 12L).map(i => (i, "alpha gamma")).toDF("doc_id", "text")
    IncrementalIndex.commitBatch(b0, 0L, s"$tmp/state")
    IncrementalIndex.commitBatch(b1, 1L, s"$tmp/state")
    val before = rowsOf(IncrementalIndex.snapshot(spark, s"$tmp/state"))
    val storeBefore = IncrementalIndex.readRows(spark, s"$tmp/state").count()
    IncrementalIndex.commitBatch(b0, 0L, s"$tmp/state") // replay
    assert(IncrementalIndex.readRows(spark, s"$tmp/state").count() == storeBefore,
      "replay grew the store")
    assert(rowsOf(IncrementalIndex.snapshot(spark, s"$tmp/state")) == before,
      "replay changed the snapshot")
  }

  test("at-least-once redelivery under a DIFFERENT batchId does not double-count df") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_index_redeliver").toString
    // 5 docs sharing one term: df exactly at the floor
    val docs = (0L until 5L).map(i => (i, "solo")).toDF("doc_id", "text")
    IncrementalIndex.commitBatch(docs, 0L, s"$tmp/state")
    IncrementalIndex.commitBatch(docs, 3L, s"$tmp/state") // redelivered
    val snap = rowsOf(IncrementalIndex.snapshot(spark, s"$tmp/state"))
    assert(snap == Seq(("solo", 5L, "0,1,2,3,4")),
      s"df must stay 5 after redelivery: $snap")
  }

  test("retroactivity: later docs pull an old term past the floor WITH its early postings") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_index_retro").toString
    // batch 0: term 'rare' in 2 docs — below the df floor, absent
    val b0 = Seq((10L, "rare x"), (11L, "rare y")).toDF("doc_id", "text")
    IncrementalIndex.commitBatch(b0, 0L, s"$tmp/state")
    assert(!rowsOf(IncrementalIndex.snapshot(spark, s"$tmp/state"))
      .exists(_._1 == "rare"), "below-floor term must be absent")
    // batch 1: 3 more docs repeat it — df crosses to 5 and the head
    // must include the batch-0 doc ids
    val b1 = Seq((20L, "rare"), (21L, "rare"), (22L, "rare")).toDF("doc_id", "text")
    IncrementalIndex.commitBatch(b1, 1L, s"$tmp/state")
    val snap = rowsOf(IncrementalIndex.snapshot(spark, s"$tmp/state"))
      .filter(_._1 == "rare")
    assert(snap == Seq(("rare", 5L, "10,11,20,21,22")),
      s"retroactive posting head wrong: $snap")
  }
}
