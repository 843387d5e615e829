package graft

import graft.queries.TextOps
import graft.streaming.IncrementalSubstr
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** IncrementalSubstr contract: snapshot ≡ one-shot substrSpansOf over
  * the union of batches, micro-batch replay is a no-op, and the
  * retroactive case (a later doc flags an EARLIER doc's span) is exact.
  */
class IncrementalSubstrSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def rowsOf(df: DataFrame): Seq[(Long, Int, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq

  test("snapshot over micro-batches equals the one-shot pass on the fixture") {
    val got = rowsOf(SparkEntry.queries("q_substr_inc")(spark, sf))
    val want = rowsOf(TextOps.substrSpansOf(Tables.documents(spark, sf)))
    assert(want.nonEmpty, "fixture must contain duplicated spans")
    assert(got == want, "incremental snapshot differs from one-shot")
  }

  test("replaying a committed batch leaves store and snapshot unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_replay").toString
    val shared = (0 until 12).map(i => s"dup$i").mkString(" ")
    val b0 = Seq((1L, (0 until 10).map(i => s"a$i").mkString(" ") + " " + shared))
      .toDF("doc_id", "text")
    val b1 = Seq((2L, (0 until 9).map(i => s"c$i").mkString(" ") + " " + shared))
      .toDF("doc_id", "text")
    IncrementalSubstr.commitBatch(b0, 0L, s"$tmp/state")
    IncrementalSubstr.commitBatch(b1, 1L, s"$tmp/state")
    val before = rowsOf(IncrementalSubstr.snapshot(spark, s"$tmp/state"))
    val storeBefore = IncrementalSubstr.readRows(spark, s"$tmp/state").count()
    IncrementalSubstr.commitBatch(b0, 0L, s"$tmp/state") // replay
    assert(IncrementalSubstr.readRows(spark, s"$tmp/state").count() == storeBefore,
      "replay grew the store")
    assert(rowsOf(IncrementalSubstr.snapshot(spark, s"$tmp/state")) == before,
      "replay changed the snapshot")
  }

  test("at-least-once redelivery under a DIFFERENT batchId does not double-count") {
    // same-batchId replay is a byte-identical partition overwrite; an
    // upstream retry can also redeliver a doc under a NEW batchId —
    // without the (doc_id, pos, g) dedup its grams would count twice
    // and the all-unique doc below would read as one giant dup span
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_redeliver").toString
    val doc = Seq((7L, (0 until 20).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    IncrementalSubstr.commitBatch(doc, 0L, s"$tmp/state")
    IncrementalSubstr.commitBatch(doc, 3L, s"$tmp/state") // redelivered
    assert(IncrementalSubstr.snapshot(spark, s"$tmp/state").count() == 0,
      "redelivered unique doc must not self-duplicate")
  }

  test("retroactivity: a later repeat flags the EARLIER doc's span too") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_substr_retro").toString
    val shared = (0 until 8).map(i => s"r$i").mkString(" ")
    val early = Seq((10L, shared + " " + (0 until 6).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val unrelated = Seq((11L, (0 until 20).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    IncrementalSubstr.commitBatch(early, 0L, s"$tmp/state")
    IncrementalSubstr.commitBatch(unrelated, 1L, s"$tmp/state")
    // nothing duplicated yet: doc 10's gram is unique in the corpus
    assert(IncrementalSubstr.snapshot(spark, s"$tmp/state").count() == 0)
    // batch 2 repeats doc 10's leading 8-gram → BOTH docs now report it
    val late = Seq((12L, (0 until 5).map(i => s"z$i").mkString(" ") + " " + shared))
      .toDF("doc_id", "text")
    IncrementalSubstr.commitBatch(late, 2L, s"$tmp/state")
    val got = rowsOf(IncrementalSubstr.snapshot(spark, s"$tmp/state"))
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.keySet == Set(10L, 12L), s"flagged docs: ${got.keySet}")
    assert(got(10L) == ((14, 1L, 8L, 0.5714)), s"doc10: ${got(10L)}")
    assert(got(12L) == ((13, 1L, 8L, 0.6154)), s"doc12: ${got(12L)}")
  }
}
