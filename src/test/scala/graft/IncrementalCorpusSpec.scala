package graft

import java.nio.file.Files

import graft.queries.CorpusPipeline
import graft.streaming.IncrementalCorpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental corpus build (streaming/IncrementalCorpus.scala): N
  * ingested micro-batches must yield EXACTLY the corpus the one-shot
  * batch pipeline builds over the union — survivors, contamination
  * flags, and split tags included — while only ever processing the
  * arriving documents. Also locks the replay no-op contract and the
  * two genuinely incremental behaviors a naive design gets wrong:
  * survivor displacement by a later smaller-id duplicate, and
  * retroactive contamination by a benchmark doc arriving after the
  * docs it contaminates.
  */
class IncrementalCorpusSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("N ingested batches equal batch buildFrame over the union") {
    val base = Files.createTempDirectory("graft_inc_c").toString
    val docs = Tables.documents(spark, sf)
    (0 until 3).foreach { i =>
      IncrementalCorpus.ingestBatch(
        docs.filter(col("doc_id") % 3 === i), i.toLong, base)
    }
    val got = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val want = CorpusPipeline.buildFrame(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(want.nonEmpty && got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
  }

  test("resuming a pre-benchsh state dir fails fast instead of missing contamination") {
    val base = Files.createTempDirectory("graft_inc_legacy").toString
    val docs = Tables.documents(spark, sf)
    IncrementalCorpus.ingestBatch(docs.filter(col("doc_id") % 3 === 0), 0L, base)
    // simulate a state dir written before the benchsh/ store existed
    val benchsh = java.nio.file.Paths.get(base, "benchsh")
    Files.walk(benchsh).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    val ex = intercept[IllegalArgumentException] {
      IncrementalCorpus.ingestBatch(docs.filter(col("doc_id") % 3 === 1), 1L, base)
    }
    assert(ex.getMessage.contains("benchsh"))
  }

  test("resuming a pre-hubs state dir fails fast instead of missing exact-dup edges") {
    val base = Files.createTempDirectory("graft_inc_legacy_hubs").toString
    val docs = Tables.documents(spark, sf)
    IncrementalCorpus.ingestBatch(docs.filter(col("doc_id") % 3 === 0), 0L, base)
    // simulate a state dir written before the hubs/ store existed
    // (round 14): continuing would silently treat every batch digest as
    // new and drop the cross-batch exact-dup edges
    val hubs = java.nio.file.Paths.get(base, "hubs")
    Files.walk(hubs).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { Files.deleteIfExists(p); () })
    val ex = intercept[IllegalArgumentException] {
      IncrementalCorpus.ingestBatch(docs.filter(col("doc_id") % 3 === 1), 1L, base)
    }
    assert(ex.getMessage.contains("hubs"))
  }

  test("a benchsh/ dir holding no batch_id= child fails fast like an absent one") {
    val base = Files.createTempDirectory("graft_inc_empty_bsh").toString
    val docs = Tables.documents(spark, sf)
    IncrementalCorpus.ingestBatch(docs.filter(col("doc_id") % 3 === 0), 0L, base)
    // crash debris / a manual restore: the directory survives, its
    // committed batches do not
    val benchsh = java.nio.file.Paths.get(base, "benchsh")
    Files.walk(benchsh).sorted(java.util.Comparator.reverseOrder())
      .filter(_ != benchsh)
      .forEach(p => { Files.deleteIfExists(p); () })
    assert(Files.isDirectory(benchsh))
    val ex = intercept[IllegalArgumentException] {
      IncrementalCorpus.ingestBatch(docs.filter(col("doc_id") % 3 === 1), 1L, base)
    }
    assert(ex.getMessage.contains("benchsh"))
  }

  test("a benchsh/ surviving only as benchsh__prev (crash mid-maintain) counts as present") {
    val base = Files.createTempDirectory("graft_inc_prev_bsh").toString
    val docs = Tables.documents(spark, sf)
    val batches = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    IncrementalCorpus.ingestBatch(batches(0), 0L, base)
    IncrementalCorpus.ingestBatch(batches(1), 1L, base)
    // the window between maintain's two publish renames
    Files.move(java.nio.file.Paths.get(base, "benchsh"),
      java.nio.file.Paths.get(base, "benchsh__prev"))
    IncrementalCorpus.ingestBatch(batches(2), 2L, base)
    assert(!Files.exists(java.nio.file.Paths.get(base, "benchsh__prev")),
      "the next land must merge __prev back")
    val got = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val want = CorpusPipeline.buildFrame(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(want.nonEmpty && got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
  }

  test("auto-compaction cadence mid-ingest: snapshot parity holds and a compacted batch replays as a no-op (round 15)") {
    // compactEvery=2 over 4 batches → both the band store and the hubs
    // store flip to their bucketed tiers MID-INGEST (later batches'
    // pruned reads cross tier boundaries); the snapshot must still
    // equal the one-shot batch pipeline, and replaying a batch whose
    // state was compacted must leave it unchanged.
    val base = Files.createTempDirectory("graft_inc_cad").toString
    val docs = Tables.documents(spark, sf)
    val batches = (0 until 4).map(i => docs.filter(col("doc_id") % 4 === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalCorpus.ingestBatch(b, i.toLong, base, compactEvery = 2)
    }
    val hubStore = IncrementalCorpus.hubStoreOf(base)
    assert(hubStore.watermark(spark) >= 2L,
      s"hubs cadence must have fired mid-ingest, watermark=${hubStore.watermark(spark)}")
    assert(graft.streaming.StreamingDedup.bandStoreOf(s"$base/store")
      .watermark(spark) >= 2L, "band cadence must have fired mid-ingest")
    val got = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val want = CorpusPipeline.buildFrame(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(want.nonEmpty && got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    // replay batch 1 — its hubs/band rows live in the bucketed tiers now
    IncrementalCorpus.ingestBatch(batches(1), 1L, base, compactEvery = 2)
    val after = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(after == got, "replay of a compacted batch must be a no-op")
  }

  test("replaying an already-ingested batch leaves the snapshot unchanged") {
    val base = Files.createTempDirectory("graft_inc_r").toString
    val docs = Tables.documents(spark, sf)
    val batches = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalCorpus.ingestBatch(b, i.toLong, base)
    }
    val before = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // at-least-once replay of a mid-stream batch
    IncrementalCorpus.ingestBatch(batches(1), 1L, base)
    val after = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(after == before)
  }

  test("a later smaller-id duplicate displaces the earlier survivor") {
    val base = Files.createTempDirectory("graft_inc_d").toString
    val t = "the quick brown fox jumps over the lazy dog tonight"
    val u = "completely different sentence with many unique tokens inside"
    IncrementalCorpus.ingestBatch(
      Seq((21L, t), (33L, u)).toDF("doc_id", "text"), 0L, base)
    val s0 = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id").as[Long].collect().toSet
    assert(s0 == Set(21L, 33L))
    IncrementalCorpus.ingestBatch(Seq((7L, t)).toDF("doc_id", "text"), 1L, base)
    val s1 = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == Set(7L, 33L),
      s"smaller-id arrival must displace the earlier survivor, got $s1")
  }

  test("a benchmark doc arriving later retroactively flags an earlier survivor") {
    val base = Files.createTempDirectory("graft_inc_f").toString
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val clean = "completely unrelated sentence with many distinct tokens here"
    IncrementalCorpus.ingestBatch(
      Seq((17L, benchText + " extra trailer"), (23L, clean)).toDF("doc_id", "text"),
      0L, base)
    assert(IncrementalCorpus.snapshot(spark, base)
      .select("doc_id").as[Long].collect().toSet == Set(17L, 23L))
    // the benchmark doc (id % 10 == 0) arrives AFTER its near-copy
    IncrementalCorpus.ingestBatch(
      Seq((40L, benchText)).toDF("doc_id", "text"), 1L, base)
    val after = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id").as[Long].collect().toSet
    assert(after == Set(23L),
      s"doc 17 must be retroactively decontaminated, got $after")
  }

  test("fixtureRun (the q_corpus_inc surface) equals q_corpus_build on the fixture") {
    val got = IncrementalCorpus.fixtureRun(spark, sf)
      .as[(Long, String, String)].collect().toSeq
    val want = CorpusPipeline.buildFrame(Tables.documents(spark, sf))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy(col("doc_id"))
      .as[(Long, String, String)].collect().toSeq
    assert(want.nonEmpty && got == want)
  }
}
