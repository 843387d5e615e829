package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.queries.CorpusPipeline
import graft.streaming.{IncrementalCorpus, StreamingDedup}
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What `IncrementalCorpus.ingestBatch` and `maintain` owe their caller
  * now that they run independent stores on threads of their own: no
  * materialized blocks left behind, a failed branch surfaces only after
  * the others ended and before raw/ lands, and the caller's Spark local
  * properties (job group, tracing tags) reach every job they start.
  */
class IncrementalCorpusConcurrencySpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def thirds = {
    val docs = Tables.documents(spark, sf)
    (docs, (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i)))
  }

  private def split(base: String): Map[Long, String] =
    IncrementalCorpus.snapshot(spark, base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap

  test("commitBatch and ingestBatch release every block they materialize") {
    val (_, batches) = thirds
    val base = Files.createTempDirectory("graft_inc_blocks").toString
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    StreamingDedup.commitBatch(batches(0), 0L, s"$base/dedup/store",
      s"$base/dedup/pairs", 0.5)
    val leftByCommit = sc.getPersistentRDDs.keySet -- before
    assert(leftByCommit.isEmpty, s"commitBatch left RDDs $leftByCommit pinned")
    // the second batch also takes the earlier-hubs lookup path
    IncrementalCorpus.ingestBatch(batches(0), 0L, s"$base/corpus")
    IncrementalCorpus.ingestBatch(batches(1), 1L, s"$base/corpus")
    val leftByIngest = sc.getPersistentRDDs.keySet -- before
    assert(leftByIngest.isEmpty, s"ingestBatch left RDDs $leftByIngest pinned")
  }

  test("a failed branch is rethrown after the others end, raw/ stays unlanded, and replay recovers") {
    val (docs, batches) = thirds
    val base = Files.createTempDirectory("graft_inc_branch_fail").toString
    IncrementalCorpus.ingestBatch(batches(0), 0L, base)
    // a regular file where the flags branch lands its batch
    val flags = Paths.get(base, "flags")
    val aside = Paths.get(base, "flags_aside")
    Files.move(flags, aside)
    Files.write(flags, "obstacle".getBytes("UTF-8"))
    val ex = intercept[Exception] {
      IncrementalCorpus.ingestBatch(batches(1), 1L, base)
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString(" / ")
    assert(chain.contains(flags.toString), s"not the flags branch's error: $chain")
    ListenerDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "a branch was still running when ingestBatch returned")
    assert(!Files.exists(Paths.get(base, "raw", "batch_id=1")),
      "raw/ landed a batch whose flags are missing")
    Files.delete(flags)
    Files.move(aside, flags)
    IncrementalCorpus.ingestBatch(batches(1), 1L, base)
    IncrementalCorpus.ingestBatch(batches(2), 2L, base)
    val want = CorpusPipeline.buildFrame(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val got = split(base)
    assert(want.nonEmpty && got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
  }

  test("the caller's local properties reach every job ingestBatch and maintain start") {
    val (_, batches) = thirds
    val base = Files.createTempDirectory("graft_inc_props").toString
    val sc = spark.sparkContext
    val key = "graft.test.caller"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .getOrElse("<unset>"))
        ()
      }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, "tagged")
    try {
      IncrementalCorpus.ingestBatch(batches(0), 0L, base)
      IncrementalCorpus.ingestBatch(batches(1), 1L, base)
      IncrementalCorpus.maintain(spark, base)
    } finally {
      sc.setLocalProperty(key, null)
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    val tags = seen.asScala.toSeq
    assert(tags.nonEmpty && tags.forall(_ == "tagged"),
      s"${tags.count(_ != "tagged")} of ${tags.size} jobs lost the caller's property")
  }
}
