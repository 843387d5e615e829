package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.PrismaConnector
import graft.sources.ReportPipeline.Fixtures
import graft.streaming.{BatchStore, IncrementalCorpus}
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Spark job budgets of the incremental corpus and of the three-report
  * publish on fixed fixtures. Both paths are bound by job count, not by
  * data, so each ceiling is the count measured when it was pinned: a
  * change that adds a job fails here, and a change that earns a lower
  * count lowers its ceiling.
  *
  * The batches have perfbench `corpus_stream`'s shape: 50 documents
  * under new sequential ids, from the second batch on 10 of them texts
  * seen before. The state is warm, as in a running stream: two batches,
  * a `maintain` and a snapshot before anything is counted. The tests run
  * in order on that one state: a batch, then `maintain`, then a
  * snapshot. The publish has its own state: a report root that three
  * publishes of `ReportPipeline.Fixtures` have written before the
  * fourth is counted.
  */
class JobBudgetSpec extends AnyFunSuite with SharedSpark {

  private val IngestCeiling = 27
  private val MaintainCeiling = 16
  private val SnapshotCeiling = 10
  private val PublishCeiling = 5

  /** Jobs started by `body`, on this thread or on threads it starts
    * (they inherit the tag; IncrementalCorpusConcurrencySpec pins that).
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.budget"
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) {
          n.incrementAndGet(); ()
        }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  private lazy val docs = Tables.documents(spark, sf)
  private lazy val rows = docs.orderBy("doc_id").collect().toIndexedSeq

  /** Batch `k`: 50 fresh texts in doc_id order, or from `k` = 1 on 40
    * fresh ones and 10 of batch 0's again, every doc under id 50k + i.
    */
  private def batch(k: Int): DataFrame = {
    val picked =
      if (k == 0) rows.take(50)
      else rows.slice(10 + 40 * k, 50 + 40 * k) ++ rows.slice(5 * k, 5 * k + 10)
    val renumbered = picked.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq.updated(0, 50L * k + i))
    }
    spark.createDataFrame(java.util.Arrays.asList(renumbered: _*), docs.schema)
  }

  private lazy val base: String = {
    val dir = Files.createTempDirectory("graft_job_budget").toString
    (0 until 2).foreach(k => IncrementalCorpus.ingestBatch(batch(k), k.toLong, dir))
    IncrementalCorpus.maintain(spark, dir)
    IncrementalCorpus.snapshot(spark, dir).count()
    dir
  }

  test("a warm ingestBatch stays within its job ceiling") {
    val (b, next) = (base, batch(2))
    val n = jobsOf(IncrementalCorpus.ingestBatch(next, 2L, b))
    info(s"ingestBatch: $n jobs")
    assert(n <= IngestCeiling, s"a warm ingestBatch ran $n jobs (ceiling $IngestCeiling)")
  }

  test("maintain stays within its job ceiling") {
    val b = base
    val n = jobsOf(IncrementalCorpus.maintain(spark, b))
    info(s"maintain: $n jobs")
    assert(n <= MaintainCeiling, s"maintain ran $n jobs (ceiling $MaintainCeiling)")
  }

  test("a snapshot and the count that runs it stay within their job ceiling") {
    val b = base
    // a row count of the plan as it stands, as perfbench times it
    val n = jobsOf(IncrementalCorpus.snapshot(spark, b).queryExecution.toRdd.count())
    info(s"snapshot + count: $n jobs")
    assert(n <= SnapshotCeiling, s"snapshot + count ran $n jobs (ceiling $SnapshotCeiling)")
  }

  test("opening a store starts no job: populated, empty, absent, and both tiers") {
    val b = base
    // a batch with new texts after maintain: the hubs store then has
    // both tiers
    IncrementalCorpus.ingestBatch(batch(3), 3L, b)
    val hubs = IncrementalCorpus.hubStoreOf(b)
    assert(hubs.watermark(spark) >= 0 && hubs.landedBatchIds(spark).nonEmpty,
      "the hubs store should hold a compacted and an append tier")
    val empty = Files.createTempDirectory("graft_job_budget_empty").toString
    Seq(
      "populated" -> (() => assert(BatchStore.read(spark, s"$b/raw").isDefined)),
      "empty" -> (() => assert(BatchStore.read(spark, empty).isEmpty)),
      "absent" -> (() => assert(BatchStore.read(spark, s"$b/never_written").isEmpty)),
      "both tiers" -> (() => assert(hubs.readAll(spark, Long.MaxValue).isDefined))
    ).foreach { case (what, open) =>
      val n = jobsOf(open())
      assert(n == 0, s"opening the $what store ran $n jobs")
    }
  }

  test("a warm three-report publish stays within its job ceiling") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_job_budget_publish").resolve("reports").toString
    def publish(): Unit = PrismaConnector.runReportPipelineLiteral(spark,
      Fixtures.inventory.toDF("json"), Fixtures.resourceType.toDF("service", "json"),
      Fixtures.policies.toDF("json"), Fixtures.alertPages.toDF("json"), root)
    (1 to 3).foreach(_ => publish())
    val n = jobsOf(publish())
    info(s"publish: $n jobs")
    assert(n <= PublishCeiling, s"a warm publish ran $n jobs (ceiling $PublishCeiling)")
  }
}
