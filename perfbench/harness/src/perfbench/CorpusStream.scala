package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.queries.CorpusPipeline
import graft.streaming.{IncrementalCorpus, StreamingDedup, TieredStore}

/** A closed loop of micro-batches through `IncrementalCorpus.ingestBatch`
  * over the documents table. The seed orders the documents; from the
  * second batch on, a seeded share of each batch redelivers already-seen
  * texts under new doc ids, so the dedup state is probed and grown at
  * once. `maintain` runs every [[CorpusStream.MaintainEvery]] batches and
  * the final `snapshot` ends the run. The snapshot is then checked
  * against `CorpusPipeline.buildFrame` over everything ingested, outside
  * the timed spans.
  */
final class CorpusStream extends Workload {
  import CorpusStream._

  private var docs: IndexedSeq[Row] = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private var base: String = _
  private val ingested = mutable.ArrayBuffer.empty[Row]
  private val batchTimes = mutable.ArrayBuffer.empty[Double]
  private val maintainTimes = mutable.ArrayBuffer.empty[Double]
  private var snapshotS = 0.0
  private var rng: scala.util.Random = _
  private var nextFresh = 0
  private var nextId = 0L
  private var batches = 0L
  private var inputBytes = 0L
  private var docsTimed = 0
  private val probes = mutable.Map.empty[String, Double]
  private val uncompacted = mutable.ArrayBuffer.empty[Double]

  /** Next batch: fresh documents in seeded order, plus (after the first
    * batch) a seeded share of already-ingested texts under new ids.
    */
  private def nextBatch(seen: IndexedSeq[Row]): Seq[Row] = {
    val redeliver = if (seen.isEmpty) 0 else (BatchDocs * RedeliverShare).toInt
    val fresh = (0 until BatchDocs - redeliver).map { _ =>
      val r = docs(nextFresh % docs.size); nextFresh += 1; r
    }
    val again = (0 until redeliver).map(_ => seen(rng.nextInt(seen.size)))
    (fresh ++ again).map { r =>
      nextId += 1
      Row.fromSeq(r.toSeq.updated(0, nextId))
    }
  }

  /** Ingest the next batch into the state; a batch that succeeds joins
    * what the final snapshot is checked against.
    */
  private def ingestNext(ctx: Ctx, what: String): (Timed, Int) = {
    val rows = nextBatch(ingested.toIndexedSeq)
    val batchId = batches
    batches += 1
    val t = ctx.op(what) {
      ctx.trace("IncrementalCorpus", "ingestBatch") {
        IncrementalCorpus.ingestBatch(
          ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), batchId, base)
      }
    }
    if (t.ok) {
      ingested ++= rows
      val iText = schema.fieldIndex("text")
      inputBytes += rows.map(_.getString(iText).getBytes("UTF-8").length.toLong).sum
    }
    (t, rows.size)
  }

  private def maintain(ctx: Ctx, what: String): Timed = ctx.op(what) {
    ctx.trace("IncrementalCorpus", "maintain")(IncrementalCorpus.maintain(ctx.spark, base))
  }

  private def snapshot(ctx: Ctx, what: String): Timed = ctx.op(what) {
    ctx.trace("IncrementalCorpus", "snapshot") {
      IncrementalCorpus.snapshot(ctx.spark, base).queryExecution.toRdd.count()
    }
  }

  /** Warm-up on the measured state itself: a batch into the empty state
    * and one that redelivers against it, then `maintain` and a snapshot.
    * So every timed batch is the same kind of call (new texts plus
    * redeliveries against a non-empty state), and none runs cold.
    */
  def setup(ctx: Ctx): Map[String, Double] = {
    val t0 = System.nanoTime()
    val table = graft.Tables.documents(ctx.spark, ctx.dataDir)
    schema = table.schema
    docs = new scala.util.Random(ctx.seed).shuffle(table.collect().toIndexedSeq)
    rng = new scala.util.Random(ctx.seed * 7919L)
    base = s"${ctx.workDir}/corpus_state"
    (1 to WarmBatches).foreach(i => ingestNext(ctx, s"warm batch $i"))
    maintain(ctx, "warm maintain")
    snapshot(ctx, "warm snapshot")
    Map("warm_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def run(ctx: Ctx): Unit = {
    measureStartMs = System.currentTimeMillis()
    var b = 0
    while (b < MinBatches || (measured < ctx.seconds && b < MaxBatches)) {
      b += 1
      val (t, n) = ingestNext(ctx, s"batch $b")
      measured += t.seconds
      if (t.ok) { batchTimes += t.seconds; docsTimed += n }
      if (b % MaintainEvery == 0) {
        val m = maintain(ctx, s"maintain after batch $b")
        measured += m.seconds
        if (m.ok) maintainTimes += m.seconds
      }
      ctx.op(s"probe state after batch $b")(probeState(ctx))
    }
    val snaps = (1 to Snapshots).map(i => snapshot(ctx, s"snapshot $i"))
    snapshotS = Stats.median(snaps.filter(_.ok).map(_.seconds))
  }

  private var measureStartMs = 0L
  /** Wall seconds of every timed batch and maintain, failed ones included. */
  private var measured = 0.0

  /** TieredStore probes of both stores, plus a listing of the state. The
    * final probe gives the state's size; landed-but-uncompacted batches
    * are averaged over every probe, since a probe right after a `maintain`
    * reads 0.
    */
  private def probeState(ctx: Ctx): Unit = ctx.trace("TieredStore", "probe") {
    val stores = Seq(
      TieredStore.stringKeyed(s"$base/hubs", Seq("digest", "hub"), "digest",
        IncrementalCorpus.HubBuckets),
      TieredStore.longKeyed(s"$base/store", StreamingDedup.StoreSchema.fieldNames.toSeq,
        "band_hash", StreamingDedup.StoreBuckets))
    var landed, buckets = 0L
    stores.foreach { s =>
      val w = s.watermark(ctx.spark)
      landed += s.landedBatchIds(ctx.spark).count(_ > w)
      buckets += s.recordedBuckets(ctx.spark)
    }
    val files = walk(new File(base)).filterNot(_.getName.startsWith("."))
    uncompacted += landed
    probes("TieredStore.buckets") = buckets
    probes("state.files") = files.size
    probes("state.bytes") = files.map(_.length).sum
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def finish(ctx: Ctx): Map[String, Any] = {
    ctx.op("check snapshot") {
      val key = Seq("doc_id", "text", "lang", "source", "split")
      def rows(df: DataFrame): Set[Seq[Any]] =
        df.select(key.map(col): _*).collect().map(_.toSeq).toSet
      val all = ctx.spark.createDataFrame(java.util.Arrays.asList(ingested.toSeq: _*), schema)
      val want = rows(CorpusPipeline.buildFrame(all))
      val got = rows(IncrementalCorpus.snapshot(ctx.spark, base))
      require(got == want, s"snapshot differs from buildFrame: ${got.size} rows vs ${want.size}, " +
        s"${(got diff want).size} unexpected, ${(want diff got).size} missing")
    }
    val docsIn = docsTimed.toDouble
    Map(
      "params" -> Map("batch_docs" -> BatchDocs,
        "redeliver_share" -> RedeliverShare, "maintain_every" -> MaintainEvery,
        "warm_batches" -> WarmBatches, "min_batches" -> MinBatches,
        "max_batches" -> MaxBatches, "snapshots" -> Snapshots,
        "docs_in_table" -> docs.size),
      "units" -> batchTimes.size, "measure_start_ms" -> measureStartMs,
      "e2e" -> Map(
        "op_p50_s" -> Stats.median(batchTimes.toSeq), "items_per_s" -> docsIn / measured,
        "part_a_s" -> Stats.median(maintainTimes.toSeq),
        "part_b_s" -> snapshotS, "op_geomean_s" -> Stats.geomean(batchTimes.toSeq)),
      "named" -> Map("stream.batch_p50_s" -> Stats.median(batchTimes.toSeq),
        "stream.docs_per_s" -> docsIn / measured, "stream.snapshot_s" -> snapshotS),
      "layers" -> (probes.toMap ++ Map(
        "TieredStore.uncompacted_batches" -> uncompacted.sum / math.max(1, uncompacted.size),
        "state.write_amp" -> probes.getOrElse("state.bytes", 0.0) / math.max(1L, inputBytes),
        "IncrementalCorpus.maintain_s" -> Stats.median(maintainTimes.toSeq))),
      "samples" -> Map("batch_s" -> batchTimes.toList, "maintain_s" -> maintainTimes.toList,
        "snapshot_s" -> snapshotS))
  }
}

object CorpusStream {
  val BatchDocs = 50
  val RedeliverShare = 0.2
  val MaintainEvery = 2
  val WarmBatches = 2
  val MinBatches = 2
  val MaxBatches = 10
  /** The final snapshot is a pure read of the state: timed this many
    * times, median reported.
    */
  val Snapshots = 3
}
