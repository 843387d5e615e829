package graft

import java.nio.file.Files

import graft.streaming.{IncrementalCorpus, StreamingDedup, TieredStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The generic two-tier store (streaming/TieredStore.scala): driver/SQL
  * bucket-twin agreement, the generative losslessness property the
  * round-14 VERDICT asked for (pruned read ≡ full read ∩ probe over
  * random batch splits, compaction points, and probe sizes — the three
  * fixture layouts StreamingParitySpec pins are points in this space),
  * and the hubs-store instantiation's touched-buckets IO assertion.
  */
class TieredStoreSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("driver-side bucket twins agree with the SQL bucket expression (both instances)") {
    // a seed or pmod drift between bucketOfValue and bucketExpr would
    // silently route small probes to the WRONG sb directories — rows
    // dropped, no error. Pin both shipped instances over real values.
    val hubs = IncrementalCorpus.hubStoreOf(Files.createTempDirectory("ts_twin").toString)
    val digests = Tables.documents(spark, sf)
      .select(sha2(lower(trim(col("text"))), 256).as("digest"))
      .distinct().limit(200)
    val sqlSide = digests
      .select(col("digest"), hubs.bucketExpr(col("digest")).as("sb"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(sqlSide.nonEmpty)
    sqlSide.foreach { case (d, sb) =>
      assert(hubs.bucketOfValue(d) == sb, s"digest twin drift on $d")
    }
    val band = StreamingDedup.bandStoreOf(Files.createTempDirectory("ts_twin2").toString)
    val hashes = Seq(0L, 1L, -1L, 255L, -256L, Long.MaxValue, Long.MinValue,
      7919L, -7919L)
    val sqlBand = hashes.toDF("band_hash")
      .select(col("band_hash"), band.bucketExpr(col("band_hash")).as("sb"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    hashes.foreach { h =>
      assert(band.bucketOfValue(h) == sqlBand(h), s"band twin drift on $h")
    }
  }

  test("pruned read ≡ full read ∩ probe over ≥200 generated (split, compaction, probe) scenarios") {
    // The pruning argument is prose + three fixture layouts elsewhere;
    // this covers the space: random rows with colliding keys across
    // batches, random partial compaction points (watermark anywhere in
    // the landed range, including mid-history), probe sizes straddling
    // the pushdown limit (≤8 → a pushed `In` of literals; >8 →
    // broadcast left-semi), and read frontiers both behind and at the
    // head — every combination must return exactly the ledger's rows
    // with key ∈ probe and batch < frontier, as a multiset.
    val dir = Files.createTempDirectory("ts_prop").toString
    // small targetBucketBytes: the effective bucket count GROWS across
    // the run's compaction points (round 16 — every scenario after the
    // first recompaction also proves parity across a bucket-count
    // change)
    val store = TieredStore.longKeyed(s"$dir/store", Seq("k", "v"), "k",
      buckets = 16, pushdownLimit = 8, label = "prop-store",
      targetBucketBytes = 2048L)
    val rnd = new scala.util.Random(42)
    var ledger = Vector.empty[(Long, Long, Long)] // (k, v, batch)
    var scenarios = 0
    var compactions = 0
    var semiProbes = 0
    for (b <- 0 until 40) {
      val n = 1 + rnd.nextInt(30)
      // keys collide across batches (domain 50 « 40×~15 rows) so the
      // bucketed tier mixes batches inside one sb file
      val rows = Seq.fill(n)((rnd.nextInt(50).toLong, rnd.nextLong()))
      store.append(rows.toDF("k", "v"), b.toLong)
      ledger ++= rows.map { case (k, v) => (k, v, b.toLong) }
      if (rnd.nextInt(4) == 0) {
        val w = store.watermark(spark)
        val upTo = w + 1 + rnd.nextInt((b - w).toInt + 1)
        if (upTo <= b) { store.compact(spark, upTo); compactions += 1 }
      }
      for (_ <- 0 until 5) {
        val before = 1L + rnd.nextInt(b + 1)
        val probeKeys = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(60).toLong).distinct
        if (probeKeys.size > store.pushdownLimit) semiProbes += 1
        val got = store.readPruned(spark, before, probeKeys.toDF("k"))
          .map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
          .getOrElse(Seq.empty)
        val want = ledger.filter(r => r._3 < before && probeKeys.contains(r._1))
          .map(r => (r._1, r._2)).sorted
        assert(got == want,
          s"batch=$b before=$before probe=${probeKeys.sorted} " +
            s"w=${store.watermark(spark)}: got ${got.size} want ${want.size}")
        scenarios += 1
      }
    }
    assert(scenarios >= 200, s"only $scenarios scenarios")
    assert(compactions >= 5, s"only $compactions compaction points exercised")
    assert(semiProbes >= 20, s"only $semiProbes probes took the semi-join path")
    // and the unpruned read returns the full ledger
    val all = store.readAll(spark, 40L).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(all == ledger.map(r => (r._1, r._2)).sorted)
  }

  test("hubs-store pruned read opens ONLY the sb buckets the probe digests touch") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val base = Files.createTempDirectory("ts_hubs").toString
    val store = IncrementalCorpus.hubStoreOf(base)
    val docs = Tables.documents(spark, sf)
    def hubsOf(cond: org.apache.spark.sql.Column) = docs.filter(cond)
      .select(sha2(lower(trim(col("text"))), 256).as("digest"), col("doc_id"))
      .groupBy("digest").agg(min("doc_id").as("hub"))
    store.append(hubsOf(col("doc_id") < 400), 0L)
    store.append(hubsOf(col("doc_id") >= 400 && col("doc_id") < 450), 1L)
    // compact via a tiny-target twin so the few-KB fixture tier fans
    // out to the HubBuckets ceiling — the directory-skip assertions
    // need many dirs; the size-scaled default would compact to one
    // (covered by the dedicated test below). Reads derive the bucket
    // count from the tier's recorded _buckets, so probing through the
    // default instance stays exact.
    TieredStore.stringKeyed(s"$base/hubs", Seq("digest", "hub"), "digest",
      IncrementalCorpus.HubBuckets, label = "hubs-store",
      targetBucketBytes = 1L).compact(spark, 1L)
    // a SMALL probe of digests KNOWN to the store (batch 0 docs), so
    // every probe digest must surface exactly one hub row: ≤ 3 touched
    // buckets of HubBuckets
    val probe = hubsOf(col("doc_id") >= 100 && col("doc_id") < 103)
      .select(col("digest")).localCheckpoint(true)
    val probeDigests = probe.collect().map(_.getString(0))
    val touched = probeDigests.map(store.bucketOfValue(_)).toSet
    assert(touched.size < IncrementalCorpus.HubBuckets / 4)
    val pruned = store.readPruned(spark, 2L, probe).get
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f }
    val bucketScan = scans.find(_.metadata("Location")
      .contains("hubs_bucketed")).getOrElse(
      fail(s"no bucketed-tier scan in:\n${pruned.queryExecution.executedPlan}"))
    assert(bucketScan.metadata("PartitionFilters").contains("sb"))
    val readDirs = bucketScan.inputRDDs().head.partitions.toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.toSeq.map(f => f.filePath.toPath.getParent.getName)
      case _ => Seq.empty[String]
    }.toSet
    assert(readDirs.nonEmpty &&
      readDirs.forall(d => touched.contains(d.stripPrefix("sb=").toInt)),
      s"scan must open only touched buckets, opened $readDirs for $touched")
    val allDirs = spark.read.parquet(store.bucketedDir).inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
    assert(readDirs.size < allDirs.size,
      s"pruning must skip untouched buckets (${readDirs.size} vs ${allDirs.size})")
    // digest equality predicates are PUSHED into the digest-sorted files
    assert(bucketScan.metadata("PushedFilters").contains("digest"),
      s"digest predicates must push: ${bucketScan.metadata("PushedFilters")}")
    // row-level losslessness: exactly the probe digests' hub rows
    val got = pruned.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = store.readAll(spark, 2L).get
      .filter(col("digest").isin(probeDigests.toSeq: _*))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && got.size == probeDigests.length)
  }

  test("compaction scales the bucket count with tier size; reads use the recorded count") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("ts_scale").toString
    // ~64 KB per batch of random longs → a 1-batch tier lands well
    // under one 256 KB target bucket, a 17-batch tier needs several
    val store = TieredStore.longKeyed(s"$dir/s", Seq("k", "v"), "k",
      buckets = 64, label = "scale-store", targetBucketBytes = 256L << 10)
    val rnd = new scala.util.Random(7)
    def batchRows(b: Long) =
      (0 until 4000).map(i => (b * 4000L + i, rnd.nextLong())).toDF("k", "v")
    store.append(batchRows(0), 0L)
    store.compact(spark, 0L)
    val mSmall = store.recordedBuckets(spark)
    assert(mSmall < 8, s"a tiny tier must compact to few buckets, got $mSmall")
    val sbDirs = new java.io.File(store.bucketedDir).listFiles()
      .count(_.getName.startsWith("sb="))
    assert(sbDirs == mSmall, s"directory fan-out $sbDirs != recorded $mSmall")
    (1L to 16L).foreach(b => store.append(batchRows(b), b))
    store.compact(spark, 16L)
    val mBig = store.recordedBuckets(spark)
    assert(mBig > mSmall, s"a 17× tier must fan out more ($mSmall → $mBig)")
    // parity across the bucket-count change: every key still resolves
    val probeKeys = Seq(0L, 1L, 4000L, 40001L, 64000L, 123L, 99999L)
    val got = store.readPruned(spark, 100L, probeKeys.toDF("k")).get
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = store.readAll(spark, 100L).get
      .filter(col("k").isin(probeKeys.map(java.lang.Long.valueOf): _*))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // pre-round-16 back-compat: a tier written at the ceiling with no
    // _buckets file must read at the ceiling
    val legacy = TieredStore.longKeyed(s"$dir/legacy", Seq("k", "v"), "k",
      buckets = 8, label = "legacy-store", targetBucketBytes = 1L)
    legacy.append(batchRows(0), 0L)
    legacy.compact(spark, 0L) // targetBucketBytes=1 → written at ceiling 8
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(legacy.bucketedDir, "_buckets"), false)
    assert(legacy.recordedBuckets(spark) == 8)
    val gotLegacy = legacy.readPruned(spark, 10L, Seq(5L, 17L).toDF("k")).get
      .collect().map(_.getLong(0)).toSet
    assert(gotLegacy == Set(5L, 17L))
  }

  test("compacting a store whose append tier was never created is a no-op, not a crash") {
    // round-14 ADVICE: fs.listStatus on the missing append dir threw a
    // raw FileNotFoundException through the maxLanded clamp
    val store = TieredStore.longKeyed(
      Files.createTempDirectory("ts_empty").toString + "/never", Seq("k"), "k", 4)
    store.compact(spark, -1L) // must return quietly
    assert(store.watermark(spark) == -1L && store.readAll(spark, 10L).isEmpty)
  }

  test("maybeCompactBySize: geometric triggers, losslessness, floor respected") {
    val dir = Files.createTempDirectory("ts_geo").toString
    val store = TieredStore.longKeyed(s"$dir/s", Seq("k", "v"), "k", 8,
      label = "geo-store")
    // constant-size batches → at ratio 1 the append tier reaches the
    // bucketed tier's size after ~double the batches each epoch:
    // compaction points must space out geometrically, not linearly.
    // Batches carry incompressible random payloads big enough that
    // tier bytes track rows, not per-file parquet overhead (round 16:
    // the size-scaled bucket count shrank a tiny tier's overhead
    // enough that 32-row batches triggered every time)
    val geoRnd = new scala.util.Random(11)
    var compactions = List.empty[Long]
    (0L until 24L).foreach { b =>
      store.append((0L until 2000L).map(k => (k, geoRnd.nextLong()))
        .toDF("k", "v"), b)
      if (store.maybeCompactBySize(spark, ratio = 1.0, minBytes = 1L))
        compactions ::= b
    }
    val points = compactions.reverse
    assert(points.length >= 3 && points.length <= 8,
      s"expected geometric (log N) trigger count over 24 batches, got $points")
    val gaps = (points.head + 1) +: points.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(gaps.last >= 2 * gaps.head,
      s"trigger gaps must widen as the store grows, got $gaps")
    // nothing lost across the mixed layout
    assert(store.readAll(spark, 100L).get.count() == 24L * 2000L)
    // a high floor suppresses compaction entirely on a small store
    val floored = TieredStore.longKeyed(s"$dir/f", Seq("k"), "k", 8)
    floored.append(Seq(1L, 2L).toDF("k"), 0L)
    assert(!floored.maybeCompactBySize(spark) && floored.watermark(spark) == -1L)
  }

  test("maybeCompact: cadence triggers at the threshold, resets after, replay-safe") {
    val dir = Files.createTempDirectory("ts_cadence").toString
    val store = TieredStore.longKeyed(s"$dir/s", Seq("k", "v"), "k", 8,
      label = "cadence-store")
    def appendBatch(b: Long): Unit =
      store.append(Seq((b * 10, b), (b * 10 + 1, b)).toDF("k", "v"), b)
    appendBatch(0L)
    assert(!store.maybeCompact(spark, 3) && store.watermark(spark) == -1L)
    appendBatch(1L)
    assert(!store.maybeCompact(spark, 3))
    appendBatch(2L)
    assert(store.maybeCompact(spark, 3) && store.watermark(spark) == 2L)
    assert(store.landedBatchIds(spark).isEmpty, "append tier must reset")
    // a replayed compacted batch recreates a garbage append dir below
    // the watermark: invisible to reads, harmless to the next cadence
    appendBatch(1L)
    val rows = store.readAll(spark, 10L).get.count()
    assert(rows == 6L, s"replayed dir below watermark must stay invisible, got $rows")
    appendBatch(3L)
    appendBatch(4L)
    appendBatch(5L)
    assert(store.maybeCompact(spark, 3) && store.watermark(spark) == 5L)
    assert(store.readAll(spark, 10L).get.count() == 12L)
  }
}
