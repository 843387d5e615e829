package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store-growth harness for the streaming near-dedup band store
  * (round 14): measures per-micro-batch commit time as the ACCUMULATED
  * store grows, A/B'ing the pruned two-tier read (the shipped path)
  * against the legacy full-store read (`prune = false`). This is the
  * measurement the round-13 VERDICT asked for: "per-batch time flat as
  * store size grows 10×" — and it is also the harness that CAUGHT the
  * first formulation (per-batch sb partitioning → 2500 tiny files by
  * batch 10 → 3× slower than no pruning; the shipped design moved
  * bucketing into the compaction tier).
  *
  * Corpus: the Heaps-vocabulary generator (ScaleSlope.genDocumentsHeaps)
  * — bounded per-shingle df, the regime a real crawl is in; the 30-word
  * saturated fixture would make every batch collide with all of history
  * and measure the fixture, not the layout.
  *
  * Two regimes are priced:
  *  - '''ingest''': 10 equal 5k-doc batches streamed into one store —
  *    per-batch commit time as history grows from 0 to 45k docs. A 5k
  *    batch's ~40k band hashes exceed the pushdown probe, so here the
  *    broadcast left-semi join does the pruning (shuffle/join input
  *    stays proportional to true candidates, not history).
  *  - '''probe''': a FIXED 8-doc batch committed against the 1-batch
  *    store and the 10-batch store, each COMPACTED first — 64 band
  *    hashes touch ≤ 64 of the 256 buckets (directory pruning) and the
  *    pushed `In` predicate reaches the sorted bucket files
  *    (row-group skipping). Flat probe time across the 10× store
  *    growth is the headline number; the uncompacted-pruned and
  *    full-read probes are reported for contrast.
  *
  * Usage: runMain graft.StoreScale [baseDir]   (one JSON line on stdout)
  */
object StoreScale {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_storescale")
    val spark = GraftSession()

    val batchDocs = 5000L
    val nBatches = 10
    val docsDir = s"$base/docs.parquet"
    if (!new java.io.File(s"$docsDir/_SUCCESS").exists())
      ScaleSlope.genDocumentsHeaps(spark, batchDocs * (nBatches + 1))
        .write.mode("overwrite").parquet(docsDir)
    // plain parquet read (NOT localCheckpoint'd): the between-commit
    // drainStorage() would evict a checkpoint's blocks mid-run
    val docs = spark.read.parquet(docsDir)
    def slice(i: Int): DataFrame =
      docs.filter(col("doc_id") >= i * batchDocs && col("doc_id") < (i + 1) * batchDocs)
    val probeBatch = docs.filter(
      col("doc_id") >= nBatches * batchDocs && col("doc_id") < nBatches * batchDocs + 8)

    def drainStorage(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))

    // fresh state every run — the measurement is the growth curve, so
    // stale batches from a previous invocation would flatten nothing
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq("pruned", "full", "warm", "hubs1", "hubs1_bucketed",
      "hubs10", "hubs10_bucketed", "hubs100", "hubs100_bucketed",
      "hubs1000", "hubs1000_bucketed",
      "lr_cadence", "lr_none", "lr_geo").foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/$v"), true)
    }
    // untimed warm-up: codegen + parquet reader caches land outside the
    // timed commits (the Bench pass-0 discipline)
    streaming.StreamingDedup.commitBatch(slice(0).limit(200), 0L,
      s"$base/warm/store", s"$base/warm/pairs", 0.5)
    streaming.StreamingDedup.compactStore(spark, s"$base/warm/store", 0L)
    streaming.StreamingDedup.commitBatch(slice(0).limit(8), 1L,
      s"$base/warm/store", s"$base/warm/pairs", 0.5)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/warm"), true)
    drainStorage()

    def ingest(prune: Boolean, name: String): Seq[Double] = {
      val store = s"$base/$name/store"
      val pairs = s"$base/$name/pairs"
      (0 until nBatches).map { i =>
        val dt = time(streaming.StreamingDedup.commitBatch(
          slice(i), i.toLong, store, pairs, 0.5, prune = prune))
        drainStorage()
        dt
      }
    }
    // median-of-5 (round 15): the first commit lands batch `id`, the
    // four repeats are idempotent replays over the identical store
    // prefix — same timed work, stable median on sub-2s absolutes
    def probeOnce(store: String, pairs: String, prune: Boolean,
        id: Long): Double =
      (0 until 5).map { _ =>
        val dt = time(streaming.StreamingDedup.commitBatch(
          probeBatch, id, store, pairs, 0.5, prune = prune))
        drainStorage()
        dt
      }.sorted.apply(2)

    val ingestP = ingest(prune = true, "pruned")
    val ingestF = ingest(prune = false, "full")
    // 1-batch stores for the x1 probe points
    streaming.StreamingDedup.commitBatch(slice(0), 0L,
      s"$base/pruned/store1", s"$base/pruned/pairs1", 0.5)
    streaming.StreamingDedup.commitBatch(slice(0), 0L,
      s"$base/full/store1", s"$base/full/pairs1", 0.5, prune = false)
    drainStorage()
    // uncompacted probes (append-tier row pruning only vs full read)
    val probeApp1 = probeOnce(s"$base/pruned/store1", s"$base/pruned/pairs1", true, 1000L)
    val probeApp10 = probeOnce(s"$base/pruned/store", s"$base/pruned/pairs", true, 1000L)
    val probeFull1 = probeOnce(s"$base/full/store1", s"$base/full/pairs1", false, 1000L)
    val probeFull10 = probeOnce(s"$base/full/store", s"$base/full/pairs", false, 1000L)
    // compact both pruned stores, then the headline bucketed probes
    streaming.StreamingDedup.compactStore(spark, s"$base/pruned/store1", 1000L)
    streaming.StreamingDedup.compactStore(spark, s"$base/pruned/store", 1000L)
    drainStorage()
    val probeCmp1 = probeOnce(s"$base/pruned/store1", s"$base/pruned/pairs1", true, 1001L)
    val probeCmp10 = probeOnce(s"$base/pruned/store", s"$base/pruned/pairs", true, 1001L)

    // ---- hubs store (round 15): the IncrementalCorpus (digest, hub)
    // lookup, measured flat as distinct-digest history grows 10×.
    // Synthetic distinct digests (the store holds one row per digest by
    // construction); probe = 8 digests KNOWN to batch 0, the pushed-
    // predicate path a micro-batch's exact-dup lookup takes. Contrast =
    // the round-14 shape: full columnar scan of all hub rows restricted
    // by a broadcast semi-join.
    def hubRows(from: Long, until: Long): DataFrame =
      spark.range(from, until)
        .select(sha2(concat(lit("hub-digest-"), col("id")), 256).as("digest"),
          col("id").as("hub"))
    def buildHubs(name: String, batches: Int,
        rowsPerBatch: Long = 5000L): streaming.TieredStore = {
      val st = streaming.IncrementalCorpus.hubStoreOf(s"$base/$name")
      (0 until batches).foreach { b =>
        st.append(hubRows(b * rowsPerBatch, (b + 1) * rowsPerBatch), b.toLong)
      }
      st.compact(spark, batches - 1L)
      st
    }
    val hubs1 = buildHubs("hubs1", 1)
    val hubs10 = buildHubs("hubs10", nBatches)
    // 100×/1000× (round 16, VERDICT item 6): 500k / 5M distinct
    // digests — the tiers where the full-scan contrast visibly grows,
    // so "pruned lookup flat" becomes a measured claim instead of a
    // structural argument (at 50k rows the full scan was still flat
    // too). The 1000× tier lands as 10 large appends — same digest
    // count, build time bounded.
    val hubs100 = buildHubs("hubs100", 10 * nBatches)
    val hubs1000 = buildHubs("hubs1000", 10, rowsPerBatch = 500000L)
    // plain recompute (NOT localCheckpoint'd — the between-measurement
    // drainStorage() would evict the checkpoint's only blocks, same
    // hazard as `docs` above; range+sha2 over 8 rows is free)
    val probeDigests = hubRows(0L, 8L).select(col("digest"))
    // sub-second absolutes → single runs flip the slope by ±0.3 on
    // box noise alone; median-of-5 per point (the Bench discipline)
    def med5(f: => Double): Double =
      (0 until 5).map { _ => val dt = f; drainStorage(); dt }.sorted.apply(2)
    def hubProbe(st: streaming.TieredStore): Double =
      med5(time(st.readPruned(spark, 1000L, probeDigests).get.count()))
    def hubFull(st: streaming.TieredStore): Double =
      med5(time(st.readAll(spark, 1000L).get
        .join(broadcast(probeDigests), Seq("digest"), "left_semi").count()))
    // untimed warm-up of both code paths, then timed
    time(hubs1.readPruned(spark, 1000L, probeDigests).get.count())
    time(hubs1.readAll(spark, 1000L).get
      .join(broadcast(probeDigests), Seq("digest"), "left_semi").count())
    drainStorage()
    val hubP1 = hubProbe(hubs1); val hubP10 = hubProbe(hubs10)
    val hubP100 = hubProbe(hubs100); val hubP1000 = hubProbe(hubs1000)
    val hubF1 = hubFull(hubs1); val hubF10 = hubFull(hubs10)
    val hubF100 = hubFull(hubs100); val hubF1000 = hubFull(hubs1000)

    // ---- long horizon (round 15): 50 small batches through the
    // production commit, auto-cadence (compactEvery=8) vs none — the
    // cadence must keep per-batch time steady while the no-compaction
    // run's append tier (and its per-batch listing + footer opens)
    // grows without bound. Same Heaps corpus, 400-doc batches.
    val lrBatches = 50
    val lrDocs = 400L
    def longrun(name: String, every: Int): Seq[Double] = {
      val store = s"$base/$name/store"
      val pairs = s"$base/$name/pairs"
      (0 until lrBatches).map { i =>
        val b = docs.filter(col("doc_id") >= i * lrDocs && col("doc_id") < (i + 1) * lrDocs)
        val dt = time(streaming.StreamingDedup.commitBatch(
          b, i.toLong, store, pairs, 0.5, compactEvery = every))
        drainStorage()
        dt
      }
    }
    val lrCadence = longrun("lr_cadence", 8)
    val lrNone = longrun("lr_none", 0)
    // geometric (size-ratio) cadence: triggers space out as the store
    // grows — O(N log N) total rewrite vs fixed-interval's O(N²/every)
    val lrGeo: Seq[Double] = {
      val store = s"$base/lr_geo/store"
      val st = streaming.StreamingDedup.bandStoreOf(store)
      (0 until lrBatches).map { i =>
        val b = docs.filter(col("doc_id") >= i * lrDocs && col("doc_id") < (i + 1) * lrDocs)
        val dt = time {
          streaming.StreamingDedup.commitBatch(
            b, i.toLong, store, s"$base/lr_geo/pairs", 0.5)
          st.maybeCompactBySize(spark, ratio = 1.0, minBytes = 1L)
        }
        drainStorage()
        dt
      }
    }
    def tail10(xs: Seq[Double]): Double = xs.takeRight(10).sum / 10.0
    def head10(xs: Seq[Double]): Double = xs.take(10).sum / 10.0

    def fmt(v: Double): String = f"$v%.3f"
    def arr(xs: Seq[Double]): String = xs.map(fmt).mkString("[", ",", "]")
    def pt(x1: Double, x10: Double): String =
      s"""{"store_x1":${fmt(x1)},"store_x10":${fmt(x10)},"slope":${fmt(x10 / math.max(x1, 1e-9))}}"""
    println(s"""{"metric":"store_growth","batch_docs":$batchDocs,"batches":$nBatches,""" +
      s""""ingest_sec":{"pruned":${arr(ingestP)},"full":${arr(ingestF)}},""" +
      s""""probe8_sec":{"compacted_pruned":${pt(probeCmp1, probeCmp10)},""" +
      s""""append_pruned":${pt(probeApp1, probeApp10)},""" +
      s""""full":${pt(probeFull1, probeFull10)}},""" +
      s""""hubs_probe8_sec":{"pruned":${pt(hubP1, hubP10)},""" +
      s""""fullscan_semi":${pt(hubF1, hubF10)},""" +
      s""""pruned_x100":${fmt(hubP100)},"fullscan_semi_x100":${fmt(hubF100)},""" +
      s""""pruned_x1000":${fmt(hubP1000)},"fullscan_semi_x1000":${fmt(hubF1000)},""" +
      s""""slope1000_pruned":${fmt(hubP1000 / math.max(hubP1, 1e-9))},""" +
      s""""slope1000_fullscan":${fmt(hubF1000 / math.max(hubF1, 1e-9))}},""" +
      s""""longrun50":{"cadence8":{"head10":${fmt(head10(lrCadence))},"tail10":${fmt(tail10(lrCadence))},"per_batch":${arr(lrCadence)}},""" +
      s""""geometric":{"head10":${fmt(head10(lrGeo))},"tail10":${fmt(tail10(lrGeo))},"per_batch":${arr(lrGeo)}},""" +
      s""""none":{"head10":${fmt(head10(lrNone))},"tail10":${fmt(tail10(lrNone))},"per_batch":${arr(lrNone)}}}}""")
    spark.stop()
  }
}
