package graft.streaming

import graft.queries.{Corpus, CorpusPipeline, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus build: the composed q_corpus_build pipeline
  * (quality gate → exact dedup → near-dup cluster dedup →
  * decontamination → split) maintained continuously — a new micro-batch
  * of documents updates the train-ready corpus WITHOUT re-shingling,
  * re-signing, or re-screening the documents already ingested.
  *
  * What is (and is not) recomputed per batch, and why it matches the
  * one-shot batch `CorpusPipeline.buildFrame` over the union of batches
  * (IncrementalCorpusSpec asserts exact equality, any batch split):
  *
  *  - '''signatures/shingles''': computed for ARRIVING docs only
  *    ([[StreamingDedup.commitBatch]] — map-only kernels + band join
  *    against the accumulated store).
  *  - '''dedup survivors''': the batch pipeline keeps, per connected
  *    component of (exact ∪ near-dup) relations, the minimum doc_id.
  *    Incrementally, the same survivor set falls out of connected
  *    components over the ACCUMULATED edge list: MinHash candidate
  *    pairs (near-dups; byte-identical dups collide in every band and
  *    pair at est 1.0) plus per-digest star edges (normalization-variant
  *    exact dups whose raw-text signatures differ). Components are
  *    recomputed per snapshot — but over ids only, never documents;
  *    the edge list is the thing that grows incrementally.
  *  - '''contamination flags''': each (corpus doc, bench doc) overlap
  *    score is pairwise (common shingles / doc's shingles), so the flag
  *    set accumulates from two bounded per-batch screens: new docs vs
  *    the benchmark set so far, and previously-ingested docs vs the
  *    batch's NEW benchmark docs. No pair is ever re-scored.
  *  - '''split tags''': derived (md5 of doc_id), map-only at snapshot.
  *
  * Every per-batch write is keyed on the micro-batch id via dynamic
  * partition overwrite ([[BatchStore.land]]) and
  * every per-batch read is restricted to strictly-earlier batches, so
  * replaying a batch (foreachBatch is at-least-once) recomputes and
  * rewrites identical partitions — a no-op, same contract as
  * [[StreamingDedup]].
  *
  * A micro-batch is a few dozen small Spark jobs whose cost is mostly
  * fixed per job, so [[ingestBatch]] overlaps the ones that share no
  * store: the band store + pairs, the exact-dup edges + hubs, and the
  * contamination flags (ONE plan for both screens) + bench stores run
  * as three concurrent branches, and raw/ lands last, after all three.
  * [[maintain]] likewise runs its eight per-directory compactions
  * concurrently.
  *
  * State layout under `base`:
  * {{{
  *   raw/     quality-pass docs + digest   (batch-partitioned)
  *   bench/   benchmark docs (doc_id%10==0, the q_corpus_build convention)
  *   benchsh/ benchmark (bench_id, shingle) rows (batch-partitioned) —
  *            the accumulated decontam join side. Persisting shingles
  *            keeps per-batch decontam cost proportional to the BATCH:
  *            without it every micro-batch re-shingled the whole
  *            benchmark-so-far from text, and the benchmark grows with
  *            the corpus (10% of docs), i.e. per-batch work growing
  *            linearly with everything ever ingested. Raw shingle
  *            STRINGS are stored (≈3× bench text) so results match the
  *            one-shot batch build exactly; a deployment trading exact
  *            parity for state size would store xxhash64(shingle).
  *   store/   MinHash band store           (StreamingDedup)
  *   pairs/   near-dup candidate pairs     (StreamingDedup)
  *   dedges/  per-digest star edges        (batch-partitioned)
  *   hubs/    (digest, hub) at first sight — a [[TieredStore]] append
  *            tier; hubs_bucketed/ is its compacted tier (round 15)
  *   flags/   contaminated doc_ids         (batch-partitioned)
  * }}}
  *
  * Per-batch-vs-history growth audit (round 14, the StreamingDedup
  * bucketing round):
  *
  *  - '''store/''' inherits the (batch_id, sb)-bucketed layout and the
  *    pruned per-batch read through [[StreamingDedup.commitBatch]] —
  *    the one state whose PER-BATCH read previously scanned all of
  *    history.
  *  - '''pairs/ dedges/ flags/ bench/''' are written per batch but read
  *    in FULL only by [[snapshot]] — corpus-wide by definition
  *    (connected components need the complete edge list; the output is
  *    the whole surviving corpus), the cost of ASKING for a snapshot,
  *    not a per-batch term.
  *  - '''hubs/''' (round 14) replaced the per-batch
  *    groupBy(digest).min over ALL of raw/ — that recomputation
  *    shuffled the whole ingested history per micro-batch. Round 15:
  *    the store is a digest-bucketed [[TieredStore]] with the same
  *    automatic compaction cadence as the band store, so the lookup's
  *    READ also prunes to the batch's own digests (touched sb
  *    directories + pushed digest predicates / broadcast semi-join) —
  *    per-batch hub cost is batch-proportional, not history-
  *    proportional (StoreScale's hubs_probe row measures it flat
  *    across 10× digest-history growth). raw/ itself is read only on
  *    the rare new-bench-docs rescreen path.
  *  - '''benchsh/''' is read per batch, but the benchmark it holds is
  *    FIXED in production (`benchMaxId` — a pinned eval suite), making
  *    the read bounded; only the fixture convention lets it grow with
  *    the corpus (the documented q_decontam fixture-quadratic).
  */
object IncrementalCorpus {

  /** Bucket count of the hubs store's compacted tier. The hubs row is
    * tiny (two strings/longs), so 64 directories bound listing cost
    * while a batch's distinct digests prune to the buckets they hash
    * into; row-level digest pruning does the fine selectivity.
    */
  val HubBuckets: Int = 64

  /** The (digest, hub) first-sight store as a [[TieredStore]] (round
    * 15 — the round-14 hubs/ store removed the per-batch history
    * SHUFFLE but still scanned every deduped (digest, hub) row ever
    * written per batch; the two-tier layout + digest-pruned read makes
    * the lookup proportional to the batch, the same mechanism —
    * literally the same module — as the band store). The append tier
    * is byte-compatible with the round-14 flat batch_id layout, so
    * existing state dirs resume without migration.
    */
  private[graft] def hubStoreOf(base: String): TieredStore =
    TieredStore.stringKeyed(s"$base/hubs", Seq("digest", "hub"), "digest",
      HubBuckets, label = "hubs-store")

  /** Batch-store read ([[BatchStore.read]], `__prev`-aware) restricted
    * to batches strictly before `beforeBatch` (replay safety), minus the
    * partition column.
    */
  private def readBefore(spark: SparkSession, dir: String,
      beforeBatch: Long): Option[DataFrame] =
    BatchStore.read(spark, dir)
      .map(_.filter(col("batch_id") < beforeBatch).drop("batch_id"))

  /** Ingest one micro-batch (the foreachBatch body; idempotent under
    * replay). `threshold` is the near-dup dedup threshold, `minOverlap`
    * the decontamination bar — both matching CorpusPipeline's defaults.
    * `benchMaxId` bounds benchmark MEMBERSHIP (doc_id % 10 == 0 AND
    * doc_id < benchMaxId): the default admits every %10 doc (the
    * q_corpus_inc fixture convention, where the benchmark grows with
    * the corpus); a finite bound is the PRODUCTION shape — a fixed
    * eval/canary suite that new corpus batches are screened against
    * but never enlarge (ScaleSlope's fixedref tier uses this to price
    * the incremental machinery, not the growing-bench fixture).
    *
    * After the layout guards, three branches that share no store run
    * concurrently, each sequential inside:
    *  - (a) the band store and near-dup pairs ([[StreamingDedup.commitBatch]]);
    *  - (b) the exact-dup star edges: batch digest minima → pruned hubs
    *    read → dedges/ → hubs/ append and compaction cadence;
    *  - (c) the contamination flags (one pass, see [[landFlags]]), then
    *    bench/ and benchsh/.
    * raw/ lands only after all three have joined, so a crash or a
    * failed branch never leaves a raw/ document whose pairs, edges or
    * flags are missing; a failed branch's error is rethrown once the
    * others have finished. Every frame this call materializes is
    * released before it returns.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, base: String,
      threshold: Double = 0.5, minOverlap: Double = 0.3,
      benchMaxId: Long = Long.MaxValue,
      compactEvery: Int = StreamingDedup.DefaultCompactEvery): Unit = {
    val spark = batch.sparkSession
    val hubStore = hubStoreOf(base)
    // State-layout compatibility guards, BEFORE any state mutation.
    // The healthy path is decided by a filesystem listing (a store
    // counts as present only when it, or its `__prev`, holds a landed
    // batch — a bare dir may be crash debris or a manual restore); the
    // spark-side legacy probes run only when it is missing (the
    // fail-fast path).
    // a dir written before the benchsh/ store existed has earlier
    // bench/ batches but no benchsh/ directory — continuing would
    // silently screen new docs against only this batch's shingle
    // delta (missed contamination flags, no error). Fail fast and
    // name the remedy. The bench/ probe only runs when benchsh/ is
    // absent (fresh dirs pass trivially; replay passes: the two are
    // written together).
    if (!BatchStore.hasBatches(spark, s"$base/benchsh")) {
      val legacyBench = readBefore(spark, s"$base/bench", batchId)
      require(legacyBench.forall(_.isEmpty),
        s"$base: bench/ has batches before $batchId but benchsh/ is missing — " +
          "pre-benchsh state layout. Discard the state dir (or backfill " +
          "benchsh/ by shingling the persisted bench/ docs) before resuming.")
    }
    // same guard for the round-14 hubs/ store: continuing a pre-hubs
    // state dir would silently treat every batch digest as new (missed
    // cross-batch exact-dup edges, no error). Two-tier aware: a fully
    // compacted hubs store has no append-tier batches but is not legacy.
    if (!BatchStore.hasBatches(spark, s"$base/hubs") &&
        hubStore.watermark(spark) < 0) {
      val legacyRaw = readBefore(spark, s"$base/raw", batchId)
      require(legacyRaw.forall(_.isEmpty),
        s"$base: raw/ has batches before $batchId but hubs/ is missing — " +
          "pre-hubs state layout. Discard the state dir (or backfill hubs/ " +
          "as raw/'s per-digest (min doc_id, first batch) rows) before resuming.")
    }
    // one materialization of the arriving docs: feeds the bench split,
    // the quality gate and, through q, every branch. q itself is
    // map-only over it, so each consumer re-derives it rather than
    // paying a checkpoint job
    val b = batch.localCheckpoint(true)
    try {
      val benchDelta = b.filter(col("doc_id") % 10 === 0 &&
          col("doc_id") < benchMaxId)
        .select(col("doc_id"), col("text"))
      val q = CorpusPipeline.qualityFilter(b)
        .withColumn("digest", sha2(lower(trim(col("text"))), 256))
      concurrently(spark, Seq(
        // near-dup candidate pairs + band store, batch-keyed (train-once
        // signatures; the band join prunes to buckets the batch touches)
        () => StreamingDedup.commitBatch(q.drop("digest"), batchId,
          s"$base/store", s"$base/pairs", threshold, compactEvery = compactEvery),
        () => landHubEdges(spark, q, batchId, base, hubStore, compactEvery),
        () => landFlags(spark, q, benchDelta, batchId, base, minOverlap)))
      BatchStore.land(q, batchId, s"$base/raw")
    } finally graft.Materialize.release(b)
  }

  /** Branch (b) of [[ingestBatch]]: exact-dup connectivity — one star
    * edge per new doc sharing a digest with an earlier doc or with a
    * batch-mate — linear, ids only.
    */
  private def landHubEdges(spark: SparkSession, q: DataFrame, batchId: Long,
      base: String, hubStore: TieredStore, compactEvery: Int): Unit = {
    // Round 14: the earlier-doc hub comes from the incremental hubs/
    // store (one (digest, hub) row per distinct digest, recorded at the
    // digest's FIRST appearance) instead of a per-batch
    // groupBy(digest).min over ALL of raw/ — that recomputation
    // shuffled the entire ingested history through an exchange every
    // micro-batch. Round 15: the hubs store is a [[TieredStore]]
    // (digest-bucketed + compacted, the band store's mechanism — the
    // remedy round 14 only named), so the lookup's READ is also
    // batch-proportional: the probe of the batch's own digests prunes
    // the compacted tier to touched sb directories and both tiers to
    // matching digest rows (pushed predicates or broadcast semi-join;
    // the batch is the small side BY DEFINITION) — the last
    // linear-in-history per-batch term gone. A FROZEN first-seen hub
    // is connectivity-equivalent to the old running-minimum hub:
    // every same-digest doc stars to the same representative, so
    // components — and with them the min-id survivors — are identical
    // (IncrementalCorpusSpec's displacement + parity cases pin it).
    // materialized ONCE: the batch's (digest → min doc_id) rows feed
    // the pruned read's probe, the hub lookup join, and the delta —
    // bounded by the batch's own distinct-digest count
    val bmin = q.groupBy("digest").agg(min(col("doc_id")).as("bmin"))
      .localCheckpoint(true)
    try {
      // hubs delta = digests this batch INTRODUCES, hubbed at their
      // batch minimum — replay-idempotent like every other per-batch
      // write. batchHubs (the restricted earlier-hub rows the pruned
      // read returns) is checkpointed because both the lookup join and
      // the delta anti-join read it; the result is bounded by the
      // batch's own digest count. The first batch (no hubs yet) skips
      // the whole lookup machinery: every digest is new.
      val batchHubs = hubStore.readPruned(spark, batchId, bmin.select(col("digest")))
        .map(_.localCheckpoint(true))
      try {
        val (withHub, hubsDelta) = batchHubs match {
          case None =>
            (q.select(col("doc_id"), col("digest")).join(bmin, "digest")
              .withColumn("hub", col("bmin")),
              bmin.select(col("digest"), col("bmin").as("hub")))
          case Some(hubs) =>
            (q.select(col("doc_id"), col("digest"))
              .join(bmin, "digest")
              .join(broadcast(hubs), Seq("digest"), "left")
              .withColumn("hub", coalesce(col("hub"), col("bmin"))),
              bmin.select(col("digest"), col("bmin").as("hub"))
                .join(broadcast(hubs.select(col("digest"))),
                  Seq("digest"), "left_anti"))
        }
        val dedges = withHub.filter(col("doc_id") =!= col("hub"))
          .select(col("hub").as("src"), col("doc_id").as("dst"))
        BatchStore.land(dedges, batchId, s"$base/dedges")
        // digest-sorted append + the same automatic compaction cadence as
        // the band store — post-commit, replay- and crash-safe
        hubStore.append(hubsDelta, batchId)
        if (compactEvery > 0) hubStore.maybeCompact(spark, compactEvery)
      } finally batchHubs.foreach(graft.Materialize.release)
    } finally graft.Materialize.release(bmin)
  }

  /** Branch (c) of [[ingestBatch]]: contamination flags, then the
    * batch's bench/ and benchsh/ rows. The flag set accumulates from
    * two bounded screens — new docs vs every benchmark doc so far, and
    * already-ingested docs vs the batch's NEW benchmark docs — so no
    * (doc, bench) pair is scored twice. Both run as ONE plan: the
    * corpus side is the batch tagged `is_new` plus, only when the
    * batch adds benchmark docs, raw/'s earlier docs; the bench side is
    * the persisted shingle store plus the batch's delta tagged
    * `is_delta`, broadcast; a shingle match counts when
    * `is_new || is_delta`. The doc's shingle count rides next to the
    * explode (the kernel emits a distinct array), and the overlap rule
    * is [[Corpus.overlapping]], the one q_decontam applies.
    */
  private def landFlags(spark: SparkSession, q: DataFrame,
      benchDelta: DataFrame, batchId: Long, base: String,
      minOverlap: Double): Unit = {
    // the bench side joins as the PERSISTED shingle store (see the state
    // layout note): only the delta is shingled from text here
    val benchShDelta = Similarity.shinglesOf(benchDelta)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val deltaTagged = benchShDelta.withColumn("is_delta", lit(true))
    val benchSh = readBefore(spark, s"$base/benchsh", batchId) match {
      case Some(old) => old.withColumn("is_delta", lit(false)).unionByName(deltaTagged)
      case None      => deltaTagged
    }
    // the old-corpus rescreen is only owed when this batch actually adds
    // benchmark docs — without the guard every batch would re-shingle the
    // ENTIRE previously-ingested corpus (a full-corpus pass per batch at
    // 100 TB) to join against an empty benchmark delta. The isEmpty probe
    // is a limit-1 action on the already-checkpointed batch slice.
    // (raw/ is read ONLY on this rare new-bench-docs path since round 14
    // — the per-batch exact-dup lookup reads hubs/ instead.)
    val newDocs = q.select(col("doc_id"), col("text"), lit(true).as("is_new"))
    val corpus = readBefore(spark, s"$base/raw", batchId) match {
      case Some(old) if !benchDelta.isEmpty =>
        newDocs.unionByName(
          old.select(col("doc_id"), col("text"), lit(false).as("is_new")))
      case _ => newDocs
    }
    val flags = corpus
      .select(col("doc_id"), col("is_new"),
        graft.functions.TextExprs.tokenShingles(col("text"), 3).as("sh"))
      .select(col("doc_id"), col("is_new"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"))
      .join(broadcast(benchSh), "shingle")
      .filter(col("is_new") || col("is_delta"))
      .groupBy(col("doc_id"), col("is_new"), col("bench_id"), col("n_sh"))
      .agg(count(lit(1)).as("n_common"))
      .transform(Corpus.overlapping(minOverlap))
      .select(col("doc_id")).distinct()
    BatchStore.land(flags, batchId, s"$base/flags")
    BatchStore.land(benchDelta, batchId, s"$base/bench")
    BatchStore.land(benchShDelta, batchId, s"$base/benchsh")
  }

  /** Run `tasks` on threads started here and joined before returning,
    * at most `min(tasks, defaultParallelism)` at once. Threads created
    * under the caller inherit its Spark local properties (job group,
    * scheduler pool, tracing tags); a shared pool's threads would not.
    * Once a task fails no further task starts; those already running
    * finish, then the first failure is rethrown, later ones attached as
    * suppressed. An interrupt of the caller is passed on to the
    * workers and rethrown only after they have all ended.
    */
  private def concurrently(spark: SparkSession, tasks: Seq[() => Unit]): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val workers = Seq.tabulate(
        math.min(tasks.size, spark.sparkContext.defaultParallelism)) { i =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < tasks.size && failure.get == null) {
          try tasks(k)()
          catch {
            case e: Throwable =>
              if (!failure.compareAndSet(null, e)) failure.get.addSuppressed(e)
          }
          k = next.getAndIncrement()
        }
      }, s"graft-incremental-corpus-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted: Option[InterruptedException] = None
    workers.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch {
          case e: InterruptedException if interrupted.isEmpty =>
            interrupted = Some(e)
            workers.foreach(_.interrupt())
          case _: InterruptedException =>
        }
    }
    interrupted.orElse(Option(failure.get)).foreach(e => throw e)
  }

  /** The current train-ready corpus: connected components over the
    * accumulated edge list (ids only — document text is read exactly
    * once, from raw/), drop non-minimum cluster members, benchmark docs,
    * and flagged docs, then tag splits. Equals
    * `CorpusPipeline.buildFrame` over everything ingested so far.
    */
  def snapshot(spark: SparkSession, base: String): DataFrame = {
    val raw = BatchStore.read(spark, s"$base/raw")
      .getOrElse(throw new IllegalStateException(
        s"$base/raw: no ingested state to snapshot"))
      .drop("batch_id", "digest")
    val pairs = StreamingDedup.readPairs(spark, s"$base/pairs")
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val dedges = BatchStore.read(spark, s"$base/dedges")
      .map(_.select(col("src"), col("dst"))).getOrElse(pairs.limit(0))
    val drop = graft.ml.StarComponents
      .connectedComponents(pairs.unionByName(dedges), validate = false)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    val benchIds = BatchStore.read(spark, s"$base/bench")
      .map(_.select(col("doc_id"))).getOrElse(drop.limit(0))
    val flagged = BatchStore.read(spark, s"$base/flags")
      .map(_.select(col("doc_id"))).getOrElse(drop.limit(0))
    CorpusPipeline.withSplit(
      raw.join(drop, Seq("doc_id"), "left_anti")
        .join(benchIds, Seq("doc_id"), "left_anti")
        .join(flagged, Seq("doc_id"), "left_anti"))
  }

  /** Offline state maintenance (round 15): compact every snapshot-side
    * batch-partitioned store to one sorted zstd file per batch
    * ([[BatchStore.compact]] — they otherwise
    * accumulate task-count files per micro-batch forever, and a
    * snapshot opens O(batches × tasks) of them), and fold the two
    * TieredStores' landed append batches into their bucketed tiers.
    * The eight compactions each touch only their own directories, so
    * they run concurrently (at most `defaultParallelism` at once, on
    * threads that inherit the caller's Spark local properties); the
    * first failure is rethrown once the running ones have finished.
    * Run between batches/snapshots, not concurrently with a commit;
    * crash-safe via the `__prev` protocols; replay of any compacted
    * batch remains a no-op (MaintenanceSpec pins snapshot-before ≡
    * snapshot-after, the listing-count drop, and the replay).
    */
  def maintain(spark: SparkSession, base: String): Unit = {
    // above-watermark only: replayed compacted batches leave garbage
    // append dirs below it (invisible to reads, but an upTo below the
    // watermark would trip the advance-only clamp)
    val tiered = Seq(hubStoreOf(base), StreamingDedup.bandStoreOf(s"$base/store"))
      .map { store => () =>
        val w = store.watermark(spark)
        val landed = store.landedBatchIds(spark).filter(_ > w)
        if (landed.nonEmpty) store.compact(spark, landed.max)
      }
    val batchStores = Seq("pairs" -> "doc_a", "dedges" -> "src",
      "flags" -> "doc_id", "bench" -> "doc_id", "benchsh" -> "shingle",
      "raw" -> "doc_id")
      .map { case (d, key) => () =>
        BatchStore.compact(spark, s"$base/$d", Seq(key)); ()
      }
    concurrently(spark, tiered ++ batchStores)
  }

  /** Self-contained fixture run (the q_corpus_inc query surface): land
    * the documents table as a multi-file dir, stream it through
    * [[ingestBatch]] batch by batch ([[StreamFixture.run]]), return the
    * final [[snapshot]].
    */
  def fixtureRun(spark: SparkSession, sfDir: String, nFiles: Int = 2,
      benchMaxId: Long = Long.MaxValue): DataFrame =
    StreamFixture.run(graft.Tables.documents(spark, sfDir), nFiles) {
      (batch, batchId, state) =>
        ingestBatch(batch, batchId, state, benchMaxId = benchMaxId)
    } { state =>
      snapshot(spark, state)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    }
}
