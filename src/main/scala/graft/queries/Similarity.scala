package graft.queries

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection and similarity search (north-star:
  * MinHash+LSH, SimHash, embedding cosine ANN).
  *
  * Scale design: every candidate-generation step is a *bucketed*
  * equi-join (LSH bands / simhash bands / hyperplane buckets), never an
  * O(n²) cross join; the exact similarity is only computed on candidate
  * pairs. Hash functions are Spark's xxhash64 (engine-specific) → these
  * are scalatest-verified against exact computations, not DuckDB-oracle
  * (SURVEY.md §2b).
  */
object Similarity {

  val NumPerms = 32  // MinHash permutations
  val BandSize = 4   // → 8 bands of 4 rows: catches Jaccard ≳ 0.5 w.h.p.

  /** Hot-bucket cap for LSH band joins. A cluster of m near-identical
    * docs puts m rows in one band bucket → m² candidate pairs; at 100 TB
    * one viral boilerplate cluster would dominate the whole job. Buckets
    * larger than this keep only the `MaxBandBucket` lowest doc_ids as
    * representatives, bounding per-bucket work at O(cap²) while the
    * representatives still surface the cluster (its members are
    * near-identical by construction — exact-dup members are collapsed by
    * q_dedup_exact before LSH ever runs). Fixture bucket sizes are ≤ 25
    * at sf0.1, so results at test scale are unchanged.
    */
  val MaxBandBucket = 64

  /** Keep at most [[MaxBandBucket]] lowest-`idCol` rows per band bucket.
    * The row_number window shuffles by the same keys the candidate
    * equi-join uses, so the exchange is reused rather than added.
    */
  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String],
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    banded.withColumn("bucket_rank", row_number().over(w))
      .filter(col("bucket_rank") <= MaxBandBucket)
      .drop("bucket_rank")
  }

  /** Linear connectivity edges for the rows the hot-bucket cap DROPS:
    * every row ranked past [[MaxBandBucket]] in its band bucket gets one
    * edge to the bucket's minimum doc. Pair generation stays capped (the
    * B² blow-up the cap exists to bound); these B−cap star edges only
    * preserve cluster MEMBERSHIP, so consumers that need "same cluster"
    * semantics (the leakage-safe split) don't silently lose capped-out
    * members. A band collision certifies agreement on 4 of 32 MinHash
    * rows — for split safety the over-merge is conservative: it can only
    * co-locate docs into one split, never separate a true pair.
    */
  private[graft] def bucketOverflowEdges(banded: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("band"), col("band_hash")).orderBy(col("doc_id"))
    banded.withColumn("bucket_rank", row_number().over(w))
      .withColumn("hub", first(col("doc_id")).over(w)) // bucket min (ordered frame)
      .filter(col("bucket_rank") > MaxBandBucket)
      .select(col("hub").as("src"), col("doc_id").as("dst"))
      .distinct()
  }

  /** Token-3-gram shingle set per doc as an array column — one
    * codegen'd expression (functions.TokenShingles) inside the scan
    * stage: no self-join, no shuffle, no interpreted lambda per element.
    */
  def shingleArraysOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextExprs.tokenShingles(col("text"), 3).as("shingles"))

  def shingleArrays(s: SparkSession, d: String): DataFrame =
    shingleArraysOf(T.documents(s, d))

  /** Exploded (doc_id, shingle) rows — distinct per doc by construction.
    * Shared with TextOps.jaccardPairs so the MinHash estimate and the
    * exact Jaccard baseline use the identical shingle definition.
    */
  def shinglesOf(docs: DataFrame): DataFrame =
    shingleArraysOf(docs).select(col("doc_id"), explode(col("shingles")).as("shingle"))

  def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(T.documents(s, d))

  /** MinHash signature, fully map-only via the codegen'd
    * functions.MinHashSig kernel (XXH64 seeded by permutation index).
    * No explode, no groupBy — signatures come out of the scan stage.
    * Docs with no shingles (< 3 tokens) are excluded.
    */
  def minhashSignaturesOf(docs: DataFrame): DataFrame =
    docs
      // Pre-filter on the cheap token-count precondition (<3 tokens ⇔ no
      // shingles) BEFORE the kernel projection: filtering on
      // size(shingles) made Catalyst push the predicate below the
      // project, duplicating the TokenShingles kernel per row. Here the
      // pushed predicate only duplicates split(), which is cheap.
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        graft.functions.TextExprs.minhashSig(
          graft.functions.TextExprs.tokenShingles(col("text"), 3), NumPerms).as("sig"))

  def minhashSignatures(s: SparkSession, d: String): DataFrame =
    minhashSignaturesOf(T.documents(s, d))

  /** Exploded LSH band rows (doc_id, sig, band, band_hash) — the shared
    * candidate-key layout for the batch pair generator and the streaming
    * accumulator (streaming.StreamingDedup appends exactly these rows to
    * its signature store between micro-batches).
    */
  def bandedSignaturesOf(docs: DataFrame): DataFrame =
    bandedFromSigs(minhashSignaturesOf(docs))

  /** Band explosion of any (doc_id, sig) frame — shared by the token-
    * shingle path above and the char-shingle path (q_dedup_cjk), so the
    * band/bucket layout is identical whatever produced the signatures.
    */
  def bandedFromSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
        posexplode(array((0 until NumPerms / BandSize).map { b =>
          xxhash64(Seq(lit(b)) ++ (0 until BandSize).map(i => col("sig")(b * BandSize + i)): _*)
        }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")

  /** Candidate pairs + estimated Jaccard from two band frames in the
    * [[bandedSignaturesOf]] layout: band-bucket equi-join, signature
    * agreement computed at join time so the pair-dedup exchange carries
    * (doc_a, doc_b, est) — 24 bytes — instead of two 32-long
    * signatures; every band copy of a pair computes the same estimate,
    * so keeping any one of them is deterministic. `extraCond` lets the
    * streaming path restrict to pairs touching the current micro-batch.
    */
  def estPairsFromBands(bandsX: DataFrame, bandsY: DataFrame,
      extraCond: Column = lit(true)): DataFrame =
    bandsX.as("x").join(bandsY.as("y"),
        col("x.band") === col("y.band") && col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id") && extraCond)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        round(aggregate(zip_with(col("x.sig"), col("y.sig"),
          (a, b) => when(a === b, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / NumPerms, 4).as("est_jaccard"))
      .dropDuplicates("doc_a", "doc_b")

  /** Ceiling on the driver-collected EXACT hot-shingle set. Heavy
    * hitters above the df cap are few relative to the vocabulary by
    * construction (each costs > maxDf corpus rows), but unbounded in
    * principle — past this bound [[hotSetOf]] switches to a
    * DISTRIBUTED Bloom-filter build (round 14; previously a hard
    * `require` failure that only documented the remedy): the binding
    * semantics (sign only kept shingles) stay identical, with false
    * positives dropping a few extra cold shingles symmetrically for
    * every document — the filter is fixed corpus-wide, so the signed
    * universe stays consistent across docs. 1M entries keeps the exact
    * set's broadcast ≲ tens of MB; a boilerplate-heavy 100-TB crawl
    * whose hot universe exceeds it now degrades smoothly instead of
    * failing the job.
    */
  val HotSetMaxEntries: Int = 1 << 20

  /** False-positive rate of the Bloom fallback — each FP demotes one
    * cold shingle corpus-wide; at 1e-4 the kept-universe drift from the
    * exact twins' df cap is a few shingles per 10k vocabulary
    * (HotBucketSpec forces the Bloom path on the fixture and pins pair
    * parity with the exact-set path).
    */
  val HotSetBloomFpp: Double = 1e-4

  /** Hot-set size past which the Bloom fpp auto-relaxes to
    * [[HotSetBloomFppRelaxed]] (round 15 — the Bloom build was correct
    * but unpriced: the filter costs ~1.44·log2(1/fpp) bits/entry, so at
    * fpp 1e-4 (~2.4 B/entry) a boilerplate-heavy crawl with 10⁸ hot
    * shingles builds a ~240 MB driver filter + broadcast. Past 2²⁷
    * entries (~322 MB at 1e-4) the fpp relaxes to 1e-3 (~1.8 B/entry,
    * ~242 MB at the threshold): the absolute FP count scales with the
    * probe vocabulary either way, so the RATE is the right knob to
    * give back once the vocabulary itself is enormous. Curve + sizing
    * table in SCALING.md §bloom-hot-set.
    */
  val HotSetBloomRelaxEntries: Long = 1L << 27

  /** The relaxed rate — still ≤ a few demoted cold shingles per 1k
    * vocabulary (HotBucketSpec pins the relaxed path's membership:
    * zero false negatives, FP rate within bound).
    */
  val HotSetBloomFppRelaxed: Double = 1e-3

  private[graft] def bloomFppFor(n: Long, relaxAt: Long): Double =
    if (n > relaxAt) HotSetBloomFppRelaxed else HotSetBloomFpp

  /** The hot-shingle membership (df > maxDf) of a (doc_id, shingles)
    * ARRAY frame: an exact broadcast set up to `exactMax` entries (a
    * bounded heavy-hitter collect — one string per shingle appearing in
    * > maxDf documents), a distributed Bloom build past it. Both ride
    * into the signing kernel as a fingerprint-keyed
    * [[graft.functions.HotShingles]] reference object (O(1) plan
    * equality, broadcast payload — the round-13 ADVICE finding).
    */
  private[graft] def hotSetOf(arrays: DataFrame, maxDf: Int,
      exactMax: Int = HotSetMaxEntries,
      relaxAt: Long = HotSetBloomRelaxEntries): graft.functions.HotShingles = {
    val spark = arrays.sparkSession
    // ONE materialization of the hot rows feeds every downstream use —
    // the corpus-wide shingle-df aggregation, the most expensive pass
    // of the signing stage, runs exactly once whichever representation
    // wins (one compact row per DISTINCT hot shingle of bounded state,
    // the pair queries' checkpoint trade). Materializing via
    // localCheckpoint + count surfaces the EXACT distinct-hot count
    // from the job the checkpoint was paying anyway (round 15 —
    // previously the Bloom path spent a separate count+fingerprint
    // aggregate AND a separate bloomFilter pass on top of the probe
    // collect: four actions; now two — count, then one combined
    // Bloom+fingerprint treeAggregate sized by the exact n).
    val mat = arrays.select(explode(col("shingles")).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("shingle"))
      .as(org.apache.spark.sql.Encoders.STRING)
      .rdd
    mat.localCheckpoint()
    val n = mat.count() // materializes the checkpoint AND yields n
    if (n <= exactMax)
      graft.functions.HotShingles.exact(spark, mat.collect().view.map(
        org.apache.spark.unsafe.types.UTF8String.fromString).toSeq)
    else {
      val fpp = bloomFppFor(n, relaxAt)
      // one pass builds the filter AND the order-insensitive xor
      // fingerprint (xor, never sum: ANSI mode overflow-throws on
      // summed hashes). The zero filter is created lazily INSIDE each
      // partition — a treeAggregate zeroValue would serialize an empty
      // multi-hundred-MB filter to every task at the relax threshold.
      val (bloom, fp) = mat.treeAggregate(
        (null: org.apache.spark.util.sketch.BloomFilter, 0L))(
        seqOp = { case ((b, f), s) =>
          val bf = if (b == null)
            org.apache.spark.util.sketch.BloomFilter.create(n, fpp) else b
          bf.putString(s)
          (bf, f ^ graft.functions.HotShingles.fingerprintOf(
            org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        },
        combOp = { case ((b1, f1), (b2, f2)) =>
          val m =
            if (b1 == null) b2
            else if (b2 == null) b1
            else { b1.mergeInPlace(b2); b1 }
          (m, f1 ^ f2)
        })
      graft.functions.HotShingles.bloom(spark, bloom, fp, n)
    }
  }

  /** Process-wide LRU of hot-shingle memberships, keyed by an EXPLICIT
    * caller tag (shingle kind + input dir — the
    * Layout.ensureBucketedTables convention) plus the df/exact
    * parameters and the session. The df heavy-hitter pass is the one
    * corpus-wide action the signing stage pays; composed flows
    * (q_dedup_clusters, CorpusPipeline) and repeated bench/verify
    * passes re-ran it per invocation over an IDENTICAL input — the
    * cache makes them pay it once (the IvfIndex.ensureBuilt train-once
    * convention). Callers must only pass a key whose input frame is a
    * pure function of the key over IMMUTABLE files (the
    * testdata/fixture contract); anonymous frames pass None and are
    * never cached.
    */
  private val HotSetCacheMax = 8

  /** Per-key memoized build: the map lock covers only map access; the
    * (possibly minutes-long) distributed build runs under the ENTRY's
    * own lazy-val lock, so concurrent builds for different keys — and
    * plain cache hits — never serialize behind one another.
    */
  private final class LazyHot(build: () => graft.functions.HotShingles) {
    @volatile private var built: graft.functions.HotShingles = _
    lazy val value: graft.functions.HotShingles = {
      val v = build(); built = v; v
    }
    /** Release the holder's broadcast on cache eviction (round-14
      * ADVICE: evicted payloads — up to ~1M UTF8Strings each —
      * otherwise linger until the holder is GC'd AND ContextCleaner
      * notices). Non-blocking destroy; never-built entries (a build
      * that threw) have nothing to release. Best-effort: a stopped
      * SparkContext makes destroy throw — the payload is gone with the
      * context anyway.
      */
    def destroyIfBuilt(): Unit = {
      val v = built
      if (v != null) scala.util.Try(v.destroyBroadcast())
      ()
    }
  }
  private val hotSetCache =
    new java.util.LinkedHashMap[(String, String, Long, Int, Int), LazyHot](
      16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Long, Int, Int), LazyHot]): Boolean = {
        val evict = size() > HotSetCacheMax
        // the eviction hazard is accepted by design: the LRU entry can
        // in principle still be referenced by an in-flight plan, but a
        // session juggling > HotSetCacheMax live dedup corpora
        // CONCURRENTLY is outside the cache's contract (the composed
        // flows it serves touch 2-3 keys); leaking every evicted
        // multi-MB payload until a driver GC is the worse trade
        if (evict) e.getValue.destroyIfBuilt()
        evict
      }
    }

  /** 64-bit content token of a frame's input files: XXH64 chained over
    * (path, length, modification time) in sorted-path order — one
    * listStatus per distinct parent directory, not per file. Round-15
    * ADVICE fix: the previous token was a 32-bit MurmurHash3 over path
    * strings alone, so an IN-PLACE regeneration that preserved file
    * names (any non-Spark writer) served the previous corpus's hot set
    * silently, and 32 bits is a thin collision margin for a token
    * whose failure mode is wrong dedup pairs. A file-less lineage
    * (checkpointed input) tokens to 0 and leans on the caller's tag
    * contract alone.
    */
  private[graft] def inputToken(arrays: DataFrame): Long = {
    val files = arrays.inputFiles
    if (files.isEmpty) 0L
    else {
      val conf = arrays.sparkSession.sessionState.newHadoopConf()
      var h = 0x9E3779B97F4A7C15L
      files.groupBy(f => f.substring(0, math.max(f.lastIndexOf('/'), 0)))
        .toSeq.sortBy(_._1)
        .foreach { case (dir, fs0) =>
          // keyed by file NAME within the dir: listStatus path strings
          // may differ from inputFiles in scheme spelling (file:/ vs
          // file:///), names never do
          val meta: Map[String, (Long, Long)] =
            try {
              val p = new org.apache.hadoop.fs.Path(dir)
              p.getFileSystem(conf).listStatus(p).map(st =>
                st.getPath.getName ->
                  (st.getLen, st.getModificationTime)).toMap
            } catch { case scala.util.control.NonFatal(_) => Map.empty }
          fs0.sorted.foreach { f =>
            val (len, mt) = meta.getOrElse(
              f.substring(f.lastIndexOf('/') + 1), (-1L, -1L))
            val u = org.apache.spark.unsafe.types.UTF8String
              .fromString(s"$f|$len|$mt")
            h = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, h)
          }
        }
      h
    }
  }

  private[graft] def hotSetCached(arrays: DataFrame, maxDf: Int, exactMax: Int,
      cacheKey: Option[String]): graft.functions.HotShingles = cacheKey match {
    case None => hotSetOf(arrays, maxDf, exactMax)
    case Some(tag) =>
      // content token (see inputToken): a REGENERATED dir — even one
      // preserving file names — misses the cache instead of silently
      // serving the previous corpus's hot set.
      val filesToken = inputToken(arrays)
      val key = (tag, arrays.sparkSession.sparkContext.applicationId,
        filesToken, maxDf, exactMax)
      val holder = hotSetCache.synchronized {
        val hit = hotSetCache.get(key)
        if (hit != null) hit
        else {
          val fresh = new LazyHot(() => hotSetOf(arrays, maxDf, exactMax))
          hotSetCache.put(key, fresh)
          fresh
        }
      }
      holder.value
  }

  /** MinHash signatures over the df ≤ maxDf shingle universe — the SAME
    * universe the exact twins score (round 13; previously MinHash signed
    * ALL shingles while q_dedup_ngram/q_dedup_cjk_exact dropped hot ones,
    * a systematic over-estimate on boilerplate-heavy docs that the
    * ApproxOracle tolerance had to absorb). One extra compact-keyed
    * aggregation (exploded shingle → df, map-side partials) per batch
    * query; its heavy-hitter result collects to a driver set that rides
    * into the signing kernel as a codegen reference object
    * ([[graft.functions.KeepCold]]), so the filter is O(|shingles|) per
    * row. (The first formulation attached the hot set as a 1-row
    * broadcast + array_except, which rebuilds the hot hash set PER ROW
    * — ScaleSlope measured slope 169/185 at the 100× saturated tier
    * where the hot set is the whole shingle space; the reference-object
    * kernel removes that term.) Docs whose every shingle is hot leave
    * the estimator exactly as they leave the exact twins (n_sh = 0 → no
    * pairs). The STREAMING accumulator keeps the uncapped map-only
    * [[minhashSignaturesOf]]: its store is append-only (a corpus-df
    * prepass would re-sign history), and its role is candidate
    * generation — the capped exact stage stays the verdict.
    */
  def cappedSigsOf(arrays: DataFrame,
      maxDf: Int = TextOps.MaxShingleDf,
      exactMax: Int = HotSetMaxEntries,
      cacheKey: Option[String] = None): DataFrame = {
    val hot = hotSetCached(arrays, maxDf, exactMax, cacheKey)
    arrays
      .select(col("doc_id"), graft.functions.TextExprs
        .keepCold(col("shingles"), hot).as("kept"))
      .filter(size(col("kept")) > 0)
      .select(col("doc_id"),
        graft.functions.TextExprs.minhashSig(col("kept"), NumPerms).as("sig"))
  }

  /** Candidate pairs via LSH banding + estimated Jaccard from signature
    * agreement. Pairs sharing ≥1 band bucket are joined; nothing else.
    * Signatures cover the df-capped universe ([[cappedSigsOf]]) so the
    * estimate targets exactly what the exact twin computes.
    */
  /** Token-shingle signatures over the df-capped universe — the signing
    * stage of [[minhashPairsOf]], exposed so PlanAuditSpec can pin the
    * kernel plan (the pair query checkpoints this frame, which hides
    * its lineage behind an ExistingRDD scan in the outer plan).
    */
  def cappedSignaturesOf(docs: DataFrame,
      exactMax: Int = HotSetMaxEntries,
      cacheKey: Option[String] = None): DataFrame =
    cappedSigsOf(shingleArraysOf(docs.filter(size(split(col("text"), " ")) >= 3))
      .filter(size(col("shingles")) > 0),
      exactMax = exactMax, cacheKey = cacheKey)

  /** The ALL-shingle (uncapped) pair generator — the batch equivalent of
    * the STREAMING accumulator, which signs every shingle map-only
    * (its store is append-only; a corpus-df prepass would re-sign
    * history — see [[cappedSigsOf]]). StreamingParitySpec pins
    * streaming ≡ THIS form unconditionally; the declared batch queries
    * use the df-capped [[minhashPairsOf]], which additionally drops
    * hot-boilerplate-only candidates (the two coincide exactly on any
    * corpus whose every shingle has df ≤ MaxShingleDf, e.g. the fixture).
    */
  def uncappedMinhashPairsOf(docs: DataFrame, threshold: Double): DataFrame = {
    val bands = capBuckets(bandedSignaturesOf(docs), Seq("band", "band_hash"))
    estPairsFromBands(bands, bands)
      .filter(col("est_jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def minhashPairsOf(docs: DataFrame, threshold: Double,
      exactMax: Int = HotSetMaxEntries,
      cacheKey: Option[String] = None): DataFrame = {
    // lazy localCheckpoint: BOTH sides of the band self-join read one
    // materialization of the compact (doc_id, 32-long sig) frame
    // instead of re-running the scan → kernel → df-agg → sign lineage
    // per side (the df-capped signing made that lineage 2 scans deep;
    // uncheckpointed, the self-join would pay it 4×). ~260 bytes/doc —
    // the same bounded-state trade the graph loops make.
    val sigs = cappedSignaturesOf(docs, exactMax, cacheKey).localCheckpoint(false)
    val bands = capBuckets(bandedFromSigs(sigs), Seq("band", "band_hash"))
    estPairsFromBands(bands, bands)
      .filter(col("est_jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def minhashPairs(s: SparkSession, d: String, threshold: Double): DataFrame =
    minhashPairsOf(T.documents(s, d), threshold,
      cacheKey = Some(s"tok3|$d"))

  /** Character k-gram shingle length (codepoints) for the script-
    * agnostic dedup path — ~2 short CJK words or ~1.5 Latin words, the
    * common k for cross-script near-dup literature.
    */
  val CharShingleK = 8

  /** MinHash signatures over CHARACTER k-gram shingles of the
    * letter/digit codepoint stream (functions.CharShingles) — the
    * script-agnostic twin of [[minhashSignaturesOf]]: a space-free CJK
    * document yields zero token 3-grams (one giant "token"), so the
    * token path silently finds nothing there; codepoint k-grams shingle
    * every script identically. Precondition mirrors the token path's
    * cheap pre-filter (the kernel itself re-checks the codepoint count,
    * so an all-punctuation doc that slips the length test still yields
    * an empty set and is dropped by the size filter at band time —
    * empty sets must never band, or every such doc collides with every
    * other on the all-MaxValue signature).
    */
  /** Exploded (doc_id, shingle) CHAR-k-gram rows (distinct per doc by
    * the kernel) — the char twin of [[shinglesOf]], shared with
    * TextOps.charJaccardPairsOf so q_dedup_cjk's LSH estimate and
    * q_dedup_cjk_exact's oracle-checked exact Jaccard run on the
    * identical shingle definition (the q_dedup_near / q_dedup_ngram
    * pairing, for the char family).
    */
  def charShinglesOf(docs: DataFrame, k: Int = CharShingleK): DataFrame =
    docs.filter(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.charShingles(col("text"), k)).as("shingle"))

  /** Char-shingle signatures over the df-capped universe — the signing
    * stage of [[charMinhashPairsOf]], exposed for the plan audit (see
    * [[cappedSignaturesOf]]). Char shingles DO go hot at fixture scale
    * (cross-word 8-grams), so the df-capped signing matters most here:
    * the estimator targets the same kept universe CharJaccardOracle's
    * QUALIFY keeps.
    */
  def cappedCharSignaturesOf(docs: DataFrame,
      k: Int = CharShingleK,
      exactMax: Int = HotSetMaxEntries,
      cacheKey: Option[String] = None): DataFrame =
    cappedSigsOf(docs.filter(length(col("text")) >= k)
      .select(col("doc_id"),
        graft.functions.TextExprs.charShingles(col("text"), k).as("shingles"))
      .filter(size(col("shingles")) > 0),
      exactMax = exactMax, cacheKey = cacheKey)

  def charMinhashSignaturesOf(docs: DataFrame,
      k: Int = CharShingleK): DataFrame =
    docs
      .filter(length(col("text")) >= k) // cheap necessary condition
      .select(col("doc_id"),
        graft.functions.TextExprs.charShingles(col("text"), k).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"),
        graft.functions.TextExprs.minhashSig(col("sh"), NumPerms).as("sig"))

  /** Script-agnostic near-dup pairs: LSH banding over char-shingle
    * MinHash — same band layout, bucket caps, and estimate arithmetic
    * as [[minhashPairsOf]]; only the shingle unit differs.
    */
  def charMinhashPairsOf(docs: DataFrame, threshold: Double,
      k: Int = CharShingleK,
      exactMax: Int = HotSetMaxEntries,
      cacheKey: Option[String] = None): DataFrame = {
    // one materialization for both join sides — see minhashPairsOf
    val sigs = cappedCharSignaturesOf(docs, k, exactMax, cacheKey).localCheckpoint(false)
    val bands = capBuckets(bandedFromSigs(sigs), Seq("band", "band_hash"))
    estPairsFromBands(bands, bands)
      .filter(col("est_jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash per document from per-occurrence bit votes — one
    * codegen'd kernel call per row (functions.SimHash64, XXH64 seed 42 =
    * Spark's xxhash64, so values match the expression formulation it
    * replaced).
    */
  def simhashOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextExprs.simhash64(col("text")).as("simhash"))

  def simhash(s: SparkSession, d: String): DataFrame =
    simhashOf(T.documents(s, d)).orderBy(col("doc_id"))

  /** SimHash near-dup pairs: 4×16-bit band blocking, then Hamming ≤ maxDist. */
  def simhashPairsOf(docs: DataFrame, maxDist: Int): DataFrame = {
    val sh = simhashOf(docs)
    val allBanded = sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    val banded = capBuckets(allBanded, Seq("band", "band_val"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def simhashPairs(s: SparkSession, d: String, maxDist: Int): DataFrame =
    simhashPairsOf(T.documents(s, d), maxDist)

  /** Cast float embedding to array<double> (codegen'd cast). Cosine is
    * computed per pair by the codegen'd CosineSim kernel (zero-guard
    * included), so no norm precompute column is needed.
    */
  def corpusOf(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("emb", col("embedding").cast("array<double>"))

  private def corpus(s: SparkSession, d: String): DataFrame =
    corpusOf(T.embeddings(s, d))

  private def cosine(a: Column, b: Column): Column =
    graft.functions.VecExprs.cosineSim(a, b)

  /** Brute-force cosine top-k: corpus streamed once against broadcast
    * probes — correctness baseline; the scale paths are [[lshTopK]] and
    * [[ivfTopK]]. Takes a separately-prepared probe frame so callers
    * whose corpus sits behind a non-pushdown boundary (e.g. mapPartitions
    * feature extraction) can pre-filter the probe side and avoid
    * computing the corpus pipeline twice.
    */
  def bruteForceTopKWith(corpusDf: DataFrame, probesDf: DataFrame, k: Int): DataFrame = {
    val c = corpusOf(corpusDf)
    val probes = corpusOf(probesDf)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val scored = c.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("emb"), col("p_emb")).as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** Probe-ids convenience form: probes are filtered out of the same
    * embedding frame, then delegated to [[bruteForceTopKWith]].
    */
  def bruteForceTopKOf(embeddings: DataFrame, probeIds: Seq[Long], k: Int): DataFrame =
    bruteForceTopKWith(embeddings,
      embeddings.filter(col("vec_id").isin(probeIds: _*)), k)

  def bruteForceTopK(s: SparkSession, d: String, probeIds: Seq[Long], k: Int): DataFrame =
    bruteForceTopKOf(T.embeddings(s, d), probeIds, k)

  /** Triplet mining for contrastive training: for each broadcast anchor,
    * the most-similar vector with a DIFFERENT label (the hard negative)
    * and the most-similar with the SAME label (the hardest positive,
    * self excluded) — the pair-selection step of embedding-model
    * fine-tuning. Plan shape: anchors broadcast, the corpus streams ONCE
    * through the codegen'd cosine kernel, and both argmaxes are
    * `max(struct(cos, -vec_id))` hash aggregations — partially
    * aggregatable, so each partition ships ONE candidate per (anchor,
    * side) into the shuffle, never rows. At 100 TB the candidate stream
    * is pre-pruned by the IVF index (probe the anchor's nprobe lists);
    * this brute form is the correctness baseline (SimilaritySpec
    * recomputes it in the driver).
    */
  def hardNegativesOf(embeddings: DataFrame, anchorIds: Seq[Long]): DataFrame = {
    val c = corpusOf(embeddings)
    val anchors = corpusOf(embeddings.filter(col("vec_id").isin(anchorIds: _*)))
      .select(col("vec_id").as("anchor_id"), col("emb").as("a_emb"),
        col("label").as("a_label"))
    val scored = c.join(broadcast(anchors), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_label"), col("vec_id"), col("label"),
        cosine(col("emb"), col("a_emb")).as("cos"))
    // struct max is lexicographic: best cos first, then the NEGATED id so
    // equal scores break to the smaller vec_id — deterministic argmax
    // that stays a partial-aggregable max, not a window
    def pick(cond: Column): Column =
      max(when(cond, struct(col("cos"),
        (-col("vec_id")).as("nid"), col("vec_id").as("vid"))))
    scored.groupBy(col("anchor_id"))
      .agg(pick(col("label") =!= col("a_label")).as("hn"),
        pick(col("label") === col("a_label")).as("pos"))
      .select(col("anchor_id"),
        col("hn.vid").as("hard_neg_id"), round(col("hn.cos"), 4).as("hn_cos"),
        col("pos.vid").as("pos_id"), round(col("pos.cos"), 4).as("pos_cos"))
      .orderBy(col("anchor_id"))
  }

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick k results trading relevance to the probe against
    * redundancy with what's already selected — the diversification step
    * between ANN retrieval and a training batch / context window. The
    * corpus-scale work is exactly ONE brute/ANN scoring pass cut to the
    * top-`pool` candidates (TakeOrderedAndProject); the greedy loop runs
    * driver-side over that BOUNDED pool (the ≤4096-centroid
    * bounded-collect convention), because MMR's argmax is sequential by
    * definition — each pick changes the next redundancy term.
    */
  def mmrDiversifyOf(embeddings: DataFrame, probeId: Long, pool: Int,
                     k: Int, lambda: Double): DataFrame = {
    val spark = embeddings.sparkSession
    val c = corpusOf(embeddings)
    val probe = corpusOf(embeddings.filter(col("vec_id") === probeId))
      .select(col("emb").as("p_emb"))
    val cands = c.filter(col("vec_id") =!= probeId)
      .join(broadcast(probe))
      .select(col("vec_id"), col("emb"), cosine(col("emb"), col("p_emb")).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(pool)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val scoredRem = remaining.map { case (id, emb, rel) =>
        val red = if (selected.isEmpty) 0.0
          else selected.map(s => cos(emb, cands.find(_._1 == s._1).get._2)).max
        (id, emb, rel, red, lambda * rel - (1 - lambda) * red)
      }
      val best = scoredRem.maxBy(t => (t._5, -t._1))
      selected += ((best._1, best._3, best._4))
      remaining.remove(remaining.indexWhere(_._1 == best._1))
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, rel, red), i) =>
        (i + 1, id, math.rint(rel * 10000) / 10000, math.rint(red * 10000) / 10000) }
      .toSeq.toDF("rank", "vec_id", "relevance", "redundancy")
  }

  val LshTables = 8       // OR-amplification: candidate if ANY table agrees
  val LshBitsPerTable = 6 // 64 buckets/table — tune to corpus density
  val EmbedDim = 64       // fixture embedding width; callers override inDim for other corpora

  /** Embedding width measured from the data (one bounded limit-1 action).
    * The strict `dotProducts` kernel hard-fails on a plane/vector width
    * mismatch, so callers with non-64-d corpora either pass `inDim`
    * explicitly or derive it here once and thread it through.
    */
  def embedDimOf(embeddings: DataFrame, embCol: String = "embedding"): Int =
    embeddings.select(size(col(embCol)).as("d")).head().getInt(0)

  /** Sign-random-projection LSH, multi-table: deterministic seeded
    * hyperplanes, `LshTables` independent bucket ids per vector
    * (OR-amplified — one 12-bit table has near-zero recall on a
    * gaussian corpus; 8×6-bit tables give usable candidate sets).
    * At scale, neighbor search becomes a bucket equi-join, never a
    * cross join.
    */
  def lshBuckets(s: SparkSession, d: String, nTables: Int = LshTables,
      bitsPerTable: Int = LshBitsPerTable, seed: Long = 42L,
      inDim: Int = EmbedDim): DataFrame =
    lshBucketsOf(T.embeddings(s, d), nTables, bitsPerTable, seed, inDim)

  def lshBucketsOf(embeddings: DataFrame, nTables: Int = LshTables,
      bitsPerTable: Int = LshBitsPerTable, seed: Long = 42L,
      inDim: Int = EmbedDim): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planes: Array[Array[Double]] =
      Array.fill(nTables * bitsPerTable)(Array.fill(inDim)(rnd.nextGaussian()))
    // all hyperplane dots AND the sign-bit bucket assembly in ONE
    // codegen'd kernel call per row — the expression-tree assembly
    // (nTables×bits CASE WHENs) breached the 64 KB generated-method
    // limit at adaptive geometries (≥ ~12 bits), dropping the scan out
    // of whole-stage codegen exactly where the corpus is largest
    corpusOf(embeddings).withColumn("buckets",
      graft.functions.VecExprs.srpBuckets(col("emb"), planes, nTables, bitsPerTable))
  }

  /** ANN top-k: probes compared only against vectors sharing an LSH
    * bucket in at least one table, then exact cosine re-rank. Recall < 1
    * by construction; scalatest checks overlap with the brute-force
    * baseline.
    */
  def lshTopK(s: SparkSession, d: String, probeIds: Seq[Long], k: Int,
      inDim: Int = EmbedDim): DataFrame = {
    val exploded = lshBuckets(s, d, inDim = inDim)
      .select(col("vec_id"), col("emb"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    topKFromBuckets(exploded, probeIds, k)
  }

  /** [[lshTopK]] with an explicit table count — the remedy lever for
    * structureless corpora (SCALING.md round-9 iso-geometry finding:
    * 8-table SRP recalls 0.33–0.60 when no cluster structure exists).
    * Recall lost to bounded-bucket geometry comes back through
    * OR-amplification; the price is candidate work linear in the added
    * tables, which is why it is a caller-chosen lever rather than the
    * default (the measured price table is in SCALING.md).
    */
  def lshTopKTables(s: SparkSession, d: String, probeIds: Seq[Long], k: Int,
      nTables: Int): DataFrame = {
    val exploded = lshBuckets(s, d, nTables = nTables)
      .select(col("vec_id"), col("emb"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    topKFromBuckets(exploded, probeIds, k)
  }

  /** Shared LSH top-k tail: probes filtered out of the bucketed frame,
    * per-table bucket equi-join (probe side broadcast), exact cosine
    * re-rank on the `emb` column the caller supplies.
    */
  private def topKFromBuckets(exploded: DataFrame, probeIds: Seq[Long], k: Int): DataFrame = {
    val probes = exploded.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"),
        col("tbl").as("p_tbl"), col("bucket").as("p_bucket"))
    val cands = exploded.join(broadcast(probes),
        col("tbl") === col("p_tbl") && col("bucket") === col("p_bucket") &&
          col("vec_id") =!= col("probe_id"))
      .dropDuplicates("probe_id", "vec_id") // union of per-table matches
    val scored = cands.select(col("probe_id"), col("vec_id"),
      cosine(col("emb"), col("p_emb")).as("cos"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** ANN top-k with the JL projection composed in: LSH tables are built
    * over the [[randomProjectOf]] `outDim`-d output (outDim=16 → 4×
    * fewer multiplies per hyperplane dot, and a materialized index
    * stores 16-d bucketing inputs instead of 64-d), while the exact
    * cosine re-rank still runs on the ORIGINAL vectors — precision is
    * unchanged; only candidate recall depends on the projection, and JL
    * preserves angles in expectation. SimilaritySpec holds this path to
    * the same brute-force recall bound as the un-projected LSH path.
    */
  def lshTopKProjected(s: SparkSession, d: String, probeIds: Seq[Long], k: Int,
      outDim: Int = 16, seed: Long = 7L): DataFrame =
    lshTopKProjectedOf(T.embeddings(s, d), probeIds, k, outDim, seed)

  def lshTopKProjectedOf(embeddings: DataFrame, probeIds: Seq[Long], k: Int,
      outDim: Int = 16, seed: Long = 7L, inDim: Int = EmbedDim): DataFrame = {
    val projected = randomProjectOf(embeddings, outDim, seed, inDim)
      .select(col("vec_id"), col("proj").as("embedding"), col("emb").as("orig"))
    val exploded = lshBucketsOf(projected, inDim = outDim)
      .select(col("vec_id"), col("orig").as("emb"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    topKFromBuckets(exploded, probeIds, k)
  }

  /** Embedding-cosine near-dup pairs — the fifth dedup family member
    * next to exact/MinHash/SimHash/n-gram: ALL vector pairs with cosine
    * ≥ threshold, candidates restricted to pairs sharing an LSH bucket
    * in ≥ 1 table (OR-amplified sign-random-projection — a pair at
    * cosine 0.95 has angle ~18°, so each 6-bit table agrees with
    * probability ~(1−18/180)⁶ ≈ 0.53 and 8 tables miss it with
    * probability < 0.3% — recall-tested against brute force). Same
    * bucketed-equi-join shape as the MinHash path: candidates scale with
    * bucket occupancy, never n², and [[MaxBandBucket]] bounds hot
    * buckets.
    */
  def cosineDupPairsOf(embeddings: DataFrame, threshold: Double,
      inDim: Int = EmbedDim, bitsPerTable: Int = LshBitsPerTable): DataFrame = {
    // candidates carry ONLY (vec_id, tbl, bucket) — the 64-dim vectors
    // stay out of the band join and the pair dedup (at 100 TB the
    // candidate shuffle is the dominant cost; 16-byte id pairs beat
    // 2×512-byte vector payloads), then join back for the exact re-rank.
    val exploded = lshBucketsOf(embeddings, bitsPerTable = bitsPerTable, inDim = inDim)
      .select(col("vec_id"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val capped = capBuckets(exploded, Seq("tbl", "bucket"), idCol = "vec_id")
    val candIds = capped.as("x").join(capped.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b") // union of per-table matches
    val emb = corpusOf(embeddings).select(col("vec_id"), col("emb"))
    candIds
      .join(emb.select(col("vec_id").as("vec_a"), col("emb").as("emb_a")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("emb").as("emb_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("emb_a"), col("emb_b")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  def cosineDupPairs(s: SparkSession, d: String, threshold: Double): DataFrame =
    cosineDupPairsOf(T.embeddings(s, d), threshold)

  /** Scale-aware table geometry: bits per table chosen so expected
    * bucket occupancy on an isotropic corpus stays near
    * `targetOccupancy` — ceil(log2(n / targetOccupancy)). With occupancy
    * held constant at c, per-table candidate pairs are ~n·c/2 — LINEAR
    * in corpus size — where the static 6-bit geometry densifies (~n²/64
    * candidates) until [[MaxBandBucket]] converts the overflow into
    * recall loss. Target 8 (not 64): measured at 10× fixture scale,
    * target 64 still let buckets carry most of the quadratic blow-up
    * (q_dedup_embed slope 5.9); target 8 keeps the candidate stream flat
    * per row. Bits are capped at 16 because each bit multiplies the
    * per-table miss rate for true near-dups: a cosine-0.95 pair agrees
    * per bit w.p. ~0.9 (1 − 18.2°/180°), so 16 bits is p_table ≈ 0.18
    * and the 8-table OR-amplification still recalls ≥ ~80%; beyond that
    * the right lever is more tables, not more bits. Floor is the fixed
    * [[LshBitsPerTable]] default.
    */
  def adaptiveBits(n: Long, targetOccupancy: Int = 8): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt
    math.min(16, math.max(LshBitsPerTable, needed))
  }

  /** [[cosineDupPairsOf]] with the table geometry derived from the
    * corpus count (one count() action; a production pipeline passes the
    * count it already has from ingest metrics via [[cosineDupPairsOf]]
    * directly).
    */
  def cosineDupPairsAdaptiveOf(embeddings: DataFrame, threshold: Double,
      inDim: Int = EmbedDim): DataFrame =
    cosineDupPairsOf(embeddings, threshold, inDim,
      bitsPerTable = adaptiveBits(embeddings.count()))

  def cosineDupPairsAdaptive(s: SparkSession, d: String, threshold: Double): DataFrame =
    cosineDupPairsAdaptiveOf(T.embeddings(s, d), threshold)

  val IvfCentroids = 16
  val IvfProbes = 6

  /** Deterministic data-sampled centroids (every ⌊N/k⌋-th vector by
    * vec_id, L2-normalized) — centroids drawn from the corpus
    * distribution give far better list locality than random gaussians.
    * Bounded driver-side collect (k rows), the IVF "training" step; a
    * full build would run k-means via the same assign+groupBy plan.
    */
  def sampleCentroidsOf(embeddings: DataFrame, k: Int): Array[Array[Double]] = {
    val c = corpusOf(embeddings).select(col("vec_id"), col("emb"))
    val n = c.count()
    val step = math.max(1L, n / k)
    c.filter(col("vec_id") % step === 0).orderBy(col("vec_id")).limit(k)
      .select(col("emb")).collect()
      .map(_.getSeq[Double](0).toArray)
      .map { v =>
        val norm = math.sqrt(v.map(x => x * x).sum)
        if (norm == 0) v else v.map(_ / norm)
      }
  }

  /** IVF-Flat list assignment: data-sampled seeds refined by 2 Lloyd
    * iterations (graft.ml.KMeansLite), then nearest-centroid id computed
    * map-side against the broadcast centroid matrix (argmin ‖x−c‖² via
    * adjusted dots) — the inverted-file partitioning step. At 100 TB the
    * corpus would be written partitioned by `cid` so a probe reads only
    * its lists.
    */
  def ivfAssign(s: SparkSession, d: String, k: Int = IvfCentroids): DataFrame =
    ivfAssignOf(T.embeddings(s, d), k)._1

  /** [[ivfAssign]] over any (vec_id, embedding) frame, also returning
    * the trained centroid matrix so callers (e.g. the on-disk index,
    * sources.IvfIndex) can persist it next to the lists and route
    * probes with the identical scoring at query time.
    */
  def ivfAssignOf(embeddings: DataFrame, k: Int = IvfCentroids)
      : (DataFrame, Array[Array[Double]]) = {
    val c = corpusOf(embeddings)
    val cents = graft.ml.KMeansLite.fit(c, sampleCentroidsOf(embeddings, k), iters = 2)
    val assigned = c.withColumn("dots", centroidScores(col("emb"), cents))
      .withColumn("cid", expr("array_position(dots, array_max(dots)) - 1"))
    (assigned, cents)
  }

  /** Per-centroid nearest-list scores: argmin ‖x−c‖² as adjusted dots
    * (dot(x,c) − ‖c‖²/2), all centroids AND the adjustment in one
    * codegen'd kernel call (functions.CentroidScores) — the k-literal
    * adjustment array would grow generated code linearly in k now that
    * the list count is adaptive.
    */
  def centroidScores(emb: Column, cents: Array[Array[Double]]): Column =
    graft.functions.VecExprs.centroidScores(emb, cents)

  /** Scale-aware inverted-list count: lists ≈ √(n/16) so the per-list
    * length (n/lists) and the per-row centroid-scoring cost (lists dots)
    * both grow as √n — the classic IVF balance — clamped to
    * [[IvfCentroids]] at the floor (fixture-scale results unchanged) and
    * 4096 at the cap (training collects `lists` sample rows driver-side;
    * the cap keeps that bounded — a 100-TB build would train on a sample
    * and write lists hive-partitioned, as `sources.IvfIndex` does).
    * nprobe scales with the list count at the fixed 6/16 ratio so recall
    * is geometry-independent.
    */
  def adaptiveCentroids(n: Long): Int =
    math.min(4096, math.max(IvfCentroids, math.ceil(math.sqrt(n / 16.0)).toInt))

  /** IVF ANN top-k: each probe searches only its `nprobe` nearest
    * centroid lists (equi-join on cid), then exact cosine re-rank.
    */
  def ivfTopK(s: SparkSession, d: String, probeIds: Seq[Long], k: Int,
      nprobe: Int = IvfProbes, lists: Int = IvfCentroids): DataFrame =
    ivfTopKOf(T.embeddings(s, d), probeIds, k, nprobe, lists)

  /** Frame variant of [[ivfTopK]] (the auto route / specs). */
  def ivfTopKOf(embeddings: DataFrame, probeIds: Seq[Long], k: Int,
      nprobe: Int = IvfProbes, lists: Int = IvfCentroids): DataFrame = {
    val assigned = ivfAssignOf(embeddings, lists)._1
    val probeCids = assigned.filter(col("vec_id").isin(probeIds: _*))
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"),
        posexplode(col("dots")))
      .withColumnRenamed("pos", "p_cid").withColumnRenamed("col", "p_dot")
      .withColumn("rk", row_number().over(
        // p_cid tiebreak keeps routing deterministic when two centroids
        // score identically (matches sources.IvfIndex.search)
        Window.partitionBy(col("probe_id")).orderBy(col("p_dot").desc, col("p_cid"))))
      .filter(col("rk") <= nprobe)
      .select(col("probe_id"), col("p_emb"), col("p_cid"))
    val scored = assigned.join(broadcast(probeCids),
        col("cid") === col("p_cid") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("emb"), col("p_emb")).as("cos"))
      .dropDuplicates("probe_id", "vec_id")
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("probe_id"), col("rn"), col("vec_id"), round(col("cos"), 4).as("cosine"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** [[ivfTopK]] with the list count derived from the corpus size (one
    * count() action; production passes its known count). At the fixture
    * scale [[adaptiveCentroids]] clamps to the fixed 16, so small-scale
    * results are identical; beyond it, list length and scoring cost
    * both grow as √n instead of lists staying 16 forever.
    */
  def ivfTopKAdaptive(s: SparkSession, d: String, probeIds: Seq[Long], k: Int): DataFrame = {
    val lists = adaptiveCentroids(T.embeddings(s, d).count())
    ivfTopK(s, d, probeIds, k,
      nprobe = math.max(IvfProbes, lists * IvfProbes / IvfCentroids), lists = lists)
  }

  // ---- geometry probe: the SCALING.md round-9 finding as a mechanism ----

  /** Sampled corpus-geometry measurement. `nnCos` is the median, over
    * the sample, of each point's best cosine to another sample point
    * (the structure signal: in a clustered corpus two sample points
    * share a cluster long before 256 draws); `randCos` is the median
    * cosine over ALL sample pairs (the isotropic baseline). Their gap
    * is what separates "neighbors exist" from "neighbors are barely
    * closer than random" — the exact distinction that decided the
    * round-9 recall table (LSH-8 1.00 on clustered/heavy, 0.40 on iso).
    */
  final case class GeometryProbe(nnCos: Double, randCos: Double) {
    def gap: Double = nnCos - randCos
    def structured: Boolean = gap >= StructuredGap
  }

  /** Decision threshold on [[GeometryProbe.gap]]: measured ~0.9 on the
    * clustered/heavy generators (same-cluster cosine ≈ 0.96 against a
    * ~0 cross-cluster median) vs ~0.3 on iso (best-of-255 random cosine
    * in 64-d). 0.6 sits in the middle of that empty band.
    */
  val StructuredGap = 0.6

  /** Measure the corpus geometry from a bounded deterministic sample:
    * top-`sampleSize` rows by md5(vec_id) (TakeOrderedAndProject — a
    * streaming top-k, never a global sort), collected driver-side
    * (≤256 × 64 doubles ≈ 128 KB, the ≤4096-centroid collect
    * convention), then O(sample²) driver cosines — ~33k dot products,
    * microseconds. ONE cheap corpus pass total, independent of n.
    */
  def probeGeometry(embeddings: DataFrame, sampleSize: Int = 256): GeometryProbe = {
    val sample = corpusOf(embeddings)
      .select(col("vec_id"), col("emb"))
      .orderBy(md5(concat(lit("gp:"), col("vec_id").cast("string"))), col("vec_id"))
      .limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    val n = sample.length
    require(n >= 2, s"geometry probe needs >= 2 vectors, got $n")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    def median(xs: Array[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
    val pairCos = Array.ofDim[Double](n * (n - 1) / 2)
    val best = Array.fill(n)(-1.0)
    var p = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val c = cos(sample(i), sample(j))
        pairCos(p) = c; p += 1
        if (c > best(i)) best(i) = c
        if (c > best(j)) best(j) = c
        j += 1
      }
      i += 1
    }
    GeometryProbe(median(best), median(pairCos))
  }

  /** ANN route selected by the probe. */
  sealed trait AnnRoute { def name: String }
  final case class RouteLsh(tables: Int) extends AnnRoute {
    val name = s"lsh$tables"
  }
  case object RouteIvf extends AnnRoute { val name = "ivf" }

  /** The round-9 geometry finding as a decision rule: structured corpus
    * → LSH at the default table count (cheapest path, recall 1.00 on
    * the clustered AND heavy generators); structureless → IVF, the
    * measured zero-tuning recommendation (0.73→1.00 across tiers where
    * LSH-8 sat at 0.40). [[lshTablesFor]] is the companion for callers
    * pinned to LSH (e.g. a streaming path with no trained index): the
    * priced 32-table OR-amplification remedy instead of a route change.
    */
  def chooseRoute(probe: GeometryProbe): AnnRoute =
    if (probe.structured) RouteLsh(LshTables) else RouteIvf

  def lshTablesFor(probe: GeometryProbe): Int =
    if (probe.structured) LshTables else 32

  /** Frame variant of [[lshTopKTables]] for the auto path / specs. */
  def lshTopKTablesOf(embeddings: DataFrame, probeIds: Seq[Long], k: Int,
      nTables: Int): DataFrame = {
    val exploded = lshBucketsOf(embeddings, nTables = nTables)
      .select(col("vec_id"), col("emb"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    topKFromBuckets(exploded, probeIds, k)
  }

  /** Probe-then-route ANN top-k (q_ann_auto): one bounded geometry
    * sample decides the index family, then the chosen path runs
    * unchanged; the decision is surfaced as a `route` column so a
    * pipeline (and the spec) can see which index served the query.
    */
  def autoTopKOf(embeddings: DataFrame, probeIds: Seq[Long], k: Int): DataFrame = {
    val route = chooseRoute(probeGeometry(embeddings))
    val topk = route match {
      case RouteLsh(t) => lshTopKTablesOf(embeddings, probeIds, k, t)
      case RouteIvf =>
        val lists = adaptiveCentroids(embeddings.count())
        ivfTopKOf(embeddings, probeIds, k,
          nprobe = math.max(IvfProbes, lists * IvfProbes / IvfCentroids), lists = lists)
    }
    topk.withColumn("route", lit(route.name))
  }

  /** Johnson-Lindenstrauss random projection: embeddings × a fixed
    * gaussian matrix (scaled 1/√outDim so squared distances are
    * preserved in expectation) — the dimensionality-reduction step that
    * makes downstream ANN/clustering 4× cheaper per vector at 100 TB.
    * All outDim dots run in ONE codegen'd kernel call per row
    * (functions.VecExprs.dotProducts), map-side, no shuffle; the
    * distortion bound is scalatest-verified (SimilaritySpec).
    */
  def randomProjectOf(embeddings: DataFrame, outDim: Int = 16,
      seed: Long = 7L, inDim: Int = EmbedDim): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val planes: Array[Array[Double]] =
      Array.fill(outDim)(Array.fill(inDim)(rnd.nextGaussian() / math.sqrt(outDim)))
    corpusOf(embeddings)
      .withColumn("proj", graft.functions.VecExprs.dotProducts(col("emb"), planes))
  }

  /** RELATIVE tolerance for the LSH est_jaccard columns (the compare
    * enforces rtol, not an absolute band). This is a FIXTURE GATE, not
    * a statistical bound: the pipeline is fully deterministic (frozen
    * fixture, fixed permutations, xxhash64), so the compare admits no
    * run-to-run variance. Round-13 re-derivation, after [[cappedSigsOf]]
    * aligned the signed universe with the exact twins' df cap: measured
    * max relative error on the emitted pairs (pair sets EXACTLY equal,
    * both families) is 5.74%/5.38% (token/char, sf0.01 — the compare's
    * scale) and 8.59%/9.68% at sf0.001; 0.12 is 2.1× the sf0.01 max and
    * still covers the small-fixture worst case. Tightened from 0.15:
    * the cap asymmetry the old bound absorbed is gone, leaving pure
    * 32-permutation sampling noise. It is NOT generous in σ terms (at
    * J ≈ 0.5, rtol 0.12 ≈ 0.7 σ of the 32-row estimator), so a fixture
    * REGENERATION that plants boundary-J pairs could trip it — that is
    * a prompt to re-measure and re-derive, while a broken signature
    * kernel (decorrelated estimates, relative errors ≫ 1) still fails
    * it unambiguously.
    */
  private val EstJaccardTol = 0.12

  /** The exact-Jaccard oracle rendered with the LSH output's column
    * name, so the ApproxOracle compare aligns (doc_a, doc_b,
    * est_jaccard) row-for-row against the exact answer. Sound as a
    * fixture gate because the emitted pair SET equals the exact set
    * there (measured, both families, sf0.01/sf0.001); the estimator's
    * set-level behavior at the threshold boundary stays scalatest
    * territory (SimilaritySpec). Round 13 removed the one documented
    * asymmetry: MinHash now signs only the df ≤ MaxShingleDf shingles
    * ([[cappedSigsOf]]) — the same universe the exact twins score — so
    * the estimate is unbiased for its target instead of systematically
    * high on boilerplate-heavy docs (SimilaritySpec plants a hot-
    * boilerplate pair and asserts the capped estimate tracks the capped
    * exact value where the uncapped one would not).
    */
  private def asEstOracle(exactSql: String): String =
    exactSql.replace("AS jaccard", "AS est_jaccard")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_near", (s, d) => minhashPairs(s, d, 0.5), None,
      approxOracle = Some(graft.ApproxOracle(
        asEstOracle(TextOps.NgramJaccardOracle),
        Map("est_jaccard" -> EstJaccardTol)))),
    QueryDef("q_dedup_simhash", (s, d) => simhashPairs(s, d, 3), None),
    QueryDef("q_sim_topk", (s, d) => bruteForceTopK(s, d, Seq(0L, 1L, 2L), 5), None),
    QueryDef("q_sim_lsh", (s, d) => lshTopK(s, d, Seq(0L, 1L, 2L), 5), None),
    // JL-composed ANN: bucket on the 16-d projection, re-rank on 64-d
    QueryDef("q_sim_lsh_jl", (s, d) => lshTopKProjected(s, d, Seq(0L, 1L, 2L), 5), None),
    // Amortized ANN: probe the persisted on-disk index (train-once via
    // IvfIndex.ensureBuilt) — adaptive geometry (≡ fixed 16 at fixture
    // scale; √n beyond), results ≡ ivfTopKAdaptive (IvfIndexSpec)
    QueryDef("q_sim_ivf", (s, d) =>
      graft.sources.IvfIndex.topKPersisted(s, d, Seq(0L, 1L, 2L), 5), None),
    // Compressed-vector ANN: product quantization (8×16 codebooks →
    // 4-byte codes), ADC scan over codes + exact re-rank; train-once
    // persisted index (PqIndexSpec: recall + compression + reuse)
    QueryDef("q_sim_pq", (s, d) =>
      graft.sources.PqIndex.topKPersisted(s, d, Seq(0L, 1L, 2L), 5), None),
    // Incremental ANN: 80% of the corpus indexed train-once, the rest
    // absorbed as two replay-idempotent append micro-batches, probed
    // with delta vectors — the continuous-ingest shape (IvfIndexSpec:
    // append ≡ rebuild recall bound, replay no-op, drift/retrain)
    QueryDef("q_ann_inc", (s, d) =>
      graft.sources.IvfIndex.topKIncremental(s, d, 5), None),
    // Script-agnostic near-dup: MinHash-LSH over character-8-gram
    // shingles of the letter/digit codepoint stream — the dedup unit
    // for scripts WITHOUT word boundaries (the token-3-gram path sees a
    // space-free CJK doc as one giant token and finds NOTHING there;
    // SimilaritySpec proves the contrast on a crafted Han corpus and
    // parity-of-purpose on Latin near-dups). Engine-hash-specific
    // (XXH64 signatures) → scalatest, like its token twin q_dedup_near.
    QueryDef("q_dedup_cjk",
      (s, d) => charMinhashPairsOf(T.documents(s, d), 0.5,
        cacheKey = Some(s"char${CharShingleK}|$d")), None,
      approxOracle = Some(graft.ApproxOracle(
        asEstOracle(TextOps.CharJaccardOracle),
        Map("est_jaccard" -> EstJaccardTol)))),
    // 0 rows on the fixture — its embeddings are isotropic (max pairwise
    // cosine 0.51, measured), i.e. it truly has no embedding near-dups.
    // SimilaritySpec plants near-duplicates and asserts they are found.
    // Adaptive geometry: bits/table derived from the corpus count so
    // bucket occupancy (and with it the candidate stream per row) stays
    // flat as the corpus grows instead of linear in n.
    QueryDef("q_dedup_embed", (s, d) => cosineDupPairsAdaptive(s, d, 0.95), None),
    // JL projection surface: per-vector projected norm + head component
    // (projection matrix is engine-defined → scalatest, not oracle)
    QueryDef("q_embed_rp",
      (s, d) => randomProjectOf(T.embeddings(s, d))
        .select(col("vec_id"),
          round(sqrt(aggregate(col("proj"), lit(0.0d), (a, x) => a + x * x)), 4).as("proj_l2"),
          round(element_at(col("proj"), 1), 4).as("proj_head"))
        .orderBy(col("vec_id")),
      None),
    // Pairs → clusters: connected components over the MinHash candidate
    // pairs, one representative (min doc_id) + size per cluster — the
    // dedup pipeline's final step (StarComponentsSpec verifies against a
    // driver-side union-find).
    QueryDef("q_dedup_clusters", (s, d) =>
      graft.ml.StarComponents.dedupClusters(minhashPairs(s, d, 0.5), "doc_a", "doc_b"), None),
    // Streaming form of q_dedup_near: fixture docs streamed through the
    // foreachBatch signature accumulator; emitted pair set ≡ the batch
    // path on the same rows (StreamingParitySpec). Engine-hash-specific
    // → scalatest, not oracle.
    QueryDef("q_stream_dedup_near",
      (s, d) => graft.streaming.StreamingDedup.nearDedupFixtureRun(s, d), None),
    // Contrastive triplet mining: hardest negative + hardest positive per
    // broadcast anchor, both argmaxes partial-aggregable struct-max (no
    // window, no vector shuffle). Float argmax is engine-order-sensitive
    // → scalatest (SimilaritySpec driver recompute), not oracle.
    QueryDef("q_hard_negatives",
      (s, d) => hardNegativesOf(T.embeddings(s, d), Seq(0L, 1L, 2L)), None),
    // MMR diversification over the top-20 pool for probe 0 (λ = 0.7):
    // one corpus scoring pass + driver-side greedy over the bounded pool.
    QueryDef("q_mmr_diversify",
      (s, d) => mmrDiversifyOf(T.embeddings(s, d), 0L, 20, 5, 0.7), None),
    // Probe-then-route ANN: a bounded geometry sample decides LSH-8
    // (structured corpus) vs IVF (structureless — the fixture's case,
    // so this runs the IVF path here), surfaced as a `route` column.
    // SimilaritySpec proves the probe's decisions on all three
    // generator geometries + the recall bound of the selected path.
    QueryDef("q_ann_auto",
      (s, d) => autoTopKOf(T.embeddings(s, d), Seq(0L, 1L, 2L), 5), None)
  )
}
