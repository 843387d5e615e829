package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-slope harness for the heavy text/similarity queries: generates
  * documents/embeddings at multiples of the sf0.1 row counts (5k docs /
  * 2k vectors) with the SAME distributional shape as the fixture
  * (shared ~30-word vocabulary, 12–61-token docs, ~5% near-dup pairs,
  * 10 embedding clusters), runs each heavy query at each scale, and
  * prints measured time ratios. A linear-scaling query shows slope ≈ the
  * scale ratio; anything clearly above is superlinear and gets a
  * SCALING.md finding.
  *
  * Generation is fully deterministic (xxhash64 of row id — no
  * Math.random, no wall clock) and distributed (spark.range + map-only
  * expressions; nothing driver-side).
  *
  * Usage: runMain graft.ScaleSlope [baseDir] [mults] [recallonly]
  * (defaults /tmp/graft_scale and 1,10; "recallonly" skips the timed
  * slope passes and measures only the recall tables — the cheap loop
  * for iterating on the adversarial-geometry corpora)
  */
object ScaleSlope {

  /** Fixture-like vocabulary (documents.parquet uses ~30 engine words). */
  private val Vocab = Seq(
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "batch", "agg", "filter", "query",
    "big", "key", "window", "row", "part", "table", "stream", "merge",
    "data", "a", "the", "join", "vector", "customer")

  def genDocuments(spark: SparkSession, n: Long): DataFrame = {
    val v = array(Vocab.map(lit): _*)
    // word(id, pos) = Vocab[xxhash64(id, pos) mod |V|]; every 20th doc is
    // a near-dup of its neighbor (same word stream + one marker token),
    // mirroring the fixture's near-dup clusters without any join.
    spark.range(n).toDF("doc_id")
      .withColumn("base_id",
        when(col("doc_id") % 20 === 19, col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("len",
        (lit(12) + pmod(xxhash64(col("base_id"), lit(-1)), lit(50))).cast("int"))
      .withColumn("words", transform(sequence(lit(0), col("len") - 1),
        p => element_at(v, (pmod(xxhash64(col("base_id"), p), lit(Vocab.size)) + 1).cast("int"))))
      .withColumn("text",
        when(col("doc_id") =!= col("base_id"),
          concat_ws(" ", concat(col("words"), array(lit("dupmark")))))
        .otherwise(concat_ws(" ", col("words"))))
      .select(col("doc_id"), col("text"),
        element_at(array(lit("en"), lit("es"), lit("de"), lit("zh")),
          (pmod(xxhash64(col("doc_id"), lit(-2)), lit(4)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(10))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Heaps-law documents — same doc shape as [[genDocuments]] (12–61
    * tokens, every 20th doc a marked near-dup of its neighbor) but the
    * VOCABULARY grows with the corpus: |V| = 30·√(n/5000), Heaps' law
    * with β = 0.5 anchored at the 1×-tier's 30 words. This is the
    * fixture the shingle-join family needs at big tiers: the 30-word
    * vocabulary saturates the ≤27k 3-gram space, so per-shingle df
    * grows ∝ corpus and any shared-shingle join output grows ∝ df² —
    * a FIXTURE artifact no real crawl exhibits (natural text keeps
    * per-shingle df roughly flat as vocabulary grows with corpus).
    * Heaps tiers keep df bounded, so the measured slope prices the
    * OPERATOR.
    */
  def genDocumentsHeaps(spark: SparkSession, n: Long): DataFrame = {
    val vocabSize = math.max(30L, math.round(30.0 * math.sqrt(n / 5000.0)))
    spark.range(n).toDF("doc_id")
      .withColumn("base_id",
        when(col("doc_id") % 20 === 19, col("doc_id") - 1).otherwise(col("doc_id")))
      .withColumn("len",
        (lit(12) + pmod(xxhash64(col("base_id"), lit(-1)), lit(50))).cast("int"))
      .withColumn("words", transform(sequence(lit(0), col("len") - 1),
        p => concat(lit("w"), pmod(xxhash64(col("base_id"), p), lit(vocabSize)))))
      .withColumn("text",
        when(col("doc_id") =!= col("base_id"),
          concat_ws(" ", concat(col("words"), array(lit("dupmark")))))
        .otherwise(concat_ws(" ", col("words"))))
      .select(col("doc_id"), col("text"),
        element_at(array(lit("en"), lit("es"), lit("de"), lit("zh")),
          (pmod(xxhash64(col("doc_id"), lit(-2)), lit(4)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(10))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def genEmbeddings(spark: SparkSession, n: Long): DataFrame =
    // 10 clusters: v_d = center(label, d) ± noise(id, d), floats in ~[-1.2, 1.2]
    spark.range(n).toDF("vec_id")
      .withColumn("label", pmod(xxhash64(col("vec_id"), lit(-3)), lit(10)).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        (((pmod(xxhash64(col("label").cast("long"), d), lit(2001)) - 1000) / 1000.0) +
          ((pmod(xxhash64(col("vec_id"), d, lit(7)), lit(401)) - 200) / 1000.0)).cast("float")))
      .select("vec_id", "embedding", "label")

  /** Adversarial geometry 1 — isotropic: pure per-(id,dim) noise, no
    * cluster structure at all. The hardest shape for any partition-based
    * ANN: neighbors are only marginally closer than random points, so
    * LSH bucket collisions and IVF list membership carry minimal signal.
    */
  def genEmbeddingsIso(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        (((pmod(xxhash64(col("vec_id"), d, lit(11)), lit(2001)) - 1000) / 1000.0))
          .cast("float")))
      .withColumn("label", lit(0))
      .select("vec_id", "embedding", "label")

  /** Adversarial geometry 2 — heavy-tailed cluster sizes: label c holds
    * ~2^c/1024 of the corpus (the largest cluster ≈ half of it, the
    * smallest a handful of vectors), same center+noise shape as
    * [[genEmbeddings]]. Stresses the opposite failure mode from iso:
    * one IVF list dwarfs the rest (skewed candidate counts) while tail
    * clusters are so sparse their centroids may never be sampled.
    */
  def genEmbeddingsHeavy(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("label",
        floor(log2(pmod(xxhash64(col("vec_id"), lit(-3)), lit(1024)) + 1)).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), d =>
        (((pmod(xxhash64(col("label").cast("long"), d), lit(2001)) - 1000) / 1000.0) +
          ((pmod(xxhash64(col("vec_id"), d, lit(7)), lit(401)) - 200) / 1000.0)).cast("float")))
      .select("vec_id", "embedding", "label")

  /** Doc/embedding-only queries worth a slope (the rest are TPC-H-shaped
    * and already plan-audited).
    */
  private val Heavy = Seq(
    "q_dedup_exact", "q_text_stats", "q_token_count", "q_dedup_ngram",
    "q_fingerprint", "q_dedup_near", "q_dedup_simhash",
    "q_sim_topk", "q_sim_lsh", "q_sim_lsh_jl", "q_sim_ivf", "q_sim_pq",
    "q_dedup_embed", "q_dedup_clusters", "q_tfidf",
    "q_decontam", "q_pack", "q_chunk_docs", "q_repetition", "q_ngram_lm",
    "q_embed_norm", "q_embed_quant",
    "q_dedup_para", "q_dedup_substr", "q_bm25", "q_dedup_sem", "q_tok_vocab",
    "q_bpe_encode", "q_sketch_kmv", "q_mix_domains",
    "q_dsir", "q_quality_clf", "q_curriculum",
    // round-9 third pass: containment shares q_dedup_ngram's candidate
    // join (same fixture-quadratic cap), the rest are linear-by-design
    "q_dedup_contain", "q_text_entropy", "q_inverted_index",
    "q_clf_auc", "q_rrf_fusion",
    // round-9 fourth pass: the prefix-filtered form of the exact
    // Jaccard join — measured against q_dedup_ngram's full shared-
    // shingle join on the same tiers
    "q_dedup_prefix",
    // round-10 100× tier: the documents-fed incremental queries (their
    // events-fed siblings live in RelScale) — each replays the corpus
    // through real foreachBatch micro-batches, so the slope prices the
    // incremental machinery itself, not just the one-shot body
    "q_substr_inc", "q_corpus_inc", "q_index_inc",
    // round-10: novelty is a LEFT join against a broadcast shingle SET
    // (output = corpus shingle rows, 1:1 — no pair space), so unlike
    // its q_decontam sibling it stays linear even on the saturated
    // fixture and runs the full tier
    "q_ngram_novelty",
    // round-11: the script-agnostic char-shingle near-dup — candidates
    // bucket-capped like the token path, so it runs the full tier
    "q_dedup_cjk",
    // round-12: its exact char-shingle twin. The df ≤ 128 cap drops the
    // fixture's saturated-hot shingles BEFORE the self-join, so beyond-
    // 10× cost should be the linear df window, not a pair-space
    // quadratic — measured on the full tier (SCALING.md round 12)
    "q_dedup_cjk_exact")

  /** Queries whose beyond-10× point is knowingly quadratic ON THIS
    * FIXTURE, not in the operator: the %10 "benchmark" grows WITH the
    * corpus so q_decontam's join output is (corpus df × bench df)
    * summed over a saturated shingle space — ~1.5B joined rows at 100×.
    * The superlinearity is measured and documented as a FINDING at the
    * 10× point (SCALING.md); production decontaminates against
    * FIXED-size bench sets. The PRODUCTION shapes are measured uncapped
    * to 100× by the round-11 variant rows below (q_decontam_fixedref /
    * q_corpus_inc_fixedref / q_dedup_ngram_heaps) — slopes 4.4 / 10.0 /
    * 5.4 over 100× data, SCALING.md round-11 section.
    *
    * Round 13: q_dedup_ngram / q_dedup_prefix / q_dedup_contain moved
    * OFF this list — their harness rows predated the shared
    * df ≤ MaxShingleDf cap (pairStatsOf), which drops the saturated-hot
    * shingles BEFORE the self-join exactly as q_dedup_cjk_exact's does,
    * so the full tier now prices the capped operator (the regime note:
    * at 10× the fixture's dfs sit ~67 < 128 so the cap doesn't bind and
    * the join IS fixture-quadratic; at 100× dfs ~670 mostly exceed the
    * cap and are dropped — the measured 1×/10×/100× curve shows both
    * regimes, SCALING.md round 13).
    */
  private val MaxMult10 =
    Set("q_decontam",
      // composes q_decontam's %10 bench set (grows WITH the corpus —
      // the same saturated-shingle-space quadratic); production
      // decontaminates against FIXED bench sets
      "q_corpus_inc")

  private def runsAt(q: String, m: Int): Boolean = m <= 10 || !MaxMult10(q)

  /** ANN queries whose recall@k vs brute force is measured at every tier
    * — adaptive geometry trades recall for bounded candidates, so the
    * recall curve is the other half of the slope story: a flat slope
    * with collapsing recall would just mean the work was dropped.
    */
  private val AnnRecall = Seq("q_sim_lsh", "q_sim_lsh_jl", "q_sim_ivf", "q_sim_pq")

  /** recall@5 of `name`'s (probe_id, vec_id) hits against the exact
    * brute-force top-5 on the same tier (probes 0,1,2 — the declared
    * query surface's probe set).
    */
  private def recallOf(spark: SparkSession, dir: String, name: String,
      bf: Set[(Long, Long)]): Double = {
    val ann = SparkEntry.queries(name)(spark, dir)
      .select(col("probe_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (bf.isEmpty) 1.0 else ann.intersect(bf).size.toDouble / bf.size
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_scale")
    val mults = args.lift(1).map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(1, 10))
    val spark = GraftSession()

    for (m <- mults) {
      val dir = s"$base/x$m"
      // both tables must be complete or we regenerate (a crash between
      // the two writes must not leave the dir half-generated forever)
      val complete = Seq("documents", "embeddings")
        .forall(t => new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists())
      if (!complete) {
        genDocuments(spark, 5000L * m).write.mode("overwrite").parquet(s"$dir/documents.parquet")
        genEmbeddings(spark, 2000L * m).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
    }
    // "lshremedy": price the more-tables remedy for the iso-geometry
    // SRP-LSH recall loss — recall@5 at 8/16/32/64 tables per tier,
    // nothing else. Prints its own line and exits.
    if (args.lift(2).contains("lshremedy")) {
      val rows = mults.sorted.map { m =>
        val dir = s"$base/iso_x$m"
        if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists())
          genEmbeddingsIso(spark, 2000L * m).write.mode("overwrite")
            .parquet(s"$dir/embeddings.parquet")
        val bf = graft.queries.Similarity.bruteForceTopK(spark, dir, Seq(0L, 1L, 2L), 5)
          .select(col("probe_id"), col("vec_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // warm the LSH path itself (kernel codegen + this tier's parquet)
        // before the first timed point, same reason as the slope warm-up
        // below: a cold t=8 would overstate the marginal cost of tables
        graft.queries.Similarity
          .lshTopKTables(spark, dir, Seq(0L, 1L, 2L), 5, nTables = 8)
          .queryExecution.toRdd.count()
        val rc = Seq(8, 16, 32, 64).map { t =>
          val t0 = System.nanoTime()
          val hits = graft.queries.Similarity
            .lshTopKTables(spark, dir, Seq(0L, 1L, 2L), 5, nTables = t)
            .select(col("probe_id"), col("vec_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val sec = (System.nanoTime() - t0) / 1e9
          s""""t$t":{"recall":${hits.intersect(bf).size.toDouble / bf.size},"sec":${math.round(sec * 100) / 100.0}}"""
        }.mkString(",")
        s""""x$m":{$rc}"""
      }.mkString(",")
      println(s"""{"metric":"lsh_remedy","geometry":"iso","queries":{$rows}}""")
      spark.stop()
      return
    }
    val recallOnly = args.lift(2).contains("recallonly")
    // dev-only subset: "only=q_a,q_b" anywhere in args restricts the
    // slope passes (iterating on one new query's slope without paying
    // the whole family)
    val heavy = args.find(_.startsWith("only="))
      .map(o => Heavy.filter(o.stripPrefix("only=").split(",").toSet))
      .getOrElse(Heavy)
    // warm the JVM/codegen paths AND the page cache at EVERY scale —
    // warming only the smallest would leave cold first-ever parquet
    // reads inside the larger scales' timed region, biasing slopes up
    // toRdd.count() (not df.count()) so Catalyst can't prune computed
    // projections / eliminate the sort or keyed joins out of the timed
    // plan — same rationale as Bench.time
    // storage hygiene between queries (the Bench.drainStorage lesson —
    // localCheckpoint blocks are dead once counted; see RelScale)
    def drainStorage(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    if (!recallOnly)
      for (m <- mults; q <- heavy if runsAt(q, m)) {
        SparkEntry.queries(q)(spark, s"$base/x$m").queryExecution.toRdd.count()
        drainStorage()
      }

    val times0: Map[Int, Map[String, Double]] =
      if (recallOnly) mults.map(_ -> Map.empty[String, Double]).toMap
      else mults.map { m =>
        m -> heavy.filter(runsAt(_, m)).map { q =>
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, s"$base/x$m").queryExecution.toRdd.count()
          val dt = (System.nanoTime() - t0) / 1e9
          drainStorage()
          q -> dt
        }.toMap
      }.toMap

    // round-11 production-shape variants of the three fixture-quadratic
    // queries, run UNCAPPED at every tier (the MaxMult10 rows above
    // price the saturated fixture, these price the OPERATOR):
    //  - q_decontam_fixedref: decontaminate tier-m corpus docs against
    //    the 1×-TIER benchmark (fixed eval-suite shape) instead of the
    //    %10 set that grows with the corpus;
    //  - q_corpus_inc_fixedref: the incremental corpus replay with
    //    benchmark membership pinned to the 1×-tier ids (benchMaxId);
    //  - q_dedup_ngram_heaps: the exact-Jaccard shared-shingle join on
    //    the Heaps-vocabulary corpus (bounded per-shingle df — the
    //    regime a real crawl is in; the 30-word fixture saturates).
    val variantDefs: Seq[(String, Int => DataFrame)] = Seq(
      "q_decontam_fixedref" -> { (m: Int) =>
        queries.Corpus.decontamAgainst(
          Tables.documents(spark, s"$base/x$m").filter(col("doc_id") % 10 =!= 0),
          Tables.documents(spark, s"$base/x1").filter(col("doc_id") % 10 === 0)) },
      "q_corpus_inc_fixedref" -> { (m: Int) =>
        streaming.IncrementalCorpus.fixtureRun(spark, s"$base/x$m",
          benchMaxId = 5000L) },
      "q_dedup_ngram_heaps" -> { (m: Int) =>
        queries.TextOps.jaccardPairsOf(
          Tables.documents(spark, s"$base/heaps_x$m")) })
    val variants =
      if (recallOnly) Nil
      else args.find(_.startsWith("only="))
        .map(o => variantDefs.filter(v => o.stripPrefix("only=").split(",").toSet(v._1)))
        .getOrElse(variantDefs)
    if (variants.exists(_._1.endsWith("_heaps")))
      for (m <- mults) {
        val dir = s"$base/heaps_x$m"
        if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists())
          genDocumentsHeaps(spark, 5000L * m).write.mode("overwrite")
            .parquet(s"$dir/documents.parquet")
      }
    // same warm-then-time discipline as the main pass (corpus_inc's
    // foreachBatch replay is already cold-start-shaped, but warming
    // still pages in this tier's parquet before the timed run)
    for (m <- mults; (_, f) <- variants) {
      f(m).queryExecution.toRdd.count()
      drainStorage()
    }
    val varTimes: Map[Int, Map[String, Double]] = mults.map { m =>
      m -> variants.map { case (name, f) =>
        val t0 = System.nanoTime()
        f(m).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        drainStorage()
        name -> dt
      }.toMap
    }.toMap
    val times: Map[Int, Map[String, Double]] =
      mults.map(m => m -> (times0(m) ++ varTimes(m))).toMap
    val reported = heavy ++ variants.map(_._1)

    // recall@5 vs exact brute force for the ANN family at every tier
    // (after the timed region — collects are probe-bounded, 15 rows each)
    def recallsAt(dir: String): Map[String, Double] = {
      val bf = graft.queries.Similarity.bruteForceTopK(spark, dir, Seq(0L, 1L, 2L), 5)
        .select(col("probe_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      AnnRecall.map(q => q -> recallOf(spark, dir, q, bf)).toMap
    }
    val recalls: Map[Int, Map[String, Double]] =
      mults.map(m => m -> recallsAt(s"$base/x$m")).toMap

    // adversarial-geometry recall: the SAME ANN queries over alternate
    // vector-corpus shapes (each in a sibling dir, so the queries — which
    // read <dir>/embeddings.parquet — run unchanged). The well-separated
    // default corpus measures the happy path; these two price what the
    // adaptive LSH/IVF geometry actually pays when cluster structure is
    // absent (iso) or pathologically skewed (heavy).
    val geoRecalls: Seq[(String, Int, Map[String, Double])] = for {
      (g, gen) <- Seq(
        "iso" -> (genEmbeddingsIso _), "heavy" -> (genEmbeddingsHeavy _))
      m <- mults.sorted
    } yield {
      val dir = s"$base/${g}_x$m"
      if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists())
        gen(spark, 2000L * m).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      (g, m, recallsAt(dir))
    }

    // every measured mult's time is emitted (a 1,10,100 run yields both
    // the 10× and 100× columns in one pass); "slope" is lo→hi over the
    // mults the query actually ran at, with "slope_over" naming that
    // span. A query whose every tier was filtered out (e.g. a MaxMult10
    // query in a 100-only run) is skipped, not a crash at report time.
    val slopes = reported.flatMap { q =>
      val qm = mults.sorted.filter(m => times(m).contains(q))
      if (qm.isEmpty) None
      else {
        val lo = qm.min; val hi = qm.max
        val ts = qm.map(m => s""""t_x$m":${times(m)(q)}""").mkString(",")
        val rc = if (AnnRecall.contains(q))
          qm.map(m => s""","recall_x$m":${recalls(m)(q)}""").mkString
        else ""
        Some(s""""$q":{$ts,"slope":${math.round(times(hi)(q) / times(lo)(q) * 100) / 100.0},""" +
          s""""slope_over":${hi.toDouble / lo}$rc}""")
      }
    }.mkString("{", ",", "}")
    // the default well-separated corpus reports as the "clustered" row so
    // all three geometries read from one table
    val allGeo = mults.sorted.map(m => ("clustered", m, recalls(m))) ++ geoRecalls
    val geo = allGeo.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rows) =>
      val tiers = rows.sortBy(_._2).map { case (_, m, rc) =>
        s""""x$m":{${rc.toSeq.sortBy(_._1).map { case (q, r) => s""""$q":$r""" }.mkString(",")}}"""
      }.mkString(",")
      s""""$g":{$tiers}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_slope","ratio":${mults.max.toDouble / mults.min},"queries":$slopes,"geometries":$geo}""")
    spark.stop()
  }
}
