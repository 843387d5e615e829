package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Golden formatted-plan snapshots for the heaviest queries: a silently
  * dropped pushdown, broadcast, or partial aggregate changes the
  * normalized plan text and fails CI even where PlanAuditSpec has no
  * targeted assertion. Regenerate intentionally with
  * `GRAFT_UPDATE_PLANS=1 sbt "testOnly graft.PlanSnapshotSpec"` and
  * review the diff like code.
  *
  * Normalization strips per-session noise (expression ids, plan ids,
  * file paths, numeric literals, sizes) so snapshots are stable across
  * runs while preserving operator structure, join strategies, keys,
  * pushed filters, and read schemas.
  */
class PlanSnapshotSpec extends AnyFunSuite with SharedSpark {

  private val heavy = Seq(
    "q_sim_lsh", "q_sim_lsh_jl", "q_sim_ivf", "q_sim_topk", "q_dedup_ngram",
    "q_dedup_near", "q_dedup_simhash", "q_dedup_exact", "q_media_sim",
    "q_join_smj", "q_agg_q1", "q_dedup_embed", "q_tfidf", "q_freq_terms",
    "q_outliers", "q_sessionize", "q_bloom_prefilter", "q_tpch_q3", "q_tpch_q5",
    "q_decontam", "q_pack", "q_doc_ppl", "q_corpus_build",
    // round-8 additions
    "q_dedup_para", "q_bm25", "q_dedup_sem", "q_profile", "q_tok_vocab",
    "q_shuffle_det", "q_anomaly_window", "q_stream_enrich",
    // round-9 additions (q_pagerank/q_bpe_*/q_sketch_kmv excluded: their
    // final frames are localCheckpoint/LocalTableScan shells, not plans)
    "q_funnel", "q_cohort_retention", "q_scd2", "q_graph_triangles",
    "q_stream_join", "q_stream_join_outer", "q_tpch_q18", "q_mix_domains",
    "q_zorder", "q_topk_group_fast", "q_tpch_q13",
    // round-9 second-half additions (q_orc_roundtrip excluded: its plan
    // is a scan of the session-written ORC dir, not a stable shape)
    "q_dedup_substr", "q_sample_priority", "q_join_range", "q_curriculum",
    "q_sample_group", "q_drift_psi",
    // round-9 close-out additions: lock the broadcast-moments /
    // broadcast-quantile-row shapes (fact side must never shuffle)
    "q_anomaly_mad", "q_rfm",
    // round-9 analytics batch: the bitmap rolling-distinct (corpus must
    // be touched once — one user-keyed agg, no per-day rescan), the
    // bounded-bin KS CDF windows, and the wedge-join link predictor
    // (degrees must come back as broadcasts)
    "q_active_users", "q_ks_test", "q_link_pred",
    // round-12 addition: the char-shingle exact-Jaccard twin (same
    // capped self-join shape as q_dedup_ngram — lock it independently)
    "q_dedup_cjk_exact")

  private val goldenDir = Paths.get("src/test/resources/golden-plans")

  private def normalize(plan: String): String =
    plan.linesIterator
      .map(_.replaceAll("#\\d+", "#x")
        .replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("RDD\\[\\d+\\]", "RDD[x]") // session-global RDD id counter
        .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda\\$x") // JIT class name
        // JVM identity hash: a 31-bit int in hex without leading zeros,
        // so 1 to 8 digits (a 5-digit one escaped the old {6,} bound)
        .replaceAll("@[0-9a-fA-F]+", "@x")
        .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_n") // session-global HOF var counter
        .replaceAll("0[xX][0-9A-Fa-f]{32,}", "0x<bin>") // embedded sketch/binary literals
        .replaceAll("Location: \\S+ \\[[^\\]]*\\]", "Location: <path>")
        .replaceAll("\\.scala:\\d+", ".scala:<line>") // comment shifts must not drift plans
        .replaceAll("file:[^,\\]\\s]+", "<path>")
        .replaceAll("-?\\d+\\.\\d+(E-?\\d+)?", "<f>")
        .replaceAll("\\s+$", ""))
      .mkString("\n").trim + "\n"

  heavy.foreach { name =>
    test(s"$name physical plan matches its golden snapshot") {
      val plan = normalize(formattedPlan(SparkEntry.queries(name)(spark, sf)))
      val golden = goldenDir.resolve(s"$name.plan")
      if (sys.env.contains("GRAFT_UPDATE_PLANS")) {
        Files.createDirectories(goldenDir)
        Files.write(golden, plan.getBytes(StandardCharsets.UTF_8))
        info(s"golden snapshot written: $golden")
      } else if (!Files.exists(golden)) {
        // a silently-written golden would disable the gate exactly when a
        // snapshot goes missing (deleted file, renamed query) — fail loud
        fail(s"golden snapshot missing for $name at $golden; " +
          "generate intentionally with GRAFT_UPDATE_PLANS=1")
      } else {
        val want = new String(Files.readAllBytes(golden), StandardCharsets.UTF_8)
        if (plan != want) {
          val gotL = plan.linesIterator.toVector
          val wantL = want.linesIterator.toVector
          val firstDiff = gotL.zipAll(wantL, "<missing>", "<missing>")
            .indexWhere { case (a, b) => a != b }
          fail(s"$name plan drifted from golden (first diff at line ${firstDiff + 1}):\n" +
            s"  golden: ${wantL.lift(firstDiff).getOrElse("<missing>")}\n" +
            s"  actual: ${gotL.lift(firstDiff).getOrElse("<missing>")}\n" +
            s"If intentional, regenerate with GRAFT_UPDATE_PLANS=1 and review the diff.")
        }
      }
    }
  }
}
