package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Bench hygiene (round 13): capture the 1-minute load average AT
    // ENTRY — before Spark's own threads dominate it — and record it in
    // the sidecar, so a drifted row in a later comparison can be
    // attributed to co-tenant machine state instead of a triage cycle
    // (the round-12 ±6% end-of-session drift finding). Protocol in
    // SCALING.md §bench hygiene: one untimed warm pass, runs=3 timed
    // passes, medians; sidecars refresh on a quiet machine (loadavg≈0)
    // from the FINAL tree.
    val loadAtEntry =
      try scala.io.Source.fromFile("/proc/loadavg").getLines()
        .next().split(" ")(0)
      catch { case _: Throwable => "-1" }
    // Hot-machine guard (round 14; default flipped round 15; refusal
    // REMOVED round 16): the round-15 refuse-by-default protected the
    // committed sidecars but broke the measurement contract — any
    // external harness that runs Bench right after a long Verify pass
    // sees loadavg above the idle baseline and got exit 2 with no JSON,
    // making a whole optimization round unverifiable (round-15 VERDICT
    // item 1). The two concerns are now decoupled: a hot box SKIPS ONLY
    // the BENCH_FULL.json sidecar write (so committed medians always
    // come from a quiet machine) but still runs every pass and prints
    // the one-line stdout JSON, annotated with the at-entry loadavg so
    // a reader can discount hot-run medians. Measurement never exits
    // non-zero because of machine load. SPARK_GRAFT_BENCH_ALLOW_HOT=1
    // restores the sidecar write on a hot box for a deliberately-hot
    // refresh; the threshold is this box's measured idle baseline
    // (~1.7, SCALING.md §bench hygiene), overridable via
    // SPARK_GRAFT_BENCH_HOT_LOAD for other machines.
    val hotLoadThreshold = sys.env.get("SPARK_GRAFT_BENCH_HOT_LOAD")
      .flatMap(v => try Some(v.toDouble) catch {
        case _: NumberFormatException =>
          System.err.println(
            s"[bench] ignoring malformed SPARK_GRAFT_BENCH_HOT_LOAD='$v'")
          None
      })
      .getOrElse(1.7)
    val entryLoad = try loadAtEntry.toDouble catch { case _: Throwable => -1.0 }
    val hotBox = entryLoad > hotLoadThreshold
    if (hotBox) {
      System.err.println(f"[bench] WARNING: at-entry 1-min loadavg $entryLoad%.2f " +
        f"exceeds the idle baseline $hotLoadThreshold%.1f — medians from this " +
        "run are co-tenancy-suspect; the BENCH_FULL.json sidecar write is " +
        "skipped (SPARK_GRAFT_BENCH_ALLOW_HOT=1 writes it anyway); the run " +
        "itself proceeds and the stdout JSON carries the loadavg")
    }
    val sidecarOk = !hotBox || sys.env.get("SPARK_GRAFT_BENCH_ALLOW_HOT").contains("1")
    val spark = GraftSession()
    // Force the query's OWN physical plan: `df.count()` builds a new
    // Aggregate(count) logical plan and re-optimizes it, letting Catalyst
    // prune every computed projection, eliminate the output sort, and
    // even remove keyed outer joins whose columns count() never reads —
    // a projection-only query would be timed as a bare parquet scan.
    // `queryExecution.toRdd.count()` executes the already-planned query
    // unmodified (all expressions, joins, and sorts run; nothing but the
    // row count crosses to the driver).
    // Storage hygiene between queries: localCheckpoint(true) (the
    // iterative loops, the incremental fixtures, the rewrite scopes)
    // registers MEMORY_AND_DISK blocks that are reclaimed only when the
    // driver GC's the RDD reference (ContextCleaner weak refs) — across
    // 260+ queries × 4 passes they pile into the shared local-mode
    // storage pool until a LATE pass hits eviction/spill stalls at
    // whatever query the pressure lands on (round-9 BENCH_FULL:
    // q_quality_clf spread 9.7 s on a 3.4 s median, q_split_safe median
    // poisoned to 6.4 s vs its OWN 10× median of 3.7 s). Every frame a
    // query returns is dead once counted, so drop its blocks
    // deterministically instead of waiting for a GC.
    def drainStorage(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    def time(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      // the -1 must be the RETURN value: an earlier form computed -1L
      // inside the try/catch statement and then returned the elapsed
      // time anyway, so a throwing query was silently timed as a fast
      // success (short time-to-failure shrinking the total)
      val elapsed =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      drainStorage() // outside the timed span — costs the gap, not the query
      elapsed
    }
    // Median of `runs` full passes per query: single-run timings flip-
    // flopped sub-second queries by 2-3x across rounds (GC pause,
    // co-tenant CPU contention) and cost a triage cycle each time. Full
    // passes (not back-to-back repeats of one query) keep any one
    // interference burst from hitting all repeats of the same query;
    // the median discards one outlier per query in either direction.
    // Amortized paths (e.g. the IVF index build) pay their one-time cost
    // in pass 1 and the median reports the steady state.
    // dev-only: comma-separated query filter (the driver sets no
    // filter → full surface)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    // Pass 0, untimed: one throwaway execution of EVERY query so all
    // one-time state lands before any timed pass — the persisted ANN
    // indexes (IvfIndex/PqIndex ensureBuilt), streaming/corpus fixture
    // machinery, codegen and parquet reader caches. Without it the
    // amortized paths paid their cold build inside timed pass 1
    // (q_corpus_inc spread 61.7 s, q_corpus_build 15.2 s in round 8)
    // and one contended pass could shift a median. Failures are
    // swallowed here — a genuinely broken query still reports -1 from
    // the timed passes.
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
      drainStorage()
    }
    // A GC between passes lets ContextCleaner reap the pass's broadcast
    // blocks (every broadcast join leaves one; they are weak-ref-cleaned
    // only after a driver GC) so no timed pass starts under the previous
    // pass's accumulated heap.
    val passes = (1 to runs).map { _ =>
      System.gc()
      names.map(n => n -> time(n)).toMap
    }
    def sortedTimes(n: String): Seq[Double] = passes.map(_(n)).sorted
    val results = names.map(n => n -> sortedTimes(n)(runs / 2)).toMap
    val spread = names.map(n => {
      val ts = sortedTimes(n); n -> (ts.last - ts.head)
    }).toMap
    def fmt(v: Double): String = f"$v%.3f"
    // Full per-query detail goes to a sidecar file; the stdout line is kept
    // under ~1.8 KB because the driver parses it from a 2000-char output
    // tail (a full 101-query line overflows that window and parses as null).
    val full = results.toSeq.sortBy(-_._2)
    val fullJson = full.map { case (k, v) =>
      s"\"" + k + "\":{\"med\":" + fmt(v) + ",\"spread\":" + fmt(spread(k)) + "}"
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // dev-filtered runs must not clobber the full-surface sidecar;
    // hot-box runs skip the write too (measurement still happened and
    // prints below — only the committed-medians file is protected)
    if (only.isEmpty && sidecarOk) try {
      val w = new java.io.PrintWriter("BENCH_FULL.json")
      try w.println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"nqueries":${full.size},"loadavg":$loadAtEntry,"queries":$fullJson,"sf":"$sfDir"}""")
      finally w.close()
    } catch { case _: Throwable => () }
    val budget = 1550 // chars available for the queries object on stdout
    val sb = new StringBuilder
    var shown = 0
    full.foreach { case (k, v) =>
      val entry = (if (shown == 0) "" else ",") + "\"" + k + "\":" + fmt(v)
      if (sb.length + entry.length <= budget) { sb.append(entry); shown += 1 }
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"nqueries":${full.size},"shown":$shown,"loadavg":$loadAtEntry,"queries":{$sb},"sf":"$sfDir"}""")
    spark.stop()
  }
}
