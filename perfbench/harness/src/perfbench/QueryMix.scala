package perfbench

import scala.collection.mutable
import graft.SparkEntry
import graft.{queries => Q}

/** Closed-loop passes over two fixed query families, each query timed as
  * `graft.Bench` times it: the query's own physical plan runs through
  * `queryExecution.toRdd.count()`, and the storage it leaves behind is
  * drained outside the timed span. The seed permutes the order of every
  * pass. The warm-up pass (set-up) also checks each result's row count
  * and content digest against the committed expectations.
  */
final class QueryMix extends Workload {
  import QueryMix._

  private val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var passes = 0
  private val passTimes = mutable.ArrayBuffer.empty[Double]
  private var measureStartMs = 0L
  /** Wall seconds of every timed query, failed ones included. */
  private var measured = 0.0

  private def drainStorage(ctx: Ctx): Unit =
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def setup(ctx: Ctx): Map[String, Double] = {
    val expected = Expectations.load(sys.props("perfbench.expected"))
    val record = sys.props.get("perfbench.record")
    val got = mutable.LinkedHashMap.empty[String, Digest.Result]
    val t0 = System.nanoTime()
    All.foreach { q =>
      ctx.op(s"check $q") {
        val r = Digest.of(SparkEntry.queries(q)(ctx.spark, ctx.dataDir))
        got(q) = r
        if (record.isEmpty) Expectations.check(q, r, expected)
      }
      drainStorage(ctx)
    }
    record.foreach { p =>
      Expectations.write(p, got)
      val w = new java.io.PrintWriter(p + ".oracle.json", "UTF-8")
      try w.println(Json.render(All.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
      finally w.close()
    }
    Map("warm_s" -> (System.nanoTime() - t0) / 1e9)
  }

  /** One pass over every query, in an order the seed and `n` permute. */
  private def pass(ctx: Ctx, n: Int, label: String): Seq[(String, Timed)] = {
    System.gc() // as graft.Bench: each pass starts on a collected heap
    new scala.util.Random(ctx.seed * 1000003L + n).shuffle(All).map { q =>
      val t = ctx.trace(s"queries.${packOf(q)}", q) {
        val t = ctx.op(s"$label $q") {
          SparkEntry.queries(q)(ctx.spark, ctx.dataDir).queryExecution.toRdd.count()
        }
        if (ctx.trace.on) {
          val sc = ctx.spark.sparkContext
          val persisted = sc.getPersistentRDDs.keySet
          ctx.trace.attr("materialized_blocks", persisted.size)
          ctx.trace.attr("materialized_b", sc.getRDDStorageInfo
            .filter(i => persisted.contains(i.id)).map(i => i.memSize + i.diskSize).sum)
        }
        t
      }
      drainStorage(ctx)
      q -> t
    }
  }

  def run(ctx: Ctx): Unit = {
    All.foreach(q => times(q) = mutable.ArrayBuffer.empty)
    measureStartMs = System.currentTimeMillis()
    while (passes < MinPasses || (measured < ctx.seconds && passes < MaxPasses)) {
      val results = pass(ctx, passes, "run")
      results.foreach { case (q, t) => if (t.ok) times(q) += t.seconds }
      val seconds = results.map(_._2.seconds).sum
      measured += seconds
      if (results.forall(_._2.ok)) passTimes += seconds // a pass with a failed query is no sample
      passes += 1
    }
  }

  def finish(ctx: Ctx): Map[String, Any] = {
    // a query with no successful run has a NaN median, so a family total
    // it belongs to is unmeasured rather than faster
    val med = times.map { case (q, xs) => q -> Stats.median(xs.toSeq) }
    val sqlTotal = Sql.map(med).sum
    val curTotal = Curation.map(med).sum
    val all = med.values.toSeq
    val execs = times.values.map(_.size).sum
    Map(
      "params" -> Map("sql" -> Sql, "curation" -> Curation, "min_passes" -> MinPasses,
        "max_passes" -> MaxPasses),
      "units" -> passes, "measure_start_ms" -> measureStartMs,
      "e2e" -> Map(
        "op_p50_s" -> Stats.median(passTimes.toSeq),
        "items_per_s" -> execs / measured,
        "part_a_s" -> sqlTotal, "part_b_s" -> curTotal, "op_geomean_s" -> Stats.geomean(all)),
      "named" -> Map(
        "queries.sql_total_s" -> sqlTotal, "queries.curation_total_s" -> curTotal,
        "queries.geomean_s" -> Stats.geomean(all)),
      "samples" -> Map("per_query_median_s" -> med.toMap, "pass_s" -> passTimes.toList,
        "per_query_s" -> times.map { case (q, xs) => q -> xs.toList }.toMap))
  }
}

object QueryMix {
  /** [[MinPasses]] warm passes take 10–15 s on a 4-vCPU VM, more than
    * the 5-s run length, so each run there times exactly that many, and
    * every query's median is over that many samples.
    */
  val MinPasses = 2
  val MaxPasses = 6

  /** The TPC-H family: five join-heavy queries (3, 5, 9, 18, 21), each
    * bound by per-job latency at this scale.
    */
  val Sql: Seq[String] = Seq(3, 5, 9, 18, 21).map(i => s"q_tpch_q$i")

  /** The curation family, one query per pack: exact dedup (TextOps),
    * near-dup detection (Similarity), the k-core graph loop (Graph), BM25
    * (Curation), decontamination (Corpus) and BPE encoding (Vocab).
    */
  val Curation: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_near", "q_kcore", "q_bm25", "q_decontam", "q_bpe_encode")

  val All: Seq[String] = Sql ++ Curation

  /** The pack (layer) a query belongs to: which `graft.queries.*.defs`
    * list declares it.
    */
  private val packs: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "Pipeline" -> Q.Pipeline.defs, "TextOps" -> Q.TextOps.defs,
    "Similarity" -> Q.Similarity.defs, "Graph" -> Q.Graph.defs,
    "Curation" -> Q.Curation.defs, "Corpus" -> Q.Corpus.defs, "Vocab" -> Q.Vocab.defs)

  def packOf(q: String): String =
    packs.collectFirst { case (p, defs) if defs.exists(_.name == q) => p }
      .getOrElse(throw new IllegalStateException(s"$q is in none of the measured packs"))
}

/** Committed per-query expectations: `name rows digest columns` lines. */
object Expectations {
  def load(path: String): Map[String, Digest.Result] =
    if (path == null || !new java.io.File(path).exists()) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, rows, digest, cols, _) = l.split("\t")
        q -> Digest.Result(rows.toLong, digest, cols)
      }.toMap

  def check(q: String, got: Digest.Result, expected: Map[String, Digest.Result]): Unit = {
    val want = expected.getOrElse(q, throw new IllegalStateException(s"no expectation for $q"))
    require(got == want, s"$q result differs: got $got, expected $want")
  }

  def write(path: String, got: collection.Map[String, Digest.Result]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try got.foreach { case (q, r) =>
      w.println(s"$q\t${r.rows}\t${r.digest}\t${r.columns}\tengine")
    }
    finally w.close()
  }
}
