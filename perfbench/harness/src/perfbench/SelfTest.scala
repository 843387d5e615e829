package perfbench

import graft.SparkEntry

/** The harness's own checks of its attribution, run by `selftest.py`:
  *
  *  1. a known call (one TPC-H query, warmed first) gets the same exact
  *     job, stage and task counts on every repetition, read after the
  *     listener is drained;
  *  2. a job submitted from a thread started inside a span is attributed
  *     to that span (the thread inherits the span's local property), and
  *     not to a span that is open on another thread when the event lands;
  *  3. nesting is recorded: a child span's parent is the enclosing span
  *     and its duration fits inside the parent's.
  *
  * It also prints `Digest.canonDouble` of the given doubles, so the caller
  * can hold its own twin of the canonical form to the JVM's.
  *
  *   perfbench.SelfTest <dataDir> <workDir> <double>...
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, workDir) = args.take(2)
    val spark = Main.session(Runtime.getRuntime.availableProcessors(), workDir)
    val trace = new Trace(on = true, runId = "selftest")
    trace.attach(spark.sparkContext)
    def known(): Unit = SparkEntry.queries("q_tpch_q3")(spark, dataDir).queryExecution.toRdd.count()
    known()
    (1 to 3).foreach(_ => trace("selftest", "known")(known()))
    trace.drain()
    val counts = trace.all.filter(_.name == "known").map(s => (s.jobs, s.stages, s.tasks))
    require(counts.size == 3 && counts.distinct.size == 1 && counts.head._1 > 0,
      s"known call counts differ between repetitions: $counts")

    def action(): Unit = { spark.range(1000).selectExpr("sum(id)").collect(); () }
    trace("selftest", "direct")(action())
    trace("selftest", "parent") {
      val t = new Thread(() => action())
      t.start()
      trace("selftest", "child")(Thread.sleep(5))
      t.join()
    }
    trace("selftest", "idle")(Thread.sleep(5))
    trace.drain()
    val spans = trace.all
    val parent = spans.find(_.name == "parent").get
    val child = spans.find(_.name == "child").get
    val idle = spans.find(_.name == "idle").get
    val direct = spans.find(_.name == "direct").get
    require(direct.jobs > 0 && parent.jobs == direct.jobs,
      s"thread jobs not attributed to their span: ${parent.jobs} vs ${direct.jobs} direct")
    require(child.jobs == 0 && idle.jobs == 0, "job attributed to a span that did not submit it")
    require(child.parent == parent.id && child.durNs <= parent.durNs, "nesting not recorded")
    spark.stop()
    println(Json.render(Map("selftest" -> "ok", "known_jobs" -> counts.head._1,
      "known_stages" -> counts.head._2, "known_tasks" -> counts.head._3,
      "canon" -> args.drop(2).map(x => Digest.canonDouble(x.toDouble)).toSeq)))
  }
}
