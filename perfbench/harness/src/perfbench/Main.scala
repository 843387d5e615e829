package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One operation's wall seconds, and whether it succeeded. */
final case class Timed(seconds: Double, ok: Boolean)

/** What a workload gets: the session, the span recorder, its inputs and
  * the measurement budget. `failures` collects every failed operation or
  * failed output check; a failure is never dropped from the counts.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
    val seconds: Double, val dataDir: String, val workDir: String, val cpus: Int) {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def fail(what: String): Unit = failures.synchronized(failures += what)

  /** Run one operation; an exception counts it as failed. Returns its
    * wall seconds either way, so a failed operation still uses the
    * measurement budget; callers keep only successful ones as samples.
    */
  def op(what: String)(body: => Unit): Timed = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); false }
    Timed((System.nanoTime() - t0) / 1e9, ok)
  }
}

trait Workload {
  /** Inputs, fixtures and warm-up; all of it is counted in setup_s. */
  def setup(ctx: Ctx): Map[String, Double]
  /** The closed measured loop. */
  def run(ctx: Ctx): Unit
  /** Output checks and the end-to-end metrics, outside timed spans. */
  def finish(ctx: Ctx): Map[String, Any]
}

/** Statistics over successful samples. No samples (every operation
  * failed) gives NaN, which the runner reports as an unmeasured metric
  * rather than as a fast one.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** JSON for the result, span and self-test files. NaN (a metric with no
  * successful sample) is written as the bare token Python's json reads.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
  def render(v: Any): String = mapper.writeValueAsString(v)
}

/** Benchmark harness entry point. Builds one session with exactly the
  * settings of `graft.Bench` (local[cpus], shuffle partitions = cpus,
  * UTC, nanosAsLong, UI off), runs one workload and writes its raw
  * result (and, when tracing, its spans) as JSON for `run.py`.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *                  <workDir> <resultJson> <launchEpochMs>
  */
object Main {
  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(name: String): Workload = name match {
    case "report_etl" => new ReportEtl
    case "query_mix" => new QueryMix
    case "corpus_stream" => new CorpusStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  /** Loads the classes the workloads use, for the JVM's class-data
    * archive (see run.py): every workload's set-up in one JVM, nothing
    * measured. Exits the JVM, which then writes the archive.
    */
  def train(cpus: Int, dataDir: String, workDir: String): Unit = {
    val spark = session(cpus, workDir)
    Seq("report_etl", "query_mix", "corpus_stream").foreach { w =>
      workload(w).setup(new Ctx(spark, new Trace(false, "train"), 1L, 0.0, dataDir,
        s"$workDir/$w", cpus))
    }
    spark.stop()
    sys.exit(0)
  }

  def main(args: Array[String]): Unit = {
    val Array(wname, seedS, secondsS, traceS, dataDir, workDir, resultPath, launchMs) = args
    val cpus = Runtime.getRuntime.availableProcessors()
    if (wname == "train") train(cpus, dataDir, workDir)
    val wl = workload(wname)
    val trace = new Trace(traceS == "1", s"$wname-$seedS-${System.currentTimeMillis()}")
    val tSession = System.nanoTime()
    val spark = session(cpus, workDir)
    trace.attach(spark.sparkContext)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val ctx = new Ctx(spark, trace, seedS.toLong, secondsS.toDouble, dataDir, workDir, cpus)
    val setupParts = wl.setup(ctx)
    // setup_s runs from process launch (the JVM start itself included)
    // to the end of warm-up; nothing after this point is set-up
    val setupS = (System.currentTimeMillis() - launchMs.toLong) / 1e3
    val gcAtReady = gcSeconds()
    wl.run(ctx)
    val gcMeasured = gcSeconds() - gcAtReady
    val out = wl.finish(ctx)
    if (trace.on) trace.writeJsonLines(s"$workDir/spans.jsonl")
    val result = Map(
      "workload" -> wname, "seed" -> seedS.toLong, "cpus" -> cpus,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version, "java_version" -> sys.props("java.version"),
      "setup_s" -> setupS,
      "setup" -> (setupParts + ("session_s" -> sessionS)),
      "attempted" -> ctx.attempted, "failures" -> ctx.failures.toList,
      "jvm_gc_s" -> gcMeasured) ++ out
    val w = new java.io.PrintWriter(resultPath, "UTF-8")
    try w.println(Json.render(result)) finally w.close()
    spark.stop()
  }
}
