package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool (optimization rounds): dump `.explain("formatted")` for every
  * declared query — or a comma-separated subset — to one file per query,
  * so plan shapes (Exchange count, join strategy, PushedFilters) can be
  * diffed before/after an optimization without re-running anything.
  *
  * Usage: runMain graft.ExplainAll <sfDir> <outDir> [names]
  *
  * Queries whose construction EXECUTES work eagerly (the streaming /
  * incremental fixtures) still produce their final frame's plan; the
  * micro-batch plans inside them are audited by their own specs.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
        Files.write(Paths.get(outDir, s"$name.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"[explain] $name")
      }
    spark.stop()
  }
}
