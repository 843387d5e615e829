package graft

/** Dev tool: run one declared query with timing, optionally printing the
  * formatted physical plan — the `.explain("formatted")` audit loop
  * (SURVEY.md: iterate until the plan is the one you'd want).
  *
  * Usage: runMain graft.RunQ <query_name> <sfDir> [explain]
  */
object RunQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession()
    if (args.contains("explain"))
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    // warm run excluded? No: single timed run, matches Bench methodology:
    // the query FUNCTION runs inside the timed region (fixture-backed
    // streaming queries do their work eagerly in the call), and
    // toRdd.count() executes the returned plan unpruned.
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
    println(f"RESULT $name rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    spark.stop()
  }
}
