package graft

import org.apache.spark.sql.SparkSession

/** The local session every command-line main runs on: `local[cpus]`
  * with cpus from `SPARK_GRAFT_CPUS` (default 4), shuffle partitions =
  * cpus unless overridden, UTC session time, `nanosAsLong` (older
  * fixture generations store events.ts as TIMESTAMP(NANOS)), no UI,
  * WARN logging.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def apply(shufflePartitions: String = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
