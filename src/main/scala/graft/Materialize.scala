package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Policy point for the eager plan-boundary materializations
  * (`localCheckpoint(true)`) the hot query paths rely on to stop
  * Catalyst re-planning a multi-consumer subtree once per consumer
  * (guide §7.2 / §3.3 — materialize to truncate the plan).
  *
  * Why a knob (round 16, VERDICT item 4): localCheckpoint blocks are
  * pinned at MEMORY_AND_DISK on the executors that computed them. For
  * compact frames (pair counts, id edges) that is always right, but
  * the pair-stats kernel's kept-shingle frame is the corpus's token
  * stream — at 100 TB that is a real storage-pool commitment, and a
  * lost executor kills the truncated lineage. A cluster deployment
  * sets `spark.graft.materialize.storageLevel` (e.g. DISK_ONLY to keep
  * the storage pool out of execution memory's way, or swaps the whole
  * boundary for a reliable checkpoint / cached table — the documented
  * policy for every localCheckpoint site in this repo, not just the
  * ones routed through this helper). Local-mode defaults stay
  * MEMORY_AND_DISK — identical blocks, identical bench behaviour:
  * the default path calls the same single-arg localCheckpoint as
  * before.
  */
object Materialize {

  val StorageLevelConf = "spark.graft.materialize.storageLevel"

  /** Eagerly materialize a multi-consumer boundary at the configured
    * storage level. Results are byte-identical at any level — the knob
    * only moves WHERE the materialized rows live.
    */
  def frame(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption(StorageLevelConf) match {
      case None => df.localCheckpoint(true)
      case Some(lvl) => df.localCheckpoint(true, StorageLevel.fromString(lvl))
    }

  /** Drop the blocks behind a materialized frame — one [[frame]] or
    * `localCheckpoint` returned, or a `persist`ed one — once nothing
    * reads it again. `Dataset.unpersist` does not reach a local
    * checkpoint's blocks: they are an RDD's blocks, not a cached query.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }
}
