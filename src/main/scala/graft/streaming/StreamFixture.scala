package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

/** The self-contained stream run behind the incremental operators'
  * declared queries: land `input` as `nFiles` parquet files in a fresh
  * temp dir, drain them as real micro-batches (one file per trigger)
  * through `commit(batch, batchId, stateDir)` via foreachBatch, and
  * return `result(stateDir)` localCheckpointed so it no longer reads
  * from the temp tree. The query is stopped and the whole tree deleted
  * in `finally` — a commit that throws leaves no running query and no
  * files behind (bench and verify call these repeatedly).
  */
object StreamFixture {

  def run(input: DataFrame, nFiles: Int)(
      commit: (DataFrame, Long, String) => Unit)(
      result: String => DataFrame): DataFrame = {
    val spark = input.sparkSession
    val tmp = Files.createTempDirectory("graft_stream_fixture")
    try {
      input.repartition(nFiles).write.parquet(s"$tmp/in")
      // the schema Spark wrote into the files' footers: no inference job
      val schema = BatchStore.open(spark, s"$tmp/in")
        .getOrElse(throw new IllegalStateException(s"no input landed in $tmp/in")).schema
      val q = StreamingDedup.docsStream(spark, s"$tmp/in", schema)
        .writeStream
        .option("checkpointLocation", s"$tmp/ck")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          commit(batch, batchId, s"$tmp/state")
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      graft.Materialize.frame(result(s"$tmp/state"))
    } finally deleteTree(tmp)
  }

  private def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { scala.util.Try(Files.deleteIfExists(p)); () })
    finally walk.close()
  }
}
