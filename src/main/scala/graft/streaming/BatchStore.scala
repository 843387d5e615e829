package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** The `batch_id=N` store protocol every incremental operator lands its
  * micro-batches through: one partition per micro-batch under `dir`,
  * written by dynamic partition overwrite (the idempotence key — a
  * replay rewrites ONLY its own partition with the identical recomputed
  * rows), plus the `dir__prev` crash window [[compact]] can leave.
  *
  * Crash protocol: [[compact]] stages the rewrite at `dir__tmp`, renames
  * the committed store to `dir__prev`, publishes, then deletes `__prev`
  * — the [[TieredStore]] bucketed-tier discipline. A crash anywhere
  * leaves either the committed store or its recoverable `__prev`:
  * [[read]] resolves both, [[recover]] merges them, and [[land]]
  * recovers first. Correct under POSIX and HDFS rename semantics (each
  * attempt stages a complete tree under a fresh `__tmp`). Filesystem
  * calls go through the Hadoop FileSystem owning `dir`, so local disk,
  * HDFS and s3a URIs behave alike.
  *
  * Opening: every state-store read, here and in [[TieredStore]], goes
  * through [[open]], which takes the schema Spark wrote into the
  * store's own parquet footers instead of letting `spark.read.parquet`
  * infer it. Inference is a one-task Spark job per read that re-learns
  * that same footer schema; reading it on the driver starts no job, and
  * since it comes from disk it survives a restart and follows any
  * rewrite of the store.
  */
object BatchStore {

  private val Prefix = "batch_id="

  /** The footer key under which Spark records a file's row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** The `batch_id=` children of `dir`; an absent dir has none. */
  private def batchDirs(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter(_.getPath.getName.startsWith(Prefix))
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** One parquet data file in `dir` or at most `levels` partition
    * directories below it (the stores use two: `batch_id=`, `sb=`).
    * Names starting with `_` or `.` are skipped, as Spark skips them.
    */
  private def dataFile(fs: FileSystem, dir: Path, levels: Int): Option[Path] = {
    val visible =
      try fs.listStatus(dir).toSeq.filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      } catch { case _: java.io.FileNotFoundException => Seq.empty }
    val (dirs, files) = visible.partition(_.isDirectory)
    files.map(_.getPath).find(_.getName.endsWith(".parquet")).orElse(
      if (levels == 0) None
      else dirs.iterator.flatMap(d => dataFile(fs, d.getPath, levels - 1)).nextOption())
  }

  /** The store at `dir` as a frame, its partition columns discovered
    * from the directory names — None when `dir` holds no data file
    * (absent, or emptied by a compaction), without calling Spark. See
    * the object doc: the data schema is the one Spark recorded in a
    * data file's footer, the one its own inference would read with
    * `mergeSchema` off. A file Spark did not write carries no such
    * record and falls back to `spark.read.parquet`.
    */
  def open(spark: SparkSession, dir: String): Option[DataFrame] =
    openPaths(spark, dir, Seq(dir))

  /** [[open]] over partition directories `paths` of the store at `root`. */
  private def openPaths(spark: SparkSession, root: String,
      paths: Seq[String]): Option[DataFrame] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(root).getFileSystem(conf)
    paths.iterator.flatMap(p => dataFile(fs, new Path(p), 2)).nextOption().map { f =>
      val meta = {
        val in = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try in.getFooter.getFileMetaData.getKeyValueMetaData
        finally in.close()
      }
      val reader =
        if (paths == Seq(root)) spark.read else spark.read.option("basePath", root)
      Option(meta.get(SparkSchemaKey))
        .map(s => reader.schema(DataType.fromJson(s).asInstanceOf[StructType]))
        .getOrElse(reader)
        .parquet(paths: _*)
    }
  }

  /** Path of batch `batchId`'s partition under `dir`. */
  def partition(dir: String, batchId: Long): String = s"$dir/$Prefix$batchId"

  /** Batch ids whose partitions are on disk under `dir` (committed tree
    * only); an absent dir reads as none, not a FileNotFoundException.
    */
  def landedIds(spark: SparkSession, dir: String): Seq[Long] =
    batchDirs(fsOf(spark, dir), new Path(dir))
      .map(_.getPath.getName.stripPrefix(Prefix).toLong)

  /** True when `dir` or its `__prev` holds at least one batch partition.
    * A dir that exists but holds no batch (crash debris, a manual
    * restore) does not count: existence alone is too weak for the
    * layout guards that rely on this.
    */
  def hasBatches(spark: SparkSession, dir: String): Boolean = {
    val fs = fsOf(spark, dir)
    Seq(dir, dir + "__prev").exists(d => batchDirs(fs, new Path(d)).nonEmpty)
  }

  /** Land `df` as the `batch_id=batchId` partition of `dir` by dynamic
    * partition overwrite. Recovery first: a [[compact]] that crashed
    * mid-publish leaves the only copy of history at `dir__prev`, and
    * writing without merging it back would mask it behind a fresh
    * one-batch store that the next recovery would then discard. One
    * `exists` probe per commit on the clean path.
    */
  def land(df: DataFrame, batchId: Long, dir: String): Unit = {
    recover(df.sparkSession, dir)
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(dir)
  }

  /** Recover `dir` from a [[compact]] crash window. A missing committed
    * dir restores the surviving `__prev` wholesale. When BOTH exist — a
    * writer re-created the store after a mid-publish crash — batch
    * partitions are the unit of truth: every `__prev` batch absent from
    * the committed dir is moved in, then `__prev` is dropped. A batch id
    * present in both keeps the committed copy (replay recomputes
    * identical partition content, so the two agree). Idempotent: a crash
    * mid-merge leaves a smaller `__prev` that the next recovery (or
    * [[read]]'s union) resolves the same way.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val prev = new Path(dir + "__prev")
    val fs = fsOf(spark, dir)
    if (!fs.exists(prev)) return
    if (!fs.exists(p)) {
      require(fs.rename(prev, p), s"batch-store recovery could not restore $prev")
      return
    }
    batchDirs(fs, prev).foreach { st =>
      val dst = new Path(p, st.getPath.getName)
      if (!fs.exists(dst))
        require(fs.rename(st.getPath, dst),
          s"batch-store recovery could not merge ${st.getPath}")
    }
    fs.delete(prev, true)
    ()
  }

  /** The store with its `batch_id` column, resolving every [[compact]]
    * crash window — None only when nothing exists. Committed dir
    * missing → read the surviving `__prev`. Both present (a post-crash
    * writer, or a crash mid [[recover]] merge) → union the `__prev`
    * batches the committed dir lacks, so no window serves a truncated
    * history silently. One `exists` probe on the hot path.
    */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    val committed = open(spark, dir)
    val prev = new Path(dir + "__prev")
    val fs = fsOf(spark, dir)
    if (!fs.exists(prev)) committed
    else committed match {
      case None => open(spark, prev.toString)
      case Some(df) =>
        val have = batchDirs(fs, new Path(dir)).map(_.getPath.getName).toSet
        val missing = batchDirs(fs, prev).map(_.getPath)
          .filterNot(q => have(q.getName)).map(_.toString)
        openPaths(spark, prev.toString, missing)
          .map(m => df.unionByName(m.select(df.columns.map(col).toSeq: _*)))
          .orElse(committed)
    }
  }

  /** In-place small-file compaction: every batch partition is rewritten
    * as ONE zstd file sorted on `keys` (tight row-group stats for the
    * snapshot's joins), the `batch_id` layout preserved so a replayed
    * batch still overwrites exactly its own partition with identical
    * rows. Streaming stores otherwise accumulate task-count files per
    * micro-batch forever, and a snapshot opens O(batches × tasks) of
    * them. Publish is stage-then-swap with recovery first (see the
    * object doc). Offline step: run it between micro-batches or
    * snapshots, not concurrently with a commit. Returns false for an
    * absent or empty store.
    */
  def compact(spark: SparkSession, dir: String, keys: Seq[String]): Boolean = {
    val p = new Path(dir)
    val prev = new Path(dir + "__prev")
    val tmp = new Path(dir + "__tmp")
    val fs = fsOf(spark, dir)
    recover(spark, dir)
    val df = open(spark, dir) match {
      case Some(d) => d
      case None => return false
    }
    fs.delete(tmp, true) // stale staging from an earlier failed run
    df.repartition(col("batch_id")) // whole batches per task → 1 file/batch
      .sortWithinPartitions((col("batch_id") +: keys.map(col)): _*)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .partitionBy("batch_id").parquet(tmp.toString)
    require(fs.rename(p, prev),
      s"batch-store compaction could not stage the previous store aside: $p")
    require(fs.rename(tmp, p), s"batch-store compaction could not publish $tmp")
    fs.delete(prev, true)
    true
  }
}
