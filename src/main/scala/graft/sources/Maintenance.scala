package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Table-maintenance utilities for long-lived parquet datasets — the
  * operational side of a 100-TB pipeline that query code alone doesn't
  * cover.
  */
object Maintenance {

  /** Compact a many-small-files parquet dataset into `targetFiles`
    * range-clustered files sorted on `keys` (small-file compaction:
    * streaming/batch appends leave thousands of KB-sized files whose
    * open/footer overhead dominates scans; clustering by the common
    * filter key also tightens min/max row-group statistics so later
    * scans prune better).
    *
    * `codec`: parquet compression for the compacted files — compaction
    * is the natural place to trade write CPU for storage (e.g. land
    * streaming appends as snappy, compact to zstd: ~25-40% smaller on
    * text at 100-TB scale, one-time cost).
    *
    * `partitionCols`: hive-partition columns to PRESERVE through the
    * compaction (e.g. a streaming store's batch_id) — omitting them
    * would demote the partition column to a data column and the next
    * partitioned append to the same dataset would produce a conflicting
    * directory layout. (A `batch_id` store compacts IN PLACE through
    * [[graft.streaming.BatchStore.compact]].)
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      keys: Seq[String], targetFiles: Int, codec: String = "zstd",
      partitionCols: Seq[String] = Nil): Unit = {
    val df = spark.read.parquet(inDir)
    val w = df.repartitionByRange(targetFiles, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("compression", codec)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(outDir)
  }

  /** Compaction with two-dimensional Z-order clustering: rows are
    * range-partitioned and sorted by the Morton interleave of the two
    * (int-binned) keys, so every output file covers a 2-D tile and
    * row-group min/max stats stay tight on BOTH dimensions — scans
    * filtered on either key skip most files, where [[compactParquet]]'s
    * lexicographic sort only prunes on its leading key.
    */
  def compactParquetZOrder(spark: SparkSession, inDir: String, outDir: String,
      keyA: String, keyB: String, targetFiles: Int): Unit = {
    val df = spark.read.parquet(inDir)
    df.withColumn("_zorder", graft.functions.ClusterExprs.zorder2(
        col(keyA).cast("int"), col(keyB).cast("int")))
      .repartitionByRange(targetFiles, col("_zorder"))
      .sortWithinPartitions(col("_zorder"))
      .drop("_zorder")
      .write.mode(SaveMode.Overwrite).parquet(outDir)
  }

  /** MERGE-style upsert: rows of `updates` replace `existing` rows with
    * the same key; unmatched update rows are inserts. One left-anti join
    * (shuffle on the key both sides) + a union — the incremental-refresh
    * primitive for keyed parquet datasets, used with [[publishVersioned]]
    * so readers flip to the merged snapshot atomically. At scale the
    * anti join is key-partitioned like any fact join (AQE handles skew);
    * nothing is collected.
    */
  def upsert(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    updates.unionByName(
      existing.join(updates.select(keys.map(col): _*), keys, "left_anti"))
  }

  private val VersionRe = "v=(\\d+)".r

  /** Versioned publish: every snapshot lands complete in
    * `baseDir/v=NNNNNN`, then a one-line `_CURRENT` pointer file flips to
    * it via an atomic overwrite-rename. Readers ([[readCurrent]]) always
    * resolve a fully-written snapshot:
    *   - data is never renamed or deleted out from under a reader of the
    *     current version (object-store safe: the only "rename" is a
    *     single small pointer object, never an O(data) directory copy);
    *   - a writer crash before the pointer flip leaves an orphan version
    *     dir and the previous snapshot still published — no recovery
    *     step needed, the next publish simply claims the next number;
    *   - old versions are pruned after the flip, keeping `keepVersions`
    *     so in-flight readers of the previous snapshot finish their scan.
    * Returns the published version directory.
    */
  def publishVersioned(df: DataFrame, baseDir: String, keepVersions: Int = 2): String = {
    import org.apache.hadoop.fs.{FileContext, Options, Path}
    require(keepVersions >= 1, "must keep at least the published version")
    val base = new Path(baseDir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val fs = base.getFileSystem(conf)
    fs.mkdirs(base)
    val existing = listVersions(fs, base)
    val next = existing.lastOption.getOrElse(0L) + 1
    val target = new Path(base, f"v=$next%06d")
    val cur = new Path(base, "_CURRENT")
    // remember what readers are currently on BEFORE the flip — the prune
    // below must never delete it, even if never-published orphan dirs
    // (writer crashed before its flip) crowd the newest-K window
    val previous: Option[String] =
      if (fs.exists(cur)) Some(readPointer(fs, cur)) else None
    df.write.mode(SaveMode.Overwrite).parquet(target.toString)
    // pointer flip: write aside, then atomic overwrite-rename of ONE
    // small file (FileContext supports Rename.OVERWRITE; on object
    // stores this is a single PUT — no window with no pointer)
    val tmp = new Path(base, "_CURRENT.tmp")
    val out = fs.create(tmp, true)
    try out.write(target.getName.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(cur.toUri, conf).rename(tmp, cur, Options.Rename.OVERWRITE)
    // prune: drop everything outside the newest keepVersions, EXCEPT the
    // just-published target and the pre-flip pointer target (in-flight
    // readers finish their scan). Orphans age out on later publishes.
    val keepNames = listVersions(fs, base).takeRight(keepVersions)
      .map(v => f"v=$v%06d").toSet ++ previous + target.getName
    listVersions(fs, base).map(v => f"v=$v%06d")
      .filterNot(keepNames)
      .foreach(name => fs.delete(new Path(base, name), true))
    target.toString
  }

  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
      cur: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(cur)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Seq[Long] =
    fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case VersionRe(n) => Some(n.toLong)
        case _ => None
      })
      .sorted

  /** Read the currently-published snapshot under a [[publishVersioned]]
    * base dir by resolving the `_CURRENT` pointer. A missing pointer is
    * an error by design: version dirs without a flipped pointer are
    * unpublished (possibly half-written) and must never become visible,
    * so there is deliberately NO fallback to "the highest version dir".
    */
  def readCurrent(spark: SparkSession, baseDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(base, "_CURRENT")
    require(fs.exists(cur), s"no published version under $baseDir")
    spark.read.parquet(new Path(base, readPointer(fs, cur)).toString)
  }
}
