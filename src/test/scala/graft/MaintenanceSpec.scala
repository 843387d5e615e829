package graft

import java.nio.file.Files

import graft.sources.{DataQuality, Maintenance}
import graft.streaming.BatchStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaintenanceSpec extends AnyFunSuite with SharedSpark {

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))

  test("schema evolution: mergeSchema reads old and new file generations as one table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evolve").toString
    // generation 1: (id, v)
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.mode("append").parquet(dir)
    // generation 2 adds a column
    Seq((3L, 3.0, "x")).toDF("id", "v", "tag").write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v", "tag"))
    val rows = merged.orderBy("id")
      .select("id", "tag").as[(Long, Option[String])].collect().toSeq
    // old-generation rows surface the new column as NULL
    assert(rows == Seq((1L, None), (2L, None), (3L, Some("x"))))
  }

  test("upsert replaces matched keys, inserts new ones, passes the rest through") {
    import spark.implicits._
    val existing = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "tag", "v")
    val updates = Seq((2L, "B", 20.0), (9L, "z", 9.0)).toDF("id", "tag", "v")
    val merged = Maintenance.upsert(existing, updates, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(merged == Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0), (9L, "z", 9.0)))
    intercept[IllegalArgumentException](Maintenance.upsert(existing, updates, Seq.empty))
  }

  test("data-quality audit computes all checks in one pass and gates correctly") {
    val events = Tables.events(spark, sf)
    val good = Seq(
      DataQuality.unique("event_id"),
      DataQuality.nullRate("event_type", 0.0),
      DataQuality.inRange("value", -1e6, 1e6),
      DataQuality.minRows(100))
    val report = DataQuality.audit(events, good)
    assert(report.count() == 4)
    assert(report.filter(!col("passed")).count() == 0)
    assert(DataQuality.passes(events, good))

    val bad = Seq(
      DataQuality.unique("user_id"),        // many events per user → fails
      DataQuality.inRange("value", 0, 1))   // values exceed 1 → fails
    val badReport = DataQuality.audit(events, bad).collect()
    assert(badReport.forall(!_.getAs[Boolean]("passed")))
    assert(!DataQuality.passes(events, bad))
  }

  test("an empty snapshot FAILS null-metric checks instead of vacuously passing") {
    val empty = Tables.events(spark, sf).filter(col("event_id") < 0)
    val checks = Seq(
      DataQuality.nullRate("event_type", 0.0), // avg over 0 rows → NULL → fail
      DataQuality.inRange("value", -1e6, 1e6)) // sum over 0 rows → NULL → fail
    assert(!DataQuality.passes(empty, checks))
    val report = DataQuality.audit(empty, checks).collect()
    assert(report.forall(!_.getAs[Boolean]("passed")))
    intercept[IllegalArgumentException](DataQuality.audit(empty, Seq.empty))
  }

  test("hash split is disjoint, complete, near-ratio, and stable under repartition") {
    val events = Tables.events(spark, sf)
    val (train, hold) = graft.sources.Splits.hashSplit(events, "event_id", 80.0)
    val nTrain = train.count(); val nHold = hold.count()
    assert(nTrain + nHold == events.count())
    assert(train.join(hold, "event_id").count() == 0, "splits must be disjoint")
    val ratio = nTrain.toDouble / (nTrain + nHold)
    assert(math.abs(ratio - 0.8) < 0.05, s"ratio $ratio too far from 0.8")
    // stability: same rows land on the same side regardless of partitioning
    val (train2, _) = graft.sources.Splits.hashSplit(events.repartition(7), "event_id", 80.0)
    assert(train.select("event_id").exceptAll(train2.select("event_id")).isEmpty)
  }

  test("unique() ignores nulls (nullRate polices those)") {
    import spark.implicits._
    val df = Seq(Some(1L), Some(2L), None, None).toDF("v")
    assert(DataQuality.passes(df, Seq(DataQuality.unique("v"))))
    val dup = Seq(Some(1L), Some(1L), None).toDF("v")
    assert(!DataQuality.passes(dup, Seq(DataQuality.unique("v"))))
  }

  private def allParquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
  }

  test("corpus maintenance: snapshot-identical, file count collapses, replay stays a no-op (round 15)") {
    import spark.implicits._
    import graft.streaming.IncrementalCorpus
    val base = Files.createTempDirectory("graft_maint_corpus").toString
    val docs = Tables.documents(spark, sf)
    // multi-partition batches → task-count files per store partition,
    // the fan-out the maintenance step exists to collapse
    val batches = (0 until 3).map(i =>
      docs.filter(col("doc_id") % 3 === i).repartition(4))
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalCorpus.ingestBatch(b, i.toLong, base)
    }
    def snap = IncrementalCorpus.snapshot(spark, base)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val before = snap
    val filesBefore = Seq("pairs", "dedges", "flags", "bench", "benchsh", "raw")
      .map(d => allParquetFiles(s"$base/$d").size).sum
    IncrementalCorpus.maintain(spark, base)
    val filesAfter = Seq("pairs", "dedges", "flags", "bench", "benchsh", "raw")
      .map(d => allParquetFiles(s"$base/$d").size).sum
    assert(filesAfter < filesBefore,
      s"maintenance must collapse files ($filesBefore → $filesAfter)")
    assert(snap == before, "maintenance must not change the snapshot")
    // both tiered stores folded their append batches into bucketed tiers
    assert(IncrementalCorpus.hubStoreOf(base).watermark(spark) == 2L)
    assert(graft.streaming.StreamingDedup.bandStoreOf(s"$base/store")
      .watermark(spark) == 2L)
    // replay of a maintained batch: dynamic overwrite rewrites its own
    // partitions with identical recomputed rows — snapshot unchanged
    IncrementalCorpus.ingestBatch(batches(1), 1L, base)
    assert(snap == before, "replay after maintenance must be a no-op")
    // and the maintained stores still accept + survive a SECOND cycle
    IncrementalCorpus.maintain(spark, base)
    assert(snap == before)
  }

  test("batch-store compaction crash window: readers resolve __prev; next run recovers (round 15)") {
    import spark.implicits._
    import graft.streaming.IncrementalDau
    val tmp = Files.createTempDirectory("graft_maint_crash").toString
    def acts(rows: (Long, Int)*) = rows.toDF("user_id", "day")
      .select(col("user_id"),
        timestamp_seconds(col("day") * 86400L + 3600L).as("ts"))
    IncrementalDau.commitBatch(acts((1L, 100), (2L, 100)), 0L, s"$tmp/state")
    IncrementalDau.commitBatch(acts((2L, 101), (3L, 102)), 1L, s"$tmp/state")
    val before = IncrementalDau.readRows(spark, s"$tmp/state")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(IncrementalDau.maintain(spark, s"$tmp/state"))
    assert(IncrementalDau.readRows(spark, s"$tmp/state")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet == before)
    // per-batch partitions collapsed to one file each, partition layout kept
    assert(parquetFiles(s"$tmp/state/batch_id=0").length == 1)
    assert(parquetFiles(s"$tmp/state/batch_id=1").length == 1)
    // simulate a compaction that died between its two publish renames
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/state"),
      new org.apache.hadoop.fs.Path(s"$tmp/state__prev")))
    // readers resolve the surviving __prev — no silent empty store
    assert(IncrementalDau.readRows(spark, s"$tmp/state")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet == before,
      "crash-window reads must resolve __prev")
    // the next maintenance run restores the committed store first
    assert(IncrementalDau.maintain(spark, s"$tmp/state"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/state")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/state__prev")))
    assert(IncrementalDau.readRows(spark, s"$tmp/state")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet == before)
    // replay of a compacted batch stays a no-op
    IncrementalDau.commitBatch(acts((1L, 100), (2L, 100)), 0L, s"$tmp/state")
    assert(IncrementalDau.readRows(spark, s"$tmp/state").count() == 4)
    // an absent store is a quiet no-op, not a crash
    assert(!IncrementalDau.maintain(spark, s"$tmp/never_written"))

    // the WRITER-continues window (round-15 review finding): a stream
    // that resumes after the mid-publish crash must not mask __prev
    // behind a fresh one-batch store — the writer merges it back first
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/state"),
      new org.apache.hadoop.fs.Path(s"$tmp/state__prev")))
    IncrementalDau.commitBatch(acts((9L, 200)), 2L, s"$tmp/state")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/state__prev")),
      "the writer must merge the surviving __prev back before landing")
    assert(IncrementalDau.readRows(spark, s"$tmp/state")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      == before + ((9L, 200)),
      "history + the new batch must both survive")
  }

  test("masked __prev (crash mid-recovery-merge): reads union the missing batches (round 15)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_maint_mask").toString
    // committed dir holds only batch 2; __prev holds batches 0-1 (the
    // state a crash inside the recovery merge can leave)
    Seq((1L, 10L)).toDF("k", "v").withColumn("batch_id", lit(2L))
      .write.partitionBy("batch_id").parquet(s"$tmp/s")
    Seq((2L, 20L)).toDF("k", "v").withColumn("batch_id", lit(0L))
      .write.mode("append").partitionBy("batch_id").parquet(s"$tmp/s__prev")
    Seq((3L, 30L)).toDF("k", "v").withColumn("batch_id", lit(1L))
      .write.mode("append").partitionBy("batch_id").parquet(s"$tmp/s__prev")
    val got = BatchStore.read(spark, s"$tmp/s").get
      .select("k", "v", "batch_id").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 10L, 2L), (2L, 20L, 0L), (3L, 30L, 1L)),
      s"masked __prev batches must surface, got $got")
    // a batch id present in BOTH keeps the committed copy, no dup rows
    Seq((4L, 40L)).toDF("k", "v").withColumn("batch_id", lit(2L))
      .write.mode("append").partitionBy("batch_id").parquet(s"$tmp/s__prev")
    val got2 = BatchStore.read(spark, s"$tmp/s").get
      .filter(col("batch_id") === 2L)
      .select("k").as[Long].collect().toSeq
    assert(got2 == Seq(1L), s"committed copy must win for a shared batch id, got $got2")
    // recovery converges to one committed tree with all batches
    BatchStore.recover(spark, s"$tmp/s")
    assert(!new java.io.File(s"$tmp/s__prev").exists())
    val after = BatchStore.read(spark, s"$tmp/s").get
      .select("k", "v", "batch_id").as[(Long, Long, Long)].collect().toSet
    assert(after == Set((1L, 10L, 2L), (2L, 20L, 0L), (3L, 30L, 1L)))
  }

  test("index/cdc/substr store maintenance preserves each snapshot (round 15)") {
    import graft.streaming.{IncrementalCdc, IncrementalIndex, IncrementalSubstr}
    val tmp = Files.createTempDirectory("graft_maint_idx").toString
    val docs = Tables.documents(spark, sf)
    // index store
    IncrementalIndex.commitBatch(docs.filter(col("doc_id") % 2 === 0), 0L, s"$tmp/idx")
    IncrementalIndex.commitBatch(docs.filter(col("doc_id") % 2 =!= 0), 1L, s"$tmp/idx")
    val idxBefore = IncrementalIndex.snapshot(spark, s"$tmp/idx")
      .collect().map(_.toString).sorted.toSeq
    assert(IncrementalIndex.maintain(spark, s"$tmp/idx"))
    assert(IncrementalIndex.snapshot(spark, s"$tmp/idx")
      .collect().map(_.toString).sorted.toSeq == idxBefore)
    // cdc store
    val ev = Tables.events(spark, sf)
    IncrementalCdc.commitBatch(ev.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value")), 0L, s"$tmp/cdc")
    IncrementalCdc.commitBatch(ev.filter(col("event_id") % 2 =!= 0)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value")), 1L, s"$tmp/cdc")
    val cdcBefore = IncrementalCdc.snapshot(spark, s"$tmp/cdc")
      .collect().map(_.toString).sorted.toSeq
    assert(IncrementalCdc.maintain(spark, s"$tmp/cdc"))
    assert(IncrementalCdc.snapshot(spark, s"$tmp/cdc")
      .collect().map(_.toString).sorted.toSeq == cdcBefore)
    // substr store
    IncrementalSubstr.commitBatch(docs.limit(60), 0L, s"$tmp/sub")
    IncrementalSubstr.commitBatch(docs.filter(col("doc_id") >= 60).limit(60), 1L, s"$tmp/sub")
    val subBefore = IncrementalSubstr.snapshot(spark, s"$tmp/sub")
      .collect().map(_.toString).sorted.toSeq
    assert(IncrementalSubstr.maintain(spark, s"$tmp/sub"))
    assert(IncrementalSubstr.snapshot(spark, s"$tmp/sub")
      .collect().map(_.toString).sorted.toSeq == subBefore)
  }

  /** Schema and rows of a frame, rows as sorted strings. */
  private def contents(df: org.apache.spark.sql.DataFrame) =
    (df.schema, df.collect().map(_.toString).sorted.toSeq)

  test("store open: the footer schema reads every corpus store as inference does") {
    import graft.streaming.IncrementalCorpus
    val base = Files.createTempDirectory("graft_open_parity").toString
    val docs = Tables.documents(spark, sf)
    // the last batch redelivers texts of the first under new ids, so
    // dedges/ holds exact-dup edges
    val batches = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i)) :+
      docs.filter(col("doc_id") < 60).withColumn("doc_id", col("doc_id") + 1000000L)
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalCorpus.ingestBatch(b, i.toLong, base)
    }
    IncrementalCorpus.maintain(spark, base)
    // six batch stores and the two tiered stores' compacted tiers hold
    // data; maintain emptied the tiered stores' append tiers
    val withData = Seq("raw", "bench", "benchsh", "pairs", "dedges", "flags",
      "hubs_bucketed", "store_bucketed")
    withData.foreach { d =>
      val got = BatchStore.open(spark, s"$base/$d")
      assert(got.isDefined, s"$d: no data file found")
      assert(contents(got.get) == contents(spark.read.parquet(s"$base/$d")),
        s"$d: footer-schema open differs from an inferred read")
    }
    Seq("hubs", "store").foreach { d =>
      assert(BatchStore.open(spark, s"$base/$d").isEmpty, s"$d: emptied tier opened")
    }
    assert(BatchStore.open(spark, s"$base/never_written").isEmpty)
    // the compaction crash window: only raw__prev survives
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val want = contents(spark.read.parquet(s"$base/raw"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$base/raw"),
      new org.apache.hadoop.fs.Path(s"$base/raw__prev")))
    assert(contents(BatchStore.read(spark, s"$base/raw").get) == want,
      "the __prev window must read as the committed store did")
  }

  test("store open: a file Spark did not write reads through inference") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft_open_foreign").toString
    val conf = spark.sessionState.newHadoopConf()
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 k; required binary s (UTF8); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/batch_id=3/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("k", 1L).append("s", "a"))
      w.write(g.newGroup().append("k", 2L).append("s", "b"))
    } finally w.close()
    val got = BatchStore.open(spark, dir)
    assert(got.isDefined)
    assert(contents(got.get) == contents(spark.read.parquet(dir)))
    assert(got.get.select("k", "s", "batch_id").collect().map(_.toString).sorted.toSeq ==
      Seq("[1,a,3]", "[2,b,3]"))
  }
}
