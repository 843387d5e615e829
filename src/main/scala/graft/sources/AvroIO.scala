package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file source/sink built directly on avro-core's
  * DataFile API (the first-party `spark-avro` module is not on this
  * classpath; the Avro RUNTIME — avro/avro-mapred, shipped with Spark
  * for its internal shuffle/serializer uses — is). Completes the
  * lake-format axis next to parquet scans and the CSV/JSONL/ORC
  * round-trips: Avro is the row-oriented interchange format of Kafka/
  * schema-registry pipelines, the usual LANDING format that a 100-TB
  * ingest compacts into parquet.
  *
  * Shape, deliberately Spark-parallel:
  *  - '''write''': one Avro Object Container File per input partition
  *    (`part-NNNNN.avro`), written executor-side through the Hadoop
  *    FileSystem resolved from the path — N partitions write N files
  *    concurrently, the same layout contract as every Spark file sink.
  *    Deflate-codec blocks with sync markers, so downstream readers can
  *    split on block boundaries. Filenames are keyed by partition id
  *    ONLY and created with overwrite=true: a retried task rewrites its
  *    own file idempotently (same rows — the input partition is
  *    deterministic) rather than leaking attempt-suffixed duplicates.
  *  - '''read''': list `part-*.avro`, one input partition per file,
  *    each decoded with DataFileReader over [[FsInput]] (seekable,
  *    any Hadoop filesystem). Avro files are self-describing: the
  *    schema rides in the container header, so the read costs zero
  *    inference passes; the caller may also pass the expected schema
  *    to get a declared-read contract (mismatch fails fast).
  *
  * Type coverage is the engine's nested-output surface: the scalar
  * primitives, struct (Avro record), and array — nullable fields map
  * to `union {null, T}`. Binary/map/decimal are out of declared scope
  * (the reference emits none; extend the two `toAvro`/`fromAvro`
  * matches to add them).
  *
  * Executor-side Hadoop conf is the DRIVER's conf, broadcast via
  * [[org.apache.spark.util.SerializableConfiguration]] (round 12) —
  * clusters with custom FS settings (s3a credentials providers,
  * alternate default FS) resolve the same FileSystem on executors as
  * the driver used to stage the directory, instead of a bare
  * `new Configuration()` that only saw the classpath defaults.
  */
object AvroIO {

  // ---------------------------------------------------------------- schema

  /** StructType → Avro record schema. Record names must be unique in a
    * schema tree, so nested records are named by their field path.
    */
  def toAvroSchema(schema: StructType, name: String = "graft_row"): Schema = {
    val rec = Schema.createRecord(name, null, "graft.avro", false)
    rec.setFields(schema.fields.map { f =>
      new Schema.Field(f.name, fieldSchema(f.dataType, f.nullable, s"${name}_${f.name}"),
        null, null)
    }.toList.asJava)
    rec
  }

  private def fieldSchema(dt: DataType, nullable: Boolean, path: String): Schema = {
    val base = dt match {
      case LongType    => Schema.create(Schema.Type.LONG)
      case IntegerType => Schema.create(Schema.Type.INT)
      case DoubleType  => Schema.create(Schema.Type.DOUBLE)
      case FloatType   => Schema.create(Schema.Type.FLOAT)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case StringType  => Schema.create(Schema.Type.STRING)
      case st: StructType => toAvroSchema(st, path)
      case ArrayType(et, containsNull) =>
        Schema.createArray(fieldSchema(et, containsNull, s"${path}_item"))
      case other =>
        throw new IllegalArgumentException(s"AvroIO: unsupported type $other at $path")
    }
    if (nullable) Schema.createUnion(Schema.create(Schema.Type.NULL), base) else base
  }

  /** Avro → Spark, for the self-describing read path. */
  def toSparkType(s: Schema): DataType = nonNull(s) match {
    case b if b.getType == Schema.Type.LONG    => LongType
    case b if b.getType == Schema.Type.INT     => IntegerType
    case b if b.getType == Schema.Type.DOUBLE  => DoubleType
    case b if b.getType == Schema.Type.FLOAT   => FloatType
    case b if b.getType == Schema.Type.BOOLEAN => BooleanType
    case b if b.getType == Schema.Type.STRING  => StringType
    case b if b.getType == Schema.Type.RECORD  => toStructType(b)
    case b if b.getType == Schema.Type.ARRAY =>
      ArrayType(toSparkType(b.getElementType), isNullable(b.getElementType))
    case other =>
      throw new IllegalArgumentException(s"AvroIO: unsupported Avro type $other")
  }

  def toStructType(record: Schema): StructType = StructType(
    nonNull(record).getFields.asScala.map(f =>
      StructField(f.name(), toSparkType(f.schema()), isNullable(f.schema()))).toSeq)

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s

  private def isNullable(s: Schema): Boolean =
    s.getType == Schema.Type.UNION && s.getTypes.asScala.exists(_.getType == Schema.Type.NULL)

  // ----------------------------------------------------------- value codec

  private def toAvro(v: Any, dt: DataType, schema: Schema): AnyRef = v match {
    case null => null
    case _ => dt match {
      case st: StructType => rowToRecord(v.asInstanceOf[Row], st, nonNull(schema))
      case ArrayType(et, _) =>
        val es = nonNull(schema).getElementType
        val items = v.asInstanceOf[scala.collection.Seq[Any]]
          .map(toAvro(_, et, es)).asJava
        new GenericData.Array[AnyRef](nonNull(schema), items)
      case _ => v.asInstanceOf[AnyRef] // scalar primitives box 1:1
    }
  }

  private def rowToRecord(row: Row, st: StructType, schema: Schema): GenericRecord = {
    val rec = new GenericData.Record(schema)
    st.fields.zipWithIndex.foreach { case (f, i) =>
      rec.put(f.name, toAvro(row.get(i), f.dataType, schema.getField(f.name).schema()))
    }
    rec
  }

  private def fromAvro(v: AnyRef, dt: DataType): Any = v match {
    case null => null
    case _ => dt match {
      case StringType => v.toString // Utf8 → String
      case st: StructType => recordToRow(v.asInstanceOf[GenericRecord], st)
      case ArrayType(et, _) =>
        v.asInstanceOf[java.util.Collection[AnyRef]].asScala.map(fromAvro(_, et)).toSeq
      case _ => v
    }
  }

  private def recordToRow(rec: GenericRecord, st: StructType): Row =
    Row.fromSeq(st.fields.map(f => fromAvro(rec.get(f.name), f.dataType)).toSeq)

  // ------------------------------------------------------------------- IO

  /** Write `df` as a directory of Avro container files, one per input
    * partition, deflate-compressed. Distributed: each partition's rows
    * never leave their executor.
    *
    * Attempt protocol (round 12 — not just retry-idempotence): each task
    * attempt writes its OWN staging file `part-NNNNN-attempt-K.avro.tmp`
    * and renames it into the final name only when fully written. Concurrent
    * attempts of one partition (speculation; a zombie attempt finishing
    * after job commit) therefore never share a file descriptor — the
    * first rename wins, the loser observes the final file exists and
    * deletes its staging copy (the input partition is deterministic, so
    * either attempt's bytes are the committed bytes). A bare
    * overwrite=true create on the FINAL name — the round-11 shape —
    * could interleave two attempts' blocks or truncate a committed
    * file.
    */
  def write(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val avroJson = toAvroSchema(sparkSchema).toString
    // clear prior contents (mode=overwrite semantics, matching the
    // roundtrip sinks' usage)
    val root = new Path(path)
    val driverConf = df.sparkSession.sessionState.newHadoopConf()
    val fs = root.getFileSystem(driverConf)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    val confBc = df.sparkSession.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(driverConf))
    df.rdd.foreachPartition { rows =>
      val tc = TaskContext.get()
      val conf = confBc.value.value
      val tmp = stagingPath(path, tc.partitionId(), tc.taskAttemptId())
      // failed/killed attempts must not leave staging files behind —
      // best-effort unlink (the job-commit sweep is the backstop)
      tc.addTaskFailureListener { (_, _) =>
        tmp.getFileSystem(conf).delete(tmp, false); ()
      }
      writePartitionAttempt(rows, sparkSchema, avroJson, path,
        tc.partitionId(), tc.taskAttemptId(), conf)
    }
    // Job commit, AFTER the action returns (i.e. after every
    // partition's task succeeded): sweep any staging residue from
    // attempts that died without their failure listener running, then
    // write the marker. A failed/killed job leaves the dir WITHOUT
    // _SUCCESS and [[read]] refuses it — the same visibility contract
    // Spark's own file sinks give. A zombie attempt finishing after
    // this point only renames-if-absent, so it can never displace a
    // committed file; at worst it re-creates a .tmp, which readers
    // never match.
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".avro.tmp"))
      .foreach(fs.delete(_, false))
    fs.create(new Path(root, "_SUCCESS"), true).close()
  }

  private def stagingPath(path: String, pid: Int, attemptId: Long): Path =
    new Path(path, f"part-$pid%05d-attempt-$attemptId.avro.tmp")

  /** One task attempt's write + publish of partition `pid` — the unit
    * of the attempt protocol (and what AvroIOSpec drives concurrently
    * to prove attempt isolation): stream rows into THIS attempt's own
    * staging file, then publish by rename. HDFS rename refuses an
    * existing destination (the loser deletes its redundant, identical
    * staging copy); POSIX rename atomically replaces it with the
    * loser's COMPLETE copy — both end states are one whole committed
    * file of the partition's deterministic bytes, never an
    * interleaving, which is the property the round-11
    * overwrite-in-place create could not give under speculation.
    */
  private[graft] def writePartitionAttempt(rows: Iterator[Row],
      sparkSchema: StructType, avroJson: String, path: String,
      pid: Int, attemptId: Long,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val schema = new Schema.Parser().parse(avroJson)
    val fin = new Path(path, f"part-$pid%05d.avro")
    val tmp = stagingPath(path, pid, attemptId)
    val efs = fin.getFileSystem(conf)
    val stream = efs.create(tmp, true)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    writer.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
    writer.create(schema, stream)
    try rows.foreach(r => writer.append(rowToRecord(r, sparkSchema, schema)))
    finally writer.close() // closes the stream
    if (!efs.rename(tmp, fin)) {
      if (efs.exists(fin)) efs.delete(tmp, false)
      else throw new java.io.IOException(
        s"AvroIO: could not publish $tmp to $fin (rename failed, no committed file)")
    }
  }

  /** Read a directory written by [[write]] — self-describing (schema
    * from the first file's container header), one input partition per
    * file. Passing `expected` declares the schema instead: the header
    * schema must convert to exactly it (fail-fast, no silent coercion).
    */
  def read(spark: SparkSession, path: String,
      expected: Option[StructType] = None): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(new Path(root, "_SUCCESS")),
      s"$path has no _SUCCESS marker — uncommitted or partial Avro output " +
        "(the write failed or is still in flight); refusing to read it")
    val files = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".avro"))
      .map(_.toString).sorted
    require(files.nonEmpty, s"no Avro part files under $path")
    val headerSchema = {
      val in = new FsInput(new Path(files.head), spark.sessionState.newHadoopConf())
      val r = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
      try toStructType(r.getSchema) finally r.close()
    }
    val sparkSchema = expected match {
      case Some(st) =>
        require(headerSchema == st,
          s"declared schema mismatch: file carries $headerSchema, declared $st")
        st
      case None => headerSchema
    }
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val rowsRdd = spark.sparkContext
      .parallelize(files.toIndexedSeq, files.length)
      .flatMap { file =>
        val st = sparkSchema
        val in = new FsInput(new Path(file), confBc.value.value)
        val reader = new DataFileReader[GenericRecord](
          in, new GenericDatumReader[GenericRecord]())
        ReadHooks.onOpen(file)
        // Close on TASK COMPLETION, not only iterator exhaustion
        // (round 12): a limit(n) or a mid-read task failure abandons
        // the iterator early, which round 11 turned into a stranded
        // FsInput handle until GC. The listener fires on every task
        // exit path; closeReader is idempotent so the exhaustion-time
        // close below (which frees the handle as soon as the file is
        // drained, not at task end) composes with it.
        var closed = false
        def closeReader(): Unit = if (!closed) {
          closed = true
          reader.close()
          ReadHooks.onClose(file)
        }
        Option(TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeReader()))
        new Iterator[Row] {
          override def hasNext: Boolean = {
            val h = !closed && reader.hasNext
            if (!h) closeReader()
            h
          }
          override def next(): Row = recordToRow(reader.next(), st)
        }
      }
    spark.createDataFrame(rowsRdd, sparkSchema)
  }

  /** Test seam (HttpIngestSpec convention): observe reader closes
    * without reaching into Avro internals. Local-mode specs (executor
    * == driver JVM) install a counter, read a slice (`limit(1)` off a
    * multi-file dir), and assert every opened reader closed.
    */
  private[graft] object ReadHooks {
    @volatile var onOpen: String => Unit = _ => ()
    @volatile var onClose: String => Unit = _ => ()
  }
}
