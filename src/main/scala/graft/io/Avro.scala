package graft.io

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Native Avro container source/sink on the avro-core library Spark
  * already ships (no spark-avro connector in this environment, and
  * Avro is the lingua franca of event-stream ingest the reference's
  * S3-notification pipeline would meet first at scale).
  *
  * Same two-plane split as [[Sas]] and the rest of graft.io:
  *  - WRITE is distributed — each Spark partition streams its rows
  *    through its own `DataFileWriter` into `path/part-NNNNN.avro`
  *    (the directory-of-parts layout every engine expects), schema
  *    shipped as its JSON string and re-parsed per task;
  *  - READ parallelizes across part files — the driver touches only
  *    the FIRST file's header for the schema, executors stream whole
  *    files each (an Avro container interleaves blocks with sync
  *    markers, so finer-than-file splits are possible; per-file tasks
  *    match the multi-part layout this sink produces, where file
  *    count == producing parallelism).
  *
  * Flat schemas only (the nested-document shape lives in
  * [[NestedStore]]); every field maps to a ["null", T] union both
  * ways. Unsupported Spark types fail loudly at write rather than
  * silently stringifying.
  */
object Avro {

  private def avroSchemaJson(schema: StructType, name: String): String = {
    var fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foreach { f =>
      val b = fields.name(f.name).`type`()
      fields = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType =>
          b.unionOf().nullType().and().longType().endUnion().nullDefault()
        case DoubleType | FloatType =>
          b.unionOf().nullType().and().doubleType().endUnion().nullDefault()
        case BooleanType =>
          b.unionOf().nullType().and().booleanType().endUnion().nullDefault()
        case StringType =>
          b.unionOf().nullType().and().stringType().endUnion().nullDefault()
        case BinaryType =>
          b.unionOf().nullType().and().bytesType().endUnion().nullDefault()
        case other =>
          throw new IllegalArgumentException(
            s"Avro sink supports flat primitive/string/binary columns; " +
              s"column '${f.name}' is $other")
      }
    }
    fields.endRecord().toString
  }

  /** Spark type a ["null", T] Avro union (or bare primitive) reads
    * back as. Avro int/long → LongType, float/double → DoubleType —
    * the same widening the write side applies, so write∘read is
    * type-stable.
    */
  private def sparkType(s: Schema): DataType = {
    val t = if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s.getTypes.get(0))
    else s
    t.getType match {
      case Schema.Type.INT | Schema.Type.LONG => LongType
      case Schema.Type.FLOAT | Schema.Type.DOUBLE => DoubleType
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.STRING => StringType
      case Schema.Type.BYTES => BinaryType
      case other =>
        throw new IllegalArgumentException(s"Avro source cannot map $other to a flat column")
    }
  }

  /** Distributed write: one Avro container file per Spark partition
    * under `path` (overwriting the directory), rows converted with
    * the widening the schema mapping declares.
    */
  def write(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val json = avroSchemaJson(df.schema, "graft_row")
    val confBc = spark.sparkContext.broadcast(HadoopConfSer.entries(spark))
    val fields = df.schema.fields
    val root = new Path(path)
    val driverFs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (driverFs.exists(root)) driverFs.delete(root, true)
    driverFs.mkdirs(root)
    // rdd plane: a per-partition binary writer is genuine imperative
    // per-partition logic.
    // Task-commit protocol: each attempt writes an attempt-named temp
    // file and renames it into place only after a clean close —
    // a retried or speculative attempt can never interleave bytes
    // into a final part file, and a mid-write failure deletes its
    // temp instead of leaking an open stream on the final path.
    val rdd = df.rdd
    rdd.mapPartitionsWithIndex { (pi, rows) =>
      val schema = new Schema.Parser().parse(json)
      val fs = new Path(path).getFileSystem(HadoopConfSer.rebuild(confBc.value))
      val tc = org.apache.spark.TaskContext.get()
      val attempt = if (tc == null) 0L else tc.taskAttemptId()
      val finalPath = new Path(path, f"part-$pi%05d.avro")
      val tmpPath = new Path(path, f".part-$pi%05d-attempt-$attempt.avro.tmp")
      val out = fs.create(tmpPath, true)
      val writer =
        try new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        catch { case e: Throwable => out.close(); throw e }
      var n = 0L
      var ok = false
      try {
        writer.create(schema, out)
        rows.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < fields.length) {
            val v = if (row.isNullAt(i)) null else fields(i).dataType match {
              case LongType => java.lang.Long.valueOf(row.getLong(i))
              case IntegerType => java.lang.Long.valueOf(row.getInt(i).toLong)
              case ShortType => java.lang.Long.valueOf(row.getShort(i).toLong)
              case ByteType => java.lang.Long.valueOf(row.getByte(i).toLong)
              case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
              case FloatType => java.lang.Double.valueOf(row.getFloat(i).toDouble)
              case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
              case StringType => row.getString(i)
              case BinaryType => java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](i))
              case other => throw new IllegalArgumentException(s"unsupported $other")
            }
            rec.put(fields(i).name, v)
            i += 1
          }
          writer.append(rec)
          n += 1
        }
        ok = true
      } finally {
        try writer.close() // closes `out` too
        catch { case e: Throwable => if (ok) { ok = false; throw e } }
        finally {
          if (!ok) {
            // writer.create may have failed before adopting `out`
            try out.close() catch { case _: Throwable => () }
            try fs.delete(tmpPath, false) catch { case _: Throwable => () }
          }
        }
      }
      // commit: first finished attempt wins; a loser discards its temp
      if (!fs.rename(tmpPath, finalPath)) {
        if (fs.exists(finalPath)) fs.delete(tmpPath, false)
        else throw new java.io.IOException(
          s"Avro.write: rename $tmpPath -> $finalPath failed")
      }
      Iterator.single(n)
    }.count(): Unit
    // a zero-partition frame runs zero tasks — emit one schema-bearing
    // empty container so write∘read round-trips (parquet parity)
    if (rdd.getNumPartitions == 0) {
      val schema = new Schema.Parser().parse(json)
      val out = driverFs.create(new Path(root, "part-00000.avro"), true)
      val writer =
        try new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        catch { case e: Throwable => out.close(); throw e }
      try writer.create(schema, out) finally writer.close()
    }
  }

  /** Read a directory of Avro container files (or a single file) into
    * a DataFrame: schema from the first file's header (driver-side,
    * bounded), one executor task per file.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files: Seq[String] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".avro"))
          .map(_.getPath.toString).sorted.toSeq
      else Seq(path)
    require(files.nonEmpty, s"no .avro files under $path")
    val headIn = fs.open(new Path(files.head))
    // a corrupt/truncated header throws from the DataFileStream
    // constructor, before any stream exists to close — close the raw
    // input in finally either way (DataFileStream.close also closes
    // it on the happy path; FSDataInputStream.close is idempotent)
    val avroSchema =
      try {
        val headStream = new DataFileStream[GenericRecord](headIn, new GenericDatumReader[GenericRecord]())
        try headStream.getSchema finally headStream.close()
      } finally headIn.close()
    val sparkFields = avroSchema.getFields.asScala.toSeq
      .map(f => StructField(f.name(), sparkType(f.schema()), nullable = true))
    val schema = StructType(sparkFields)
    val names = sparkFields.map(_.name)
    val confBc = spark.sparkContext.broadcast(HadoopConfSer.entries(spark))
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism)))
      .mapPartitions { paths =>
        val conf = HadoopConfSer.rebuild(confBc.value)
        paths.flatMap { f =>
          val fp = new Path(f)
          val in = fp.getFileSystem(conf).open(fp)
          // constructor failure (corrupt header) happens before the
          // completion listener below exists — close the raw input on
          // that path or it leaks for the task's lifetime
          val stream =
            try new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
            catch { case e: Throwable => in.close(); throw e }
          // stream rows instead of materializing the whole file: close
          // eagerly on exhaustion (flatMap drains one file at a time)
          // and on task completion for the early-termination paths
          // (limit, failure); close is idempotent
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => stream.close()))
          new Iterator[GenericRecord] {
            private var exhausted = false
            def hasNext: Boolean = !exhausted && {
              val h = stream.hasNext
              if (!h) { exhausted = true; stream.close() }
              h
            }
            def next(): GenericRecord = stream.next()
          }.map { rec =>
            Row.fromSeq(names.map { n =>
              rec.get(n) match {
                case null => null
                case u: org.apache.avro.util.Utf8 => u.toString
                case b: java.nio.ByteBuffer =>
                  val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
                case i: java.lang.Integer => i.longValue
                case f: java.lang.Float => f.doubleValue
                case v => v
              }
            })
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }
}
