package graft.sources

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro Object Container File codec on the avro-core jar.
  *
  * The Spark distribution here ships avro-core (Spark's own shuffle/
  * RPC dependency) but NOT the external `spark-avro` module, so
  * `format("avro")` is unavailable — this is the in-house bridge, in
  * the same spirit as the JDK-only xlsx/PDF parsers: the FORMAT comes
  * from the public Avro 1.12 spec via the reference implementation's
  * container-file reader/writer, while all distribution concerns
  * (schema mapping, per-partition files, pruned reads) are Spark-first.
  *
  * Supported column types — the flat-record subset every warehouse
  * export uses: boolean, int, long, float, double, string, binary,
  * date (Avro `int`/`date`), timestamp (Avro `long`/`timestamp-micros`).
  * Catalyst's internal encodings for date (days int) and timestamp
  * (micros long) are IDENTICAL to Avro's logical encodings, so the
  * read path is copy-through with zero conversion cost.
  */
object AvroSource {

  // ---------------------------------------- Spark schema → Avro schema

  def avroSchemaFor(st: StructType, name: String): Schema = {
    val fields = st.fields.map { f =>
      val base = f.dataType match {
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case IntegerType => Schema.create(Schema.Type.INT)
        case LongType => Schema.create(Schema.Type.LONG)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case StringType => Schema.create(Schema.Type.STRING)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case DateType =>
          LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
        case TimestampType => LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
        case other => throw new IllegalArgumentException(
          s"graft-avro: unsupported column type $other for field ${f.name}")
      }
      val sch =
        if (f.nullable) Schema.createUnion(
          List(Schema.create(Schema.Type.NULL), base).asJava)
        else base
      new Schema.Field(f.name, sch, null, null)
    }
    Schema.createRecord(name, null, "graft.avro", false, fields.toList.asJava)
  }

  // ---------------------------------------- Avro schema → Spark schema

  /** Unwrap `union(null, T)` → (T, nullable). */
  private def unwrap(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(nonNull.size == 1,
        s"graft-avro: only unions of null with one type are supported: $s")
      (nonNull.head, true)
    } else (s, false)

  def sparkSchemaFor(record: Schema): StructType = {
    require(record.getType == Schema.Type.RECORD,
      s"graft-avro: top-level schema must be a record, got ${record.getType}")
    StructType(record.getFields.asScala.map { f =>
      val (s, nullable) = unwrap(f.schema())
      val dt = (s.getType, Option(s.getLogicalType).map(_.getName)) match {
        case (Schema.Type.BOOLEAN, _) => BooleanType
        case (Schema.Type.INT, Some("date")) => DateType
        case (Schema.Type.INT, _) => IntegerType
        case (Schema.Type.LONG, Some("timestamp-micros")) => TimestampType
        case (Schema.Type.LONG, _) => LongType
        case (Schema.Type.FLOAT, _) => FloatType
        case (Schema.Type.DOUBLE, _) => DoubleType
        case (Schema.Type.STRING, _) => StringType
        case (Schema.Type.BYTES, _) => BinaryType
        case (t, _) => throw new IllegalArgumentException(
          s"graft-avro: unsupported avro type $t for field ${f.name}")
      }
      StructField(f.name, dt, nullable)
    }.toArray)
  }

  // ------------------------------------------------------------- write

  /** Distributed container-file write: one `part-NNNNN.avro` per
    * non-empty partition, streamed executor-side through the Hadoop
    * filesystem (works on any FS the cluster mounts), deflate-coded.
    * Mirrors `df.write.parquet` semantics for mode=overwrite: the
    * target dir is cleared first. The external-Row → GenericRecord
    * conversion is the codec boundary — the same legitimate
    * `foreachPartition` use as the multimodal decode edge.
    */
  def write(df: DataFrame, path: String): Unit = {
    val schemaJson = avroSchemaFor(df.schema, "row").toString
    val sparkSchema = df.schema
    val sessionConf = df.sparkSession.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(sessionConf)
    fs.delete(new Path(path), true)
    fs.mkdirs(new Path(path))
    // broadcast the session Hadoop conf so executor-side FS creation
    // honors cluster FS settings — through the per-session CACHE the
    // DSv2 readers share, not a fresh broadcast per write call: a loop
    // of writes would otherwise accumulate live broadcasts (the exact
    // leak the reader-side cache was added to avoid)
    val bconf = PdfDataSource.broadcastSessionConf(df.sparkSession)
    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val schema = new Schema.Parser().parse(schemaJson)
        val part = TaskContext.getPartitionId()
        val out = new Path(path, f"part-$part%05d.avro")
        val stream = out.getFileSystem(bconf.value.value).create(out, true)
        val writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        writer.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
        writer.create(schema, stream)
        try it.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < sparkSchema.length) {
            val v = if (row.isNullAt(i)) null else sparkSchema(i).dataType match {
              case DateType =>
                Int.box(row.getAs[java.sql.Date](i).toLocalDate.toEpochDay.toInt)
              case TimestampType =>
                val ts = row.getAs[java.sql.Timestamp](i)
                Long.box(math.floorDiv(ts.getTime, 1000L) * 1000000L
                  + ts.getNanos / 1000L)
              case BinaryType => ByteBuffer.wrap(row.getAs[Array[Byte]](i))
              case _ => row.get(i).asInstanceOf[AnyRef]
            }
            rec.put(i, v)
            i += 1
          }
          writer.append(rec)
        } finally writer.close() // closes the stream
      }
    }
  }

  // -------------------------------------------------------------- read

  /** Block-incremental container decode off an open input stream — the
    * executor-side scan path. `DataFileStream` holds ONE compressed
    * block in memory at a time, so arbitrarily large containers read in
    * bounded memory; closing the stream via the reader's close() closes
    * the underlying input. The constructor parses magic + metadata
    * eagerly, so a corrupt header fails at open, not mid-scan.
    */
  private[sources] def openStream(in: java.io.InputStream)
      : DataFileStream[GenericRecord] =
    try new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    catch { case e: Throwable => in.close(); throw e }

  /** Writer schema of a container file, read driver-side. Streams ONLY
    * the header: `DataFileStream`'s constructor parses magic + metadata
    * and stops before the first data block, so plan-time schema
    * inference on a directory whose first file is huge costs a few KB
    * of reads, never a whole-file `readAllBytes` into driver memory.
    * `DataFileStream.close()` closes the underlying input stream.
    */
  private[sources] def schemaOf(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Schema = {
    val in = fs.open(p)
    val r =
      try new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      catch { case e: Throwable => in.close(); throw e }
    try r.getSchema finally r.close()
  }

  /** Avro runtime value → Catalyst value for the mapped Spark type. */
  private[sources] def toCatalyst(v: AnyRef, dt: DataType): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 =>
      org.apache.spark.unsafe.types.UTF8String.fromBytes(
        java.util.Arrays.copyOf(u.getBytes, u.getByteLength))
    case s: java.lang.CharSequence =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s.toString)
    case b: ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    // date days (int) and timestamp micros (long) are already in
    // Catalyst's internal encoding — identity
    case other => other
  }

  /** Reader-facing sugar so call sites read like the built-in formats:
    * {{{ AvroSource.read(spark, dir) }}} ==
    * {{{ spark.read.format("graft-avro").load(dir) }}}
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("graft-avro").load(path)
}
