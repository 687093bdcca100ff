package graft.interop

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, OutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{VectorLoader, VectorSchemaRoot, VectorUnloader}
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter, ArrowWriter, ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, IntervalUnit, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.arrow.{ArrowWriter => SparkArrowWriter}
import org.apache.spark.sql.types._

/** Arrow IPC export — the one interop surface a mixed Scala/Python team
  * asks for in place of the reference's `to_pyarrow`/`to_pandas`
  * (ibis/backends/pyspark/__init__.py:250-320; DIVERGENCES.md §5): the
  * result of any query as an Arrow stream that `pyarrow.ipc.open_stream`
  * / polars / duckdb read directly, with zero Python on this side.
  *
  * This is a CLIENT-EDGE operation by design. An export runs the query as
  * one Spark job: each task fills Arrow record batches of at most
  * `maxRecordsPerBatch` rows from its own partition with Spark's
  * `ArrowWriter` (a batch never spans two partitions) and ships them
  * serialized. The whole encoded result is held on the driver before the
  * first byte is written, so `spark.driver.maxResultSize` bounds it and a
  * larger result fails with Spark's clear error instead of a partial
  * stream. Use it for query RESULTS — bounded frames, the same contract as
  * to_pandas; a 100 TB intermediate belongs in parquet, not on the
  * driver. */
object ArrowExport {

  /** Arrow schema for a Spark schema. Covers the engine's result-surface
    * types (primitives, decimal, string/binary, date/timestamp) plus
    * arbitrarily nested arrays, structs and maps (round 7 — token lists,
    * embeddings metadata, struct results, count maps) and ANSI interval
    * leaves (round 8 — Duration/Interval vectors); the remaining
    * unsupported leaf (legacy CalendarIntervalType) fails fast with the
    * full column path rather than silently re-encoding. */
  def arrowSchema(schema: StructType, timeZoneId: String): Schema = {
    new Schema(schema.fields.map(f => toArrowField(f.name, f.dataType,
      f.nullable, timeZoneId)).toSeq.asJava)
  }

  private def toArrowType(dt: DataType, tz: String): ArrowType = dt match {
    case BooleanType => ArrowType.Bool.INSTANCE
    case ByteType => new ArrowType.Int(8, true)
    case ShortType => new ArrowType.Int(16, true)
    case IntegerType => new ArrowType.Int(32, true)
    case LongType => new ArrowType.Int(64, true)
    case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case StringType => ArrowType.Utf8.INSTANCE
    case BinaryType => ArrowType.Binary.INSTANCE
    case d: DecimalType => new ArrowType.Decimal(d.precision, d.scale, 128)
    case DateType => new ArrowType.Date(DateUnit.DAY)
    case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, tz)
    case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
    // interval leaves (round 8): Spark's ANSI intervals map exactly —
    // day-time is a µs count (Arrow Duration), year-month a month count
    // (Arrow Interval). Only legacy CalendarIntervalType (mixed
    // months+days+µs in one value) stays unsupported: Arrow has no
    // lossless single-vector encoding for it pre-MonthDayNano writers.
    case _: DayTimeIntervalType => new ArrowType.Duration(TimeUnit.MICROSECOND)
    case _: YearMonthIntervalType => new ArrowType.Interval(IntervalUnit.YEAR_MONTH)
    case other => throw new UnsupportedOperationException(
      s"ArrowExport does not cover $other")
  }

  private def toArrowField(name: String, dt: DataType, nullable: Boolean,
      tz: String, path: String = null): Field = {
    val p = if (path == null) name else path
    dt match {
      case ArrayType(elem, containsNull) =>
        new Field(name, new FieldType(nullable, ArrowType.List.INSTANCE, null),
          Seq(toArrowField("element", elem, containsNull, tz, s"$p.element")).asJava)
      case MapType(kt, vt, valueContainsNull) =>
        // Arrow maps are a list of non-null struct<key!, value> entries
        val entries = new Field("entries",
          new FieldType(false, ArrowType.Struct.INSTANCE, null),
          Seq(toArrowField("key", kt, nullable = false, tz, s"$p.key"),
            toArrowField("value", vt, valueContainsNull, tz, s"$p.value")).asJava)
        new Field(name, new FieldType(nullable, new ArrowType.Map(false), null),
          Seq(entries).asJava)
      case st: StructType =>
        new Field(name, new FieldType(nullable, ArrowType.Struct.INSTANCE, null),
          st.fields.map(f =>
            toArrowField(f.name, f.dataType, f.nullable, tz, s"$p.${f.name}")).toSeq.asJava)
      case other =>
        // unsupported leaves throw HERE, on the driver before the export's
        // job starts, and carry the full column path
        val at = try toArrowType(other, tz) catch {
          case _: UnsupportedOperationException => throw new UnsupportedOperationException(
            s"ArrowExport: column '$p' has unsupported type $other")
        }
        new Field(name, new FieldType(nullable, at, null),
          java.util.Collections.emptyList[Field]())
    }
  }

  /** Stream `df`'s rows as Arrow IPC record batches into `out`. */
  def writeArrowStream(df: DataFrame, out: OutputStream,
      maxRecordsPerBatch: Int = 10000): Long =
    writeBatches(df, maxRecordsPerBatch)(new ArrowStreamWriter(_, null, out))

  /** Write the result in the random-access Arrow IPC FILE format (the
    * `ARROW1`-magic layout of `pyarrow.ipc.new_file`, a.k.a. Feather v2)
    * — the other interchange layout pyarrow/polars/duckdb produce and
    * consume. Returns the row count. */
  def toArrowIpcFile(df: DataFrame, path: String, maxRecordsPerBatch: Int = 10000): Long =
    writeBatches(df, maxRecordsPerBatch)(new ArrowFileWriter(_, null,
      FileChannel.open(Paths.get(path), StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.TRUNCATE_EXISTING)))

  /** The whole result as one in-memory Arrow IPC stream (bounded frames —
    * the to_pyarrow contract). */
  def toArrowStreamBytes(df: DataFrame, maxRecordsPerBatch: Int = 10000): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    writeArrowStream(df, bos, maxRecordsPerBatch)
    bos.toByteArray
  }

  /** Write the result as an Arrow IPC stream file; returns the row count.
    * `pyarrow.ipc.open_stream(path)` reads it as-is. */
  def toArrowFile(df: DataFrame, path: String, maxRecordsPerBatch: Int = 10000): Long =
    writeBatches(df, maxRecordsPerBatch)(
      new ArrowStreamWriter(_, null, Files.newOutputStream(Paths.get(path))))

  /** Runs `df`'s own QueryExecution as one Spark job whose tasks encode
    * their partition, then writes every batch in partition order through
    * the writer `open` makes. `open` runs only after the job has returned,
    * so a query that fails leaves no output behind; the writer's close
    * closes its output. Returns the row count. */
  private def writeBatches(df: DataFrame, maxRecordsPerBatch: Int)(
      open: VectorSchemaRoot => ArrowWriter): Long = {
    require(maxRecordsPerBatch > 0, "maxRecordsPerBatch must be positive")
    val schema = df.schema
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val arrow = arrowSchema(schema, tz) // unsupported types fail here, before the job
    val qe = df.queryExecution
    val batches = SQLExecution.withNewExecutionId(qe, Some("toArrow")) {
      qe.toRdd.mapPartitions(encode(_, schema, tz, maxRecordsPerBatch)).collect()
    }
    Using.Manager { use =>
      val allocator = use(new RootAllocator(Long.MaxValue))
      val root = use(VectorSchemaRoot.create(arrow, allocator))
      val loader = new VectorLoader(root)
      val writer = use(open(root))
      writer.start()
      var total = 0L
      batches.foreach { bytes =>
        val batch = MessageSerializer.deserializeRecordBatch(
          new ReadChannel(Channels.newChannel(new ByteArrayInputStream(bytes))), allocator)
        try loader.load(batch) finally batch.close()
        writer.writeBatch()
        total += root.getRowCount
      }
      writer.end()
      total
    }.get
  }

  /** Task side: one partition's rows as serialized Arrow record batches of
    * at most `maxRecordsPerBatch` rows, filled by Spark's own ArrowWriter. */
  private def encode(rows: Iterator[InternalRow], schema: StructType, tz: String,
      maxRecordsPerBatch: Int): Iterator[Array[Byte]] = Using.Manager { use =>
    val allocator = use(new RootAllocator(Long.MaxValue))
    val root = use(VectorSchemaRoot.create(arrowSchema(schema, tz), allocator))
    val writer = SparkArrowWriter.create(root)
    val unloader = new VectorUnloader(root)
    val out = ArrayBuffer.empty[Array[Byte]]
    while (rows.hasNext) {
      var n = 0
      while (rows.hasNext && n < maxRecordsPerBatch) { writer.write(rows.next()); n += 1 }
      writer.finish()
      val bos = new ByteArrayOutputStream()
      val batch = unloader.getRecordBatch
      try MessageSerializer.serialize(new WriteChannel(Channels.newChannel(bos)), batch)
      finally batch.close()
      out += bos.toByteArray
      writer.reset()
    }
    out.iterator
  }.get
}
