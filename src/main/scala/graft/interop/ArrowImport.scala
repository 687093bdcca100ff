package graft.interop

import java.io.InputStream

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.{ListVector, MapVector, StructVector}
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Arrow IPC import — the inverse of [[ArrowExport]] and the other half
  * of the reference's Arrow-first contract: `ibis.memtable` accepts a
  * pyarrow Table directly (ibis/expr/operations/relations.py:420-424,
  * ibis/formats/pyarrow.py), so a frame produced by pyarrow / polars /
  * duckdb becomes a queryable relation with no parquet detour. Both IPC
  * layouts decode into a local DataFrame: the *stream* format
  * ([[ArrowExport.writeArrowStream]] / `pyarrow.ipc.new_stream`) and —
  * round 9 — the random-access `ARROW1` *file* format
  * (`pyarrow.ipc.new_file`, a.k.a. Feather v2), sniffed from the
  * leading magic so callers never specify which.
  *
  * Like export, this is a CLIENT-EDGE operation: Arrow IPC arrives as
  * one driver-side buffer, so it's for bounded frames — lookup/dimension
  * tables, notebook round-trips, test fixtures. Once imported, the frame
  * is a first-class (broadcastable) relation; 100 TB inputs belong in
  * parquet/Delta readers, not IPC.
  *
  * Type surface mirrors the writer: primitives, decimal, string/binary,
  * date, timestamp (any unit, tz'd → TimestampType, naive →
  * TimestampNTZType), ANSI intervals (Duration / year-month Interval
  * vectors) and arbitrarily nested list/struct/map. Unsupported vectors
  * fail fast with the full column path. */
object ArrowImport {

  /** Spark schema for an Arrow schema (inverse of
    * [[ArrowExport.arrowSchema]]). */
  def sparkSchema(schema: org.apache.arrow.vector.types.pojo.Schema): StructType =
    StructType(schema.getFields.asScala.map(f => StructField(f.getName,
      sparkType(f, f.getName), f.isNullable)).toSeq)

  private def sparkType(f: Field, path: String): DataType = f.getType match {
    case _: ArrowType.Bool => BooleanType
    case t: ArrowType.Int if t.getIsSigned => t.getBitWidth match {
      case 8 => ByteType
      case 16 => ShortType
      case 32 => IntegerType
      case 64 => LongType
      case w => fail(path, s"signed int $w")
    }
    case t: ArrowType.FloatingPoint => t.getPrecision match {
      case FloatingPointPrecision.SINGLE => FloatType
      case FloatingPointPrecision.DOUBLE => DoubleType
      case p => fail(path, s"floating point $p")
    }
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Binary => BinaryType
    case t: ArrowType.Decimal => DecimalType(t.getPrecision, t.getScale)
    case t: ArrowType.Date if t.getUnit == DateUnit.DAY => DateType
    case t: ArrowType.Timestamp =>
      if (t.getTimezone == null) TimestampNTZType else TimestampType
    case _: ArrowType.Duration => DayTimeIntervalType()
    case t: ArrowType.Interval
        if t.getUnit == org.apache.arrow.vector.types.IntervalUnit.YEAR_MONTH =>
      YearMonthIntervalType()
    // Map BEFORE List: ArrowType.Map does not extend List but MapVector
    // IS-A ListVector, and field-shape-wise a map is list<struct<k,v>>
    case _: ArrowType.Map =>
      val entries = f.getChildren.get(0)
      val kf = entries.getChildren.get(0); val vf = entries.getChildren.get(1)
      MapType(sparkType(kf, s"$path.key"), sparkType(vf, s"$path.value"),
        vf.isNullable)
    case _: ArrowType.List =>
      val elem = f.getChildren.get(0)
      ArrayType(sparkType(elem, s"$path.element"), elem.isNullable)
    case _: ArrowType.Struct =>
      StructType(f.getChildren.asScala.map(c => StructField(c.getName,
        sparkType(c, s"$path.${c.getName}"), c.isNullable)).toSeq)
    case other => fail(path, other.toString)
  }

  private def fail(path: String, what: String): Nothing =
    throw new UnsupportedOperationException(
      s"ArrowImport: column '$path' has unsupported Arrow type $what")

  /** Decode an Arrow IPC stream into a local DataFrame. */
  def fromArrowStream(spark: SparkSession, in: InputStream): DataFrame = {
    val allocator = new RootAllocator(Long.MaxValue)
    fromReader(spark, new ArrowStreamReader(in, allocator), allocator)
  }

  private def fromReader(spark: SparkSession,
      reader: org.apache.arrow.vector.ipc.ArrowReader,
      allocator: RootAllocator): DataFrame = {
    try {
      val root = reader.getVectorSchemaRoot
      val schema = sparkSchema(root.getSchema)
      val rows = new ArrayBuffer[Row]()
      while (reader.loadNextBatch()) {
        val n = root.getRowCount
        val vecs = root.getFieldVectors.asScala.toArray
        var i = 0
        while (i < n) {
          rows += new GenericRowWithSchema(
            Array.tabulate(vecs.length)(c =>
              readValue(vecs(c), schema.fields(c).dataType, i)), schema)
          i += 1
        }
      }
      spark.createDataFrame(rows.asJava, schema)
    } finally {
      // close the reader in its own guard: a reader-close failure must
      // not leak the allocator's direct memory (or mask the primary
      // exception with an allocator-close failure)
      try reader.close() finally allocator.close()
    }
  }

  /** The `ARROW1` magic that opens (and closes) the random-access IPC
    * FILE format — `pyarrow.ipc.new_file` / Feather v2 — as opposed to
    * the stream format, which starts with an encapsulated message. */
  private def isFileFormat(head: Array[Byte]): Boolean =
    head.length >= 6 && head(0) == 'A' && head(1) == 'R' && head(2) == 'R' &&
      head(3) == 'O' && head(4) == 'W' && head(5) == '1'

  /** Decode either IPC layout from bytes — the leading magic picks the
    * reader, so callers don't need to know which layout produced them. */
  def fromArrowBytes(spark: SparkSession, bytes: Array[Byte]): DataFrame =
    if (isFileFormat(bytes)) {
      val allocator = new RootAllocator(Long.MaxValue)
      fromReader(spark, new org.apache.arrow.vector.ipc.ArrowFileReader(
        new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes),
        allocator), allocator)
    } else fromArrowStream(spark, new java.io.ByteArrayInputStream(bytes))

  /** Decode an Arrow IPC file of either layout (stream or `ARROW1`
    * random-access) — sniffed from the first bytes, matching what
    * pyarrow/polars/duckdb emit under both `new_stream` and `new_file`. */
  def fromArrowFile(spark: SparkSession, path: String): DataFrame = {
    val p = java.nio.file.Paths.get(path)
    val head = {
      val in = java.nio.file.Files.newInputStream(p)
      try { val b = new Array[Byte](6); val n = in.readNBytes(b, 0, 6); b.take(n) }
      finally in.close()
    }
    if (isFileFormat(head)) {
      val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.READ)
      try {
        val allocator = new RootAllocator(Long.MaxValue)
        fromReader(spark, new org.apache.arrow.vector.ipc.ArrowFileReader(ch, allocator),
          allocator)
      } finally ch.close()
    } else {
      val in = java.nio.file.Files.newInputStream(p)
      try fromArrowStream(spark, in) finally in.close()
    }
  }

  /** One recursive reader over every vector [[ArrowExport.arrowSchema]]
    * maps to, plus the s/ms/ns timestamp units pyarrow and pandas write —
    * emits Spark's EXTERNAL row representation (java.sql
    * dates/timestamps, java BigDecimal, Seq, Map, Row) so
    * `createDataFrame` validates it against the schema without conversion
    * surprises. */
  private def readValue(vec: FieldVector, dt: DataType, idx: Int): Any = {
    if (vec.isNull(idx)) return null
    (vec, dt) match {
      case (v: BitVector, BooleanType) => v.get(idx) == 1
      case (v: TinyIntVector, ByteType) => v.get(idx)
      case (v: SmallIntVector, ShortType) => v.get(idx)
      case (v: IntVector, IntegerType) => v.get(idx)
      case (v: BigIntVector, LongType) => v.get(idx)
      case (v: Float4Vector, FloatType) => v.get(idx)
      case (v: Float8Vector, DoubleType) => v.get(idx)
      case (v: VarCharVector, StringType) =>
        new String(v.get(idx), java.nio.charset.StandardCharsets.UTF_8)
      case (v: VarBinaryVector, BinaryType) => v.get(idx)
      case (v: DecimalVector, d: DecimalType) =>
        v.getObject(idx).setScale(d.scale)
      case (v: DateDayVector, DateType) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.get(idx).toLong))
      case (v: TimeStampVector, TimestampType) =>
        val micros = toMicros(v.get(idx), v.getField.getType.asInstanceOf[ArrowType.Timestamp])
        val ts = new java.sql.Timestamp(math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case (v: TimeStampVector, TimestampNTZType) =>
        val micros = toMicros(v.get(idx), v.getField.getType.asInstanceOf[ArrowType.Timestamp])
        java.time.LocalDateTime.ofEpochSecond(math.floorDiv(micros, 1000000L),
          (math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      case (v: DurationVector, _: DayTimeIntervalType) =>
        v.getObject(idx) // already unit-converted to java.time.Duration
      case (v: IntervalYearVector, _: YearMonthIntervalType) =>
        java.time.Period.ofMonths(v.get(idx)).normalized()
      case (v: MapVector, MapType(kt, vt, _)) => // before ListVector: a MapVector IS one
        val entries = v.getDataVector.asInstanceOf[StructVector]
        val kv = entries.getChildByOrdinal(0).asInstanceOf[FieldVector]
        val vv = entries.getChildByOrdinal(1).asInstanceOf[FieldVector]
        val start = v.getElementStartIndex(idx); val end = v.getElementEndIndex(idx)
        val b = scala.collection.mutable.LinkedHashMap[Any, Any]()
        var j = start
        while (j < end) { b += readValue(kv, kt, j) -> readValue(vv, vt, j); j += 1 }
        b.toMap
      case (v: ListVector, ArrayType(elem, _)) =>
        val child = v.getDataVector
        val start = v.getElementStartIndex(idx); val end = v.getElementEndIndex(idx)
        val b = new ArrayBuffer[Any](end - start)
        var j = start
        while (j < end) { b += readValue(child, elem, j); j += 1 }
        b.toSeq
      case (v: StructVector, st: StructType) =>
        Row.fromSeq(st.fields.indices.map(j => readValue(
          v.getChildByOrdinal(j).asInstanceOf[FieldVector], st.fields(j).dataType, idx)))
      case (v, t) => throw new UnsupportedOperationException(
        s"ArrowImport: no reader for $t from ${v.getClass.getSimpleName}")
    }
  }

  private def toMicros(v: Long, t: ArrowType.Timestamp): Long = t.getUnit match {
    case TimeUnit.SECOND => v * 1000000L
    case TimeUnit.MILLISECOND => v * 1000L
    case TimeUnit.MICROSECOND => v
    case TimeUnit.NANOSECOND => math.floorDiv(v, 1000L)
  }
}
