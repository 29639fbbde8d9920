package graft.core

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.conf.{ParquetConfiguration, PlainParquetConfiguration}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordConsumer}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types._
import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

/** Driver-side chunk IO for METADATA-SIZED engine operations: read a
  * chunk file's rows and write a canonical chunk file WITHOUT a Spark
  * job — the point-DML economics the patch path promises, without
  * paying a cluster job launch for a dozen rows. Chunk identity is over
  * canonical ROW bytes ([[Canonical]]), never parquet bytes, so files
  * written here are interchangeable with executor-written ones (the
  * same mixed-codec-store argument as replication).
  *
  * The per-file fixed cost is the point-DML floor, so:
  *  - each file is opened ONCE, as a local file (`LocalInputFile` /
  *    `LocalOutputFile`) under a plain parquet configuration — no Hadoop
  *    `Configuration` (whose resource parse costs milliseconds) and no
  *    Hadoop `FileSystem` per call;
  *  - reads decode column by column straight from parquet's column
  *    readers (repetition/definition levels → values), then zip the
  *    columns into rows; no per-record object assembly;
  *  - writes go through a `WriteSupport[Row]` that sends each value
  *    straight to the `RecordConsumer`.
  *
  * Physical encodings the reader accepts, per Spark type: integral types
  * and Date from INT32 (Long from INT64); Timestamp / TimestampNTZ from
  * INT64 MICROS (this writer's) or MILLIS, or from INT96; Decimal from
  * INT32, INT64, FIXED_LEN_BYTE_ARRAY or BINARY (Spark's
  * `writeLegacyFormat` uses FIXED_LEN_BYTE_ARRAY); String / Binary from
  * BINARY; arrays of those from a 3-level LIST with any inner names (the
  * standard `list`/`element` or Spark's legacy `bag`/`array`) or a
  * 2-level repeated LIST. Anything else throws, and callers fall back to
  * the Spark job path. Columns resolve by positional parquet field id (the
  * rename-proof identity chunk writers attach), with a name fallback
  * for id-less files.
  *
  * No integrity check is lost by bypassing Hadoop's local file system:
  * its checksummed `.crc` sidecars never reached the store anyway —
  * `saveChunk` moves only the `.parquet` file, and the reader here (like
  * Spark's) relies on parquet's own footer and page structure. */
private[core] object DriverChunks {

  private def supportedScalar(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DoubleType | FloatType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  def supported(schema: StructType): Boolean =
    schema.fields.forall(f => f.dataType match {
      case ArrayType(et, _) => supportedScalar(et) // vector/posting columns
      case dt => supportedScalar(dt)
    })

  // ---- read -------------------------------------------------------------

  /** Read every row of a chunk file into external-typed Rows (the same
    * types [[KeyCodec]] accepts). Throws on anything unexpected — the
    * caller treats any failure as "use the Spark path". */
  def readRows(path: java.nio.file.Path, schema: StructType): Vector[Row] = {
    val reader = ParquetFileReader.open(new LocalInputFile(path),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
    try {
      val fileMeta = reader.getFooter.getFileMetaData
      val fileSchema = fileMeta.getSchema
      // target position i -> file field index: by field id, else by name
      val fileFields = fileSchema.getFields.asScala.toVector
      val byId: Map[Int, Int] = fileFields.zipWithIndex.collect {
        case (t, j) if t.getId != null => t.getId.intValue() -> j
      }.toMap
      val byName: Map[String, Int] =
        fileFields.zipWithIndex.map { case (t, j) => t.getName -> j }.toMap
      val decoders: Array[ColumnDecoder] = schema.fields.zipWithIndex.map {
        case (f, i) =>
          val j = byId.getOrElse(i, byName.getOrElse(f.name,
            sys.error(s"chunk file lacks column ${f.name} (id $i): $path")))
          columnDecoder(f.dataType, fileSchema, fileFields(j))
      }
      val out = Vector.newBuilder[Row]
      val converter = noopConverter(fileSchema)
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val n = Math.toIntExact(pages.getRowCount)
        val store = new ColumnReadStoreImpl(pages, converter, fileSchema,
          fileMeta.getCreatedBy)
        val cols = decoders.map(_.decode(store, n))
        var r = 0
        while (r < n) {
          val vals = new Array[Any](cols.length)
          var c = 0
          while (c < cols.length) { vals(c) = cols(c)(r); c += 1 }
          out += new GenericRow(vals)
          r += 1
        }
        pages = reader.readNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  /** Decodes one target column of a row group into `n` values.
    * `listDef` is the definition level of an array column's list group
    * (0 when the column is required, 1 when optional); -1 marks a
    * scalar column. */
  private final class ColumnDecoder(desc: ColumnDescriptor,
      value: ColumnReader => Any, listDef: Int) {
    private val maxDef = desc.getMaxDefinitionLevel

    def decode(store: ColumnReadStoreImpl, n: Int): Array[Any] = {
      val cr = store.getColumnReader(desc)
      val out = new Array[Any](n)
      if (listDef < 0) { // scalar: one value (or null) per row
        var r = 0
        while (r < n) {
          if (cr.getCurrentDefinitionLevel == maxDef) out(r) = value(cr)
          cr.consume()
          r += 1
        }
      } else {
        // array: definition level < listDef = null array, == listDef =
        // empty array, else one entry per level-triple until the next
        // row starts (repetition level 0); an entry below maxDef is a
        // null element
        val total = cr.getTotalValueCount
        var read = 0L
        var r = 0
        while (r < n) {
          val d = cr.getCurrentDefinitionLevel
          if (d <= listDef) {
            out(r) = if (d < listDef) null else ArraySeq.empty[Any]
            cr.consume(); read += 1
          } else {
            val buf = ArraySeq.newBuilder[Any]
            var more = true
            while (more) {
              buf += (if (cr.getCurrentDefinitionLevel == maxDef) value(cr) else null)
              cr.consume(); read += 1
              more = read < total && cr.getCurrentRepetitionLevel > 0
            }
            out(r) = buf.result()
          }
          r += 1
        }
      }
      out
    }
  }

  /** The decoder of target type `dt` from top-level file field `ft`. */
  private def columnDecoder(dt: DataType, fileSchema: MessageType,
      ft: Type): ColumnDecoder = dt match {
    case ArrayType(et, _) =>
      val leaves = fileSchema.getColumns.asScala.filter(_.getPath()(0) == ft.getName)
      require(!ft.isPrimitive && leaves.length == 1 &&
          leaves.head.getMaxRepetitionLevel == 1,
        s"unsupported array layout for ${ft.getName}: $ft")
      val leaf = leaves.head
      val listDef = if (ft.isRepetition(Type.Repetition.OPTIONAL)) 1 else 0
      new ColumnDecoder(leaf, scalarReader(et, leaf.getPrimitiveType), listDef)
    case _ =>
      require(ft.isPrimitive && !ft.isRepetition(Type.Repetition.REPEATED),
        s"expected a non-repeated primitive column: $ft")
      new ColumnDecoder(fileSchema.getColumnDescription(Array(ft.getName)),
        scalarReader(dt, ft.asPrimitiveType()), -1)
  }

  /** ColumnReadStoreImpl binds every column reader to a converter; the
    * decoders read values from the readers directly, so these only
    * mirror the schema's shape. */
  private def noopConverter(t: GroupType): GroupConverter = new GroupConverter {
    private val children: Array[Converter] = t.getFields.asScala.map[Converter] { f =>
      if (f.isPrimitive) new PrimitiveConverter {} else noopConverter(f.asGroupType())
    }.toArray
    def getConverter(i: Int): Converter = children(i)
    def start(): Unit = ()
    def end(): Unit = ()
  }

  /** Non-null scalar read of the reader's current value. */
  private def scalarReader(dt: DataType,
      fileType: PrimitiveType): ColumnReader => Any = {
    val phys = fileType.getPrimitiveTypeName
    def expect(ok: Boolean): Unit =
      require(ok, s"unsupported physical type $phys for $dt")
    dt match {
      case LongType => expect(phys == INT64); _.getLong
      case IntegerType => expect(phys == INT32); _.getInteger
      case ShortType => expect(phys == INT32); _.getInteger.toShort
      case ByteType => expect(phys == INT32); _.getInteger.toByte
      case BooleanType => expect(phys == BOOLEAN); _.getBoolean
      case DoubleType => expect(phys == DOUBLE); _.getDouble
      case FloatType => expect(phys == FLOAT); _.getFloat
      case StringType => expect(phys == BINARY); _.getBinary.toStringUsingUTF8
      case BinaryType => expect(phys == BINARY); _.getBinary.getBytes
      case DateType =>
        expect(phys == INT32)
        cr => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          cr.getInteger.toLong))
      case TimestampType | TimestampNTZType =>
        val micros: ColumnReader => Long = phys match {
          case INT64 => fileType.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.MILLIS =>
              cr => cr.getLong * 1000L
            case t: TimestampLogicalTypeAnnotation if t.getUnit != TimeUnit.MICROS =>
              sys.error(s"unsupported timestamp unit ${t.getUnit}")
            case _ => _.getLong
          }
          // 8 LE bytes nanos-of-day + 4 LE bytes Julian day
          case INT96 => cr => {
            val buf = cr.getBinary.toByteBuffer
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong
            val julianDay = buf.getInt
            (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
          }
          case other => sys.error(s"unsupported timestamp physical $other")
        }
        if (dt == TimestampType) { cr =>
          val us = micros(cr)
          val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
          ts
        } else { cr =>
          val us = micros(cr)
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        }
      case d: DecimalType => phys match {
        case INT32 => cr => JBigDecimal.valueOf(cr.getInteger.toLong, d.scale)
        case INT64 => cr => JBigDecimal.valueOf(cr.getLong, d.scale)
        case FIXED_LEN_BYTE_ARRAY | BINARY => cr =>
          new JBigDecimal(new BigInteger(cr.getBinary.getBytes), d.scale)
        case other => sys.error(s"unsupported decimal physical $other")
      }
      case other => sys.error(s"unsupported driver-read type $other")
    }
  }

  // ---- write ------------------------------------------------------------

  /** Spark's Decimal.minBytesForPrecision: smallest FIXED width holding
    * 10^p − 1. */
  private def minBytesForPrecision(p: Int): Int = {
    var n = 1
    while (BigInteger.TEN.pow(p).subtract(BigInteger.ONE)
        .bitLength() + 1 > 8 * n) n += 1
    n
  }

  /** Parquet type of one scalar `dt` under `rep`, named `name`, with an
    * optional field id (ids go on TOP-LEVEL fields only — the
    * positional column identity; list inner fields carry none). */
  private def scalarType(dt: DataType, rep: Type.Repetition, name: String,
      id: Option[Int]): Type = {
    def prim(tn: PrimitiveType.PrimitiveTypeName,
        ann: LogicalTypeAnnotation = null, length: Int = 0) = {
      val b = Types.primitive(tn, rep)
      val b2 = if (ann != null) b.as(ann) else b
      val b3 = if (length > 0) b2.length(length) else b2
      id.fold(b3)(b3.id).named(name)
    }
    import LogicalTypeAnnotation._
    dt match {
      case LongType => prim(INT64)
      case IntegerType => prim(INT32)
      case ShortType => prim(INT32, intType(16, true))
      case ByteType => prim(INT32, intType(8, true))
      case BooleanType => prim(BOOLEAN)
      case DoubleType => prim(DOUBLE)
      case FloatType => prim(FLOAT)
      case StringType => prim(BINARY, stringType())
      case BinaryType => prim(BINARY)
      case DateType => prim(INT32, dateType())
      case TimestampType =>
        prim(INT64, timestampType(true, TimeUnit.MICROS))
      case TimestampNTZType =>
        prim(INT64, timestampType(false, TimeUnit.MICROS))
      case d: DecimalType =>
        if (d.precision <= 9) prim(INT32, decimalType(d.scale, d.precision))
        else if (d.precision <= 18)
          prim(INT64, decimalType(d.scale, d.precision))
        else prim(FIXED_LEN_BYTE_ARRAY, decimalType(d.scale, d.precision),
          minBytesForPrecision(d.precision))
      case other => sys.error(s"unsupported driver-write type $other")
    }
  }

  private def parquetField(f: StructField, id: Int): Type = {
    val rep = if (f.nullable) Type.Repetition.OPTIONAL
      else Type.Repetition.REQUIRED
    f.dataType match {
      case ArrayType(et, containsNull) =>
        // the standard 3-level LIST shape Spark writes, built manually
        // so the inner names are exactly "list"/"element"
        Types.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(Types.repeatedGroup()
            .addField(scalarType(et,
              if (containsNull) Type.Repetition.OPTIONAL
              else Type.Repetition.REQUIRED, "element", None))
            .named("list"))
          .id(id).named(f.name)
      case dt => scalarType(dt, rep, f.name, Some(id))
    }
  }

  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      b.addField(parquetField(f, i))
    }
    b.named("spark_schema")
  }

  private def fixedBytes(unscaled: BigInteger, width: Int): Array[Byte] = {
    val raw = unscaled.toByteArray
    require(raw.length <= width, s"decimal too wide: ${raw.length} > $width")
    val out = new Array[Byte](width)
    if (unscaled.signum < 0)
      java.util.Arrays.fill(out, 0, width - raw.length, -1.toByte)
    System.arraycopy(raw, 0, out, width - raw.length, raw.length)
    out
  }

  /** Sends each Row's values straight to parquet's RecordConsumer; nulls
    * are absent fields, and an empty array is the list group with no
    * `list` entries — distinct from a null array (no group at all). */
  private final class RowWriteSupport(schema: StructType)
      extends WriteSupport[Row] {
    private val mt = messageType(schema)
    private var rc: RecordConsumer = _
    private val names = schema.fieldNames
    private val fieldWriters: Array[Any => Unit] = schema.fields.map { f =>
      f.dataType match {
        case ArrayType(et, _) =>
          val elem = scalarWriter(et)
          (v: Any) => {
            val s = v.asInstanceOf[scala.collection.Seq[Any]]
            rc.startGroup()
            if (s.nonEmpty) {
              rc.startField("list", 0)
              s.foreach { e =>
                rc.startGroup()
                if (e != null) {
                  rc.startField("element", 0); elem(e); rc.endField("element", 0)
                }
                rc.endGroup()
              }
              rc.endField("list", 0)
            }
            rc.endGroup()
          }
        case dt => scalarWriter(dt)
      }
    }

    /** Writes one non-null scalar value of type `dt`. */
    private def scalarWriter(dt: DataType): Any => Unit = dt match {
      case LongType => v => rc.addLong(v.asInstanceOf[Long])
      case IntegerType => v => rc.addInteger(v.asInstanceOf[Int])
      case ShortType => v => rc.addInteger(v.asInstanceOf[Short].toInt)
      case ByteType => v => rc.addInteger(v.asInstanceOf[Byte].toInt)
      case BooleanType => v => rc.addBoolean(v.asInstanceOf[Boolean])
      case DoubleType => v => rc.addDouble(v.asInstanceOf[Double])
      case FloatType => v => rc.addFloat(v.asInstanceOf[Float])
      case StringType => v => rc.addBinary(Binary.fromString(v.asInstanceOf[String]))
      case BinaryType => v =>
        rc.addBinary(Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
      case DateType => v => rc.addInteger(DateTimeUtil.dateDays(v))
      case TimestampType => v => rc.addLong(DateTimeUtil.timestampMicros(v))
      case TimestampNTZType => v => rc.addLong(DateTimeUtil.localMicros(v))
      case d: DecimalType =>
        def unscaled(v: Any) =
          v.asInstanceOf[JBigDecimal].setScale(d.scale).unscaledValue()
        if (d.precision <= 9) v => rc.addInteger(unscaled(v).intValueExact())
        else if (d.precision <= 18) v => rc.addLong(unscaled(v).longValueExact())
        else {
          val width = minBytesForPrecision(d.precision)
          v => rc.addBinary(Binary.fromConstantByteArray(fixedBytes(unscaled(v), width)))
        }
      case other => sys.error(s"unsupported driver-write type $other")
    }

    private def context =
      new WriteSupport.WriteContext(mt, java.util.Collections.emptyMap[String, String]())
    override def init(conf: Configuration): WriteSupport.WriteContext = context
    override def init(conf: ParquetConfiguration): WriteSupport.WriteContext = context
    override def prepareForWrite(consumer: RecordConsumer): Unit = rc = consumer
    override def write(row: Row): Unit = {
      rc.startMessage()
      var i = 0
      while (i < names.length) {
        if (!row.isNullAt(i)) {
          rc.startField(names(i), i)
          fieldWriters(i)(row.get(i))
          rc.endField(names(i), i)
        }
        i += 1
      }
      rc.endMessage()
    }
  }

  private final class RowWriterBuilder(file: LocalOutputFile, schema: StructType)
      extends ParquetWriter.Builder[Row, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Row] =
      new RowWriteSupport(schema)
    override protected def getWriteSupport(conf: ParquetConfiguration): WriteSupport[Row] =
      new RowWriteSupport(schema)
  }

  /** Write `rows` (already key-sorted) as one chunk parquet file. */
  def writeChunk(path: java.nio.file.Path, schema: StructType,
      rows: Seq[Row], codec: String): Unit = {
    val writer = new RowWriterBuilder(new LocalOutputFile(path), schema)
      .withConf(new PlainParquetConfiguration())
      .withCompressionCodec(CompressionCodecName.valueOf(
        codec.toUpperCase(java.util.Locale.ROOT)))
      .build()
    try rows.foreach(writer.write) finally writer.close()
  }
}
