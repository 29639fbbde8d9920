package graft.core

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.file.{Files, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import scala.jdk.CollectionConverters._

/** [[DriverChunks]] round-trips every type it admits, nulls included,
  * under both store codecs, and agrees with Spark in both directions:
  * its files read back identically in Spark, and Spark's files
  * (including INT96 and millisecond timestamps, legacy-format decimals
  * and both legacy list layouts)
  * read back on the driver exactly as Spark itself reads them. */
class DriverChunksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("l", LongType),
    StructField("i", IntegerType),
    StructField("sh", ShortType),
    StructField("by", ByteType),
    StructField("bo", BooleanType),
    StructField("db", DoubleType),
    StructField("fl", FloatType),
    StructField("s", StringType),
    StructField("bin", BinaryType),
    StructField("dt", DateType),
    StructField("ts", TimestampType),
    StructField("ntz", TimestampNTZType),
    StructField("d9", DecimalType(9, 2)),
    StructField("d18", DecimalType(18, 4)),
    StructField("d24", DecimalType(24, 4)),
    StructField("arr", ArrayType(LongType, containsNull = true)),
    StructField("arr_nn", ArrayType(LongType, containsNull = false))))

  private def timestamp(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** Value column c (1-based) is null in every row where (i + c) % 7 == 0,
    * so each column has nulls and no row is all-null; arrays also come
    * empty and (where the type allows) with null elements. Values span signs, dictionary-friendly
    * repeats and the full width of each decimal precision. */
  private def row(i: Int): Row = {
    val vals: Seq[Any] = Seq(
      i * 1000003L - 500000000000L,
      i * 7 - 500,
      (i % 300 - 150).toShort,
      (i % 200 - 100).toByte,
      i % 2 == 0,
      i * 1.5 - 300.0,
      i * 0.25f - 10f,
      s"s${i % 13}-ü",
      Array[Byte](i.toByte, (i >> 8).toByte, 0, -1),
      java.sql.Date.valueOf(java.time.LocalDate.of(1960, 1, 1).plusDays(i * 37L)),
      timestamp(-150000000000000L + i * 123456789013L),
      java.time.LocalDateTime.of(1999, 12, 31, 23, 59, 59).plusNanos(i * 1001000L),
      JBigDecimal.valueOf(i * 101L - 5000L, 2),
      JBigDecimal.valueOf(i * 123456789012L - 10000000000000L, 4),
      new JBigDecimal(BigInteger.TEN.pow(19).multiply(BigInteger.valueOf(i))
        .subtract(BigInteger.TEN.pow(22)), 4),
      if (i % 11 == 0) Seq.empty[Any]
      else if (i % 3 == 0) Seq[Any](i.toLong, null, -i.toLong)
      else Seq[Any](i.toLong, i * 2L),
      if (i % 13 == 0) Seq.empty[Any] else Seq[Any](-i.toLong, i % 5L))
    Row.fromSeq(i.toLong +: vals.zipWithIndex.map { case (v, c) =>
      if ((i + c + 1) % 7 == 0) null else v
    })
  }

  private val rows: Seq[Row] = (0 until 300).map(row)

  private def tmpDir(): Path = {
    val d = Files.createTempDirectory("graft-driver-chunks-")
    FsUtil.deleteAtExit(d)
    d
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The single parquet file Spark wrote for `rows` under `codec`. */
  private def sparkWrite(codec: String): Path = {
    val dir = tmpDir().resolve("out")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.option("compression", codec).parquet(dir.toString)
    val files = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toVector
    assert(files.length == 1, s"expected one part file in $dir")
    files.head
  }

  private def sparkRead(file: Path): Seq[Row] =
    spark.read.schema(schema).parquet(file.toString).collect().toSeq

  for (codec <- Seq("snappy", "zstd")) {
    test(s"driver write -> driver read round-trips every admitted type ($codec)") {
      assert(DriverChunks.supported(schema))
      val f = tmpDir().resolve("c.parquet")
      DriverChunks.writeChunk(f, schema, rows, codec)
      assert(DriverChunks.readRows(f, schema) == rows)
      // the file format: positional-id message type, the store codec
      val footer = ParquetFileReader.open(new LocalInputFile(f))
      try {
        assert(footer.getFileMetaData.getSchema == DriverChunks.messageType(schema))
        val codecs = footer.getRowGroups.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
        assert(codecs == Set(CompressionCodecName.valueOf(codec.toUpperCase)))
      } finally footer.close()
    }

    test(s"driver write -> Spark read ($codec)") {
      val f = tmpDir().resolve("c.parquet")
      DriverChunks.writeChunk(f, schema, rows, codec)
      val read = spark.read.parquet(f.toString)
      // Spark infers every list element as nullable
      assert(read.schema.map(_.dataType) == schema.map(_.dataType match {
        case ArrayType(et, _) => ArrayType(et, containsNull = true)
        case dt => dt
      }))
      assert(read.collect().toSeq == rows)
    }

    test(s"Spark write -> driver read equals Spark's read ($codec)") {
      val f = sparkWrite(codec)
      val viaSpark = sparkRead(f)
      assert(viaSpark == rows)
      assert(DriverChunks.readRows(f, schema) == viaSpark)
    }

    test(s"Spark INT96 timestamps and legacy format -> driver read equals Spark's read ($codec)") {
      val f = withConf(
          "spark.sql.parquet.outputTimestampType" -> "INT96",
          "spark.sql.parquet.writeLegacyFormat" -> "true") {
        sparkWrite(codec)
      }
      val footer = ParquetFileReader.open(new LocalInputFile(f))
      val fileSchema =
        try footer.getFileMetaData.getSchema finally footer.close()
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      def phys(c: String) =
        fileSchema.getType(fileSchema.getFieldIndex(c)).asPrimitiveType.getPrimitiveTypeName
      assert(phys("ts") == INT96)
      assert(Seq("d9", "d18", "d24").forall(c => phys(c) == FIXED_LEN_BYTE_ARRAY))
      // legacy lists: 3-level `bag`/`array` when elements are nullable,
      // 2-level (a repeated primitive) when they are not
      def listEntry(c: String) =
        fileSchema.getType(fileSchema.getFieldIndex(c)).asGroupType.getType(0)
      assert(listEntry("arr").getName == "bag" && !listEntry("arr").isPrimitive)
      assert(listEntry("arr_nn").isPrimitive)
      val viaSpark = sparkRead(f)
      assert(viaSpark == rows)
      assert(DriverChunks.readRows(f, schema) == viaSpark)
    }
  }

  test("Spark TIMESTAMP_MILLIS -> driver read equals Spark's read") {
    val f = withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MILLIS") {
      sparkWrite("snappy")
    }
    val viaSpark = sparkRead(f)
    assert(viaSpark.map(_.getTimestamp(11)) != rows.map(_.getTimestamp(11)),
      "the fixture should lose sub-millisecond digits under TIMESTAMP_MILLIS")
    assert(DriverChunks.readRows(f, schema) == viaSpark)
  }

  test("columns resolve by field id first, then by name") {
    // driver files carry positional ids: a renamed target still reads
    val f = tmpDir().resolve("c.parquet")
    DriverChunks.writeChunk(f, schema, rows, "snappy")
    val renamed = StructType(schema.fields.map(c => c.copy(name = c.name + "_x")))
    assert(DriverChunks.readRows(f, renamed) == rows)
    // Spark's files carry none: a reordered target resolves by name
    val g = sparkWrite("snappy")
    val reversed = StructType(schema.fields.reverse)
    val names = reversed.fieldNames.toSeq
    assert(DriverChunks.readRows(g, reversed) ==
      spark.read.parquet(g.toString).select(names.head, names.tail: _*)
        .collect().toSeq)
  }

  test("an empty chunk round-trips") {
    val f = tmpDir().resolve("c.parquet")
    DriverChunks.writeChunk(f, schema, Nil, "zstd")
    assert(DriverChunks.readRows(f, schema).isEmpty)
  }
}
