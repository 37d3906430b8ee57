package graft.storage.dsv2

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.api.WriteSupport.WriteContext
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Executor-side `InternalRow` → parquet writer for every graft-snapshot
  * write (SQL writes and the library's staging alike) — the mirror of
  * [[SnapshotPartitionReader]]: the same flat-analytic type surface
  * (primitives, dates, micros timestamps, decimals, one-level arrays,
  * string maps), written with parquet-hadoop's record-consumer API and
  * snappy compression (Spark's own default), no internal-API dependence.
  *
  * Timestamps are written as INT64 TIMESTAMP(MICROS) — the modern
  * encoding both this connector's reader and Spark's native reader
  * understand (INT96 is a legacy READ-side compatibility, never worth
  * writing anew). */
object SnapshotParquetWrite {

  /** Refuse, with this writer's message, a schema it cannot write — its
    * type surface is exactly what the connector's readers decode. Library
    * staging ([[graft.storage.SnapshotTable]]) calls it before its job
    * starts, so a bad schema is refused before any file is staged. */
  def requireWritable(schema: StructType): Unit = message(schema)

  /** StructType → parquet MessageType (all fields optional, matching
    * Spark's writer convention). */
  def message(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(field(f.name, f.dataType)))
    b.named("spark_schema")
  }

  private def field(name: String, dt: DataType): Type = dt match {
    case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN).named(name)
    case IntegerType | ShortType | ByteType =>
      Types.optional(PrimitiveTypeName.INT32).named(name)
    case LongType => Types.optional(PrimitiveTypeName.INT64).named(name)
    case FloatType => Types.optional(PrimitiveTypeName.FLOAT).named(name)
    case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE).named(name)
    case StringType => Types.optional(PrimitiveTypeName.BINARY)
      .as(LogicalTypeAnnotation.stringType()).named(name)
    case BinaryType => Types.optional(PrimitiveTypeName.BINARY).named(name)
    case DateType => Types.optional(PrimitiveTypeName.INT32)
      .as(LogicalTypeAnnotation.dateType()).named(name)
    case TimestampType => Types.optional(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      .named(name)
    case TimestampNTZType => Types.optional(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
      .named(name)
    case d: DecimalType if d.precision <= 18 =>
      Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case d: DecimalType =>
      Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
    case ArrayType(elem, _) =>
      Types.optionalGroup().as(LogicalTypeAnnotation.listType())
        .addField(Types.repeatedGroup()
          .addField(field("element", elem)).named("list"))
        .named(name)
    case MapType(StringType, StringType, _) =>
      Types.optionalGroup().as(LogicalTypeAnnotation.mapType())
        .addField(Types.repeatedGroup()
          .addField(Types.required(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named("key"))
          .addField(Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named("value"))
          .named("key_value"))
        .named(name)
    case other => throw new UnsupportedOperationException(
      s"graft-snapshot writer: unsupported column type $other")
  }

  /** Open a snappy parquet writer for `file`. */
  def open(file: String, schema: StructType,
           conf: Configuration): ParquetWriter[InternalRow] = {
    final class B(p: org.apache.hadoop.fs.Path)
      extends ParquetWriter.Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
        new RowWriteSupport(schema)
    }
    new B(new org.apache.hadoop.fs.Path(file))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }
}

final class RowWriteSupport(schema: StructType) extends WriteSupport[InternalRow] {

  private var rc: RecordConsumer = _

  override def init(configuration: Configuration): WriteContext =
    new WriteContext(SnapshotParquetWrite.message(schema),
      Map.empty[String, String].asJava)

  override def prepareForWrite(recordConsumer: RecordConsumer): Unit =
    rc = recordConsumer

  override def write(row: InternalRow): Unit = {
    rc.startMessage()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val f = schema.fields(i)
        rc.startField(f.name, i)
        writeValue(row, i, f.dataType)
        rc.endField(f.name, i)
      }
      i += 1
    }
    rc.endMessage()
  }

  private def writeValue(row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
                         i: Int, dt: DataType): Unit = dt match {
    case BooleanType => rc.addBoolean(row.getBoolean(i))
    case IntegerType => rc.addInteger(row.getInt(i))
    case ShortType => rc.addInteger(row.getShort(i).toInt)
    case ByteType => rc.addInteger(row.getByte(i).toInt)
    case LongType => rc.addLong(row.getLong(i))
    case FloatType => rc.addFloat(row.getFloat(i))
    case DoubleType => rc.addDouble(row.getDouble(i))
    case StringType =>
      rc.addBinary(Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
    case BinaryType => rc.addBinary(Binary.fromConstantByteArray(row.getBinary(i)))
    case DateType => rc.addInteger(row.getInt(i))
    case TimestampType | TimestampNTZType => rc.addLong(row.getLong(i))
    case d: DecimalType if d.precision <= 18 =>
      rc.addLong(row.getDecimal(i, d.precision, d.scale).toUnscaledLong)
    case d: DecimalType =>
      rc.addBinary(Binary.fromConstantByteArray(
        row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .unscaledValue().toByteArray))
    case ArrayType(elem, _) =>
      val arr = row.getArray(i)
      rc.startGroup()
      if (arr.numElements() > 0) {
        rc.startField("list", 0)
        var j = 0
        while (j < arr.numElements()) {
          rc.startGroup()
          if (!arr.isNullAt(j)) {
            rc.startField("element", 0)
            writeValue(arr, j, elem)
            rc.endField("element", 0)
          }
          rc.endGroup()
          j += 1
        }
        rc.endField("list", 0)
      }
      rc.endGroup()
    case MapType(StringType, StringType, _) =>
      val m = row.getMap(i)
      rc.startGroup()
      if (m.numElements() > 0) {
        rc.startField("key_value", 0)
        var j = 0
        while (j < m.numElements()) {
          rc.startGroup()
          rc.startField("key", 0)
          rc.addBinary(Binary.fromConstantByteArray(
            m.keyArray().getUTF8String(j).getBytes))
          rc.endField("key", 0)
          if (!m.valueArray().isNullAt(j)) {
            rc.startField("value", 1)
            rc.addBinary(Binary.fromConstantByteArray(
              m.valueArray().getUTF8String(j).getBytes))
            rc.endField("value", 1)
          }
          rc.endGroup()
          j += 1
        }
        rc.endField("key_value", 0)
      }
      rc.endGroup()
    case other => throw new UnsupportedOperationException(
      s"graft-snapshot writer: unsupported column type $other")
  }
}
