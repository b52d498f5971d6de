package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Avro binary wire format — the Kafka payload encoding the reference
  * declares via its schema-registry URL (JobConfig.java:17). The
  * spark-avro module is not on this classpath, so this is built
  * directly on the public Avro core API (org.apache.avro:avro, which
  * ships with Spark): per-partition GenericDatum{Writer,Reader} with
  * reused BinaryEncoder/Decoder — the same Iterator→Iterator kernel
  * boundary as the multimodal codecs, one codec init per task, no
  * per-row allocation beyond the payload.
  *
  * Supported lane: the flat primitive subset every Kafka wire schema
  * in the reference uses (boolean/int/long/float/double/string/bytes
  * + nullable unions + timestamp-micros). Nested records would follow
  * the same recursion; they are not needed for the reference's
  * Transaction schema.
  */
object AvroWire {

  /** Avro record schema JSON for a flat Spark schema.
    *
    * Every field is emitted as a `["null", T]` union regardless of the
    * frame's `nullable` flag: Spark nullability is incidental metadata
    * (a `range()`-derived column is non-nullable, the same column read
    * back from parquet is nullable), and a wire schema that tracked it
    * would make writer and reader schemas silently diverge — a binary
    * decoder that expects a union where none was written misreads the
    * stream (the branch index is consumed from data bytes). Registry
    * schemas pin one canonical encoding per topic; so does this.
    */
  def avroSchemaJson(schema: StructType, name: String = "GraftRecord"): String = {
    def prim(dt: DataType): String = dt match {
      case BooleanType => "\"boolean\""
      case IntegerType => "\"int\""
      case LongType => "\"long\""
      case FloatType => "\"float\""
      case DoubleType => "\"double\""
      case StringType => "\"string\""
      case BinaryType => "\"bytes\""
      case TimestampType =>
        """{"type":"long","logicalType":"timestamp-micros"}"""
      case other =>
        throw new IllegalArgumentException(s"unsupported Avro lane type: $other")
    }
    val fields = schema.fields.map { f =>
      s"""{"name":"${f.name}","type":["null",${prim(f.dataType)}]}"""
    }
    s"""{"type":"record","name":"$name","fields":[${fields.mkString(",")}]}"""
  }

  private def toAvroValue(v: Any): Any = v match {
    case null => null
    case ts: java.sql.Timestamp =>
      val i = ts.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case x => x
  }

  private def fromAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (s: CharSequence, StringType) => s.toString
    case (l: java.lang.Long, TimestampType) =>
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(l.longValue, 1000000L),
        Math.floorMod(l.longValue, 1000000L) * 1000L))
    case (bb: java.nio.ByteBuffer, BinaryType) =>
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    case (x, _) => x
  }

  /** Serialize every column of `df` into one Avro-binary `value`
    * column (the Kafka record payload shape).
    */
  def encode(df: DataFrame): DataFrame = {
    val sparkSchema = df.schema
    val json = avroSchemaJson(sparkSchema)
    df.mapPartitions { rows =>
      val schema = new Schema.Parser().parse(json)
      val writer = new GenericDatumWriter[GenericRecord](schema)
      val bos = new ByteArrayOutputStream()
      var encoder = EncoderFactory.get().binaryEncoder(bos, null)
      rows.map { row =>
        bos.reset()
        encoder = EncoderFactory.get().binaryEncoder(bos, encoder)
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < sparkSchema.length) {
          rec.put(i, toAvroValue(row.get(i)))
          i += 1
        }
        writer.write(rec, encoder)
        encoder.flush()
        bos.toByteArray
      }
    }(Encoders.BINARY).toDF("value")
  }

  /** [[encode]] preserving one column as the record KEY alongside the
    * Avro-binary payload — the (key, value) producer shape
    * [[graft.sources.log.GraftLog.write]] consumes. The key column is
    * excluded from the wire record (Kafka keys travel in the record
    * key, not the payload), so `decode` over the remaining columns
    * round-trips exactly.
    */
  def encodeKeyed(df: DataFrame, keyCol: String): DataFrame = {
    val all = df.schema
    val payload = StructType(all.fields.filter(_.name != keyCol))
    val json = avroSchemaJson(payload)
    val keyIdx = all.fieldIndex(keyCol)
    val srcIdx = payload.fields.map(f => all.fieldIndex(f.name))
    df.mapPartitions { rows =>
      val schema = new Schema.Parser().parse(json)
      val writer = new GenericDatumWriter[GenericRecord](schema)
      val bos = new ByteArrayOutputStream()
      var encoder = EncoderFactory.get().binaryEncoder(bos, null)
      rows.map { row =>
        bos.reset()
        encoder = EncoderFactory.get().binaryEncoder(bos, encoder)
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < srcIdx.length) {
          rec.put(i, toAvroValue(row.get(srcIdx(i))))
          i += 1
        }
        writer.write(rec, encoder)
        encoder.flush()
        (row.getString(keyIdx), bos.toByteArray)
      }
    }(Encoders.tuple(Encoders.STRING, Encoders.BINARY)).toDF("key", "value")
  }

  /** Deserialize a `value` binary column back into typed columns,
    * given the Spark-side target schema (reader schema = writer schema
    * derived from it).
    */
  def decode(df: DataFrame, schema: StructType): DataFrame = {
    val json = avroSchemaJson(schema)
    val out = df.select("value").mapPartitions { rows =>
      val avroSchema = new Schema.Parser().parse(json)
      val reader = new GenericDatumReader[GenericRecord](avroSchema)
      var decoder: org.apache.avro.io.BinaryDecoder = null
      val fields = schema.fields
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](0)
        decoder = DecoderFactory.get().binaryDecoder(bytes, decoder)
        val rec = reader.read(null, decoder)
        Row.fromSeq(fields.indices.map(i =>
          fromAvroValue(rec.get(i), fields(i).dataType)))
      }
    }(Encoders.row(schema))
    out
  }
}
