package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** S9-adjacent source-format coverage: the engine's tables round-trip
  * through every bundled columnar/text format (parquet is the
  * primary; ORC, JSON, CSV prove the storage-agnostic loader story).
  */
class SourceFormatsSpec extends AnyFunSuite {
  import TestSpark._

  test("events round-trip through ORC, JSON, and CSV with equal content") {
    val root = Files.createTempDirectory("graft_fmt").toFile.getAbsolutePath
    val events = Tables(spark, sf, "events")
    val checksum = events.agg(
      sum(crc32(concat_ws("|", col("event_id"), col("user_id"),
        col("event_type"), col("value")))).as("c")).head().getLong(0)
    val n = events.count()

    events.write.orc(s"$root/orc")
    val orc = spark.read.orc(s"$root/orc")
    assert(orc.count() == n)
    assert(orc.agg(sum(crc32(concat_ws("|", col("event_id"), col("user_id"),
      col("event_type"), col("value"))))).head().getLong(0) == checksum)

    events.write.json(s"$root/json")
    val json = spark.read.schema(events.schema).json(s"$root/json")
    assert(json.count() == n)

    events.write.option("header", "true").csv(s"$root/csv")
    val csv = spark.read.option("header", "true").schema(events.schema)
      .csv(s"$root/csv")
    assert(csv.count() == n)
    assert(csv.agg(sum(crc32(concat_ws("|", col("event_id"), col("user_id"),
      col("event_type"), col("value"))))).head().getLong(0) == checksum)
  }

  test("Avro wire format round-trips events incl. timestamps and nulls") {
    import graft.sources.AvroWire
    val events = Tables(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("maybe_null",
        when(col("event_id") % 3 === 0, col("event_type")))
    val wire = AvroWire.encode(events)
    assert(wire.schema.fields.map(f =>
      (f.name, f.dataType.typeName)).toSeq == Seq(("value", "binary")))
    val back = AvroWire.decode(wire, events.schema)
    assert(back.count() == events.count())
    def sig(df: org.apache.spark.sql.DataFrame): Long = df.agg(
      sum(crc32(concat_ws("|", col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("long"), col("value"),
        coalesce(col("maybe_null"), lit("<null>")))))).head().getLong(0)
    assert(sig(back) == sig(events))
    // the wire schema itself is sane (registry-compatible record)
    val names = AvroWire.wireFieldNames(
      AvroWire.avroSchemaJson(events.schema))
    assert(names == events.schema.fieldNames.toSeq)
  }

  test("keyed Avro producer shape round-trips through the graftlog") {
    import graft.sources.AvroWire
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("avro_keyed_log")
      .toFile.getAbsolutePath
    val dir = s"$root/log"
    val events = Tables(spark, sf, "events")
      .select(col("user_id").cast("string").as("key"),
        col("event_id"), col("event_type"), col("value"))
    val recs = AvroWire.encodeKeyed(events, "key")
    assert(recs.schema.fieldNames.toSeq == Seq("key", "value"))
    graft.sources.log.GraftLog.write(recs, dir, partitions = 4)
    val payloadSchema = org.apache.spark.sql.types.StructType(
      events.schema.fields.filterNot(_.name == "key"))
    val logRows = spark.read.format("graftlog").option("path", dir).load()
    // the Kafka key travels in the record key, not the payload...
    val keysBack = logRows.select(col("key").cast("string"))
      .as[String].collect().sorted
    assert(keysBack.toSeq ==
      events.select("key").as[String].collect().sorted.toSeq)
    // ...and the payload decodes bit-exactly
    val back = AvroWire.decode(logRows, payloadSchema)
    def sig(df: org.apache.spark.sql.DataFrame): Long = df.agg(
      sum(crc32(concat_ws("|", col("event_id"), col("event_type"),
        col("value"))))).head().getLong(0)
    assert(back.count() == events.count())
    assert(sig(back) == sig(events))
  }

  test("Protobuf wire format round-trips events incl. timestamps and nulls") {
    import graft.sources.ProtoWire
    val events = Tables(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "ts", "value")
      .withColumn("maybe_null",
        when(col("event_id") % 3 === 0, col("event_type")))
    val wire = ProtoWire.encode(events)
    assert(wire.schema.fields.map(f =>
      (f.name, f.dataType.typeName)).toSeq == Seq(("value", "binary")))
    val back = ProtoWire.decode(wire, events.schema)
    assert(back.count() == events.count())
    def sig(df: org.apache.spark.sql.DataFrame): Long = df.agg(
      sum(crc32(concat_ws("|", col("event_id"), col("user_id"),
        col("event_type"), col("ts").cast("long"), col("value"),
        coalesce(col("maybe_null"), lit("<null>")))))).head().getLong(0)
    assert(sig(back) == sig(events))
  }

  test("Protobuf wire bytes match the published spec's golden examples") {
    import graft.sources.ProtoWire
    import org.apache.spark.sql.types._
    // protobuf.dev encoding guide: field 1 (varint) = 150 -> 08 96 01;
    // field 2 (string) = "testing" -> 12 07 74 65 73 74 69 6e 67
    val schema = StructType(Seq(StructField("a", LongType),
      StructField("b", StringType)))
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(150L, "testing")), schema)
    val bytes = ProtoWire.encode(df).head().getAs[Array[Byte]](0)
    val golden = Array(0x08, 0x96, 0x01, 0x12, 0x07).map(_.toByte) ++
      "testing".getBytes("UTF-8")
    assert(bytes.toSeq == golden.toSeq,
      s"wire bytes ${bytes.map("%02x".format(_)).mkString(" ")}")
    // unknown-field skipping (spec-required forward compatibility):
    // append field 99 varint 1 (tag = 99<<3 | 0 -> varint 792) and a
    // field 100 length-delimited blob; decode must ignore both
    val extra = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(bytes); bos.write(0x98); bos.write(0x06); bos.write(0x01)
      bos.write(0xA2); bos.write(0x06); bos.write(0x02)
      bos.write(0xFF); bos.write(0xFE)
      bos.toByteArray
    }
    val back = ProtoWire.decode(
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(extra)),
        StructType(Seq(StructField("value", BinaryType)))), schema)
      .head()
    assert(back.getLong(0) == 150L && back.getString(1) == "testing")
  }

  test("Protobuf lane covers every type incl. negative ints (10-byte varints)") {
    import graft.sources.ProtoWire
    import org.apache.spark.sql.types._
    // negative int32/int64 are the trap: the spec sign-extends them to
    // 64 bits before varint encoding, always 10 bytes on the wire
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("raw", BinaryType)))
    val rows = java.util.List.of(
      org.apache.spark.sql.Row(true, -1, Long.MinValue, -0.5f,
        Double.MaxValue, "", Array[Byte](0, -1, 127)),
      org.apache.spark.sql.Row(false, Int.MinValue, 0L, Float.NaN,
        -0.0, "héllo wörld", Array.empty[Byte]),
      org.apache.spark.sql.Row(null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows, schema)
    val back = ProtoWire.decode(ProtoWire.encode(df), schema)
      .collect().sortBy(r => if (r.isNullAt(2)) Long.MaxValue else r.getLong(2))
    assert(back.length == 3)
    val r0 = back.find(r => !r.isNullAt(1) && r.getInt(1) == -1).get
    assert(r0.getBoolean(0) && r0.getLong(2) == Long.MinValue &&
      r0.getFloat(3) == -0.5f && r0.getDouble(4) == Double.MaxValue &&
      r0.getString(5) == "" &&
      r0.getAs[Array[Byte]](6).toSeq == Seq[Byte](0, -1, 127))
    val r1 = back.find(r => !r.isNullAt(1) && r.getInt(1) == Int.MinValue).get
    assert(!r1.getBoolean(0) && r1.getLong(2) == 0L &&
      r1.getFloat(3).isNaN && // NaN bit pattern survives fixed32
      java.lang.Double.doubleToLongBits(r1.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(-0.0) &&
      r1.getString(5) == "héllo wörld" &&
      r1.getAs[Array[Byte]](6).length == 0)
    val r2 = back.find(_.isNullAt(1)).get
    assert((0 until 7).forall(r2.isNullAt)) // all-null row -> empty payload
  }

  test("Protobuf nested messages and repeated fields round-trip") {
    import graft.sources.ProtoWire
    import org.apache.spark.sql.types._
    // registry-shaped payload: scalars + embedded message + packed
    // repeated numerics + repeated strings + repeated sub-messages
    val geo = StructType(Seq(
      StructField("lat", DoubleType), StructField("lon", DoubleType)))
    val tag = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("where", geo),
      StructField("scores", ArrayType(DoubleType)),
      StructField("counts", ArrayType(IntegerType)),
      StructField("labels", ArrayType(StringType)),
      StructField("tags", ArrayType(tag))))
    import org.apache.spark.sql.Row
    val rows = java.util.List.of(
      Row(1L, Row(37.5, -122.25), Seq(0.5, -1.5, 0.0), Seq(-1, 0, 7),
        Seq("a", "", "c"), Seq(Row("x", 1L), Row("y", -2L))),
      // empty PACKED array round-trips (zero-length packed record);
      // nulls stay null
      Row(2L, null, Seq.empty[Double], null, null, null),
      Row(3L, Row(0.0, 0.0), null, Seq(Int.MinValue), Seq("solo"),
        Seq(Row("", 0L))))
    val df = spark.createDataFrame(rows, schema)
    val back = ProtoWire.decode(ProtoWire.encode(df), schema)
      .collect().sortBy(_.getLong(0))
    assert(back.length == 3)
    val r1 = back(0)
    assert(r1.getStruct(1).getDouble(0) == 37.5 &&
      r1.getStruct(1).getDouble(1) == -122.25)
    assert(r1.getSeq[Double](2) == Seq(0.5, -1.5, 0.0))
    assert(r1.getSeq[Int](3) == Seq(-1, 0, 7))
    assert(r1.getSeq[String](4) == Seq("a", "", "c"))
    assert(r1.getSeq[Row](5).map(t => (t.getString(0), t.getLong(1))) ==
      Seq(("x", 1L), ("y", -2L)))
    val r2 = back(1)
    assert(r2.isNullAt(1) && r2.getSeq[Double](2).isEmpty &&
      r2.isNullAt(3) && r2.isNullAt(4) && r2.isNullAt(5))
    val r3 = back(2)
    assert(r3.getStruct(1).getDouble(0) == 0.0) // zero sub-message survives
    assert(r3.getSeq[Int](3) == Seq(Int.MinValue) &&
      r3.getSeq[String](4) == Seq("solo"))
    assert(r3.getSeq[Row](5).head.getString(0) == "")
  }

  test("Protobuf decoder accepts unpacked repeated scalars per spec") {
    import graft.sources.ProtoWire
    import org.apache.spark.sql.types._
    // a conforming decoder must accept repeated scalars in EITHER
    // spelling; hand-encode field 1 (repeated int64) unpacked:
    // three varint records under the same field number
    val schema = StructType(Seq(StructField("xs", ArrayType(LongType))))
    val bos = new java.io.ByteArrayOutputStream()
    Seq(5L, 150L, 0L).foreach { v =>
      bos.write(0x08) // field 1, wire type 0 (varint)
      var x = v
      while ((x & ~0x7FL) != 0L) { bos.write(((x & 0x7FL) | 0x80L).toInt); x >>= 7 }
      bos.write(x.toInt)
    }
    val wire = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(bos.toByteArray)),
      StructType(Seq(StructField("value", BinaryType))))
    val back = ProtoWire.decode(wire, schema).head()
    assert(back.getSeq[Long](0) == Seq(5L, 150L, 0L))
  }

  test("Protobuf decode fails fast on malformed payloads") {
    import graft.sources.ProtoWire
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s", StringType)))
    def decodeBytes(bytes: Array[Byte]) =
      ProtoWire.decode(
        spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(bytes)),
          StructType(Seq(StructField("value", BinaryType)))), schema)
        .collect()
    def messageOf(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null && !c.getMessage.contains("malformed proto"))
        c = c.getCause
      String.valueOf(c.getMessage)
    }
    // varint with continuation bit past the 10-byte spec cap
    val longVarint = Array.fill[Byte](11)(0x80.toByte) :+ 0x01.toByte
    val e1 = intercept[Throwable](decodeBytes(0x08.toByte +: longVarint))
    assert(messageOf(e1).contains("10-byte"))
    // declared string length running past the buffer end
    val e2 = intercept[Throwable](
      decodeBytes(Array(0x0A, 0x7F, 0x61, 0x62).map(_.toByte)))
    assert(messageOf(e2).contains("exceeds remaining buffer"))
    // truncated varint (continuation bit set at buffer end)
    val e3 = intercept[Throwable](decodeBytes(Array(0x08, 0xFF).map(_.toByte)))
    assert(messageOf(e3).contains("past buffer end"))
    // unknown length-delimited field with an over-long skip length
    val e4 = intercept[Throwable](
      decodeBytes(Array(0x32, 0x10, 0x00).map(_.toByte)))
    assert(messageOf(e4).contains("exceeds remaining buffer"))
  }

  test("Protobuf repeated lane contracts: null elements rejected, empty repeated-string decodes null") {
    import graft.sources.ProtoWire
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("ls", ArrayType(StringType))))
    // empty repeated len-delim has NO wire spelling -> decodes as null
    // (the documented interop caveat, mirror of proto3 default-elision)
    val empty = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(Seq.empty[String])), schema)
    val backEmpty = ProtoWire.decode(ProtoWire.encode(empty), schema).head()
    assert(backEmpty.isNullAt(0))
    // null elements have no proto spelling at all -> descriptive error
    val withNull = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(Seq("a", null))), schema)
    val e = intercept[Throwable](ProtoWire.encode(withNull).collect())
    def messageOf(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null && !String.valueOf(c.getMessage).contains("null element"))
        c = c.getCause
      String.valueOf(c.getMessage)
    }
    assert(messageOf(e).contains("null element"))
    // arrays of arrays are rejected at validation, not mis-encoded
    val nested = StructType(Seq(
      StructField("aa", ArrayType(ArrayType(LongType)))))
    val e2 = intercept[IllegalArgumentException] {
      ProtoWire.decode(empty.limit(0).select(
        org.apache.spark.sql.functions.lit(Array.empty[Byte]).as("value")), nested)
    }
    assert(e2.getMessage.contains("wrap the inner array"))
  }

  test("Wire registry dispatches topics through all three lanes with one contract") {
    import graft.sources.WireRegistry
    import graft.sources.WireRegistry.{Avro, Json, Proto}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("kind", StringType),
      StructField("score", DoubleType)))
    val reg = new WireRegistry.Registry
    reg.register("tx-json", Json, schema)
    reg.register("tx-avro", Avro, schema)
    reg.register("tx-proto", Proto, schema)
    import org.apache.spark.sql.Row
    val df = spark.createDataFrame(java.util.List.of(
      Row(1L, "purchase", 0.25), Row(2L, null, -1.5),
      Row(3L, "view", null)), schema)
    def key(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    for (topic <- Seq("tx-json", "tx-avro", "tx-proto")) {
      val wire = reg.encode(df, topic)
      assert(wire.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
        Seq(("value", "binary")), s"$topic payload contract")
      assert(key(reg.decode(wire, topic)) == key(df), s"$topic round-trip")
    }
    // unregistered topic and schema drift both fail fast by name
    val e1 = intercept[IllegalArgumentException](reg.encode(df, "nope"))
    assert(e1.getMessage.contains("not registered"))
    val e2 = intercept[IllegalArgumentException](
      reg.encode(df.withColumnRenamed("kind", "k2"), "tx-json"))
    assert(e2.getMessage.contains("tx-json"))
    // illegal proto lane rejected at REGISTER time, no frame in hand
    val e3 = intercept[IllegalArgumentException](
      reg.register("bad", Proto, StructType(Seq(
        StructField("aa", ArrayType(ArrayType(LongType)))))))
    assert(e3.getMessage.contains("wrap the inner array"))
  }

  test("Postgres driver absence is verified, not assumed (S9 runs on embedded Derby)") {
    // the image ships no Postgres driver — pin that. The JDBC catalog
    // path itself is REAL: JdbcCatalogSpec drives write + partitioned
    // pushdown reads against Spark's own embedded Derby; only the
    // production database behind the URL is absent here.
    assertThrows[ClassNotFoundException] {
      Class.forName("org.postgresql.Driver")
    }
  }

  test("Kafka connector absence is verified, not assumed") {
    // The reference consumes/produces Kafka (FraudDetectionJob.java:
    // 141-157,162-213). This sandbox ships neither spark-sql-kafka nor
    // kafka-clients nor a broker — pin that fact so serving S1/S5 from
    // the graftlog source and sink (TransactionPipeline.fromLog/
    // toLogSink) is evidence-backed, and the suite flags it if the
    // environment ever gains the jars (at which point a Kafka source
    // and sink become testable).
    assertThrows[ClassNotFoundException] {
      Class.forName("org.apache.kafka.clients.producer.KafkaProducer")
    }
    assertThrows[ClassNotFoundException] {
      Class.forName(
        "org.apache.spark.sql.kafka010.KafkaSourceProvider")
    }
    val err = intercept[Exception] {
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", "localhost:1")
        .option("subscribe", "t").load()
    }
    assert(err.getMessage.toLowerCase.contains("kafka"))
  }

  test("parquet schema evolution: mergeSchema unifies, old files null-fill") {
    // the ingest reality at 100 TB: files written months apart carry
    // different schema versions; the reader must union them without a
    // rewrite. v1 files lack the later `score` column.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evolve")
      .toFile.getAbsolutePath
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
      .write.parquet(s"$root/p=1")
    Seq((3L, "c", 0.5), (4L, "d", 0.9)).toDF("id", "tag", "score")
      .write.parquet(s"$root/p=2")
    val df = spark.read.option("mergeSchema", "true").parquet(root)
    assert(df.columns.toSet == Set("id", "tag", "score", "p"))
    val byId = df.collect().map(r =>
      r.getAs[Long]("id") -> Option(r.getAs[Any]("score"))).toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty, "v1 rows null-fill")
    assert(byId(3L).contains(0.5) && byId(4L).contains(0.9))
    // and column pruning still reaches the scan across both versions
    val scan = df.select("id").queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(scan.contains("ReadSchema: struct<id:bigint>"), scan)
  }
}
