package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.graftshim.BusDrain
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The loader infers a table's schema once per session and file set:
  * a repeated read starts no Spark job, yet reads exactly what an
  * uncached `spark.read.parquet` reads.
  */
class TablesSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  // the sf0.01 tables next to the session's default sf0.001 ones
  private val sf01 = sf.stripSuffix("sf0.001") + "sf0.01"

  /** Spark jobs `body` starts in session `s`, counted through a job
    * group so jobs of other threads never reach the count. */
  private def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val group = s"tables-spec-${System.nanoTime()}"
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    s.sparkContext.addSparkListener(l)
    s.sparkContext.setJobGroup(group, "TablesSpec")
    try body
    finally {
      s.sparkContext.clearJobGroup()
      BusDrain(s.sparkContext)
      s.sparkContext.removeSparkListener(l)
    }
    n.get()
  }

  private def withTempDir(body: String => Unit): Unit =
    body(tempDir("graft_tables"))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** An uncached read of `path`, with the loader's nanos→micros `ts`
    * conversion spelled out. */
  private def plainRead(path: String): DataFrame = {
    val df = spark.read.parquet(path)
    if (df.schema.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df
  }

  /** The cached read of `dir/name` matches the uncached one: schema
    * with nullability and field metadata, and the full row multiset. */
  private def assertSameAsPlain(dir: String, name: String): Unit = {
    Tables(spark, dir, name)
    val cached = Tables(spark, dir, name)
    val expect = plainRead(s"$dir/$name.parquet")
    // StructField equality covers name, type, nullability and metadata
    assert(cached.schema == expect.schema, name)
    assert(sameRows(cached, expect), name)
  }

  test("a repeated table read starts no Spark job") {
    Tables(spark, sf, "orders").schema
    assert(jobsOf(spark)(Tables(spark, sf, "orders").schema) == 0)
  }

  test("every sf0.01 table reads the same schema and rows as spark.read.parquet") {
    Tables.names.foreach(assertSameAsPlain(sf01, _))
  }

  test("a TIMESTAMP(NANOS) events table converts to micros through the cached schema") {
    withTempDir { dir =>
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; " +
          "required int64 ts (TIMESTAMP(NANOS,true)); }")
      val w = ExampleParquetWriter
        .builder(HadoopOutputFile.fromPath(
          new Path(s"$dir/events.parquet"), new Configuration()))
        .withType(schema).build()
      val rows = new SimpleGroupFactory(schema)
      Seq((1L, 1700000000123456789L), (2L, -1L), (3L, 999L)).foreach {
        case (id, ns) =>
          w.write(rows.newGroup().append("event_id", id).append("ts", ns))
      }
      w.close()
      assertSameAsPlain(dir, "events")
      val events = Tables(spark, dir, "events")
      assert(events.schema("ts").dataType == TimestampType)
      val ts = events.orderBy("event_id").select("ts").collect()
        .map(_.getTimestamp(0).toInstant)
      // integer DIV truncates toward zero: -1 ns and 999 ns are epoch
      assert(ts.toSeq == Seq(
        java.time.Instant.parse("2023-11-14T22:13:20.123456Z"),
        java.time.Instant.EPOCH, java.time.Instant.EPOCH))
    }
  }

  test("each read is a fresh DataFrame: self-joins resolve both sides") {
    val a = Tables(spark, sf, "nation")
    val b = Tables(spark, sf, "nation")
    val j = a.join(b, a("n_regionkey") === b("n_nationkey"))
      .select(a("n_nationkey"), b("n_name"))
    val expect = spark.read.parquet(s"$sf/nation.parquet").as("x")
      .join(spark.read.parquet(s"$sf/nation.parquet").as("y"),
        expr("x.n_regionkey = y.n_nationkey"))
      .selectExpr("x.n_nationkey", "y.n_name")
    assert(sameRows(j, expect))
  }

  test("a table directory rewritten with a different schema is inferred again") {
    withTempDir { dir =>
      import spark.implicits._
      Seq((1, "a"), (2, "b")).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Tables(spark, dir, "t").columns.toSeq == Seq("k", "v"))
      assert(jobsOf(spark)(Tables(spark, dir, "t").schema) == 0)
      Seq((3L, 1.5, true)).toDF("id", "x", "flag")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      val again = Tables(spark, dir, "t")
      assert(again.columns.toSeq == Seq("id", "x", "flag"))
      assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
      assert(again.as[(Long, Double, Boolean)].collect().toSeq ==
        Seq((3L, 1.5, true)))
    }
  }

  test("a missing table raises the same AnalysisException, and is not cached") {
    withTempDir { dir =>
      val viaTables = intercept[AnalysisException](Tables(spark, dir, "nope"))
      val viaRead = intercept[AnalysisException](
        spark.read.parquet(s"$dir/nope.parquet"))
      assert(viaTables.getCondition == viaRead.getCondition)
      assert(viaTables.getMessage == viaRead.getMessage)
      import spark.implicits._
      Seq(7).toDF("z").write.parquet(s"$dir/nope.parquet")
      assert(Tables(spark, dir, "nope").as[Int].collect().toSeq == Seq(7))
    }
  }

  test("a second session does its own first inference") {
    Tables(spark, sf, "region").schema
    val other = spark.newSession()
    assert(jobsOf(other)(Tables(other, sf, "region").schema) > 0)
    assert(jobsOf(other)(Tables(other, sf, "region").schema) == 0)
  }
}
