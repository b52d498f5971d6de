package graft.sources.log

import java.nio.file.{Files, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExactAgg

/** Facade over the graft log DSv2 source/sink (the executable S1/S5
  * twin — see [[GraftLogProvider]]).
  */
object GraftLog {

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graftlog").option("path", dir).load()

  /** Batch-produce `df` (must carry key/value columns; optional
    * partition/timestamp) into the log at `dir`.
    */
  def write(df: DataFrame, dir: String, partitions: Int = 4): Unit =
    df.write.format("graftlog").option("path", dir)
      .option("log.partitions", partitions.toString).mode("append").save()

  /** Key-compact every partition in place (original offsets kept —
    * see [[GraftLogMaintain.compactPartition]]).
    */
  def compact(dir: String, dropTombstones: Boolean = false): Unit =
    GraftLogMaintain.compact(dir, dropTombstones)

  /** Drop whole aged/oversized segments from the front of every
    * partition (see [[GraftLogMaintain.applyRetention]]).
    */
  def applyRetention(dir: String, retentionMs: Option[Long] = None,
                     retentionBytes: Option[Long] = None): Map[Int, Long] =
    GraftLogMaintain.applyRetention(dir,
      retentionMicros = retentionMs.map(_ * 1000L),
      retentionBytes = retentionBytes)

  /** Changelog → table materialization (the KTable / compacted-topic
    * reading of a keyed log — Kafka's native version of the
    * reference's Redis profile store, sinks/RedisTransactionSink.java):
    * one row per key, the record with the highest (partition, offset).
    * A key normally lives in exactly one partition (hash routing), so
    * the winner is simply its latest offset; under explicit-partition
    * routing a scattered key resolves by the lexicographic pair —
    * documented, deterministic. Zero-length values are tombstones
    * (Kafka's null-value delete): `dropTombstones` removes those keys
    * from the snapshot.
    *
    * One shuffle by key — this is the materialization operator, the
    * scan itself stays partition-parallel. At scale this is the
    * standard changelog→state rebuild every streams runtime performs.
    */
  def latestByKey(spark: SparkSession, dir: String,
                  dropTombstones: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key"))
      .orderBy(col("partition").desc, col("offset").desc)
    val latest = read(spark, dir)
      .filter(col("key").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
    if (dropTombstones) latest.filter(length(col("value")) > 0) else latest
  }

  /** Streaming twin of [[latestByKey]] — the continuously-maintained
    * KTable: a `readStream` over the log, grouped by key, keeping the
    * record with the highest (partition, offset) via `max_by` in
    * update mode. Each micro-batch emits only the keys it touched
    * (update semantics), so a downstream `foreachBatch` upserts into
    * a serving store exactly like Kafka Streams materializes a
    * changelog into RocksDB. State is one row per key ever written
    * (an aggregation cannot evict a tombstoned key); tombstone
    * filtering is left to the reader (zero-length values surface so
    * deletes propagate).
    */
  def latestByKeyStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("graftlog").option("path", dir)
      .option("startingOffsets", "earliest").load()
      .filter(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(
        max_by(struct(col("value"), col("partition"), col("offset"),
          col("timestamp")), struct(col("partition"), col("offset"))).as("r"))
      .select(col("key"), col("r.value").as("value"),
        col("r.partition").as("partition"), col("r.offset").as("offset"),
        col("r.timestamp").as("timestamp"))

  /** Delete the log at `dir`, if any, so a query that builds its log
    * from scratch never appends to a previous run's records.
    */
  private def deleteLog(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  private val wireSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The q_log_compact query: orders as a per-customer CHANGELOG
    * (key = custkey, one record per order, each key's records appended
    * in (date, orderkey) order), produced into the log, then
    * storage-side key-compacted ([[GraftLogMaintain.compact]] — the
    * reference's `cleanup.policy=compact` profile topics,
    * create-topics.sh:101,111), then materialized back to a table via
    * [[latestByKey]]. A hash match against the windowed-parquet oracle
    * proves compaction keeps exactly the highest-offset record per key
    * with its original offset, and that the sparse compacted segments
    * read back through the same DSv2 scan.
    *
    * Offset determinism: `repartition(key)` puts all of a key's rows
    * in ONE producing task, sorted (date, orderkey) within it, and the
    * commit protocol orders same-partition segments by producing task
    * — so each key's latest offset is its latest (date, orderkey)
    * record in any engine.
    */
  def latestOrderThroughCompactedLog(orders: DataFrame, dir: String): DataFrame = {
    deleteLog(dir)
    val routed = orders
      .repartition(col("o_custkey"))
      .sortWithinPartitions(col("o_orderdate"), col("o_orderkey"))
      .select(col("o_custkey").cast("string").as("key"),
        to_json(struct(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))).as("value"),
        pmod(col("o_custkey"), lit(8)).cast("int").as("partition"),
        col("o_orderdate").cast("timestamp").as("timestamp"))
    write(routed, dir, partitions = 8)
    GraftLogMaintain.compact(dir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType)))
    latestByKey(orders.sparkSession, dir)
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .select(col("r.o_custkey").as("o_custkey"),
        col("r.o_orderkey").as("o_orderkey"),
        col("r.o_totalprice").as("o_totalprice"))
  }

  /** The q_log_roundtrip query: produce the events table through the
    * log as user-keyed JSON records (the reference's Kafka wire shape,
    * simulator → `payment-transactions`), consume it back through the
    * DSv2 scan, decode, and aggregate per event type. Hash-matching
    * the oracle (which reads the parquet directly) proves the whole
    * producer→segment→offset→consumer→decode path is lossless.
    *
    * The log dir is deterministic per sf and recreated from scratch —
    * an append-only log must not accrete across runs.
    */
  def eventStatsThroughLog(events: DataFrame, dir: String): DataFrame = {
    deleteLog(dir)
    write(events.select(
        col("user_id").cast("string").as("key"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"),
          col("value"))).as("value"),
        col("ts").as("timestamp")),
      dir, partitions = 8)
    read(events.sparkSession, dir)
      .select(from_json(col("value").cast("string"), wireSchema).as("r"))
      .select("r.*")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        ExactAgg.dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** [[eventStatsThroughLog]] with the AVRO payload lane
    * ([[graft.sources.AvroWire]], the binary encoding the reference's
    * schema-registry config declares — JobConfig.java:17): produce
    * keyed Avro records into the log, consume via the DSv2 scan +
    * Avro decode, aggregate. The oracle reads the parquet directly,
    * so a hash match proves the binary wire lane is lossless
    * end-to-end. This is also the measured FAST consume lane: the
    * JSON leg is decode-bound, and ThroughputBench's `log-avro` mode
    * reads both decodes on identical records (BASELINE.md row).
    */
  def eventStatsThroughAvroLog(events: DataFrame, dir: String): DataFrame = {
    deleteLog(dir)
    write(graft.sources.AvroWire.encodeKeyed(
        events.select(col("user_id").cast("string").as("key"),
          col("event_id"), col("user_id"), col("event_type"), col("value")),
        "key"),
      dir, partitions = 8)
    graft.sources.AvroWire.decode(read(events.sparkSession, dir), wireSchema)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        ExactAgg.dsum(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
  }
}
