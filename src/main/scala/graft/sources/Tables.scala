package graft.sources

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated deterministic parquet tables
  * (see TESTDATA.md). One parquet file per table (or a Spark-written
  * table directory); schema-on-read so Catalyst can push
  * filters/projections into the scan.
  *
  * The loader is the catalog: a table's schema is inferred once per
  * session and file set, then every later read passes it to
  * `spark.read.schema(...)`. Inference reads the parquet footers in a
  * Spark job of its own, so without this every table read of every
  * query execution pays one extra driver job. The cache key is the
  * session, the qualified table path and each data file's name, size
  * and modification time, so a rewritten table is inferred again. Only
  * the schema is kept: each call still builds a fresh DataFrame with
  * its own attribute ids. A failed inference is not cached.
  *
  * At cluster scale these would be partitioned/bucketed table paths —
  * the loader is the single place to swap in a catalog, so every
  * operator above it stays storage-agnostic.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type FileKey = (String, Seq[(String, Long, Long)])

  private val schemas =
    Collections.synchronizedMap(
      new WeakHashMap[SparkSession, ConcurrentHashMap[FileKey, StructType]]())

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    // The events table carries TIMESTAMP(NANOS) parquet timestamps,
    // which Spark only reads via spark.sql.legacy.parquet.nanosAsLong
    // (set in Verify/Bench/test sessions). Convert back to a proper
    // event-time column; integer DIV truncates exactly like DuckDB's
    // ns→µs read, so both engines see identical values.
    df.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case None    => df
    }
  }

  /** Reads `path` with its cached schema, inferring it on a miss. The
    * files are listed BEFORE inference, so a table rewritten between
    * the two can only leave an entry under a key no later listing
    * produces. A missing path is not cached and fails in
    * `spark.read.parquet` exactly as an uncached read does.
    */
  private def read(spark: SparkSession, path: String): DataFrame = {
    val key = fileKey(spark, path)
    val cache = schemas.computeIfAbsent(spark,
      _ => new ConcurrentHashMap[FileKey, StructType]())
    key.flatMap(k => Option(cache.get(k))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(cache.put(_, df.schema))
        df
    }
  }

  private def fileKey(spark: SparkSession, path: String): Option[FileKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      // listStatus, not listFiles: a LocatedFileStatus loads each
      // file's permissions, which the local file system forks for
      def files(s: FileStatus): Seq[FileStatus] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files)
        else Seq(s)
      val entries = files(fs.getFileStatus(p))
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
        .sortBy(_._1)
      Some((fs.makeQualified(p).toString, entries))
    }
  }

  /** Register every table as a temp view (for the SQL surface). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
