package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: every main and the test suites get
  * the same config from here, so a plan, timing or oracle result from
  * one entry point holds for the others.
  *
  *  - `local[cpus]`, with `cpus` shuffle partitions;
  *  - UTC session time zone;
  *  - parquet timestamps read as written: no TIMESTAMP_NTZ inference,
  *    and `events.parquet`'s TIMESTAMP(NANOS) read as a long
  *    (`graft.sources.Tables` converts it back);
  *  - no UI, log level WARN.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
