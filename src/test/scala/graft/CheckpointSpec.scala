package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** §2.7 fault tolerance: the reference runs Flink exactly-once
  * checkpointing (FraudDetectionJob.java:112-136). Spark's analog —
  * checkpointLocation + replayable source + idempotent sink — is
  * exercised here across a real stop/restart: the restarted query
  * must resume from the checkpoint and the sink must contain every
  * input row exactly once.
  */
class CheckpointSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  test("streaming query resumes from checkpoint with exactly-once sink output") {
    val root = tempDir("graft_ckpt")
    val (srcDir, outDir, ckpt) = (s"$root/src", s"$root/out", s"$root/ckpt")
    new java.io.File(srcDir).mkdirs()

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))

    def startQuery() =
      spark.readStream.schema(schema).parquet(srcDir)
        .withColumn("doubled", col("v") * 2)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()

    // batch 1
    (1L to 10L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()

    // new files arrive while the query is DOWN
    (11L to 20L).map(i => (i, i.toDouble)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)

    // restart from the same checkpoint — must pick up only the delta
    val q2 = startQuery()
    q2.processAllAvailable(); q2.stop()

    val out = spark.read.parquet(outDir)
    assert(out.count() == 20, "lost or duplicated rows across restart")
    assert(out.select(countDistinct($"id")).head().getLong(0) == 20)
    assert(out.agg(sum($"doubled")).head().getDouble(0) == 2.0 * (1 to 20).sum)
  }
}
