package graft

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.DataGen
import graft.streaming.TransactionPipeline

/** The fraud pipeline's per-row loop stays within HotSpot's JIT limit.
  * HotSpot never compiles a method of more than 8,000 bytes of bytecode
  * (`DontCompileHugeMethods`), so a fused stage whose `processNext`
  * grows past it runs every row in the interpreter, with no error
  * anywhere. The stream's fused stage — enrich, model, decide and the
  * log sink's record projection — is the one near that limit; this
  * spec fails the column that crosses it.
  *
  * The JSON parse stays out of that stage. In Spark 4.1.2
  * `JsonToStructs` (`from_json`) implements `CodegenFallback`, so its
  * `Project` runs row by row between the scan's stage and the fused
  * one, and engine code cannot move it in. `StructsToJson` (`to_json`,
  * the sink's record) is `RuntimeReplaceable` and does fuse.
  */
class PipelineCodegenSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  private val HugeMethodLimit = 8000

  test("the log-sink stage of the fraud pipeline keeps every method under 8,000 bytes") {
    val dir = tempDir("graft_jit") + "/log"
    Seq(("u1", "{}")).toDF("key", "value")
      .write.format("graftlog").option("path", dir).mode("append").save()
    val raw = spark.read.format("graftlog").option("path", dir).load()
      .select(col("value").cast("string").as("json"))
    // the micro-batch planner runs without AQE; plan the stage the same way
    val key = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val records = TransactionPipeline.logRecords(
        TransactionPipeline.pipeline(raw, DataGen.userProfiles(spark, 10),
          ThroughputBench.merchants(spark, 10)),
        "transaction_id")
      val stages = records.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w
      }
      assert(stages.nonEmpty, records.queryExecution.executedPlan)
      val sizes = stages.map(w =>
        w.codegenStageId -> CodeGenerator.compile(w.doCodeGen()._2)._2
          .maxMethodCodeSize)
      val maxSize = sizes.map(_._2).max
      info(s"largest generated method per codegen stage (id -> bytes): " +
        s"${sizes.mkString(", ")}; limit $HugeMethodLimit")
      assert(maxSize > 0 && maxSize < HugeMethodLimit,
        s"a generated method of $maxSize bytes is past the JIT limit")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
