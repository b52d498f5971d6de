package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins that EXPLAIN.md and PlanDump text depends on neither the host
  * (data dir, temp dir, JVM identities) nor the session's query order
  * (ids).
  */
class ExplainDumpSpec extends AnyFunSuite {

  private val tmp = System.getProperty("java.io.tmpdir")

  private def plan(sf: String, base: Int): String =
    s"""Scan parquet [file:$sf/events.parquet] Output [user_id#${base}L, v#${base + 7}]
       |Filter (v#${base + 7} > 1.0) [plan_id=${base * 3}] user_id#${base}L
       |transform(v#${base + 7}, lambdafunction(lambda x_${base * 5}#${base + 9}))
       |Scan graftlog($tmp/graft_qlog_${math.abs(sf.hashCode)})
       |MapPartitionsRDD[${base + 1}] at localCheckpoint at Similarity.scala:${base}
       |Multimodal$$$$$$Lambda$$${base}/0x00007fdd252e4000@3589425d, [J@6effa)
       |""".stripMargin

  test("plans from two data dirs and two sessions normalize to one text") {
    val a = ExplainDump.normalize(plan("/data/one/sf0.01", 12), "/data/one/sf0.01")
    val b = ExplainDump.normalize(plan("/elsewhere/sf0.01", 4711), "/elsewhere/sf0.01")
    assert(a == b)
    assert(a ==
      s"""Scan parquet [file:<sf>/events.parquet] Output [user_id#1L, v#2]
         |Filter (v#2 > 1.0) [plan_id=1] user_id#1L
         |transform(v#2, lambdafunction(lambda x_1#3))
         |Scan graftlog(<tmp>/graft_qlog_<sf-hash>)
         |MapPartitionsRDD[1] at localCheckpoint at Similarity.scala
         |Multimodal$$$$$$Lambda@<obj>, [J@<obj>)
         |""".stripMargin)
  }

  test("dumping one query twice in a session gives byte-identical text") {
    import TestSpark.{sf, spark}
    val name = "q_image_neardup"
    def raw() = SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // the raw text moves between two builds (fresh expression ids)...
    assert(raw() != raw())
    graft.operators.OperatorCaches.releaseAll()
    spark.catalog.clearCache()
    // ...the dumped text does not
    val Seq((_, first), (_, second)) =
      ExplainDump.plans(spark, Seq(name, name), sf).toSeq
    assert(first == second)
  }
}
