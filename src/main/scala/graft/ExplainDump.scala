package graft

import java.nio.file.{Files, Paths}

/** Writes EXPLAIN.md: formatted physical plans for every query in
  * [[SparkEntry.queries]], in name order — the artifact for reviewing
  * scan pushdown, broadcast choices, and codegen spans without
  * re-running anything.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // show full static plan
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# EXPLAIN — formatted physical plans (auto-generated by " +
      "graft.ExplainDump; do not edit)\n\n")
    sb.append(s"Source: `$sfDir`, AQE disabled to show the full static " +
      "plan. Regenerate: `sbt \"runMain graft.ExplainDump\"`.\n")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
      graft.operators.OperatorCaches.releaseAll()
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println(s"wrote EXPLAIN.md (${names.size} plans)")
    spark.stop()
  }
}
