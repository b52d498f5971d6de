package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for local iteration on a subset
    // (the driver sets no filter and dumps everything)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    SparkEntry.queries
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        // drop operator-internal caches between queries
        graft.operators.OperatorCaches.releaseAll()
        spark.catalog.clearCache()
      }
    }
    Bench.writeJson(s"$outDir/oracle_sql.json",
      Bench.jsonObject(SparkEntry.oracleSql.toSeq: _*))
    spark.stop()
  }
}
