package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes EXPLAIN.md: formatted physical plans for every query in
  * [[SparkEntry.queries]], in name order — the artifact for reviewing
  * scan pushdown, broadcast choices, and codegen spans without
  * re-running anything.
  *
  * The text depends only on the code and the data, not on the host or
  * on which queries ran first (see [[normalize]]), so a regeneration
  * diff shows only plans that really changed.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.conf.set("spark.sql.adaptive.enabled", "false") // show full static plan
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# EXPLAIN — formatted physical plans (auto-generated by " +
      "graft.ExplainDump; do not edit)\n\nSource: `<sf>` (the data dir " +
      "argument; the temp dir is `<tmp>`), AQE disabled to show the full " +
      "static plan, ids renumbered per plan. Regenerate: " +
      "`sbt \"runMain graft.ExplainDump <sf dir>\"`.\n")
    plans(spark, names, sfDir).foreach { case (name, plan) =>
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get("EXPLAIN.md"), sb.toString)
    println(s"wrote EXPLAIN.md (${names.size} plans)")
    spark.stop()
  }

  /** The formatted physical plan of each named query in
    * [[SparkEntry.queries]], normalized, in the given order. Operator
    * caches and cached frames are released after each query, so no
    * plan depends on the queries before it.
    */
  private[graft] def plans(spark: SparkSession, names: Seq[String],
                           sfDir: String): Iterator[(String, String)] =
    names.iterator.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      graft.operators.OperatorCaches.releaseAll()
      spark.catalog.clearCache()
      name -> normalize(plan, sfDir)
    }

  /** Rewrites one plan's host- and session-specific text: the data dir
    * becomes `<sf>`, the JVM temp dir `<tmp>` (with `<sf-hash>` for the
    * data-dir hash in temp store names); source line numbers, JVM lambda
    * class numbers and identity hashes are dropped; expression (`#12L`),
    * lambda variable (`x_5`), plan (`plan_id=7`) and RDD (`RDD[3]`) ids
    * are renumbered from 1 in order of first appearance.
    */
  private[graft] def normalize(plan: String, sfDir: String): String = {
    val sfAbs = Paths.get(sfDir).toAbsolutePath.normalize.toString
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      .toAbsolutePath.normalize.toString
    val hosted = plan.replace(sfAbs, "<sf>")
      .replace(s"$tmp/", "<tmp>/")
      .replace(s"_${math.abs(sfDir.hashCode)}", "_<sf-hash>")
      .replaceAll("""(at \w+\.(?:scala|java)):\d+""", "$1")
      .replaceAll("""\$Lambda\$\d+/0x[0-9a-f]+""", "\\$Lambda")
      .replaceAll("""(?<=[\w$\[])@[0-9a-f]+\b""", "@<obj>")
    Seq[(String, Int => String)]("""#(\d+)""" -> (i => s"#$i"),
        """(?<=lambda [A-Za-z]{1,16})_(\d+)(?=#)""" -> (i => s"_$i"),
        """plan_id=(\d+)""" -> (i => s"plan_id=$i"),
        """RDD\[(\d+)\]""" -> (i => s"RDD[$i]"))
      .foldLeft(hosted) { case (text, (pattern, render)) =>
        val ids = scala.collection.mutable.HashMap[String, Int]()
        pattern.r.replaceAllIn(text, m =>
          render(ids.getOrElseUpdate(m.group(1), ids.size + 1)))
      }
  }
}
