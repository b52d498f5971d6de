package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (`plans/r16/<q>_{before,after}.txt`).
  *
  * `runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]`
  * writes `<outDir>/<query>_<suffix>.txt` per query. Same session
  * config as Bench (AQE on, 32 shuffle partitions) so the dumped
  * static plan is the shape the bench executes. The text goes through
  * [[ExplainDump.normalize]], so a before/after pair differs only where
  * the plan does.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark =
      GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    ExplainDump.plans(spark, names, sfDir).foreach { case (n, txt) =>
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"[plandump] wrote ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
