package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every main and every suite builds its session through
  * [[GraftSession.local]], so none can drift to a config of its own.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.scala holds the only session builder in src") {
    val needle = "SparkSession" + ".builder"
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(_.getFileName.toString == "GraftSession.scala")
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(needle) && !isComment(line) =>
            s"$p:${i + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.local, not: ${offenders.mkString(", ")}")
  }

  test("the shared test session carries the factory's config") {
    val conf = TestSpark.spark.conf
    assert(TestSpark.spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
  }
}
