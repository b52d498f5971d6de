package graft

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** The harness tools' own tests run with the suite: each
  * `tools/test_*.py` script exits non-zero on a failed assertion, and
  * the failure shows the script's output.
  */
class ToolsSpec extends AnyFunSuite {
  for (script <- Seq("tools/test_compare.py", "tools/test_bench_trend.py"))
    test(s"python3 $script passes") {
      val out = new StringBuffer
      val log = ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n'))
      val rc = Process(Seq("python3", script), new java.io.File(".")).!(log)
      assert(rc == 0, s"$script exited $rc:\n$out")
    }
}
