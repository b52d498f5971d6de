package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench's reference-file parsing against both JSON spellings.
  *
  * Bench.scala emits compact JSON (`"queries":{`), but the additive
  * BENCH_REF merge tooling rewrites the file through python
  * json.dump, which emits `"queries": {` with spaces. Round 8
  * shipped several bench artifacts with `run_drift: 1.0` before
  * anyone noticed the exact-substring probe missing the spaced form —
  * the drift gate had silently disabled itself because the reference
  * parsed as empty. These tests make the parser's format tolerance a
  * contract, and the last test reads the REAL committed BENCH_REF.json
  * so any future re-format that the parser cannot read fails CI
  * instead of quietly un-gating the bench.
  */
class BenchParseSpec extends AnyFunSuite {

  private def tmp(content: String): String = {
    val f = Files.createTempFile("benchref", ".json")
    Files.writeString(f, content)
    f.toFile.deleteOnExit()
    f.toString
  }

  test("loadReference parses Bench's own compact output format") {
    val p = tmp("""{"metric":"total","value":9.9,"unit":"sec",""" +
      """"queries":{"q_a":1.25,"q_b":0.5},"cpu_1t":0.051}""")
    assert(Bench.loadReference(p) === Map("q_a" -> 1.25, "q_b" -> 0.5))
    assert(Bench.loadRefCpu1t(p) === Some(0.051))
  }

  test("loadReference parses json.dump's spaced format (the r8 merge)") {
    val p = tmp("""{"metric": "total", "value": 9.9, "unit": "sec", """ +
      """"queries": {"q_a": 1.25, "q_b": 0.5}, "cpu_1t": 0.051}""")
    assert(Bench.loadReference(p) === Map("q_a" -> 1.25, "q_b" -> 0.5))
    assert(Bench.loadRefCpu1t(p) === Some(0.051))
  }

  test("missing file / missing keys degrade to empty, not throw") {
    assert(Bench.loadReference("/nonexistent/ref.json") === Map.empty)
    assert(Bench.loadRefCpu1t("/nonexistent/ref.json") === None)
    val p = tmp("""{"metric":"total","value":1.0}""")
    assert(Bench.loadReference(p) === Map.empty)
    assert(Bench.loadRefCpu1t(p) === None)
  }

  test("the committed BENCH_REF.json is readable by the bench parser") {
    // Repo-relative: the forked test JVM's working directory is the
    // build base, so this holds on any checkout location.
    val refPath = "BENCH_REF.json"
    assert(Files.exists(java.nio.file.Paths.get(refPath)),
      s"BENCH_REF.json not found relative to ${System.getProperty("user.dir")}")
    val ref = Bench.loadReference(refPath)
    assert(ref.size >= 100,
      s"committed BENCH_REF.json parsed only ${ref.size} entries — " +
        "the drift gate would silently disable itself")
    assert(Bench.loadRefCpu1t(refPath).nonEmpty,
      "committed BENCH_REF.json carries no readable cpu_1t — host " +
        "normalization would silently disable itself")
    assert(Bench.loadRefCpuAlloc(refPath).nonEmpty,
      "committed BENCH_REF.json carries no readable cpu_alloc — the " +
        "r14 blended host factor would silently degrade to md5-only")
  }

  test("a quoted decoy key inside a note string cannot shift the " +
    "calibration fields (r14 ADVICE)") {
    // The decoy "cpu_alloc": 0.1 lives INSIDE a note string literal —
    // the old raw-text first-match regex would have returned 0.1; the
    // depth scanner must skip it and find the real top-level field.
    val p = tmp("""{"metric":"total",""" +
      """"note_r15":"anchor moved; was \"cpu_alloc\": 0.1 on the old box",""" +
      """"queries":{"q_a":1.0},"cpu_1t":0.049,"cpu_alloc":0.095}""")
    assert(Bench.loadRefCpuAlloc(p) === Some(0.095))
    assert(Bench.loadRefCpu1t(p) === Some(0.049))
    // decoy BEFORE the real field in an unescaped-quote-free note too
    val q = tmp("""{"note":"see cpu_1t: 9.9 history","cpu_1t":0.051}""")
    assert(Bench.loadRefCpu1t(q) === Some(0.051))
    // a key nested inside the queries object is not top-level
    val r = tmp("""{"queries":{"cpu_alloc":9.9},"cpu_alloc":0.095}""")
    assert(Bench.loadRefCpuAlloc(r) === Some(0.095))
    // absent for real: None, even with a decoy present
    val s = tmp("""{"note":"mentions \"cpu_alloc\": 0.1 only"}""")
    assert(Bench.loadRefCpuAlloc(s) === None)
  }

  test("an artifact whose error text holds quotes, backslashes, a " +
    "newline and a tab reads back through the reference parser") {
    val msg = "RuntimeException: bad \"key\" at C:\\tmp\nnext\tline"
    val p = tmp("")
    Bench.writeJson(p, Bench.jsonObject(
      "metric" -> "total", "value" -> 1.75, "unit" -> "sec",
      "queries" -> Bench.jsonObject("q_a" -> 1.25, "q_b" -> 0.5),
      "runs" -> Bench.jsonObject("q_a" -> Seq(1.25, 1.5)),
      "cpu_1t" -> 0.051, "errors" -> Bench.jsonObject("q_c" -> msg),
      "failed" -> 1))
    assert(Bench.loadReference(p) === Map("q_a" -> 1.25, "q_b" -> 0.5))
    assert(Bench.loadRefCpu1t(p) === Some(0.051))
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(p))
    assert(back.path("errors").path("q_c").asText === msg)
  }

  // == Blended host factor (r13 verdict #5) ==

  test("loadRefCpuAlloc parses both the compact and spaced spellings") {
    val c = tmp("""{"metric":"total","cpu_1t":0.049,"cpu_alloc":0.095}""")
    assert(Bench.loadRefCpuAlloc(c) === Some(0.095))
    val s = tmp("""{"metric": "total", "cpu_1t": 0.049, "cpu_alloc": 0.095}""")
    assert(Bench.loadRefCpuAlloc(s) === Some(0.095))
    assert(Bench.loadRefCpuAlloc(tmp("""{"cpu_1t":0.049}""")) === None)
  }

  test("hostFactorOf blends the md5 and alloc ratios, floored at 1") {
    // both refs present: unweighted mean of the two ratios
    assert(math.abs(Bench.hostFactorOf(
      0.060, Some(0.050), 0.100, Some(0.100)) - 1.1) < 1e-12)
    // alloc-only slowness (the r12 forensics shape: md5 reads at par
    // while the explode regime runs 1.5x) moves the factor halfway
    assert(math.abs(Bench.hostFactorOf(
      0.050, Some(0.050), 0.150, Some(0.100)) - 1.25) < 1e-12)
    // md5-only reference: degrades to the pre-r14 single-ratio form
    assert(math.abs(Bench.hostFactorOf(
      0.060, Some(0.050), 0.123, None) - 1.2) < 1e-12)
    // faster host on both probes: floored at 1, never excuses creep
    assert(Bench.hostFactorOf(0.040, Some(0.050), 0.080,
      Some(0.100)) === 1.0)
    // a faster md5 must not cancel a slower alloc below the floor:
    // mean(0.8, 1.3) = 1.05 stays above 1
    assert(math.abs(Bench.hostFactorOf(
      0.040, Some(0.050), 0.130, Some(0.100)) - 1.05) < 1e-12)
    // no references at all: neutral factor
    assert(Bench.hostFactorOf(0.060, None, 0.123, None) === 1.0)
  }

  // == Mid-run foreign-load gate (round-12 verdict item 4) ==
  // The r12 official artifact started at loadavg 1.64, ended at 11.53,
  // and stamped itself clean — the start-only gate never looked again.

  test("foreignBreach fires on the synthetic r12 replay and not on idle") {
    // replay of the r12 incident shape: idle start, ~10 foreign cores
    // camped for most of the suite → mean well over the 2.0 ceiling
    val r12 = Seq(0.1, 0.2, 9.8, 10.5, 11.2, 10.9, 11.5, 10.0)
    assert(Bench.foreignBreach(r12, maxMeanCores = 2.0))
    // an idle run with one cron blip must NOT breach (mean rule)
    val idleWithBlip = Seq(0.0, 0.1, 3.5, 0.0, 0.1, 0.0, 0.2, 0.1)
    assert(!Bench.foreignBreach(idleWithBlip, maxMeanCores = 2.0))
    // no samples (sub-5s run) → no breach, not a crash
    assert(!Bench.foreignBreach(Seq.empty, maxMeanCores = 2.0))
  }

  test("/proc jiffies readers return sane values on this box") {
    val (busy, total) = Bench.readSystemJiffies()
    assert(busy >= 0 && total > 0 && busy <= total)
    val self = Bench.readSelfJiffies()
    assert(self >= 0)
    assert(Bench.hostCpus() >= 1)
  }

  test("ForeignLoadSampler measures its own burn as ~zero foreign") {
    // burn CPU in THIS process while sampling: own work must not be
    // attributed to foreign load (the whole point of the jiffies diff
    // — raw loadavg cannot make this distinction)
    def sample(burnThreads: Int): Vector[Double] = {
      val sampler = new Bench.ForeignLoadSampler(periodMs = 300L)
      val deadline = System.nanoTime() + 1500000000L
      val burners = (1 to burnThreads).map { _ =>
        val th = new Thread(() => {
          var x = 0L
          while (System.nanoTime() < deadline) { x += 1 }
          if (x == -1) println(x)  // defeat dead-code elimination
        })
        th.start(); th
      }
      burners.foreach(_.join())
      Thread.sleep(math.max(0L, (deadline - System.nanoTime()) / 1000000L))
      val samples = sampler.finish()
      assert(samples.nonEmpty, "sampler collected nothing in 1.5s at 300ms")
      samples
    }
    // other tenants' load right now, with the same period and duration:
    // the burn is judged against it, so a busy host cannot fail the test
    val baseline = sample(0)
    val samples = sample(4)
    val baseMean = baseline.sum / baseline.size
    val mean = samples.sum / samples.size
    // 4 cores of OWN burn; the foreign reading may rise by < 1 core
    assert(mean < baseMean + 1.0,
      s"own burn leaked into foreign reading: mean=$mean " +
        s"samples=${samples.mkString(",")} baseline=${baseline.mkString(",")}")
  }
}
