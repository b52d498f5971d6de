package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Features
import graft.plans.{ApproxDistinctRewrite, AsOfJoinStrategy, GraftExtensions,
  HaversineDistance, TopKStrategy}

class CatalystSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("HaversineDistance expression equals the column-math composition") {
    // (lat, lon) structs shaped like the stream's geolocation and
    // merchant_location; a null struct or coordinate is a missing field
    def pt(lat: Double, lon: Double): Option[(Option[Double], Option[Double])] =
      Some((Some(lat), Some(lon)))
    val ny = pt(40.75, -73.99) // the generator's merchant location
    // the stream's geo rule fires past 1,000 km; that is this many
    // degrees of latitude due north
    val ruleDeg = math.toDegrees(1000.0 / 6371.0)
    val antipodal = (0 until 60).map { i =>
      val (lat, lon) = (i * 1.37 - 40.0, i * 0.5 - 10.0)
      (pt(lat, lon), pt(-lat, lon + 180.0))
    }
    val rows = Seq(
      (pt(40.7128, -74.0060), pt(34.0522, -118.2437)),
      (pt(0.0, 0.0), pt(0.0, 0.0)),
      (pt(-33.86, 151.21), pt(51.5, -0.13)),
      (Some((None, Some(-74.0))), ny),
      (ny, None),
      (ny, ny),
      (pt(40.75 + ruleDeg - 0.01, -73.99), ny),
      (pt(40.75 + ruleDeg + 0.01, -73.99), ny)) ++ antipodal
    val (lat1, lon1, lat2, lon2) =
      (col("g._1"), col("g._2"), col("m._1"), col("m._2"))
    val out = rows.toDF("g", "m").select(
      HaversineDistance(lat1, lon1, lat2, lon2).as("expr_d"),
      Features.haversineKm(lat1, lon1, lat2, lon2).as("col_d")).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]),
                 Option(r.get(1)).map(_.asInstanceOf[Double])))
    out.foreach { case (e, c) =>
      assert(e.map(java.lang.Double.doubleToLongBits) ==
        c.map(java.lang.Double.doubleToLongBits),
        s"codegen expression diverged: $e vs $c")
    }
    val d = out.map(_._1)
    assert(d(3).isEmpty && d(4).isEmpty, "a missing coordinate gives null")
    assert(d(5).contains(0.0))
    assert(d(6).exists(_ < 1000.0) && d(7).exists(_ > 1000.0),
      s"rule rows at ${d(6)} and ${d(7)} km")
    // sin² + cos² can round past 1, so `1 − a` goes below zero
    assert(d.drop(8).exists(_.exists(_.isNaN)),
      "no antipodal row took sqrt of a negative")
  }

  test("install registers each strategy and the rule exactly once") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    graft.operators.TopN.topPerKeyNative(
      Seq(("a", 1, 1)).toDF("k", "o", "t"), "k", "o", "t", 1)
    val strategies = spark.experimental.extraStrategies
    assert(strategies.count(_ == TopKStrategy) == 1 &&
      strategies.count(_ == AsOfJoinStrategy) == 1, strategies)
    assert(spark.experimental.extraOptimizations
      .count(_ == ApproxDistinctRewrite) == 1)
  }

  test("HaversineDistance survives both codegen and interpreted paths") {
    val df = (1 to 100).map(i => (i.toDouble / 3, i.toDouble / 7))
      .toDF("lat", "lon")
    // wholestage on (default)
    val a = df.select(sum(HaversineDistance(col("lat"), col("lon"),
      lit(0.0), lit(0.0)))).head().getDouble(0)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val b = df.select(sum(HaversineDistance(col("lat"), col("lon"),
        lit(0.0), lit(0.0)))).head().getDouble(0)
      assert(a == b)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("native DotProduct ≡ the HOF fold, on codegen AND interpreted paths") {
    val emb = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.operators.Similarity.asDouble(col("embedding")).as("v"))
    def run(): Array[(Long, Double, Double)] = emb
      .select(col("vec_id"),
        graft.plans.DotProduct(col("v"), col("v")).as("native"),
        graft.operators.Similarity.dotFold(col("v"), col("v")).as("fold"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val a = run()
    assert(a.forall { case (_, n, f) => n == f },
      "native dot diverged from the fold")
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val b = run()
      assert(a.map(x => x._1 -> x._2).toMap == b.map(x => x._1 -> x._2).toMap)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    // null semantics match zip_with: length mismatch and null element
    val odd = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0D, 2.0D), array(1.0D)),
        |  (array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D))
        |AS t(a, b)""".stripMargin)
    val outs = odd.select(graft.plans.DotProduct(col("a"), col("b")))
      .collect().map(r => r.isNullAt(0))
    assert(outs.forall(identity), "mismatch/null-element must yield null")
    // SQL surface: dot_d registered by GraftExtensions
    graft.plans.GraftExtensions.install(spark)
    val viaSql = spark.sql(
      "SELECT dot_d(array(1.0D, 2.0D), array(3.0D, 4.0D))").head().getDouble(0)
    assert(viaSql == 11.0)
  }

  test("Md5Bucket matches the md5-hex nibble spelling on both eval paths") {
    val nib = (c: org.apache.spark.sql.Column) =>
      when(c >= "a", ascii(c) - ascii(lit("a")) + 10)
        .otherwise(ascii(c) - ascii(lit("0")))
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val composed = pmod(
      nib(substring(col("h"), 1, 1)) * 16 + nib(substring(col("h"), 2, 1)),
      lit(97))
    def run(): Array[(Int, Int)] = docs.select(
        graft.plans.Md5Bucket(col("tok"), 97).as("native"),
        composed.as("composed"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val a = run()
    assert(a.nonEmpty && a.forall { case (n, c) => n == c })
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run().forall { case (n, c) => n == c })
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("HexHighBits matches the substring spelling on both eval paths") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select(md5(col("text")).as("h"))
    val substrMask = (0 until 32).map(j =>
      when(substring(col("h"), j + 1, 1) >= "8", 1L << j).otherwise(0L))
      .reduce(_ + _)
    def run(): Array[(Long, Long)] = docs.select(
        graft.plans.HexHighBits(col("h"), 32).as("native"),
        substrMask.as("composed"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = run()
    assert(a.forall { case (n, c) => n == c })
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run().forall { case (n, c) => n == c })
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("HexHighBits truncation contract: bits beyond input length read only input.length digits") {
    val s2 = spark
    import s2.implicits._
    val digests = Seq("ffffffffffffffffffffffffffffffff", // 32 chars, all-high
                      "00000000ffffffff",                 // 16 chars
                      "f",                                // 1 char
                      "").toDF("h")                       // empty -> mask 0
    val rows = digests.select(
        graft.plans.HexHighBits(col("h"), 64).as("m64"),
        graft.plans.HexHighBits(col("h"), 32).as("m32"),
        length(col("h")).as("len"))
      .collect()
    rows.foreach { r =>
      val (m64, m32, len) = (r.getLong(0), r.getLong(1), r.getInt(2))
      // bits=64 over a <=32-char input is capped at input length: identical
      // to the bits=32 mask, never garbage past the end
      assert(m64 == m32, s"len=$len: m64=$m64 m32=$m32")
      // no bit at or above position len can be set
      if (len < 64) assert((m64 >>> len) == 0L, s"bits past input set: len=$len m=$m64")
    }
    assert(rows.find(_.getInt(2) == 0).get.getLong(0) == 0L)
    // bits outside 1..64 is rejected at analysis, not silently truncated
    intercept[Exception] {
      digests.select(graft.plans.HexHighBits(col("h"), 65)).collect()
    }
  }

  test("haversine_km is SQL-callable and rewrite rule fires only when enabled") {
    val s2 = spark
    GraftExtensions.install(s2)
    try {
      import s2.implicits._
      val d = s2.sql(
        "SELECT haversine_km(40.7128d, -74.0060d, 34.0522d, -118.2437d) AS d")
        .head().getDouble(0)
      assert(math.abs(d - 3935.7) < 1.0)

      val df = Seq(("a", 1), ("a", 2), ("a", 2), ("b", 9)).toDF("k", "v")
      def planOf(enabled: Boolean): String = {
        s2.conf.set(ApproxDistinctRewrite.ConfKey, enabled.toString)
        df.groupBy($"k").agg(size(collect_set($"v")).as("n"))
          .queryExecution.optimizedPlan.toString
      }
      assert(planOf(false).contains("collect_set"))
      val rewritten = planOf(true)
      assert(!rewritten.contains("collect_set") &&
        rewritten.toLowerCase.contains("approx_count_distinct"),
        s"rewrite did not fire:\n$rewritten")
      // and the rewritten plan still executes
      s2.conf.set(ApproxDistinctRewrite.ConfKey, "true")
      val n = df.groupBy($"k").agg(size(collect_set($"v")).as("n"))
        .orderBy($"k").collect().map(_.getAs[Int]("n"))
      assert(n.toSeq == Seq(2, 1))
    } finally {
      s2.conf.set(ApproxDistinctRewrite.ConfKey, "false")
    }
  }

  test("native TopK operator: partial+final plan, rows match the window form") {
    val events = graft.sources.Tables(spark, sf, "events")
    val native = graft.operators.TopN
      .recentPerKeyNative(events, "user_id", "ts", "event_id", 3)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      s"custom operator did not plan:\n$plan")
    // the exchange sits BETWEEN partial and final (partial runs
    // map-side, like a partial aggregate)
    assert(plan.indexOf("FinalTopK") <
           plan.indexOf("Exchange hashpartitioning"),
      s"no exchange between phases:\n$plan")
    assert(plan.indexOf("Exchange hashpartitioning") <
           plan.indexOf("PartialTopK"))
    val viaWindow = graft.operators.TopN
      .recentPerKey(events, "user_id", "ts", "event_id", 3)
      .select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaNative = native.select("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaNative == viaWindow)
  }

  test("TopK partial key overflow: rows pass through, metric records them") {
    // AQE off so the executed plan is a plain tree we can collect on
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val events = graft.sources.Tables(spark, sf, "events")
      val capped = graft.operators.TopN
        .topPerKeyNative(events, "user_id", "ts", "event_id", 3,
          maxPartialKeys = 1)
      val viaWindow = graft.operators.TopN
        .recentPerKey(events, "user_id", "ts", "event_id", 3)
        .select("user_id", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // collect capped ITSELF (not a derived projection) so the metric
      // lands on this exact query execution
      val viaCapped = capped.collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id")))
        .toSet
      assert(viaCapped == viaWindow)
      val partial = capped.queryExecution.executedPlan.collect {
        case p: graft.plans.PartialTopKExec => p
      }.head
      assert(partial.metrics("passThroughRows").value > 0,
        "expected overflow pass-through rows with maxPartialKeys=1")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
