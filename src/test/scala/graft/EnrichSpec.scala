package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.streaming.runtime.{MicroBatchExecution, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.DataGen
import graft.plans.ProfileLookup
import graft.streaming.TransactionPipeline

/** `TransactionPipeline.enrich` reads profiles through broadcast hash
  * lookups instead of broadcast joins. These specs hold it to the join
  * it replaced, row for row and type for type, and pin the plan shape
  * the change exists for: a streaming micro-batch with no exchange, no
  * adaptive wrapper, and one job.
  */
class EnrichSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  /** The broadcast LEFT joins `enrich` used to run: the reference. */
  private def joinEnrich(txns: DataFrame, users: DataFrame,
                         merchants: DataFrame): DataFrame =
    txns
      .join(broadcast(users), Seq("user_id"), "left")
      .join(broadcast(merchants), Seq("merchant_id"), "left")
      .withColumn("user_risk_score", coalesce(col("risk_score"), lit(0.5)))
      .withColumn("kyc_status", coalesce(col("kyc_status"), lit("pending")))
      .withColumn("user_avg_amount",
        coalesce(col("avg_transaction_amount"), lit(100.0)))
      .withColumn("merchant_fraud_rate", coalesce(col("fraud_rate"), lit(0.05)))
      .withColumn("merchant_risk_level",
        coalesce(col("risk_level"), lit("medium")))
      .withColumn("is_blacklisted", coalesce(col("is_blacklisted"), lit(false)))

  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def assertSameAsJoin(txns: DataFrame, users: DataFrame,
                               merchants: DataFrame): Unit = {
    val expected = joinEnrich(txns, users, merchants)
    val got = TransactionPipeline.enrich(txns, users, merchants)
    assert(got.schema == expected.schema,
      s"schema differs:\n${got.schema.treeString}\nvs join:\n${expected.schema.treeString}")
    val (g, e) = (bag(got), bag(expected))
    assert(g == e, s"rows differ: only lookup ${(g.toSet diff e.toSet).take(3)}, " +
      s"only join ${(e.toSet diff g.toSet).take(3)}")
  }

  /** Runs `f` once with whole-stage codegen and once fully interpreted. */
  private def onBothPaths(f: => Unit): Unit = {
    f
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val fourColUsers = Seq(("u1", 0.2, "verified", 100.0))
    .toDF("user_id", "risk_score", "kyc_status", "avg_transaction_amount")
  private val fourColMerchants = Seq(("m1", 0.01, "low", false))
    .toDF("merchant_id", "fraud_rate", "risk_level", "is_blacklisted")

  private def txJson(id: String, user: String, merchant: String): String = {
    def q(s: String) = Option(s).map("\"" + _ + "\"").getOrElse("null")
    s"""{"transaction_id":"$id","user_id":${q(user)},"merchant_id":${q(merchant)},
       |"amount":42.0,"timestamp":"2024-01-01T12:00:00Z",
       |"geolocation":{"lat":40.0,"lon":-74.0}}""".stripMargin
  }

  test("enrich == the broadcast joins on DataGen users and ThroughputBench merchants") {
    // 2,500 users' transactions against 2,000 profiles, and merchants
    // m0..m96 against m0..m59: hits and misses on both sides
    val txns = DataGen.transactions(spark, 4000, nUsers = 2500, seed = 7L)
    val jsons = txns.select(to_json(struct(txns.columns.toIndexedSeq.map(col): _*)).as("json"))
      .union(Seq("NOT JSON{{{", "{\"transaction_id\":", txJson("nu", null, "m3"),
        txJson("nm", "u5", null), txJson("nn", null, null)).toDF("json"))
    val parsed = TransactionPipeline.parseJson(jsons)
    val users = DataGen.userProfiles(spark, 2000, seed = 7L)
    val merchants = ThroughputBench.merchants(spark, 60)
    onBothPaths(assertSameAsJoin(parsed, users, merchants))
    // a cached profile side, as the stream benchmark passes it
    onBothPaths(assertSameAsJoin(parsed, users.cache(), merchants.cache()))
    users.unpersist(); merchants.unpersist()
  }

  test("enrich == the broadcast joins on the 4-column profile tables") {
    val parsed = TransactionPipeline.parseJson(Seq(
      txJson("t1", "u1", "m1"), txJson("t2", "u2", "m1"), txJson("t3", "u1", "m2"),
      txJson("t4", null, null), "garbage((").toDF("json"))
    onBothPaths(assertSameAsJoin(parsed, fourColUsers, fourColMerchants))
    val out = TransactionPipeline.enrich(parsed, fourColUsers, fourColMerchants)
      .select("transaction_id", "user_risk_score", "kyc_status", "merchant_risk_level")
      .as[(String, Double, String, String)].collect().map(r => r._1 -> r).toMap
    assert(out("t1") == (("t1", 0.2, "verified", "low")))
    assert(out("t2") == (("t2", 0.5, "pending", "low")), "a missing user takes the defaults")
    assert(out("t3") == (("t3", 0.2, "verified", "medium")), "a missing merchant takes the defaults")
  }

  test("key contract: a duplicate profile key fails at build time; null keys never match") {
    val parsed = TransactionPipeline.parseJson(Seq(
      txJson("t1", "u1", "m1"), txJson("t2", null, "m1")).toDF("json"))
    val dupUsers = fourColUsers.union(
      Seq(("u1", 0.9, "rejected", 5.0)).toDF(fourColUsers.columns.toIndexedSeq: _*))
    val e = intercept[IllegalArgumentException](
      TransactionPipeline.enrich(parsed, dupUsers, fourColMerchants))
    assert(e.getMessage.contains("user_id") && e.getMessage.contains("u1"), e.getMessage)
    val dupMerchants = fourColMerchants.union(fourColMerchants)
    val e2 = intercept[IllegalArgumentException](
      TransactionPipeline.enrich(parsed, fourColUsers, dupMerchants))
    assert(e2.getMessage.contains("merchant_id"), e2.getMessage)

    // two null-key profile rows: not a duplicate, and no match for a null id
    val nullKeyUsers = fourColUsers.union(Seq[(String, Double, String, Double)](
      (null, 0.99, "rejected", 1.0), (null, 0.98, "rejected", 2.0))
      .toDF(fourColUsers.columns.toIndexedSeq: _*))
    onBothPaths(assertSameAsJoin(parsed, nullKeyUsers, fourColMerchants))
    val t2 = TransactionPipeline.enrich(parsed, nullKeyUsers, fourColMerchants)
      .filter(col("transaction_id") === "t2").select("user_risk_score").as[Double].collect()
    assert(t2.toSeq == Seq(0.5))
  }

  test("the lookup takes string keys only, on both sides") {
    val parsed = TransactionPipeline.parseJson(Seq(txJson("t1", "u1", "m1")).toDF("json"))
    val e = intercept[IllegalArgumentException](ProfileLookup.leftJoin(
      parsed, Seq((1L, 0.5)).toDF("user_id", "risk_score"), "user_id"))
    assert(e.getMessage.contains("user_id") && e.getMessage.contains("bigint"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](ProfileLookup.leftJoin(
      Seq((1.0, "a")).toDF("k", "v"), Seq(("1.0", "b")).toDF("k", "w"), "k"))
    assert(e2.getMessage.contains("probe side") && e2.getMessage.contains("double"), e2.getMessage)
  }

  test("a log-fed pipeline micro-batch: no exchange, no AQE, lookup in codegen, one job") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true", "session defaults expected")
    val root = tempDir("graft_enrich_plan")
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    def produce(ids: Seq[String]): Unit =
      ids.map(id => (id, txJson(id, "u1", "m1"))).toDF("key", "value")
        .write.format("graftlog").option("path", in)
        .option("log.partitions", "2").mode("append").save()

    val jobsByBatch = new java.util.concurrent.ConcurrentHashMap[Long, Int]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty(MicroBatchExecution.BATCH_ID_KEY))
            .foreach(b => jobsByBatch.merge(b.toLong, 1, Integer.sum))
          if (p.getProperty("graft.enrich.marker") != null) marker.countDown()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      produce((1 to 50).map(i => s"a$i"))
      val q = TransactionPipeline.toLogSink(
        TransactionPipeline.pipeline(TransactionPipeline.fromLog(spark, in),
          fourColUsers, fourColMerchants), out, ckpt).start()
      val plan = try {
        q.processAllAvailable()
        produce((1 to 30).map(i => s"b$i"))
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      } finally q.stop()

      def all(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => a +: all(a.executedPlan)
        case other => other +: (other.children ++ other.subqueries).flatMap(all)
      }
      val nodes = all(plan)
      assert(!nodes.exists(_.isInstanceOf[Exchange]), s"exchange in the micro-batch plan:\n$plan")
      assert(!nodes.exists(_.isInstanceOf[AdaptiveSparkPlanExec]), s"AQE wrapped the plan:\n$plan")
      // the nodes a codegen stage fuses: its subtree down to the InputAdapters
      def fused(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: InputAdapter => Nil
        case other => other +: other.children.flatMap(fused)
      }
      val stages = nodes.collect { case w: WholeStageCodegenExec => w }
        .filter(w => fused(w.child).exists(
          _.expressions.exists(_.exists(_.isInstanceOf[ProfileLookup]))))
      assert(stages.nonEmpty, s"the lookup is not inside a whole-stage codegen stage:\n$plan")
      // and that stage's generated source compiles (no silent fallback)
      stages.foreach(w => CodeGenerator.compile(w.doCodeGen()._2))

      spark.sparkContext.setLocalProperty("graft.enrich.marker", "1")
      try spark.range(1).count()
      finally spark.sparkContext.setLocalProperty("graft.enrich.marker", null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      import scala.jdk.CollectionConverters._
      val perBatch = jobsByBatch.asScala.toMap
      val nonEmpty = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
      // two appends, each drained before the next; an append may land
      // its partitions in separate triggers
      assert(nonEmpty.size >= 2, s"non-empty batches: $nonEmpty")
      nonEmpty.foreach(b => assert(perBatch.getOrElse(b, 0) == 1,
        s"batch $b ran ${perBatch.getOrElse(b, 0)} jobs; all: $perBatch"))
      val written = spark.read.format("graftlog").option("path", out).load().count()
      assert(written == 80)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
