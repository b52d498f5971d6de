package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Features => F, Scoring}
import graft.operators.Decisions
import graft.plans.ProfileLookup

/** The main fraud pipeline (reference: FraudDetectionJob.java:33-107),
  * re-expressed as one declarative Structured Streaming plan:
  *
  *   log source → from_json (error-tolerant) → profile lookups →
  *   feature columns → model score → rule score + blend → decision →
  *   log sink
  *
  * Differences from the reference by design (SURVEY §3.1):
  * - profile enrichment is an in-memory lookup into broadcast hash
  *   tables, not a per-event Redis RPC — no network hop per record.
  *   The tables are a snapshot of the profiles taken when the pipeline
  *   is built, as a cached static join side already was; a restarted
  *   query picks up new profiles (acceptable: reference TTLs are
  *   minutes–hours). With no join, a micro-batch plan has no exchange
  *   and runs as one job;
  * - features/model score/rule score/decision are columns fused into
  *   one codegen stage, not per-row Java maps;
  * - the ML ensemble is column arithmetic over pluggable score
  *   columns (model_manager degrades to deterministic scorers —
  *   mirrored by the deterministic members of `FraudModel.registry`).
  *
  * Every transform takes/returns DataFrame, so the identical plan runs
  * in batch (oracle-checkable) and streaming (MemoryStream-tested).
  */
object TransactionPipeline {

  /** Transaction JSON schema (schema.Transaction, flattened geo). */
  val transactionSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("user_id", StringType),
    StructField("merchant_id", StringType),
    StructField("amount", DoubleType),
    StructField("currency", StringType),
    StructField("transaction_type", StringType),
    StructField("payment_method", StringType),
    StructField("card_type", StringType),
    StructField("card_last_four", StringType),
    StructField("timestamp", TimestampType),
    StructField("ip_address", StringType),
    StructField("device_id", StringType),
    StructField("device_fingerprint", StringType),
    StructField("user_agent", StringType),
    StructField("geolocation", StructType(Seq(
      StructField("lat", DoubleType), StructField("lon", DoubleType)))),
    StructField("merchant_location", StructType(Seq(
      StructField("lat", DoubleType), StructField("lon", DoubleType)))),
    StructField("is_fraud", BooleanType),
    StructField("fraud_type", StringType)))

  /** S2: error-tolerant JSON decode. A corrupt record becomes the
    * reference's placeholder row (ERROR_* id, score 0.5, decision
    * REVIEW — TransactionDeserializationSchema.java:28-49) as an
    * expression, not control flow.
    */
  def parseJson(raw: DataFrame, jsonCol: String = "json"): DataFrame = {
    val parsed = raw.withColumn("t",
      from_json(col(jsonCol), transactionSchema))
    val rest = transactionSchema.fieldNames.toIndexedSeq
      .filterNot(_ == "transaction_id")
    parsed.select(
      when(col("t.transaction_id").isNull,
        concat(lit("ERROR_"), md5(col(jsonCol))))
        .otherwise(col("t.transaction_id")).as("transaction_id") +:
      rest.map(f => col(s"t.$f")): _*)
      .withColumn("parse_error", col("user_id").isNull)
  }

  /** J1+J2: user and merchant profile lookups, each equal to a LEFT
    * join on the id, with the reference's default-profile fallbacks
    * (TransactionProcessor.java:489-508). Both profile tables are read
    * here, once, and broadcast (`ProfileLookup`); the returned plan
    * holds that snapshot.
    */
  def enrich(txns: DataFrame, users: DataFrame,
             merchants: DataFrame): DataFrame =
    ProfileLookup.leftJoin(
      ProfileLookup.leftJoin(txns, users, "user_id"), merchants, "merchant_id")
      .withColumn("user_risk_score", coalesce(col("risk_score"), lit(0.5)))
      .withColumn("kyc_status", coalesce(col("kyc_status"), lit("pending")))
      .withColumn("user_avg_amount",
        coalesce(col("avg_transaction_amount"), lit(100.0)))
      .withColumn("merchant_fraud_rate", coalesce(col("fraud_rate"), lit(0.05)))
      .withColumn("merchant_risk_level",
        coalesce(col("risk_level"), lit("medium")))
      .withColumn("is_blacklisted", coalesce(col("is_blacklisted"), lit(false)))

  /** §2.6 feature subset + rule score + decision, as one projection.
    * Expects the model's `p_fraud` column (`FraudModel.score`), blended
    * with the rule score via the A11 ensemble — the reference's
    * ensemble_predictor combining rule + model members.
    */
  def scoreAndDecide(modeled: DataFrame): DataFrame = {
    val amount = col("amount")
    val ts = col("timestamp")
    val geoDist = F.haversineKm(
      col("geolocation.lat"), col("geolocation.lon"),
      col("merchant_location.lat"), col("merchant_location.lon"))
    val score = Scoring.ruleScore(Seq(
      (amount / col("user_avg_amount") > 5.0) -> 0.25,
      (col("merchant_fraud_rate") > 0.1) -> 0.15,
      (col("user_risk_score") > 0.7) -> 0.15,
      F.isNight(ts) -> 0.10,
      (geoDist > 1000.0) -> 0.15,
      F.isHighRiskLocation(col("geolocation.lat"), col("geolocation.lon")) -> 0.10,
      F.isSuspiciousUserAgent(col("user_agent")) -> 0.10))
    val combined =
      Scoring.weightedAverage(Seq(score -> 0.6, col("p_fraud") -> 0.4))
    val finalScore =
      when(col("parse_error"), 0.5)
        .when(col("is_blacklisted"), 1.0)
        .otherwise(combined)
    modeled
      .withColumn("fraud_score", finalScore)
      .withColumn("risk_level",
        when(col("parse_error"), "ERROR")
          .otherwise(Decisions.riskLevel(col("fraud_score"))))
      .withColumn("decision",
        when(col("parse_error"), "REVIEW")
          .otherwise(Decisions.decision(col("fraud_score"))))
  }

  /** Full pipeline: parse → enrich → model-score → blend+decide. Works
    * on batch or streaming input identically — the model is column
    * algebra, so the whole chain fuses into one codegen stage of the
    * micro-batch plan. Placeholder/parse-error rows carry null
    * amount/timestamp; they are zero-filled for the model and their
    * score is overridden by the parse_error branch anyway.
    */
  def pipeline(raw: DataFrame, users: DataFrame,
               merchants: DataFrame): DataFrame = {
    val enriched = enrich(parseJson(raw), users, merchants)
    val modeled = graft.ml.FraudModel.score(enriched,
      coalesce(col("amount"), lit(0.0)),
      coalesce(col("timestamp"), timestamp_seconds(lit(0L))))
    scoreAndDecide(modeled)
  }

  /** S1: the reference's Kafka consumer (FraudDetectionJob.java:141-157)
    * as the graft log DSv2 source (graft.sources.log), projected to the
    * record value as JSON — partitioned offsets, startingOffsets,
    * admission control, and checkpoint resume all behave as the Kafka
    * source's contract.
    */
  def fromLog(spark: SparkSession, dir: String,
              startingOffsets: String = "earliest",
              maxRecordsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("graftlog")
      .option("path", dir)
      .option("startingOffsets", startingOffsets)
    maxRecordsPerTrigger.foreach(n => r.option("maxRecordsPerTrigger", n.toString))
    r.load().select(col("value").cast("string").as("json"))
  }

  /** S5: the reference's exactly-once Kafka producer
    * (FraudDetectionJob.java:162-213) as a graft log sink — rows become
    * (key = keyCol, value = JSON of all columns) records;
    * epoch-idempotent commits make replay safe end-to-end.
    */
  def toLogSink(df: DataFrame, dir: String, checkpoint: String,
                keyCol: String = "transaction_id") =
    logRecords(df, keyCol)
      .writeStream.format("graftlog")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)

  /** [[toLogSink]]'s records: key = `keyCol`, value = JSON of the row. */
  private[graft] def logRecords(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))
}
