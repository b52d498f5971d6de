package graft.schema

import java.sql.Timestamp

/** Canonical record schemas of the fraud-detection domain,
  * reconstructed from the reference's simulator dataclasses
  * (reference: services/data-simulator/src/main/python/simulator.py:40-101)
  * and Postgres DDL (docker/postgres/init.sql:100-170) — the
  * `com.frauddetection.models` package the Flink jobs import does not
  * ship (SURVEY §0.1), so these are the authoritative shapes.
  *
  * Case classes give typed `Dataset[T]` boundaries and Encoders;
  * the engine's operator surface stays DataFrame-generic.
  */
final case class GeoPoint(lat: Double, lon: Double)

final case class BehavioralPatterns(
    preferred_time_start: Int,
    preferred_time_end: Int,
    weekend_activity: Double,
    international_transactions: Double,
    online_preference: Double)

/** simulator.py:77-101; amounts are DECIMAL(15,2) in the DDL
  * (init.sql:155) — kept as Double at the pipeline boundary with
  * cents-quantized arithmetic in the exact-agg layer.
  */
final case class Transaction(
    transaction_id: String,
    user_id: String,
    merchant_id: String,
    amount: Double,
    currency: String,
    transaction_type: String,
    payment_method: String,
    card_type: String,
    card_last_four: String,
    timestamp: Timestamp,
    ip_address: String,
    device_id: String,
    device_fingerprint: String,
    user_agent: String,
    geolocation: GeoPoint,
    merchant_location: GeoPoint,
    is_weekend: Boolean,
    hour_of_day: Int,
    is_fraud: Boolean,
    fraud_type: Option[String],
    fraud_score: Double,
    processing_time_ms: Int)

/** simulator.py:40-60 + init.sql:100-109. */
final case class UserProfile(
    user_id: String,
    country: String,
    city: String,
    created_at: Timestamp,
    kyc_status: String,
    risk_score: Double,
    avg_transaction_amount: Double,
    transaction_frequency: Int,
    preferred_merchants: Seq[String],
    device_fingerprints: Seq[String],
    behavioral_patterns: BehavioralPatterns)
