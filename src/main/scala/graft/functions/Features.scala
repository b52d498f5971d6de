package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The per-row scalar feature library — the Spark re-expression of the
  * reference's ~62-feature extraction
  * (reference: services/flink-jobs/.../features/FeatureExtractor.java:50-87,
  * feature catalog FeatureStore.java:328-364). Every feature is a
  * `Column` combinator over plain expressions: no UDFs, everything
  * stays inside whole-stage codegen, and features are first-class
  * typed columns (not the reference's Map<String,Object>) so Catalyst
  * can prune unused ones all the way into the scan.
  */
object Features {

  // ---- amount features (FeatureExtractor.java:92-131) ----

  /** log(1+amount) — FeatureExtractor.java:100. (log1p-shaped; the
    * oracle-checked query rounds, since libm log is not
    * correctly-rounded across engines.)
    */
  def amountLog(a: Column): Column = log(lit(1.0) + a)

  /** sqrt(amount) — :101. IEEE sqrt is correctly rounded → oracle-exact. */
  def amountSqrt(a: Column): Column = sqrt(a)

  /** Round-amount flags a % 1|10|100 == 0 — :104-106. */
  def isRoundAmount(a: Column, modulus: Double): Column =
    (a % lit(modulus)) === lit(0.0)

  /** amount / user-average ratio — :113. */
  def amountRatio(a: Column, avg: Column): Column = a / avg

  /** Named amount bucket — :386-392 (micro/small/medium/large/
    * very_large CASE ladder).
    */
  def amountBucket(a: Column): Column =
    when(a < 10.0, "micro")
      .when(a < 100.0, "small")
      .when(a < 1000.0, "medium")
      .when(a < 10000.0, "large")
      .otherwise("very_large")

  /** Log-scale cluster key — WindowProcessor.java:227-241 (A7):
    * amount_{floor(log10 a)}_{floor(a / 10^b)}. The exponent is
    * computed as digits(floor(a))−1 rather than floor(log10(a)):
    * libm log10 is not correctly rounded, and a 1-ulp error at an
    * exact power of ten would flip the floor — the digit count is
    * exact integer arithmetic in every engine.
    */
  def amountClusterKey(a: Column): Column = {
    val g = greatest(a, lit(1.0))
    val b = (length(floor(g).cast("long").cast("string")) - 1).cast("long")
    concat_ws("_", lit("amount"), b,
      floor(g / pow(lit(10.0), b.cast("double"))).cast("long"))
  }

  // ---- date/time features (FeatureExtractor.java:136-168) ----

  def hourOfDay(ts: Column): Column = hour(ts)

  /** 1=Sunday..7=Saturday (Spark dayofweek; oracle uses dayofweek+1). */
  def dayOfWeekSun1(ts: Column): Column = dayofweek(ts)

  def isWeekend(ts: Column): Column = dayofweek(ts).isin(1, 7)

  /** morning/afternoon/evening/night — :394-399. */
  def periodOfDay(ts: Column): Column = {
    val h = hour(ts)
    when(h >= 6 && h < 12, "morning")
      .when(h >= 12 && h < 18, "afternoon")
      .when(h >= 18 && h < 22, "evening")
      .otherwise("night")
  }

  /** 9–17 business hours — :154. */
  def isBusinessHours(ts: Column): Column = hour(ts).between(9, 17)

  /** Night ≤6 or ≥22 — :155. */
  def isNight(ts: Column): Column = hour(ts) <= 6 || hour(ts) >= 22

  /** Within the user's preferred activity window — :158-166. */
  def inPreferredWindow(ts: Column, startH: Column, endH: Column): Column =
    hour(ts) >= startH && hour(ts) <= endH

  /** Epoch-hour bucket — RedisTransactionSink.java:143-144. */
  def epochHour(ts: Column): Column = (ts.cast("long") / 3600L).cast("long")

  // ---- geo features (FeatureExtractor.java:173-211,401-417) ----

  /** Haversine distance in km — FeatureExtractor.java:407-417, as
    * pure column math: the reference CatalystSpec holds the native
    * kernel (graft.plans.HaversineDistance) bit-equal to. Not correctly
    * rounded across libms — oracle queries round the result.
    */
  def haversineKm(lat1: Column, lon1: Column,
                  lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = sin(dLat / 2) * sin(dLat / 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon / 2) * sin(dLon / 2)
    lit(6371.0) * lit(2.0) * atan2(sqrt(a), sqrt(lit(1.0) - a))
  }

  /** geo_{floor(lat)}_{floor(lon)} grid key ("unknown" on null) —
    * WindowProcessor.java:186-191 (A4).
    */
  def geoGridKey(lat: Column, lon: Column): Column =
    when(lat.isNull || lon.isNull, "unknown")
      .otherwise(concat_ws("_", lit("geo"),
        floor(lat).cast("long"), floor(lon).cast("long")))

  /** |lat|>60 or (|lat|<10 and |lon|<10) — :404. */
  def isHighRiskLocation(lat: Column, lon: Column): Column =
    abs(lat) > 60.0 || (abs(lat) < 10.0 && abs(lon) < 10.0)

  // ---- string/regex features (FeatureExtractor.java:29-41,427-451) ----

  /** Case-insensitive high-risk merchant-name match. */
  def isHighRiskMerchantName(name: Column): Column =
    name.rlike("(?i)(crypto|bitcoin|gift ?card|money ?transfer|casino)")

  /** Private/internal IP prefix — :434-438. */
  def isPrivateIp(ip: Column): Column =
    ip.startsWith("192.168.") || ip.startsWith("10.") ||
      ip.startsWith("172.16.")

  /** Suspicious user agent — :447-451. */
  def isSuspiciousUserAgent(ua: Column): Column =
    lower(ua).contains("bot") || lower(ua).contains("crawler") ||
      length(ua) < 20

  /** lower + strip non-alnum + squish — bert_text_analyzer.py:303-325. */
  def cleanText(t: Column): Column =
    trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9\\s]", " "),
      "\\s+", " "))

  /** pattern_{payment}_{category}_{amountBucket} composite key —
    * WindowProcessor.java:198-222 (A5) / StreamJoiner.java:163-167 (J5).
    */
  def patternKey(payment: Column, category: Column, amount: Column): Column =
    concat_ws("_", lit("pattern"), payment, category, amountBucket(amount))

  /** Banded amount key floor(a/100)*100 — StreamJoiner.java:159-179
    * (J5's bucketed stand-in for a similarity join).
    */
  def amountBand(a: Column, width: Double = 100.0): Column =
    (floor(a / lit(width)) * lit(width)).cast("long")

  // ---- array/map features ----

  /** Known-device check — TransactionProcessor.java:255. */
  def isKnownDevice(fingerprints: Column, fp: Column): Column =
    coalesce(array_contains(fingerprints, fp), lit(false))

  /** Map get with default — FeatureExtractor.java:419-425. */
  def mapGetDefault(m: Column, key: String, default: Column): Column =
    coalesce(element_at(m, key), default)
}
