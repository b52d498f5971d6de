package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JdbcCatalog

/** S9 (JDBC/Postgres catalog) exercised against a REAL embedded JDBC
  * database: Spark's own Derby jars (the metastore engine) provide a
  * complete SQL database + driver, so the catalog path — DataFrame →
  * JDBC table → partitioned parallel read with filter pushdown — runs
  * for real, with only the URL/driver differing from the reference's
  * Postgres (`docker/postgres/init.sql:100-131` users/merchants DDL;
  * scalar columns, as here — the Postgres driver itself stays absent,
  * pinned by SourceFormatsSpec).
  */
class JdbcCatalogSpec extends AnyFunSuite with TempDirs {
  import TestSpark._

  private lazy val url = JdbcCatalog.derbyUrl(
    tempDir("graft_derby") + "/catalog")

  // scalar profile catalog (init.sql users: ids, risk, status — no
  // array columns; JDBC tables are flat like the reference DDL)
  private lazy val profiles = graft.gen.DataGen.userProfiles(spark, 200)
    .select(expr("CAST(substring(user_id, 2) AS BIGINT)").as("uid"),
      col("user_id"), col("risk_score"),
      col("avg_transaction_amount"), col("kyc_status"))

  private lazy val written: Boolean = {
    JdbcCatalog.write(profiles, url, "user_profiles",
      columnTypes = Some(
        "user_id VARCHAR(32), kyc_status VARCHAR(20)")) // init.sql:101,108
    true
  }

  test("S9: profile catalog round-trips through an embedded JDBC database") {
    assert(written)
    val back = JdbcCatalog.read(spark, url, "user_profiles")
    assert(back.schema.fieldNames.sorted.toSeq ==
      profiles.schema.fieldNames.sorted.toSeq)
    // doubles round-trip bit-exactly: Derby DOUBLE is IEEE binary64
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select("user_id", "risk_score", "kyc_status")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2)))
      .toSet
    assert(key(back) == key(profiles))
  }

  test("S9: partitioned read stripes the table; filters push to the database") {
    assert(written)
    val back = JdbcCatalog.readPartitioned(spark, url, "user_profiles",
      partitionColumn = "uid", lower = 0L, upper = 199L, numPartitions = 4)
    // the production shape: 4 concurrent striped connections
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 200)
    // predicate pushdown reaches the JDBC scan (server-side WHERE) —
    // the predicate must appear INSIDE the PushedFilters list, not
    // merely in ReadSchema next to an empty list: a Derby DDL
    // regression that maps the column back to CLOB (the trap
    // JdbcCatalog's columnTypes override exists for) silently
    // un-pushes the filter while the column name stays in the scan
    // string, which a bare contains() check would miss
    val filtered = back.filter(col("kyc_status") === "verified")
    val scan = filtered.queryExecution.executedPlan
      .collectLeaves().head.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scan).map(_.group(1))
    assert(pushed.exists(_.contains("kyc_status")),
      s"VARCHAR predicate not inside PushedFilters:\n$scan")
    assert(filtered.count() ==
      profiles.filter(col("kyc_status") === "verified").count())
    // and the catalog read feeds the enrichment join like the parquet
    // mirror does: dimension-sized side broadcasts
    val facts = graft.gen.DataGen.transactions(spark, 500L, nUsers = 200)
      .select("transaction_id", "user_id", "amount")
    val enriched = facts.join(broadcast(
      back.select("user_id", "risk_score", "kyc_status")), "user_id")
    assert(enriched.count() == 500)
  }
}
