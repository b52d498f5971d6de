package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all graft suites. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

class CoreQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every declared query has an oracle or is documented rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only queries are allowed but must be deliberate — list them here
    val rowsOnly = Set.empty[String]
    assert(missing == rowsOnly, s"queries without oracle: $missing")
  }

  test("all queries run and return rows on sf0.001") {
    // legitimately empty at the smallest SF (the oracle agrees empty):
    // fuzzy blocks of ~2 parts hold no pairs within edit distance 6
    val mayBeEmpty = Set("q_fuzzy_match")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("decision ladder covers full score range deterministically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Decisions
    val df = Seq(0.95, 0.8, 0.6, 0.2).toDF("s")
      .select(Decisions.riskLevel(col("s")).as("r"),
              Decisions.decision(col("s")).as("d"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("CRITICAL", "DECLINE"), ("HIGH", "REVIEW"),
          ("MEDIUM", "APPROVE"), ("LOW", "APPROVE")))
  }

  test("session window splits on gaps strictly greater than 30min") {
    import spark.implicits._
    import java.sql.Timestamp
    import graft.operators.WindowedAggs
    def t(min: Int) = new Timestamp(min * 60000L)
    // Spark session windows are gap-inclusive: a gap of exactly 30min
    // continues the session (merge when next.ts <= prev.ts + gap); the
    // DuckDB oracle therefore breaks on `> INTERVAL '30 minutes'`.
    val ev = Seq((1L, t(0), 1.0), (1L, t(30), 1.0), (1L, t(61), 1.0),
                 (2L, t(0), 1.0))
      .toDF("user_id", "ts", "value")
    val sessions = WindowedAggs.userSessions(ev).collect()
    assert(sessions.length == 3) // user1: {0,30}, {61}; user2: {0}
  }
}
