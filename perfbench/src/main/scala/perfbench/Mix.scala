package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Seeded stand-ins for the engine's batch tables (TPC-H-style star
  * schema, an event stream, a document corpus and an embedding set),
  * with the schemas the engine's queries read. All values are
  * hash-derived from (row id, seed).
  */
object MixTables {

  private def u(salt: Int, seed: Long) =
    pmod(xxhash64(col("id"), lit(salt), lit(seed)), lit(1000000L)).cast("double") / 1000000.0

  private def pick(salt: Int, seed: Long, values: Seq[String]) =
    element_at(array(values.map(lit): _*),
      (pmod(xxhash64(col("id"), lit(salt), lit(seed)), lit(values.size.toLong)) + 1).cast("int"))

  private def day(base: String, days: Int, salt: Int, seed: Long) =
    to_timestamp(date_add(lit(base).cast("date"), (u(salt, seed) * days).cast("int")))

  val Words: Seq[String] = Seq("the", "a", "data", "query", "table", "scan", "batch",
    "stream", "vector", "column", "window", "filter", "merge", "join", "sort",
    "hash", "spark", "value", "part", "row", "key", "agg", "group", "order",
    "line", "customer", "fast", "slow", "big", "small")

  /** Writes every table as parquet under `dir`; `sf` scales row counts. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double, min: Long) = math.max(min, (base * sf).toLong)
    val nCust = n(150000, 50); val nSupp = n(10000, 10); val nPart = n(200000, 50)
    val nOrders = n(1500000, 200); val nUsers = n(15000, 20)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (u(1, seed) * 25).cast("int").as("c_nationkey"),
      round(u(2, seed) * 11000 - 1000, 2).as("c_acctbal"),
      pick(3, seed, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    save("supplier", spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (u(4, seed) * 25).cast("int").as("s_nationkey"),
      round(u(5, seed) * 10000, 2).as("s_acctbal")))
    save("part", spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, seed, Seq("red", "blue", "small", "green", "large")),
        pick(7, seed, Seq("ring", "widget", "bolt", "gear", "spring"))).as("p_name"),
      concat(lit("Brand#"), (u(8, seed) * 25 + 1).cast("int")).as("p_brand"),
      pick(9, seed, Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"))
        .as("p_type"),
      (u(10, seed) * 50 + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice")))
    save("orders", spark.range(nOrders).select(col("id").as("o_orderkey"),
      (u(11, seed) * nCust).cast("long").as("o_custkey"),
      pick(12, seed, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(13, seed) * 500000 + 1000, 2).as("o_totalprice"),
      day("1995-01-01", 2404, 14, seed).as("o_orderdate"),
      pick(15, seed, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", spark.range(nOrders * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      (u(16, seed) * nPart).cast("long").as("l_partkey"),
      (u(17, seed) * nSupp).cast("long").as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(18, seed) * 50 + 1).cast("int").cast("double").as("l_quantity"),
      round(u(19, seed) * 100000 + 900, 2).as("l_extendedprice"),
      ((u(20, seed) * 11).cast("int") / 100.0).as("l_discount"),
      ((u(21, seed) * 9).cast("int") / 100.0).as("l_tax"),
      pick(22, seed, Seq("A", "N", "R")).as("l_returnflag"),
      pick(23, seed, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", 2498, 24, seed).as("l_shipdate")))
    save("events", spark.range(n(1000000, 500)).select(col("id").as("event_id"),
      timestamp_micros((lit(1704067200L) * 1000000L +
        col("id") * (2592000L * 1000000L / n(1000000, 500)) +
        (u(25, seed) * 1000000).cast("long"))).as("ts"),
      (u(26, seed) * nUsers).cast("long").as("user_id"),
      pick(27, seed, Seq("view", "click", "signup", "purchase", "error")).as("event_type"),
      round(u(28, seed) * 490 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", (u(29, seed) * 100).cast("int")).as("props")))
    val words = array(Words.map(lit): _*)
    save("documents", spark.range(n(50000, 500)).select(col("id").as("doc_id"),
      // 20–90 words; every 25th document repeats its predecessor's text
      // so the dedup and near-dup operators have work to do
      expr(s"""concat_ws(' ', transform(sequence(1, 20 + cast(
        pmod(xxhash64(id - if(id % 25 = 24, 1, 0), 30, ${seed}L), 70) as int)),
        i -> element_at(array(${Words.map(w => s"'$w'").mkString(",")}),
        cast(pmod(xxhash64(id - if(id % 25 = 24, 1, 0), i, ${seed}L), ${Words.size}) as int) + 1)))""")
        .as("text"),
      pick(31, seed, Seq("en", "en", "en", "zh", "de", "fr", "es")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    save("embeddings", spark.range(n(20000, 500)).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(0, 63), j ->
        cast((pmod(xxhash64(id, j, ${seed}L), 2000001) - 1000000) / 1000000.0 +
             (pmod(xxhash64(id % 10, j, ${seed}L + 1), 2000001) - 1000000) / 700000.0 as double))""")
        .as("raw"),
      (col("id") % 10).cast("int").as("label"))
      .select(col("vec_id"),
        expr("transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float))")
          .as("embedding"),
        col("label")))
    ()
  }
}

/** query_mix: a fixed list of the engine's batch queries over seeded
  * tables, each forced in full; untimed warm-up passes, then timed
  * passes in a fixed order.
  */
final class Mix(ctx: RunContext) {
  import Mix._

  private def spark = ctx.spark

  /** Rows and an order-independent content hash of the full result,
    * computed while forcing the query's own physical plan.
    */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val r = proj(it.next())
        h += XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset, r.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }

  final case class Pass(seconds: Map[String, Double], prints: Map[String, (Long, Long)],
                        counts: Map[String, Snap])

  private def pass(dir: String, counters: Option[Counters]): Pass = {
    val all = SparkEntry.queries
    val secs = mutable.LinkedHashMap[String, Double]()
    val prints = mutable.LinkedHashMap[String, (Long, Long)]()
    val counts = mutable.LinkedHashMap[String, Snap]()
    for (q <- MixQueries) {
      val c0 = counters.map(_.snap())
      val (fp, s) = ctx.trace.span(s"q.$q") { Util.time(fingerprint(all(q)(spark, dir))) }
      secs(q) = s
      prints(q) = fp
      counters.foreach(c => counts(q) = c.snap() - c0.get)
    }
    Pass(secs.toMap, prints.toMap, counts.toMap)
  }

  /** The mix queries whose fingerprint in `got` differs from `want`'s
    * (or that `want` has none for).
    */
  private def differing(got: Map[String, (Long, Long)],
                        want: Map[String, (Long, Long)]): Seq[String] =
    MixQueries.filter(q => want.get(q).isEmpty || got.get(q) != want.get(q))

  /** Fingerprints recorded under `key` in `mix_fingerprints.json`. */
  private def recordedPrints(key: String): Map[String, (Long, Long)] = {
    val node = new ObjectMapper().readTree(new File(ctx.benchDir, "mix_fingerprints.json")).get(key)
    if (node == null) Map.empty
    else node.fieldNames().asScala.map(q =>
      q -> (node.get(q).get(0).asLong, node.get(q).get(1).asLong)).toMap
  }

  def run(): Outcome = {
    val dir = new File(ctx.work, "tables").getAbsolutePath
    val sf = if (ctx.tiny) 0.001 else Scale
    val variant = java.lang.Math.floorMod(ctx.seed, Variants.toLong)
    ctx.trace.span("setup.tables") { MixTables.write(spark, dir, sf, variant) }
    // warm-up: caches fill, code is generated; the first pass's results
    // are the reference every later pass must reproduce
    val warmups = ctx.trace.span("setup.warmup") {
      (1 to (if (ctx.tiny) 1 else WarmupPasses)).map(_ => pass(dir, None))
    }
    val warm = warmups.head
    ctx.beginMeasure()
    // results recorded for this table variant and size when the
    // benchmark was defined; printed, so a new variant can be recorded
    val key = s"${if (ctx.tiny) "tiny" else "full"}/v$variant"
    val wrongAtSeed = differing(warm.prints, recordedPrints(key))
    if (wrongAtSeed.nonEmpty)
      System.err.println(s"[perfbench] query_mix: results differ from those recorded for $key: " +
        wrongAtSeed.mkString(" "))
    println(s"""{"fingerprints": {"key": "$key", """ + MixQueries.map(q =>
      s""""$q": [${warm.prints(q)._1}, ${warm.prints(q)._2}]""").mkString(", ") + "}}")

    val passes = mutable.ArrayBuffer[Pass]()
    var elapsed = 0.0
    while (passes.isEmpty || elapsed < ctx.seconds) {
      val p = pass(dir, None)
      passes += p
      elapsed += p.seconds.values.sum
    }
    val later = warmups.tail ++ passes
    val mismatched = later.map(p => differing(p.prints, warm.prints).size).sum
    if (mismatched > 0)
      System.err.println("[perfbench] query_mix: results differ from the warm-up pass: " +
        later.flatMap(p => differing(p.prints, warm.prints)).distinct.mkString(" "))
    val passS = passes.map(_.seconds.values.sum).toSeq
    System.err.println(f"[perfbench] query_mix: ${passes.size} passes " +
      passS.map(s => f"$s%.2fs").mkString(" ") + "; per-query median s: " +
      MixQueries.map(q => f"$q ${Util.median(passes.map(_.seconds(q)).toSeq)}%.3f")
        .mkString(", "))
    // latency over every timed execution of every query; throughput
    // from the median pass, so one slow pass moves neither much
    val execMs = passes.toSeq.flatMap(_.seconds.values.map(_ * 1000.0))
    val e2e = Map(
      "latency_p50_ms" -> Metric(Util.quantile(execMs, 0.50), "ms"),
      "latency_p95_ms" -> Metric(Util.quantile(execMs, 0.95), "ms"),
      "throughput_per_s" -> Metric(MixQueries.size / Util.median(passS), "1/s"))

    var layers = Map.empty[String, Metric]
    var attempted = (passes.size.toLong + warmups.size) * MixQueries.size
    var failed = mismatched.toLong + wrongAtSeed.size
    if (ctx.trace.enabled) {
      val counters = ctx.counters
      val traced = (1 to 2).map(_ => ctx.trace.span("mix.traced") { pass(dir, Some(counters)) })
      attempted += traced.size * MixQueries.size
      failed += traced.map(p => differing(p.prints, warm.prints).size).sum
      // a query's job count must repeat exactly between the two passes
      val unstable = MixQueries.filter(q => traced(0).counts(q).jobs != traced(1).counts(q).jobs)
      attempted += MixQueries.size
      failed += unstable.size
      if (unstable.nonEmpty)
        System.err.println("[perfbench] query_mix: job counts differ between passes: " +
          unstable.map(q => s"$q ${traced(0).counts(q).jobs}/${traced(1).counts(q).jobs}")
            .mkString(" "))
      val qSec = MixQueries.map(q => q -> Util.median(traced.map(_.seconds(q)))).toMap
      val last = traced.last.counts
      val total = last.values.reduce(_ + _)
      layers = MixQueries.flatMap(q => Seq(
          s"q.${q}_s" -> Metric(qSec(q), "s"),
          s"q.${q}_jobs" -> Metric(last(q).jobs, "count"))).toMap ++
        Modules.map(m => s"mix.${m}_s" -> Metric(
          MixQueries.filter(ModuleOf(_) == m).map(qSec).sum, "s")).toMap ++
        Map(
          "mix.jobs" -> Metric(total.jobs, "count"),
          "mix.stages" -> Metric(total.stages, "count"),
          "mix.tasks" -> Metric(total.tasks, "count"),
          "mix.shuffle_read_bytes" -> Metric(total.shuffleRead, "bytes"),
          "mix.shuffle_write_bytes" -> Metric(total.shuffleWrite, "bytes"),
          "mix.spill_bytes" -> Metric(total.spill, "bytes"),
          "mix.executor_run_s" -> Metric(total.runMs / 1000.0, "s"),
          "trace.overhead_ratio" -> Metric(
            Util.median(traced.map(_.seconds.values.sum)) / Util.median(passS), "ratio"))
    }
    Outcome(attempted, failed, e2e, layers)
  }
}

object Mix {
  /** Table scale (sf); row counts are sf × the TPC-H-style bases. */
  val Scale = 0.01

  /** The tables come in this many variants, seed mod `Variants`, and
    * `mix_fingerprints.json` holds every variant's results, so every
    * run checks its results against recorded ones.
    */
  val Variants = 16

  /** Untimed passes before the timed ones: after a single one, the next
    * pass still ran 12–18% faster on four cores as JIT compilation caught up.
    */
  val WarmupPasses = 2

  /** One query per operator family, the heaviest of each that still
    * keeps a warm pass under five seconds on four cores: the star join,
    * the as-of join exec node, fraud scoring, BM25 top-k, IVF vector
    * search and substring dedup.
    */
  val ModuleOf: Map[String, String] = Map(
    "q_star_revenue" -> "StarJoin",
    "q_asof_join" -> "Joins",
    "q_fraud_scoring" -> "FraudQueries",
    "q_bm25" -> "Retrieval",
    "q_ann_ivf_trained" -> "Similarity",
    "q_substring_dedup" -> "Dedup")

  val MixQueries: Seq[String] = ModuleOf.keys.toSeq.sorted
  val Modules: Seq[String] = ModuleOf.values.toSeq.distinct.sorted

  val LayerUnits: Seq[(String, String)] =
    MixQueries.flatMap(q => Seq(s"q.${q}_s" -> "s", s"q.${q}_jobs" -> "count")) ++
    Modules.map(m => s"mix.${m}_s" -> "s") ++ Seq(
    "mix.jobs" -> "count", "mix.stages" -> "count", "mix.tasks" -> "count",
    "mix.shuffle_read_bytes" -> "bytes", "mix.shuffle_write_bytes" -> "bytes",
    "mix.spill_bytes" -> "bytes", "mix.executor_run_s" -> "s")
}
