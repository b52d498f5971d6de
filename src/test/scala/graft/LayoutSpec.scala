package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Layout

class LayoutSpec extends AnyFunSuite with TempDirs {
  import TestSpark._
  import spark.implicits._

  test("zorderKey is a bijection on the bit grid") {
    val grid = spark.range(32).select(col("id").as("x"))
      .crossJoin(spark.range(32).select(col("id").as("y")))
    val keys = grid.select(Layout.zorderKey(col("x"), col("y"), 5).as("z"))
    assert(keys.distinct().count() == 32 * 32)
    val mm = keys.agg(min("z"), max("z")).head()
    assert(mm.getLong(0) == 0L && mm.getLong(1) == 1023L)
  }

  test("zorderKey is monotone in one dimension when the other is fixed") {
    val xs = spark.range(256).select(col("id").as("x"), lit(97L).as("y"))
    val zs = xs.select(col("x"),
        Layout.zorderKey(col("x"), col("y"), 8).as("z"))
      .orderBy("x").collect().map(_.getLong(1))
    assert(zs.sliding(2).forall(p => p(0) < p(1)))
  }

  test("eventZorder bands are in range and the key matches a reference row") {
    val t = graft.sources.Tables(spark, sf, "events")
    val out = Layout.eventZorder(t)
    val bad = out.filter(col("amount_band") < 0 || col("amount_band") > 255 ||
      col("tod_band") < 0 || col("tod_band") > 239).count()
    assert(bad == 0)
    // hand-check one row: interleave recomputed in Scala
    val r = out.orderBy("event_id").head()
    val (x, y) = (r.getLong(1), r.getLong(2))
    val expected = (0 until 8).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.reduce(_ | _)
    assert(r.getLong(3) == expected)
  }

  test("globalIndex equals the single-partition window rank, distributed") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val out = Layout.globalIndex(docs.repartition(7),
        Seq("n_chars", "doc_id"))
      .select("doc_id", "global_idx")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = docs
      .orderBy("n_chars", "doc_id").collect().map(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    assert(out == expected)
    // no single-task collapse: with a pinned partition count the sort
    // stays distributed AND the index is still globally correct
    val pinned = Layout.globalIndex(docs, Seq("n_chars", "doc_id"),
      numPartitions = 5)
    assert(pinned.rdd.getNumPartitions == 5)
    assert(pinned.select("doc_id", "global_idx")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
  }

  test("prefixSum equals the sequential running total and stays distributed") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select($"doc_id", length($"text").cast("long").as("v"))
    val out = Layout.prefixSum(docs.repartition(7), Seq("doc_id"), "v",
        "run", numPartitions = 5)
    assert(out.rdd.getNumPartitions == 5)
    val got = out.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val rows = docs.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var acc = 0L
    val expected = rows.map { case (id, v) => acc += v; (id, acc) }
    assert(got.toSeq == expected.toSeq)
  }

  test("keyedRank equals the keyed window rank+count, distributed") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select($"doc_id", $"source", length($"text").cast("long").as("v"))
    val out = Layout.keyedRank(docs.repartition(7), "source",
        Seq(col("v").desc, col("doc_id")), "rk", "n")
      .select("doc_id", "rk", "n").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy("source")
    val expected = docs
      .withColumn("rk", row_number()
        .over(bySrc.orderBy(col("v").desc, col("doc_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(bySrc))
      .select("doc_id", "rk", "n").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == expected)
  }

  test("keyedRank spreads ONE heavy key across partitions (no straggler)") {
    // the window spelling puts a whole key in one task; keyedRank must
    // keep a single-key corpus multi-partition AND rank it correctly
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select($"doc_id", lit("only").as("source"),
        length($"text").cast("long").as("v"))
    val pinned = Layout.keyedRank(docs, "source",
      Seq(col("v").desc, col("doc_id")), "rk", "n", numPartitions = 5)
    assert(pinned.rdd.getNumPartitions == 5)
    val rows = pinned.select("doc_id", "rk", "n").collect()
    val exp = docs.orderBy(col("v").desc, col("doc_id")).collect()
      .map(_.getAs[Long]("doc_id")).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == exp)
    assert(rows.forall(_.getLong(2) == exp.size.toLong))
    // the key's rows genuinely span tasks — the collapse being refused
    val nonEmpty = pinned.rdd
      .mapPartitions(it => Iterator(it.nonEmpty)).collect().count(identity)
    assert(nonEmpty > 1, s"single-key data collapsed to $nonEmpty partition(s)")
  }

  test("keyedPrefixSum equals the keyed running-sum window, distributed") {
    val docs = graft.sources.Tables(spark, sf, "documents")
      .select($"doc_id", $"source", length($"text").cast("long").as("v"))
    val out = Layout.keyedPrefixSum(docs.repartition(7), "source",
        Seq(col("v").desc, col("doc_id")), "v", "run", numPartitions = 5)
    assert(out.rdd.getNumPartitions == 5)
    val got = out.select("doc_id", "run").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("v").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = docs.withColumn("run", sum(col("v")).over(w))
      .select("doc_id", "run").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("shardPlan: shards are contiguous and within budget except single overlong docs") {
    val docs = graft.sources.Tables(spark, sf, "documents")
    val out = graft.operators.TextAnalysis.shardPlan(docs, budget = 500)
      .orderBy("doc_id").collect()
    // shard ids are non-decreasing in doc order and start at 0
    val shards = out.map(_.getLong(3))
    assert(shards.head == 0L)
    assert(shards.sliding(2).forall(p => p(0) <= p(1)))
    // every doc starts strictly inside its shard's budget window
    out.foreach { r =>
      val (tok, run, sh) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(run - tok >= sh * 500 && run - tok < (sh + 1) * 500)
    }
  }

  test("zorder layout prunes at the scan: a key-range read touches a fraction of rows") {
    val dir = tempDir("graft_zprune") + "/events_z"
    val keyed = Layout.eventZorder(graft.sources.Tables(spark, sf, "events"))
    val total = keyed.count()
    Layout.writeRangeLayout(keyed, "zkey", numFiles = 8, path = dir)
    // a narrow zkey range = one clustered region; with the range
    // layout its rows sit in few row groups, and the pushed zkey
    // predicate prunes the rest INSIDE the parquet reader — the scan
    // node itself must emit far fewer rows than the table holds
    val read = spark.read.parquet(dir).filter(col("zkey") < 100)
    // metrics must come from the SAME query execution that ran — count()
    // would plan (and meter) a different physical tree
    val n = read.collect().length.toLong
    val scan = read.queryExecution.executedPlan.collectLeaves().head
    val scanned = scan.metrics("numOutputRows").value
    assert(scanned < total / 2,
      s"scan emitted $scanned of $total rows — row groups not pruned")
    assert(scanned >= n)
  }

  test("range layout write yields files with disjoint key spans") {
    val dir = tempDir("graft_layout") + "/events_z"
    Layout.writeRangeLayout(
      Layout.eventZorder(graft.sources.Tables(spark, sf, "events")),
      "zkey", numFiles = 4, path = dir)
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("zkey").as("lo"), max("zkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(spans.length > 1, "expected multiple output files")
    spans.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"file spans overlap: hi=$hi lo2=$lo2")
    }
  }

  test("keyedPrefixSum treats null increments as 0 (window-sum parity)") {
    val df = Seq[(String, Long, java.lang.Long)](
      ("a", 1L, 10L), ("a", 2L, null), ("a", 3L, 5L),
      ("b", 1L, null), ("b", 2L, null))
      .toDF("k", "ord", "v")
    val out = Layout.keyedPrefixSum(df, "k", Seq(col("ord")), "v", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3))
      .toMap
    assert(out(("a", 1L)) == 10L && out(("a", 2L)) == 10L &&
      out(("a", 3L)) == 15L)
    assert(out(("b", 1L)) == 0L && out(("b", 2L)) == 0L)
  }
}
