package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-bounded, banded, and graph-shaped joins from SURVEY §2.3. */
object Joins {

  /** J3-style interval join: pairs of same-key events where the right
    * event falls in (left.ts, left.ts + window]. In batch this is a
    * sort-merge equi-join with a range residual; under Structured
    * Streaming the identical predicate shape (watermark + time-range
    * condition) is the canonical stream-stream join.
    *
    * The equi-key is (key, window-sized time bucket), not key alone:
    * a right event in (ts_a, ts_a+W] lands in bucket(ts_a) or
    * bucket(ts_a)+1, so the left side probes exactly those two buckets
    * and candidate pairs are bounded by per-(key, W-bucket) activity
    * instead of squaring with whole-history per-key volume. A pair
    * matches at most once (the right row's bucket is unique), so no
    * dedup step is needed and the output is identical to the plain
    * keyed join. Cost: a 2× left-side explode — constant — against a
    * candidate set that no longer grows with retention.
    */
  def intervalJoin(events: DataFrame, key: String, ts: String,
                   windowSec: Long = 300L): DataFrame = {
    val bucketA = floor(col("ts_a").cast("long") / windowSec)
    val a = events.select(col(key).as("k"), col(ts).as("ts_a"),
        col("event_id").as("eid_a"))
      .withColumn("bkt", explode(array(bucketA, bucketA + 1)))
    val b = events.select(col(key).as("k2"), col(ts).as("ts_b"),
        col("event_id").as("eid_b"), col("event_type").as("type_b"))
      .withColumn("bkt2", floor(col("ts_b").cast("long") / windowSec))
    a.join(b, col("k") === col("k2") && col("bkt") === col("bkt2") &&
        col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $windowSec SECONDS"))
      // J3's correlation risk factors (StreamJoiner.java:183-206):
      // cross-stream event kinds bump a risk column
      .withColumn("pair_risk",
        when(col("type_b") === "error", 0.3)
          .when(col("type_b") === "login", 0.2)
          .otherwise(0.0))
      .select("k", "eid_a", "eid_b", "pair_risk")
      .withColumnRenamed("k", "user_id")
  }

  /** AS-OF join (point-in-time lookup): for every left row, the value
    * of the single most recent right row with `r.ts <= l.ts` on the
    * same key — the feature-store temporal-correctness join (a profile
    * as it WAS when the transaction happened, never a future leak).
    *
    * Spark has no asof operator; the range-join spelling explodes on
    * key×time. This is the scale-safe form: union both sides tagged,
    * one keyed window pass carrying the last non-null right value
    * forward in (ts, right-before-left) order, keep left rows. One
    * shuffle, state bounded by the window frame, no pair blow-up.
    * Right rows must be unique per (key, ts) — pre-aggregate if not.
    * Ties (update and event at the same ts) include the update,
    * matching DuckDB's `ASOF JOIN ... ON l.ts >= r.ts` oracle.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               valueCol: String): DataFrame = {
    require(!left.columns.contains(valueCol),
      s"asOfJoin would overwrite existing left column '$valueCol' — " +
        "rename it on one side first")
    import org.apache.spark.sql.expressions.Window
    val l = left
      .withColumn(valueCol, lit(null).cast(right.schema(valueCol).dataType))
      .withColumn("_is_l", lit(1))
    val r = left.columns.filterNot(Set(key, ts))
      .foldLeft(right.select(col(key), col(ts), col(valueCol))) {
        (d, c) => d.withColumn(c, lit(null).cast(left.schema(c).dataType))
      }
      .withColumn("_is_l", lit(0))
      .select(l.columns.toIndexedSeq.map(col): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("_is_l"))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r)
      .withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
      .filter(col("_is_l") === 1)
      .drop("_is_l")
  }

  /** Native sort-merge AS-OF join (graft.plans.AsOfJoinNode): same
    * rows as [[asOfJoin]] (property-pinned), but as the single-pass
    * two-iterator merge a native engine runs — no union stream, no
    * window state carrying every left payload column, O(1) held
    * state per partition. The key exchanges and (key, ts) sorts come
    * from the exec's required distribution/ordering, so
    * EnsureRequirements plans it exactly like a shuffled equi-join.
    */
  def asOfJoinNative(left: DataFrame, right: DataFrame, key: String,
                     ts: String, valueCol: String): DataFrame = {
    require(!left.columns.contains(valueCol),
      s"asOfJoinNative would duplicate left column '$valueCol'")
    val spark = left.sparkSession
    graft.plans.GraftExtensions.useStrategy(spark, graft.plans.AsOfJoinStrategy)
    val l = left.queryExecution.analyzed
    val r = right.select(col(key), col(ts), col(valueCol))
      .queryExecution.analyzed
    org.apache.spark.sql.graftshim.ColumnBridge.ofRows(spark,
      graft.plans.AsOfJoinNode(l, r, key, ts, Seq(valueCol)))
  }

  /** J5-style banded join: both sides keyed by a derived amount band,
    * pre-aggregated per band BEFORE the join so the join cardinality
    * is |bands|, not |rows|² — the scale-safe form of the reference's
    * bucketed similarity join (StreamJoiner.java:159-179,238-291).
    */
  def bandedJoin(lineitem: DataFrame, part: DataFrame,
                 width: Double = 1000.0): DataFrame = {
    import graft.functions.ExactAgg._
    val li = lineitem
      .groupBy(graft.functions.Features.amountBand(col("l_extendedprice"), width)
        .as("band"))
      .agg(count(lit(1)).as("n_li"), davg(col("l_extendedprice")).as("avg_li"))
    val p = part
      .groupBy(graft.functions.Features.amountBand(col("p_retailprice"), width)
        .as("band"))
      .agg(count(lit(1)).as("n_p"), davg(col("p_retailprice")).as("avg_p"))
    li.join(p, "band")
      // pattern-similarity scalar in the J5 spirit: relative distance
      // of the band means (exact double ops on both engines)
      .withColumn("band_similarity",
        lit(1.0) - abs(col("avg_li") - col("avg_p"))
          / greatest(col("avg_li"), col("avg_p")))
  }

  /** J7 companion: per-entity distinct-counterparty degree + normalized
    * centrality (graph_neural_network.py:338-392: user_centrality =
    * min(distinct merchants / 10, 1), merchant_centrality =
    * min(distinct users / 100, 1)) over the user↔merchant bipartite
    * graph. One distinct-aggregate per side, union of the two entity
    * classes — no join at all, so it scales as two keyed aggregations.
    */
  def degreeFeatures(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, countDistinct, least, lit, pmod}
    val e = events.select(col("user_id"),
      pmod(col("event_id") * 7, lit(97L)).as("merchant_key"))
    def side(keyCol: String, otherCol: String, tag: String,
             norm: Double) =
      e.groupBy(col(keyCol).as("entity_id"))
        .agg(countDistinct(col(otherCol)).as("degree"))
        .select(lit(tag).as("entity_type"), col("entity_id"), col("degree"),
          least(col("degree").cast("double") / lit(norm), lit(1.0))
            .as("centrality"))
    side("user_id", "merchant_key", "user", 10.0)
      .unionByName(side("merchant_key", "user_id", "merchant", 100.0))
  }

  /** J7 graph neighborhood: bipartite co-occurrence — pairs of
    * suppliers sharing parts, with shared-neighbor counts (the
    * degree/centrality-style scalars the reference's GNN feature prep
    * computes — graph_neural_network.py:244-315 — via self-join on
    * the shared entity; distinct-edge projection first keeps the
    * self-join on the small edge set).
    *
    * Hot shared entities (a `via` supplied by thousands of sources)
    * square inside one reduce partition, so the join is salted
    * ADAPTIVELY: each via's degree (from a keyed pre-aggregation that
    * reuses the same exchange) sets its bucket count
    * g = ceil(degree / saltCap). Cold vias keep g = 1 — zero
    * duplication, zero overhead — while a hot via's pair work spreads
    * over g reducers (the build row's salt is hash(src) mod g, the
    * probe row explodes over all g buckets). Each (a,b) pair still
    * matches exactly once, so the output is identical to the unsalted
    * join; the quadratic pair count per hot via is inherent to the
    * operator, and the salt converts it from one straggler partition
    * into g parallel ones.
    *
    * The OUTPUT contract is bounded too — the raw pair set is
    * Θ(|sources|²) on dense graphs (at sf0.1 all C(1000,2) ≈ 500k
    * supplier pairs co-occur), but the reference only ever consumes
    * bounded neighborhoods and degree scalars
    * (graph_neural_network.py:244-315), so the operator keeps a pair
    * only when it clears `minShared` co-occurrences and, when
    * `topNPerSrc` > 0, keeps each source's top-N strongest neighbors
    * (shared DESC, src_b ASC — deterministic) via the native two-phase
    * TopK operator, whose partial phase bounds the extra exchange to
    * N rows per source per partition.
    */
  def coOccurrence(edges: DataFrame, src: String, via: String,
                   saltCap: Int = 1000, minShared: Long = 1L,
                   topNPerSrc: Int = 0): DataFrame = {
    // cached: the distinct-edge projection feeds the degree agg AND the
    // salted frame, which itself feeds both join sides — without the
    // cache each branch re-runs the scan+distinct. Tracked in
    // OperatorCaches: long-lived sessions release via releaseAll()
    val e = OperatorCaches.track(
      edges.select(col(src).as("s"), col(via).as("v")).distinct())
    val deg = e.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withG = OperatorCaches.track(
      e.join(deg, "v").withColumn("g",
        greatest(ceil(col("deg").cast("double") / saltCap).cast("int"),
          lit(1))))
    val a = withG.withColumn("salt",
      explode(sequence(lit(0), col("g") - 1)))
    val b = withG.select(col("s").as("s_b"), col("v").as("v_b"),
      pmod(xxhash64(col("s")), col("g").cast("long")).cast("int").as("salt_b"))
    val pairs = a.join(b,
        col("v") === col("v_b") && col("salt") === col("salt_b") &&
        col("s") < col("s_b"))
      .groupBy(col("s").as("src_a"), col("s_b").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    boundOutput(pairs, minShared, topNPerSrc)
  }

  /** The DENSE-graph physical strategy for the same logical operator as
    * [[coOccurrence]]: one `groupBy(via)` collects each via's distinct
    * source set (collect_set dedups inside the aggregation — the
    * separate distinct+degree+join stages of the salted form collapse
    * into the single keyed exchange), then every pair is enumerated
    * ROW-LOCALLY (posexplode picks src_a, a second explode over the
    * tail slice picks src_b — generators, not higher-order functions:
    * the HOF struct-pair spelling runs interpreted and measured 2×
    * slower) and counted. Two shuffles total, zero joins, no cache.
    * Measured on the sf0.1 supplier graph vs the salted join:
    * one-shot (cold) 10.3 s → 6.7 s; steady-state equal (~1.9 s — the
    * salted form needs its tracked cache to get there, this form has
    * no cache at all).
    *
    * Trade: a via's Θ(deg²) pair enumeration runs in the ONE task that
    * holds its row, and its source set must fit in executor memory. On
    * graphs with bounded via-degree (this one: suppliers per part ≤
    * ~30; generally anything df-capped upstream) that is the faster
    * plan at any scale; under hot-via skew (degree ≫ 10⁵) use
    * [[coOccurrence]], whose adaptive salt spreads a hot via over
    * ceil(deg/saltCap) reducers. Output is identical row-for-row
    * (FraudOpsSpec pins the equivalence); both forms share the
    * [[boundOutput]] contract.
    */
  def coOccurrenceDense(edges: DataFrame, src: String, via: String,
                        minShared: Long = 1L,
                        topNPerSrc: Int = 0): DataFrame = {
    val grouped = edges
      .select(col(via).as("v"), col(src).as("s"))
      .groupBy("v")
      .agg(sort_array(collect_set(col("s"))).as("ss"))
      .filter(size(col("ss")) >= 2)
    // Explicit repartition (r16): AQE coalesces the groupBy exchange
    // by its PRE-explode byte size, so the Θ(deg²) pair enumeration
    // below — the operator's dominant work, ~15× the grouped row
    // count — landed in 1-2 tasks (measured: q_graph_cooccur 5 jobs /
    // 17 tasks / 2.5 s). Re-spreading the GROUPED frame is the
    // guide-§8 move — shuffle the small proxy rows (one per via,
    // pre-explode) so the heavy derived work runs wide — and its one
    // bounded exchange is negligible against the enumeration at any
    // scale. NOT Par.fan: fan's partition probe executes the AQE
    // subtree eagerly (the groupBy ran twice — measured +0.35 s on
    // q_triangles); a pinned repartition needs no probe.
    // width = max(defaultParallelism, shuffle partitions) (r16
    // ADVICE): pinning to defaultParallelism alone under-partitions a
    // cluster whose configured shuffle width exceeds its core count —
    // the session's shuffle setting is the operator's scale dial, the
    // core count only the local floor
    val session = grouped.sparkSession
    val width = math.max(session.sparkContext.defaultParallelism,
      session.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val pairs = grouped
      .repartition(width)
      .select(col("ss"), posexplode(col("ss")).as(Seq("i", "src_a")))
      .select(col("src_a"),
        explode(slice(col("ss"), col("i") + lit(2), size(col("ss"))))
          .as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("shared"))
    boundOutput(pairs, minShared, topNPerSrc)
  }

  /** Shared bounded-output contract of the co-occurrence forms:
    * `minShared` threshold, then optional top-N strongest neighbors
    * per source via the native TopK operator.
    */
  private def boundOutput(pairs: DataFrame, minShared: Long,
                          topNPerSrc: Int): DataFrame = {
    val thresholded =
      if (minShared > 1L) pairs.filter(col("shared") >= minShared) else pairs
    if (topNPerSrc > 0)
      TopN.topPerKeyNative(thresholded, "src_a", "shared", "src_b",
        topNPerSrc)
    else thresholded
  }

  /** Triangle count over an undirected edge list (`a < b` rows) via
    * the degree-ordered node-iterator: every edge is re-oriented from
    * its lower-(degree, id) endpoint to the higher one, wedges are
    * enumerated only from each node's OUT-list, and a wedge closes
    * iff its two tips are themselves an edge. Orientation is the
    * whole scale story — out-degree under (degree, id) order is
    * O(√m) even on power-law graphs, so wedge volume is O(m·√m)
    * instead of the Σdeg² a hub would produce from raw adjacency
    * (the J7 graph analog of the skew salt). Each triangle is
    * counted exactly once: its three vertices have one unique
    * orientation-minimal apex.
    *
    * Shuffles: degree agg, one self-join of the oriented list on the
    * apex, one semi-join of wedge tips against the edge set. Output
    * is a single (n_edges, n_wedges, n_triangles) audit row.
    *
    * The edge list and the oriented list are tracked caches: `e`
    * feeds FOUR plan branches (degree agg, orientation join, closing
    * semi-join, edge count) and `oriented` both sides of the wedge
    * self-join — uncached, an expensive upstream (e.g. the
    * co-occurrence pair enumeration the bench feeds in) recomputes
    * once per branch, which measured ~1.8× the whole operator at
    * sf0.1. Both frames are O(edges) — for the sparsified graphs
    * this operator targets, a bounded working set at any corpus
    * scale.
    */
  def triangleCount(edges: DataFrame, a: String = "src_a",
                    b: String = "src_b"): DataFrame = {
    val e = OperatorCaches.track(
      edges.select(col(a).as("ea"), col(b).as("eb")))
    val deg = e.select(col("ea").as("node"))
      .unionAll(e.select(col("eb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient: lo = endpoint with smaller (deg, id); ties impossible
    // on id since a < b
    val withDeg = e
      .join(deg.withColumnRenamed("node", "ea").withColumnRenamed("deg", "da"), "ea")
      .join(deg.withColumnRenamed("node", "eb").withColumnRenamed("deg", "db"), "eb")
    val oriented = OperatorCaches.track(withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("ea") < col("eb")),
        struct(col("ea").as("lo"), col("eb").as("hi")))
        .otherwise(struct(col("eb").as("lo"), col("ea").as("hi")))
        .as("o"))
      .select(col("o.lo").as("lo"), col("o.hi").as("hi")))
    val o2 = oriented.select(col("lo").as("lo2"), col("hi").as("hi2"))
    // wedges from each apex's out-list; hi < hi2 both dedups the
    // unordered tip pair and leaves it in id order, so the closing
    // lookup hits the a<b edge rows directly
    val wedges = oriented.join(o2,
        col("lo") === col("lo2") && col("hi") < col("hi2"))
      .select(col("hi").as("wa"), col("hi2").as("wb"))
    val nWedges = wedges.groupBy().agg(count(lit(1)).as("n_wedges"))
    val closed = wedges.join(e,
      col("wa") === col("ea") && col("wb") === col("eb"), "left_semi")
    val nTri = closed.groupBy().agg(count(lit(1)).as("n_triangles"))
    val nEdges = e.groupBy().agg(count(lit(1)).as("n_edges"))
    nEdges.crossJoin(broadcast(nWedges)).crossJoin(broadcast(nTri))
  }
}
