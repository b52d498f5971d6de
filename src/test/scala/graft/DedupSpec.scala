package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Pins the logarithmic round bound of [[Dedup.connectedComponents]].
  *
  * The operator's 100-TB viability rests on pointer jumping keeping
  * driver-coordinated rounds at O(log n) on high-diameter graphs: a
  * silent regression to hop-only propagation would still produce
  * correct labels (the fixpoint is unique) but take Θ(diameter)
  * rounds — fatal on a long chain at cluster scale, invisible to
  * every label-correctness test. These tests read the per-call
  * [[Dedup.CcAudit]] sink and assert the bound directly on the
  * worst-case shapes: a pure path (maximum diameter for n nodes) and
  * a star-of-chains (deep branches that must all drain to one label).
  */
class DedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def ccRounds(pairs: Seq[(Long, Long)],
                       nodes: Seq[Long]): (Map[Long, Long], Int) = {
    val audit = new Dedup.CcAudit
    // localMaxEdges = 0 forces the DISTRIBUTED loop: these tests pin
    // the pointer-jumping round bound, which the single-task
    // union-find path (r16) would bypass.
    val out = Dedup.connectedComponents(
        pairs.toDF("doc_a", "doc_b"), nodes.toDF("doc_id"),
        audit = Some(audit), localMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (out, audit.rounds)
  }

  test("path of length 2^k converges in O(log n) rounds, not O(n)") {
    val k = 7
    val n = 1L << k // 128-node path: diameter 127, log2(n) = 7
    val (labels, rounds) = ccRounds(
      (1L until n).map(i => (i, i + 1)), (1L to n))
    assert(labels.size == n && labels.values.forall(_ == 1L))
    // seed(hop+jump) + per-round(hop+jump) + 1 detection round: label
    // distance-to-root at least halves per round, so ~k rounds reach
    // the fixpoint. 2k+2 is a loose ceiling that still fails hop-only
    // propagation by an order of magnitude (needs ~n = 128 rounds).
    assert(rounds >= 1 && rounds <= 2 * k + 2,
      s"CC took $rounds rounds on a $n-node path; pointer jumping " +
        s"should need <= ${2 * k + 2}")
  }

  test("star-of-chains: deep branches drain to the hub label in O(log) rounds") {
    // hub node 1; 8 chains of depth 32 hanging off it. Component min
    // is the hub; every branch tip is 32 hops from it.
    val branches = 8
    val depth = 32
    val pairs = (0 until branches).flatMap { b =>
      val base = 1000L * (b + 1)
      (1L, base + 1) +: (1L until depth).map(i => (base + i, base + i + 1))
    }
    val nodes = 1L +: (0 until branches).flatMap { b =>
      val base = 1000L * (b + 1); (1L to depth).map(base + _)
    }
    val (labels, rounds) = ccRounds(pairs, nodes)
    assert(labels.size == nodes.size && labels.values.forall(_ == 1L))
    val bound = 2 * 6 + 2 // depth 32 -> log2(~33 path to hub) ~ 6
    assert(rounds >= 1 && rounds <= bound,
      s"CC took $rounds rounds on star-of-chains (depth $depth); " +
        s"pointer jumping should need <= $bound")
  }

  test("audit sink is per-call: two calls see their own round counts") {
    val a1 = new Dedup.CcAudit
    val a2 = new Dedup.CcAudit
    Dedup.connectedComponents(
      Seq((1L, 2L)).toDF("doc_a", "doc_b"),
      Seq(1L, 2L).toDF("doc_id"), audit = Some(a1),
      localMaxEdges = 0L).count()
    Dedup.connectedComponents(
      (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
      (1L to 64L).toDF("doc_id"), audit = Some(a2),
      localMaxEdges = 0L).count()
    assert(a1.rounds >= 1 && a2.rounds >= 1)
    assert(a2.rounds >= a1.rounds,
      s"64-path rounds (${a2.rounds}) < edge rounds (${a1.rounds})")
  }

  test("local union-find path == distributed loop, label for label") {
    // worst-case-ish mixed shape: a path, a clique, singletons, and a
    // star — exercises chains (jump-dependent), hamming-0 style
    // cliques, and identity labels in one graph
    val pairs =
      (1L until 40L).map(i => (i, i + 1)) ++          // 40-node path
      (for (a <- 100L to 104L; b <- (a + 1) to 105L)  // 6-clique
        yield (a, b)) ++
      (201L to 208L).map(t => (200L, t))               // star hub 200
    val nodes = (1L to 40L) ++ (100L to 105L) ++ (200L to 208L) ++
      Seq(777L, 888L) // singletons
    def run(gate: Long): Map[Long, Long] =
      Dedup.connectedComponents(
          pairs.toDF("doc_a", "doc_b"), nodes.toDF("doc_id"),
          localMaxEdges = gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run(Long.MaxValue) // union-find path
    val loop = run(0L)             // distributed loop
    assert(local == loop, s"paths disagree: ${
      (local.toSet diff loop.toSet).take(5)} vs ${
      (loop.toSet diff local.toSet).take(5)}")
    assert(local(40L) == 1L && local(105L) == 100L &&
      local(208L) == 200L && local(777L) == 777L)
  }

  test("union-find label iterator: next() alone advances and ends cleanly") {
    import graft.operators.LongUnionFind
    // 5 is never an edge end, and no node is 0: a next() that read an
    // unused slot would emit (0, 0) and insert key 0 into the table
    val edges = Seq((3L, 7L), (7L, 9L), (12L, 4L))
    val expected = Map(3L -> 3L, 7L -> 3L, 9L -> 3L, 12L -> 4L, 4L -> 4L)
    val it = LongUnionFind.components(edges.iterator)
    val pulled = Seq.fill(expected.size)(it.next())
    assert(pulled.toMap == expected && pulled.size == expected.size)
    assert(!it.hasNext)
    intercept[NoSuchElementException](it.next())
    // the hasNext-driven path yields the same labels
    assert(LongUnionFind.components(edges.iterator).toMap == expected)
  }
}
