package graft.oracle

import graft.operators.TextAnalysis

/** DuckDB-SQL twins of the document/embedding operators
  * (graft.operators.{Dedup, Similarity, TextAnalysis}).
  *
  * Each string is generated with the same structural parameters
  * (n-gram size, hash counts, bit widths, stopword lists, term
  * association order) as the Spark implementation, so every float in
  * the result is bit-identical across engines.
  */
object DocOracles {

  /** Distinct, document-frequency-capped 3-gram shingles per doc —
    * mirror of Dedup.shingles. Leaves CTE `e(doc_id, sh)` in scope.
    */
  private val shinglesCte: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id,
      |        CASE WHEN len(toks) >= 3 THEN
      |          list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |        ELSE [] END AS shs
      |      FROM t),
      |e0 AS (SELECT doc_id, UNNEST(shs) AS sh FROM g),
      |f AS (SELECT sh FROM e0 GROUP BY sh HAVING COUNT(*) <= 1000),
      |e AS (SELECT e0.doc_id, e0.sh FROM e0 JOIN f ON e0.sh = f.sh)""".stripMargin

  private def minhashSql: String = {
    val hashes = (0 until 8).map(j =>
      s"MIN(md5('$j:' || sh)) AS h$j").mkString(", ")
    def band(b: Int) = {
      val key = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bkey FROM s"
    }
    s"""$shinglesCte,
       |s AS (SELECT doc_id, $hashes FROM e GROUP BY doc_id),
       |bd AS (${band(0)} UNION ALL ${band(1)})
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bd a JOIN bd b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin
  }

  /** Mirror of Dedup.jaccardPairsBanded: exact intersection counts and
    * integer-ratio Jaccard computed ONLY over the MinHash-LSH band
    * candidates (same signature/band derivation as minhashSql), so the
    * candidate set — and therefore the verified output — is identical
    * across engines by construction.
    */
  /** Shared banded-candidate CTE chain (shingles → minhash bands →
    * candidate pairs → exact intersection counts + set sizes) — the
    * common prefix of the Jaccard and containment oracles, kept single
    * so the two can never drift from Dedup's band machinery.
    */
  private def bandedIntersectionsCte: String = {
    val hashes = (0 until 8).map(j =>
      s"MIN(md5('$j:' || sh)) AS h$j").mkString(", ")
    def band(b: Int) = {
      val key = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bkey FROM s"
    }
    s"""$shinglesCte,
       |n AS (SELECT doc_id, COUNT(*) AS nsh FROM e GROUP BY 1),
       |s AS (SELECT doc_id, $hashes FROM e GROUP BY doc_id),
       |bd AS (${band(0)} UNION ALL ${band(1)}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bd a JOIN bd b
       |           ON a.band = b.band AND a.bkey = b.bkey
       |          AND a.doc_id < b.doc_id),
       |p AS (SELECT doc_a, doc_b, COUNT(*) AS inter
       |      FROM cand JOIN e a ON doc_a = a.doc_id
       |                JOIN e b ON doc_b = b.doc_id AND a.sh = b.sh
       |      GROUP BY 1, 2)""".stripMargin
  }

  private def jaccardBandedSql: String =
    s"""$bandedIntersectionsCte
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / (na.nsh + nb.nsh - inter) AS jaccard
       |  FROM p JOIN n na ON doc_a = na.doc_id
       |         JOIN n nb ON doc_b = nb.doc_id)
       |WHERE jaccard >= 0.5""".stripMargin

  /** Mirror of Dedup.containmentPairs: DIRECT shingle-join candidates
    * (resemblance bands would miss exactly the low-Jaccard contained
    * pairs), asymmetric |A∩B|/|A| and |A∩B|/|B| ratios with
    * denominators over the UNCAPPED n-gram sets (e0 — the df cap
    * bounds only the candidate join/intersection),
    * either-direction threshold.
    */
  private def containmentSql: String =
    s"""$shinglesCte,
       |n AS (SELECT doc_id, COUNT(*) AS nsh FROM e0 GROUP BY 1),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |        COUNT(*) AS inter
       |      FROM e a JOIN e b
       |        ON a.sh = b.sh AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_a, doc_b, cont_ab, cont_ba FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / na.nsh AS cont_ab,
       |    CAST(inter AS DOUBLE) / nb.nsh AS cont_ba
       |  FROM p JOIN n na ON doc_a = na.doc_id
       |         JOIN n nb ON doc_b = nb.doc_id)
       |WHERE cont_ab >= 0.8 OR cont_ba >= 0.8""".stripMargin

  /** Mirror of Dedup.minhashCandidatesOph: one md5 per shingle,
    * first-nibble bucketing, per-bucket minima, same 2-band join.
    */
  private def minhashOphSql: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    val mins = (0 until 8).map(j =>
      s"MIN(CASE WHEN b = $j THEN h END) AS h$j").mkString(", ")
    def band(b: Int) = {
      val key = (0 until 4).map(r => s"h${b * 4 + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('|', $key)) AS bkey FROM s"
    }
    s"""$shinglesCte,
       |th AS (SELECT doc_id, md5(sh) AS h FROM e),
       |tb AS (SELECT doc_id, h,
       |        (CASE substr(h, 1, 1) $nibble END) % 8 AS b FROM th),
       |s AS (SELECT doc_id, $mins FROM tb GROUP BY doc_id),
       |bd AS (${band(0)} UNION ALL ${band(1)})
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bd a JOIN bd b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin
  }

  private def simhashPairsSql: String = {
    val bits = 32
    // high hex digit ⟺ sorts >= '8' (mirrors Dedup.simhash)
    val bitSums = (0 until bits).map(j =>
      s"SUM(CASE WHEN substr(h, ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val sig = (0 until bits).map(j =>
      s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    val blockSel = (0 until 4).map(i =>
      s"SELECT doc_id, simhash, $i AS block, (simhash // ${1L << (i * 8)}) % 256 AS bkey FROM sg")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
       |th AS (SELECT doc_id, md5(tok) AS h FROM tok),
       |bs AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
       |sg AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bs),
       |sb AS (
       |  $blockSel),
       |pr AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sa, b.simhash AS sb
       |  FROM sb a JOIN sb b
       |    ON a.block = b.block AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE a.block = (CASE
       |    WHEN (a.simhash // 1) % 256 = (b.simhash // 1) % 256 THEN 0
       |    WHEN (a.simhash // 256) % 256 = (b.simhash // 256) % 256 THEN 1
       |    WHEN (a.simhash // 65536) % 256 = (b.simhash // 65536) % 256 THEN 2
       |    ELSE 3 END))
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM pr WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin
  }

  /** Left-associated 64-term dot product — mirror of Similarity.dot. */
  private def dot(a: String, b: String): String =
    (1 to 64).map(i => s"$a[$i] * $b[$i]").mkString(" + ")

  private def cos(a: String, b: String): String =
    s"(${dot(a, b)}) / (SQRT(${dot(a, a)}) * SQRT(${dot(b, b)}))"

  private val embCte =
    """WITH d AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  private def annTopkSql: String =
    s"""$embCte,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE vec_id < 8),
       |s AS (SELECT query_id, d.vec_id AS neighbor_id,
       |        ${cos("qv", "d.v")} AS cos
       |      FROM q, d WHERE d.vec_id <> query_id)
       |SELECT query_id, neighbor_id, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM s)
       |WHERE rn <= 3""".stripMargin

  private def annLshSql: String = {
    val bkt = (1 to 8).map(i =>
      s"CASE WHEN v[$i] > 0 THEN ${1L << (i - 1)} ELSE 0 END").mkString(" + ")
    s"""$embCte,
       |db AS (SELECT vec_id, v, CAST($bkt AS BIGINT) AS bkt FROM d),
       |q AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt
       |      FROM db WHERE vec_id < 8),
       |s AS (SELECT query_id, db.vec_id AS neighbor_id,
       |        ${cos("qv", "db.v")} AS cos
       |      FROM q JOIN db ON db.bkt = q.qbkt WHERE db.vec_id <> query_id)
       |SELECT query_id, neighbor_id, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM s)
       |WHERE rn <= 3""".stripMargin
  }

  /** IVF probe chain (prefix-parameterized CTE names) ending in
    * `<p>s` = (query_id, neighbor_id, cos) for queries satisfying
    * `queryWhere` — nlist=16 first-vector pivots, max-cosine
    * assignment, nprobe=4, exact verify. ONE definition feeding
    * [[annIvfSql]] and [[hybridRrfSql]] so a probe-chain change
    * cannot diverge the two mirrors.
    */
  private def ivfCosCtes(p: String, queryWhere: String,
                         nprobe: Int = 4): String =
    s"""${p}d AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${p}p AS (SELECT vec_id AS pid, v AS pv FROM ${p}d
       |       WHERE vec_id < 16),
       |${p}ar AS (SELECT ${p}d.vec_id, ${p}d.v, pid,
       |         ${cos(s"${p}d.v", "pv")} AS pcos,
       |         ROW_NUMBER() OVER (PARTITION BY ${p}d.vec_id
       |           ORDER BY ${cos(s"${p}d.v", "pv")} DESC, pid) AS prn
       |       FROM ${p}d, ${p}p),
       |${p}a AS (SELECT vec_id, v, pid AS list_id FROM ${p}ar
       |       WHERE prn = 1),
       |${p}qr AS (SELECT vec_id AS query_id, v AS qv, pid AS plist
       |       FROM ${p}ar WHERE ($queryWhere) AND prn <= $nprobe),
       |${p}s AS (SELECT query_id, ${p}a.vec_id AS neighbor_id,
       |        ${cos("qv", s"${p}a.v")} AS cos
       |      FROM ${p}qr JOIN ${p}a ON plist = list_id
       |      WHERE ${p}a.vec_id <> query_id)""".stripMargin

  /** Mirror of Similarity.ivfTopK (nlist=16 pivot codebook, max-cosine
    * assignment, nprobe=4, exact verify): assignment, probe order and
    * final ranking all use the identical dot/sqrt shapes, so the
    * probed candidate set and ranks are engine-independent.
    */
  private def annIvfSql: String =
    s"""WITH ${ivfCosCtes("", "vec_id < 8")}
       |SELECT query_id, neighbor_id, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM s)
       |WHERE rn <= 3""".stripMargin

  /** Mirror of Similarity.annRecall: brute-force top-3 ground truth
    * (annTopkSql's exact CTEs, `b`-prefixed) LEFT-joined against the
    * approximate method's top-3 — the IVF probe chain (ivfCosCtes) or
    * the sign-bucket LSH — counted per query. COUNT (BIGINT) rather
    * than SUM (DuckDB HUGEINT) keeps the dtype gate green; recall is
    * the exact small-integer DOUBLE division both engines share.
    */
  private def annRecallSql(method: String): String = {
    val approxCte = method match {
      case "ivf" =>
        s"""${ivfCosCtes("iv", "vec_id < 8")},
           |ax AS (SELECT query_id, neighbor_id FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |            ORDER BY cos DESC, neighbor_id) AS rn FROM ivs)
           |  WHERE rn <= 3)""".stripMargin
      case "lsh" =>
        val bkt = (1 to 8).map(i =>
          s"CASE WHEN v[$i] > 0 THEN ${1L << (i - 1)} ELSE 0 END")
          .mkString(" + ")
        s"""ld AS (SELECT vec_id,
           |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |ldb AS (SELECT vec_id, v, CAST($bkt AS BIGINT) AS bkt FROM ld),
           |lq AS (SELECT vec_id AS query_id, v AS qv, bkt AS qbkt
           |      FROM ldb WHERE vec_id < 8),
           |ls AS (SELECT query_id, ldb.vec_id AS neighbor_id,
           |        ${cos("qv", "ldb.v")} AS cos
           |      FROM lq JOIN ldb ON ldb.bkt = lq.qbkt
           |      WHERE ldb.vec_id <> query_id),
           |ax AS (SELECT query_id, neighbor_id FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |            ORDER BY cos DESC, neighbor_id) AS rn FROM ls)
           |  WHERE rn <= 3)""".stripMargin
    }
    s"""WITH bd AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |bq AS (SELECT vec_id AS query_id, v AS qv FROM bd
       |       WHERE vec_id < 8),
       |bs AS (SELECT query_id, bd.vec_id AS neighbor_id,
       |        ${cos("qv", "bd.v")} AS cos
       |      FROM bq, bd WHERE bd.vec_id <> query_id),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM bs)
       |  WHERE rn <= 3),
       |$approxCte
       |SELECT bf.query_id,
       |       COUNT(ax.neighbor_id) AS n_hits,
       |       COUNT(*) AS k,
       |       CAST(COUNT(ax.neighbor_id) AS DOUBLE) /
       |         CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM bf LEFT JOIN ax
       |  ON ax.query_id = bf.query_id
       | AND ax.neighbor_id = bf.neighbor_id
       |GROUP BY bf.query_id""".stripMargin
  }

  /** Mirror of Similarity.ivfPqTopK: same IVF codebook/assignment/
    * probes as annIvfSql, plus PQ encoding (8 sub-spaces × 16
    * centroids = the first 16 vectors' slices, argmin by the same
    * left-associated squared-L2 chain) and ADC scoring. The 8-term
    * approx-distance sum is spelled as an explicit left-associated
    * chain over 8 self-joins of the query distance table — SUM() would
    * be order-nondeterministic in IEEE doubles; the chain is
    * bit-identical to Spark's reduceLeft.
    */
  private def annIvfPqSql: String =
    s"""$ivfPqCandidateCtes
       |SELECT query_id, neighbor_id, adist, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY adist, neighbor_id) AS rn FROM s)
       |WHERE rn <= 3""".stripMargin

  /** Mirror of Similarity.ivfPqRerankTopK: the ADC shortlist (top 20
    * by approx distance) re-scored by exact cosine against the full
    * vectors, final top-3 on the exact score — the two-stage serving
    * layout, with the same cos/dot chains as every embedding oracle.
    */
  private def annIvfPqRerankSql: String =
    s"""$ivfPqCandidateCtes,
       |${pqRerankTail(20)}""".stripMargin

  /** ADC top-`rerank` shortlist → exact-cosine re-score → final top-3;
    * follows any CTE chain ending in `s` = (query_id, neighbor_id,
    * adist). Shared by the untrained and trained rerank oracles.
    */
  private def pqRerankTail(rerank: Int,
                           qpred: String = "vec_id < 8"): String =
    s"""sl AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                   ORDER BY adist, neighbor_id) AS arn FROM s)
       |       WHERE arn <= $rerank),
       |qv AS (SELECT vec_id AS query_id, v AS q FROM d WHERE $qpred),
       |ex AS (SELECT sl.query_id, sl.neighbor_id,
       |         ${cos("q", "nd.v")} AS cos
       |       FROM sl JOIN qv USING (query_id)
       |         JOIN d nd ON nd.vec_id = sl.neighbor_id)
       |SELECT query_id, neighbor_id, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM ex)
       |WHERE rn <= 3""".stripMargin

  /** Mirror of Similarity.ivfPqResidualTopK — the IVFADC residual
    * layout: same coarse assignment and probe order as annIvfSql; the
    * PQ book is the RESIDUALS of vectors 16..31 (cid = vec_id − 16;
    * NOT the first 16 — those are the pivots themselves, whose
    * residuals are identically zero and would degenerate the ADC;
    * r = v − centroid-of-assigned-list, element-wise), corpus codes
    * are per-subspace argmins over residual sub-distances, and the
    * ADC tables are per (query, probed list) over (q − c_plist). All
    * arithmetic uses the shared explicit left-associated chains, so
    * codes, approx distances and ranks are bit-identical to Spark's.
    * Residual frames are MATERIALIZED: inlining the 64-term
    * list_value through the enc/qd consumers multiplies the
    * expression tree exactly like the kmeans CTEs (see
    * kmeansTrainedCte's note).
    */
  private def annIvfPqResidualSql: String =
    s"""$annIvfPqResidualCtes
       |SELECT query_id, neighbor_id, adist, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY adist, neighbor_id) AS rn FROM s)
       |WHERE rn <= 3""".stripMargin

  /** Mirror of Similarity.ivfPqResidualRerankTopK: the residual-ADC
    * top-40 shortlist re-scored by exact cosine — the full IVFADC
    * serving stack (coarse probe → residual ADC → exact rerank);
    * shares [[pqRerankTail]] with the raw-PQ and trained rerank
    * oracles.
    */
  private def annResidualRerankSql: String =
    s"""$annIvfPqResidualCtes,
       |${pqRerankTail(40)}""".stripMargin

  /** The residual-ADC candidate chain through `s` = (query_id,
    * neighbor_id, adist); also defines `d` (corpus) for the rerank
    * tail.
    */
  private def annIvfPqResidualCtes: String =
    s"""$embCte,
       |${annIvfPqResidualBody()}""".stripMargin

  /** The residual chain over an ambient corpus CTE `d` — the
    * qpred-parameterized form the clustered-regime panel reuses.
    */
  private def annIvfPqResidualBody(qpred: String = "vec_id < 8"): String = {
    val msub = 8; val dsub = 8
    def rsub(va: String, pa: String): String =
      (1 to 64).map(i => s"($va[$i] - $pa[$i])")
        .mkString("list_value(", ", ", ")")
    def sd(a: String, b: String, mi: Int): String =
      (1 to dsub).map { j =>
        val i = mi * dsub + j
        s"(($a[$i] - $b[$i]) * ($a[$i] - $b[$i]))"
      }.mkString(" + ")
    def caseSd(vec: String): String =
      (0 until msub).map(mi => s"WHEN $mi THEN ${sd(vec, "cv", mi)}")
        .mkString("CASE ms.m ", " ", " END")
    val msVals = (0 until msub).map(m => s"($m)").mkString(", ")
    val encCols = (0 until msub)
      .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val qdJoins = (0 until msub).map(m =>
      s"JOIN qd q$m ON q$m.query_id = qr.query_id AND q$m.plist = qr.plist AND q$m.m = $m AND q$m.cid = e.c$m")
      .mkString("\n|        ")
    val adChain = (0 until msub).map(m => s"q$m.sdv").mkString(" + ")
    s"""p AS (SELECT vec_id AS pid, v AS pv FROM d WHERE vec_id < 16),
       |ar AS (SELECT d.vec_id, d.v, pid, ${cos("d.v", "pv")} AS pcos,
       |         ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |           ORDER BY ${cos("d.v", "pv")} DESC, pid) AS prn
       |       FROM d, p),
       |a AS (SELECT vec_id, pid AS list_id FROM ar WHERE prn = 1),
       |qr AS (SELECT vec_id AS query_id, pid AS plist
       |       FROM ar WHERE ($qpred) AND prn <= 4),
       |rv AS MATERIALIZED (SELECT d.vec_id, a.list_id,
       |        ${rsub("d.v", "p.pv")} AS r
       |      FROM d JOIN a USING (vec_id) JOIN p ON p.pid = a.list_id),
       |cb AS MATERIALIZED (SELECT vec_id - 16 AS cid, r AS cv
       |      FROM rv WHERE vec_id >= 16 AND vec_id < 32),
       |ms AS (SELECT * FROM (VALUES $msVals) AS t(m)),
       |enc AS (SELECT rv.vec_id, ms.m, cid, ${caseSd("rv.r")} AS sdv
       |        FROM rv, cb, ms),
       |encp AS (SELECT vec_id, $encCols
       |         FROM (SELECT vec_id, m, cid AS code,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                   ORDER BY sdv, cid) AS rn
       |               FROM enc) WHERE rn = 1 GROUP BY vec_id),
       |qrv AS MATERIALIZED (SELECT qr.query_id, qr.plist,
       |        ${rsub("d.v", "p.pv")} AS r
       |      FROM qr JOIN d ON d.vec_id = qr.query_id
       |        JOIN p ON p.pid = qr.plist),
       |qd AS MATERIALIZED (SELECT qrv.query_id, qrv.plist, ms.m, cid,
       |        ${caseSd("qrv.r")} AS sdv
       |      FROM qrv, cb, ms),
       |s AS (SELECT qr.query_id, a.vec_id AS neighbor_id,
       |        $adChain AS adist
       |      FROM qr JOIN a ON plist = list_id
       |        JOIN encp e ON e.vec_id = a.vec_id
       |        $qdJoins
       |      WHERE a.vec_id <> qr.query_id)""".stripMargin
  }

  /** Mirror of q_ann_trained_rerank — the FULL production shape: both
    * the coarse quantizer AND the PQ codebook are ONE k-means book
    * (k=16, ONE Lloyd round — deeper sample training measurably hurts
    * the coarse probe ordering, COVERAGE.md r11 log) trained on the
    * `vec_id % 4 = 0` sample with rank-densified cids (0..15 —
    * matching kmeansSeed's positional contract), then the standard
    * IVF-PQ candidate chain with the trained book in both roles, ADC
    * top-40 shortlist, exact rerank, top-3.
    */
  private def annTrainedRerankSql: String =
    s"""$embCte,
       |${kmeansTrainedCte(16, 1, "vec_id % 4 = 0")},
       |p AS (SELECT cid AS pid, cv AS pv FROM c1),
       |cb AS (SELECT cid, cv FROM c1),
       |${ivfPqCandidateBody()},
       |${pqRerankTail(40)}""".stripMargin

  /** Shared CTE chain of the IVF-PQ oracles, through `s` =
    * (query_id, neighbor_id, adist) for every probed candidate —
    * the default first-16-vectors codebook in both roles.
    */
  private def ivfPqCandidateCtes: String =
    s"""$embCte,
       |$ivfPqDefaultBook,
       |${ivfPqCandidateBody()}""".stripMargin

  /** The default first-16-vectors codebook CTEs (coarse pivots `p` +
    * PQ centroids `cb`) over an ambient corpus CTE `d` — shared by
    * the gate-corpus chain and the clustered-regime panel.
    */
  private def ivfPqDefaultBook: String =
    """p AS (SELECT vec_id AS pid, v AS pv FROM d WHERE vec_id < 16),
      |cb AS (SELECT vec_id AS cid, v AS cv FROM d WHERE vec_id < 16)"""
      .stripMargin

  /** The codebook-independent part of the IVF-PQ chain: consumes CTEs
    * `d` (corpus), `p` (pid, pv coarse pivots) and `cb` (cid, cv PQ
    * centroids — cids MUST be dense 0..15, the positional-ADC
    * contract), produces `s` = (query_id, neighbor_id, adist).
    */
  private def ivfPqCandidateBody(qpred: String = "vec_id < 8"): String = {
    val msub = 8; val dsub = 8
    def sd(a: String, b: String, mi: Int): String =
      (1 to dsub).map { j =>
        val i = mi * dsub + j
        s"(($a[$i] - $b[$i]) * ($a[$i] - $b[$i]))"
      }.mkString(" + ")
    def caseSd(vec: String): String =
      (0 until msub).map(mi => s"WHEN $mi THEN ${sd(vec, "cv", mi)}")
        .mkString("CASE ms.m ", " ", " END")
    val msVals = (0 until msub).map(m => s"($m)").mkString(", ")
    val encCols = (0 until msub)
      .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val qdJoins = (0 until msub).map(m =>
      s"JOIN qd q$m ON q$m.query_id = qr.query_id AND q$m.m = $m AND q$m.cid = e.c$m")
      .mkString("\n|        ")
    val adChain = (0 until msub).map(m => s"q$m.sdv").mkString(" + ")
    s"""ar AS (SELECT d.vec_id, d.v, pid, ${cos("d.v", "pv")} AS pcos,
       |         ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |           ORDER BY ${cos("d.v", "pv")} DESC, pid) AS prn
       |       FROM d, p),
       |a AS (SELECT vec_id, pid AS list_id FROM ar WHERE prn = 1),
       |qr AS (SELECT vec_id AS query_id, pid AS plist
       |       FROM ar WHERE ($qpred) AND prn <= 4),
       |ms AS (SELECT * FROM (VALUES $msVals) AS t(m)),
       |enc AS (SELECT d.vec_id, ms.m, cid, ${caseSd("d.v")} AS sdv
       |        FROM d, cb, ms),
       |encp AS (SELECT vec_id, $encCols
       |         FROM (SELECT vec_id, m, cid AS code,
       |                 ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                   ORDER BY sdv, cid) AS rn
       |               FROM enc) WHERE rn = 1 GROUP BY vec_id),
       |qd AS (SELECT q.vec_id AS query_id, ms.m, cid,
       |         ${caseSd("q.v")} AS sdv
       |       FROM (SELECT vec_id, v FROM d WHERE $qpred) q, cb, ms),
       |s AS (SELECT qr.query_id, a.vec_id AS neighbor_id,
       |        $adChain AS adist
       |      FROM qr JOIN a ON plist = list_id
       |        JOIN encp e ON e.vec_id = a.vec_id
       |        $qdJoins
       |      WHERE a.vec_id <> qr.query_id)""".stripMargin
  }

  /** Mirror of Similarity.kmeansAssign (k=8, one Lloyd refinement):
    * seed book = first 8 vectors; assignment argmin over
    * −2·(v·c) + (c·c) with the shared left-associated dot chain (≡ L2
    * argmin — v·v is constant per vector), ties to smaller cid;
    * centroid means per coordinate via the scaled-BIGINT exact sum
    * over generate_series positions (order-independent, so the
    * trained book is bit-identical to Spark's); empty clusters keep
    * seed coordinates (COALESCE).
    */
  private def kmScore(v: String, c: String): String =
    s"(-2.0 * (${dot(v, c)}) + (${dot(c, c)}))"

  /** CTE fragment c0→a1→m→c1: one Lloyd refinement of the first-`k`
    * seed book — the SQL mirror of Similarity.kmeansCarr, shared by
    * the kmeans oracle and the trained-codebook ANN oracles (the
    * trained book's coordinates are bit-identical cross-engine:
    * exact-int sums / counts, COALESCE to seed for empty clusters).
    */
  private def kmeansC1Cte(k: Int): String =
    s"""c0 AS (SELECT vec_id AS cid, v AS cv FROM d WHERE vec_id < $k),
       |a1 AS (SELECT vec_id, cid FROM (
       |         SELECT d.vec_id, cid, ROW_NUMBER() OVER (
       |           PARTITION BY d.vec_id
       |           ORDER BY ${kmScore("d.v", "cv")}, cid) AS rn
       |         FROM d, c0) WHERE rn = 1),
       |m AS (SELECT cid, g.i AS pos,
       |        ${graft.functions.OracleSql.dsum("d.v[g.i]")} / COUNT(*) AS mu
       |      FROM a1 JOIN d USING (vec_id), generate_series(1, 64) g(i)
       |      GROUP BY cid, g.i),
       |c1 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM (
       |         SELECT c0.cid, g.i AS pos,
       |           COALESCE(m.mu, c0.cv[g.i]) AS c
       |         FROM c0 CROSS JOIN generate_series(1, 64) g(i)
       |           LEFT JOIN m ON m.cid = c0.cid AND m.pos = g.i)
       |       GROUP BY cid)""".stripMargin

  /** CTE chain t → c0 → (a_i, m_i, c_i)×`iters`: `iters` Lloyd
    * refinements over the training frame `t` (= d WHERE `trainPred`),
    * seeds = the `k` smallest-vec_id training vectors with cids
    * DENSIFIED to ranks 0..k−1 — the SQL mirror of
    * Similarity.kmeansCarr on a sampled training set (kmeansSeed's
    * rank-densification contract). Empty clusters COALESCE to the
    * SEED's coordinates every round, exactly like kmeansUpdate. Ends
    * with CTE `c<iters>`. Every CTE is MATERIALIZED: DuckDB otherwise
    * inlines the chain, and the ~130-term dot expressions multiply
    * through 3 rounds × 2 downstream consumers into an OOM at plan
    * time (observed at sf0.001; 3 s with materialization).
    */
  private def kmeansTrainedCte(k: Int, iters: Int,
                               trainPred: String): String = {
    val seed =
      s"""t AS MATERIALIZED (SELECT vec_id, v FROM d WHERE $trainPred),
         |c0 AS MATERIALIZED (SELECT CAST(srn - 1 AS BIGINT) AS cid, v AS cv FROM (
         |         SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS srn
         |         FROM t) WHERE srn <= $k)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (SELECT vec_id, cid FROM (
         |         SELECT t.vec_id, cid, ROW_NUMBER() OVER (
         |           PARTITION BY t.vec_id
         |           ORDER BY ${kmScore("t.v", "cv")}, cid) AS rn
         |         FROM t, c${i - 1}) WHERE rn = 1),
         |m$i AS MATERIALIZED (SELECT cid, g.i AS pos,
         |        ${graft.functions.OracleSql.dsum("t.v[g.i]")} / COUNT(*) AS mu
         |      FROM a$i JOIN t USING (vec_id), generate_series(1, 64) g(i)
         |      GROUP BY cid, g.i),
         |c$i AS MATERIALIZED (SELECT cid, list(c ORDER BY pos) AS cv FROM (
         |         SELECT c0.cid, g.i AS pos,
         |           COALESCE(m$i.mu, c0.cv[g.i]) AS c
         |         FROM c0 CROSS JOIN generate_series(1, 64) g(i)
         |           LEFT JOIN m$i ON m$i.cid = c0.cid AND m$i.pos = g.i)
         |       GROUP BY cid)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  private def kmeansSql: String =
    s"""$embCte,
       |${kmeansC1Cte(8)}
       |SELECT vec_id, cid AS cluster_id FROM (
       |  SELECT d.vec_id, cid, ROW_NUMBER() OVER (
       |    PARTITION BY d.vec_id
       |    ORDER BY ${kmScore("d.v", "cv")}, cid) AS rn
       |  FROM d, c1) WHERE rn = 1""".stripMargin

  /** Mirror of Similarity.ivfTopK with the TRAINED codebook
    * (kmeansPivotArr k=16, 1 Lloyd round) as the coarse quantizer —
    * annIvfSql with its first-16-vectors pivot CTE swapped for the
    * trained book c1. Assignment/probe/rank shapes unchanged.
    */
  private def annIvfTrainedSql: String =
    s"""$embCte,
       |${kmeansC1Cte(16)},
       |p AS (SELECT cid AS pid, cv AS pv FROM c1),
       |ar AS (SELECT d.vec_id, d.v, pid, ${cos("d.v", "pv")} AS pcos,
       |         ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |           ORDER BY ${cos("d.v", "pv")} DESC, pid) AS prn
       |       FROM d, p),
       |a AS (SELECT vec_id, v, pid AS list_id FROM ar WHERE prn = 1),
       |qr AS (SELECT vec_id AS query_id, v AS qv, pid AS plist
       |       FROM ar WHERE vec_id < 8 AND prn <= 4),
       |s AS (SELECT query_id, a.vec_id AS neighbor_id,
       |        ${cos("qv", "a.v")} AS cos
       |      FROM qr JOIN a ON plist = list_id
       |      WHERE a.vec_id <> query_id)
       |SELECT query_id, neighbor_id, cos, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM s)
       |WHERE rn <= 3""".stripMargin

  /** Mirror of ModelEval.knnLabel: the annIvfSql IVF machinery
    * (identical codebook, assignment, probe order and cosine shapes)
    * widened to k=5 over the `vec_id % 20 = 0` query set, then
    * majority vote over the neighbors' labels — votes desc, smaller
    * label on ties, exactly the Spark window's ORDER BY.
    */
  private def knnLabelSql: String =
    s"""$embCte,
       |p AS (SELECT vec_id AS pid, v AS pv FROM d WHERE vec_id < 16),
       |ar AS (SELECT d.vec_id, d.v, pid, ${cos("d.v", "pv")} AS pcos,
       |         ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |           ORDER BY ${cos("d.v", "pv")} DESC, pid) AS prn
       |       FROM d, p),
       |a AS (SELECT vec_id, v, pid AS list_id FROM ar WHERE prn = 1),
       |qr AS (SELECT vec_id AS query_id, v AS qv, pid AS plist
       |       FROM ar WHERE vec_id % 20 = 0 AND prn <= 4),
       |s AS (SELECT query_id, a.vec_id AS neighbor_id,
       |        ${cos("qv", "a.v")} AS cos
       |      FROM qr JOIN a ON plist = list_id
       |      WHERE a.vec_id <> query_id),
       |nn AS (SELECT query_id, neighbor_id FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                   ORDER BY cos DESC, neighbor_id) AS rn FROM s)
       |       WHERE rn <= 5),
       |v AS (SELECT query_id, e.label, COUNT(*) AS votes
       |      FROM nn JOIN embeddings e ON e.vec_id = nn.neighbor_id
       |      GROUP BY 1, 2)
       |SELECT query_id, label AS pred_label, votes FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY votes DESC, label) AS mrn FROM v)
       |WHERE mrn = 1""".stripMargin

  /** Deterministic scorer twin of ModelEval.detScore — identical IEEE
    * shape: cast-to-double, +1, /2, clamp.
    */
  private val detScoreSql =
    "LEAST(GREATEST((CAST(embedding[1] AS DOUBLE) + 1.0) / 2.0, 0.0), 1.0)"

  /** Mirror of ModelEval.calibrationBins (10 equal-width bins, label
    * parity as the binary target, ExactAgg scaled-BIGINT mean score).
    */
  private def calibrationSql: String =
    s"""WITH s AS (SELECT $detScoreSql AS score,
       |  CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS pos
       |  FROM embeddings)
       |SELECT CAST(LEAST(FLOOR(score * 10), 9) AS INTEGER) AS bin,
       |  COUNT(*) AS n,
       |  CAST(SUM(pos) AS BIGINT) AS positives,
       |  CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS pos_rate,
       |  ${graft.functions.OracleSql.davg("score", 9)} AS mean_score
       |FROM s GROUP BY 1""".stripMargin

  /** Mirror of ModelEval.prAtThresholds: integer confusion counts and
    * single int/int double divisions at three thresholds.
    */
  private def prSql: String =
    s"""WITH s AS (SELECT $detScoreSql AS score,
       |  CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END AS actual
       |  FROM embeddings),
       |e AS (SELECT score, actual,
       |        UNNEST([CAST(0.3 AS DOUBLE), CAST(0.5 AS DOUBLE),
       |                CAST(0.7 AS DOUBLE)]) AS threshold
       |      FROM s),
       |p AS (SELECT threshold, actual,
       |        CASE WHEN score >= threshold THEN 1 ELSE 0 END AS pred
       |      FROM e)
       |SELECT threshold,
       |  CAST(SUM(pred * actual) AS BIGINT) AS tp,
       |  CAST(SUM(pred * (1 - actual)) AS BIGINT) AS fp,
       |  CAST(SUM((1 - pred) * actual) AS BIGINT) AS fn,
       |  CAST(SUM(pred * actual) AS DOUBLE) /
       |    GREATEST(CAST(SUM(pred) AS BIGINT), 1) AS precision,
       |  CAST(SUM(pred * actual) AS DOUBLE) /
       |    GREATEST(CAST(SUM(actual) AS BIGINT), 1) AS recall
       |FROM p GROUP BY 1""".stripMargin

  /** Mirror of Similarity.nearDupPairs over
    * Similarity.perturbedCopies (8-bit × 8 sign-bit bands +
    * exact-cosine verify at t=0.9 — the regime where the selective
    * banding, ~3.1% of pairs as candidates, is simultaneously
    * ≥99%-recall). The corpus is the raw embeddings plus one
    * deterministically perturbed copy each: coordinate j draws nibble
    * ((j−1) mod 32)+1 of md5('pert:a:'||vec_id) (j ≤ 32) or
    * md5('pert:b:'||vec_id) (j > 32) — two digests per vector, not 64,
    * matching Similarity.perturbedCopies' codegen-sized form — and
    * gains (nibble − 7.5) / 128, exact until the single final add,
    * identically rounded in both engines. The band keys are pure sign
    * tests on the double coordinates, so the candidate SET — and
    * therefore the verified output — is identical across engines.
    */
  private def embNearDupSql: String = {
    val bits = 8
    val bands = 8
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    // single-line terms: a line break inside `||` would be mangled by
    // the enclosing stripMargin (it strips up to the first `|`)
    val pertTerms = (1 to 64).map { j =>
      val d = if (j <= 32) "da" else "db"
      val pos = (j - 1) % 32 + 1
      s"v[$j] + ((CASE substr($d, $pos, 1) $nibble END) - 7.5) / 128.0"
    }.mkString(",\n  ")
    val bandSel = (0 until bands).map { b =>
      val key = (0 until bits).map(r =>
        s"CASE WHEN v[${b * bits + r + 1}] > 0 THEN ${1L << r} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, $b AS band, CAST($key AS BIGINT) AS bkey FROM d"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |pert AS (SELECT vid + 1000000 AS vec_id, [
       |  $pertTerms] AS v
       |  FROM (SELECT vec_id AS vid, v,
       |          md5('pert:a:' || CAST(vec_id AS VARCHAR)) AS da,
       |          md5('pert:b:' || CAST(vec_id AS VARCHAR)) AS db
       |        FROM base)),
       |d AS (SELECT vec_id, v FROM base
       |      UNION ALL SELECT vec_id, v FROM pert),
       |bd AS (
       |  $bandSel),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bd a JOIN bd b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cos FROM (
       |  SELECT vec_a, vec_b, ${cos("da.v", "db.v")} AS cos
       |  FROM cand JOIN d da ON vec_a = da.vec_id
       |            JOIN d db ON vec_b = db.vec_id)
       |WHERE cos > 0.9""".stripMargin
  }

  /** Mirror of Retrieval.bm25TopK: identical constants emitted from
    * the same Scala doubles (so e.g. k1+1 prints the exact double the
    * Catalyst literal holds), idf as the single 6dp-rounded libm
    * term, same left-associated arithmetic, fixed-order per-term
    * conditional sums, same rounded-score + doc_id ranking.
    */
  /** BM25 CTE chain (prefix-parameterized) ending in `<p>top` =
    * (doc_id, bm25), the ordered top-`k` lexical list. ONE definition
    * feeding [[bm25Sql]] and [[hybridRrfSql]] so a scoring-chain
    * change cannot diverge the two mirrors.
    */
  private def bm25TopCtes(p: String, terms: Seq[String], k: Int): String = {
    val k1 = graft.operators.Retrieval.K1
    val b = graft.operators.Retrieval.B
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN term = '$t' THEN c END) AS c_$i" }.mkString(",\n  ")
    val total = terms.indices.map(i => s"COALESCE(c_$i, 0.0)")
      .mkString(" + ")
    s"""${p}s AS (SELECT doc_id, string_split(text, ' ') AS ts
       |           FROM documents),
       |${p}st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
       |         CAST(SUM(CAST(len(ts) AS BIGINT)) AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM ${p}s),
       |${p}e AS (SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl,
       |        UNNEST(ts) AS term FROM ${p}s),
       |${p}e2 AS (SELECT * FROM ${p}e WHERE term IN ($inList)),
       |${p}dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
       |          FROM (SELECT DISTINCT doc_id, term FROM ${p}e2)
       |          GROUP BY 1),
       |${p}tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
       |       FROM ${p}e2 GROUP BY 1, 2, 3),
       |${p}c AS (SELECT doc_id, term,
       |        ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
       |          * (tf * ${k1 + 1.0})
       |          / (tf + $k1 * (${1.0 - b} + $b * dl / avgdl)) AS c
       |      FROM ${p}tf JOIN ${p}dfreq USING (term) CROSS JOIN ${p}st),
       |${p}g AS (SELECT doc_id,
       |  $perTerm
       |  FROM ${p}c GROUP BY 1),
       |${p}top AS (SELECT doc_id, ROUND($total, 6) AS bm25
       |  FROM ${p}g ORDER BY bm25 DESC, doc_id LIMIT $k)""".stripMargin
  }

  private def bm25Sql: String =
    s"""WITH ${bm25TopCtes("", Seq("spark", "join", "window"), 20)}
       |SELECT doc_id, bm25 FROM top ORDER BY bm25 DESC, doc_id""".stripMargin

  /** Mirror of Retrieval.hybridRrf: the SHARED [[bm25TopCtes]] chain
    * (prefix `b`) as the lexical leg, the SHARED [[ivfCosCtes]] chain
    * (prefix `h`, query vec_id = 0, nprobe 4, top-20) as the vector
    * leg — one definition per leg with bm25Sql/annIvfSql, so a
    * scoring- or probe-chain change lands in every mirror or none —
    * then reciprocal-rank fusion: Σ 1/(60 + rank) over a FULL OUTER
    * join of the two bounded top lists. Ranks are ints, the division
    * is one IEEE op on an exactly-cast int, the two-leg sum is a
    * fixed left-to-right chain — bit-identical cross-engine without
    * any rounding.
    */
  private def hybridRrfSql: String =
    s"""WITH ${bm25TopCtes("b", Seq("spark", "join", "window"), 20)},
       |lexr AS (SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM btop),
       |${ivfCosCtes("h", "vec_id = 0")},
       |vecr AS (SELECT neighbor_id, rn AS vec_rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM hs)
       |  WHERE rn <= 20),
       |f AS (SELECT COALESCE(l.doc_id, v.neighbor_id) AS doc_id,
       |        COALESCE(1.0 / CAST(l.lex_rank + 60 AS DOUBLE), 0.0)
       |          + COALESCE(1.0 / CAST(v.vec_rank + 60 AS DOUBLE), 0.0)
       |          AS rrf,
       |        l.lex_rank, v.vec_rank
       |      FROM lexr l FULL OUTER JOIN vecr v
       |        ON v.neighbor_id = l.doc_id)
       |SELECT doc_id, rrf, lex_rank, vec_rank, rn FROM (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
       |  FROM f)
       |WHERE rn <= 10""".stripMargin

  /** Mirror of Similarity.rpRerankTopK: the ±1 sign matrix is the
    * SAME Scala array the operator embeds as Catalyst literals (±1
    * products are IEEE-exact; the projected sums share the standard
    * left-associated chain), so the projected vectors, the
    * pool-shortlist and the exact-rerank ranks are engine-identical.
    */
  private def annRpRerankSql: String = {
    val pdim = 16; val pool = 20; val k = 3
    val signs = graft.operators.Similarity.rpSigns(pdim, 64)
    def proj(j: Int): String = (1 to 64).map { i =>
      s"v[$i] * (${if (signs(j)(i - 1) > 0) "1.0" else "-1.0"})"
    }.mkString(" + ")
    val pvList = (0 until pdim).map(j => s"(${proj(j)})")
      .mkString("[", ", ", "]")
    def pdot(a: String, b: String): String =
      (1 to pdim).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
    s"""$embCte,
       |rp AS (SELECT vec_id, v, pv, SQRT(${pdot("pv", "pv")}) AS pnrm
       |       FROM (SELECT vec_id, v, $pvList AS pv FROM d)),
       |q AS (SELECT vec_id AS query_id, v AS qv, pv AS qpv,
       |        pnrm AS qpnrm FROM rp WHERE vec_id < 8),
       |s AS (SELECT query_id, rp.vec_id AS neighbor_id, qv, rp.v,
       |        (${pdot("qpv", "rp.pv")}) / (qpnrm * rp.pnrm) AS pcos
       |      FROM q, rp WHERE rp.vec_id <> query_id),
       |sl AS (SELECT query_id, neighbor_id, qv, v FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY pcos DESC, neighbor_id) AS prn FROM s)
       |  WHERE prn <= $pool)
       |SELECT query_id, neighbor_id, cos, rn FROM (
       |  SELECT query_id, neighbor_id, ${cos("qv", "v")} AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ${cos("qv", "v")} DESC, neighbor_id) AS rn
       |  FROM sl)
       |WHERE rn <= $k""".stripMargin
  }

  /** Mirror of Similarity.hardNegatives: the SHARED [[ivfCosCtes]]
    * probe chain → top-`pool` shortlist per query → label lookups for
    * both pair ends, same-label positives dropped, re-ranked cos DESC
    * with ties to the smaller neg_id, top `k` per query. The cosine
    * is the shared exact chain, so the shortlist and every rank are
    * engine-identical.
    */
  private def hardNegativesSql: String = {
    val k = 5; val pool = 20
    s"""WITH ${ivfCosCtes("", "vec_id < 8")},
       |sl AS (SELECT query_id, neighbor_id, cos FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |              ORDER BY cos DESC, neighbor_id) AS rn FROM s)
       |  WHERE rn <= $pool),
       |neg AS (SELECT sl.query_id, sl.neighbor_id AS neg_id,
       |          nl.label AS neg_label, sl.cos
       |        FROM sl
       |        JOIN embeddings ql ON ql.vec_id = sl.query_id
       |        JOIN embeddings nl ON nl.vec_id = sl.neighbor_id
       |        WHERE nl.label <> ql.label)
       |SELECT query_id, neg_id, neg_label, cos, neg_rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neg_id) AS neg_rank FROM neg)
       |WHERE neg_rank <= $k""".stripMargin
  }

  /** Mirror of Similarity.mmrTopK: the SHARED [[ivfCosCtes]] probe
    * chain feeds a bounded top-`pool` shortlist per query; pairwise
    * cosines are a self-join of the shortlist against the corpus
    * vectors (same cos chain); the greedy MMR selection unrolls as
    * k−1 MATERIALIZED pick/sel rounds — λ literals interpolated from
    * the SAME Scala doubles the operator's Catalyst literals hold,
    * MAX over doubles order-independent, ties to the smaller id, so
    * every pick is bit-identical cross-engine.
    */
  private def mmrRerankSql: String = {
    val k = 5; val pool = 20; val lam = 0.7
    val oneMinus = 1.0 - lam
    val rounds = (2 to k).map { r =>
      s"""pick$r AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, mmr, $r AS pick FROM (
         |    SELECT c.query_id, c.neighbor_id,
         |           $lam * c.rel - $oneMinus * m.maxsim AS mmr,
         |           ROW_NUMBER() OVER (PARTITION BY c.query_id
         |             ORDER BY ($lam * c.rel - $oneMinus * m.maxsim)
         |               DESC, c.neighbor_id) AS rn
         |    FROM short c
         |    JOIN (SELECT s2.query_id, s2.na, MAX(s2.sim) AS maxsim
         |          FROM sims s2 JOIN sel${r - 1} t
         |            ON t.query_id = s2.query_id
         |           AND t.neighbor_id = s2.nb
         |          GROUP BY 1, 2) m
         |      ON m.query_id = c.query_id AND m.na = c.neighbor_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} t2
         |          WHERE t2.query_id = c.query_id
         |            AND t2.neighbor_id = c.neighbor_id))
         |  WHERE rn = 1),
         |sel$r AS MATERIALIZED (
         |  SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pick$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ${ivfCosCtes("", "vec_id < 8")},
       |short AS MATERIALIZED (SELECT query_id, neighbor_id, cos AS rel
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rn FROM s)
       |  WHERE rn <= $pool),
       |sims AS MATERIALIZED (SELECT sa.query_id,
       |    sa.neighbor_id AS na, sb.neighbor_id AS nb,
       |    ${cos("da.v", "db.v")} AS sim
       |  FROM short sa
       |  JOIN short sb ON sa.query_id = sb.query_id
       |               AND sa.neighbor_id <> sb.neighbor_id
       |  JOIN d da ON da.vec_id = sa.neighbor_id
       |  JOIN d db ON db.vec_id = sb.neighbor_id),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, $lam * rel AS mmr, 1 AS pick
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY ($lam * rel) DESC, neighbor_id) AS rn
       |        FROM short) WHERE rn = 1),
       |$rounds
       |SELECT query_id, neighbor_id, mmr, pick FROM sel$k""".stripMargin
  }

  /** Mirror of Similarity.quantizeInt8: per-index error terms with the
    * identical clamp/round/div shapes, mse as the explicit
    * left-associated 64-term chain (the fold's order), max error via
    * list_max (comparison-only — exact).
    */
  private def quantizeSql: String = {
    def q(x: String) =
      s"GREATEST(-127.0, LEAST(127.0, ROUND($x / s * 127, 0)))"
    def err(i: Int) = s"(v[$i] - ${q(s"v[$i]")} / 127.0 * s)"
    val mseChain = (1 to 64).map(i => s"${err(i)} * ${err(i)}")
      .mkString(" + ")
    s"""$embCte,
       |ws AS (SELECT vec_id, v,
       |         list_max(list_transform(v, x -> abs(x))) AS s
       |       FROM d)
       |SELECT vec_id, s AS scale,
       |  CASE WHEN s > 0.0 THEN ($mseChain) / 64.0
       |       ELSE CAST(0.0 AS DOUBLE) END AS mse,
       |  CASE WHEN s > 0.0 THEN
       |    list_max(list_transform(v, x ->
       |      abs(x - GREATEST(-127.0, LEAST(127.0, ROUND(x / s * 127, 0)))
       |          / 127.0 * s)))
       |  ELSE CAST(0.0 AS DOUBLE) END AS max_abs_err
       |FROM ws""".stripMargin
  }

  /** Mirror of TextAnalysis.packSequences: one running sum, integer
    * window ids.
    */
  private def packSequencesSql: String =
    """WITH n AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |    SUM(n_tokens) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM n)
      |SELECT doc_id, n_tokens,
      |  CAST(FLOOR((cum - n_tokens) / CAST(512.0 AS DOUBLE)) AS BIGINT)
      |    AS start_window,
      |  CAST(FLOOR((cum - 1) / CAST(512.0 AS DOUBLE)) AS BIGINT)
      |    AS end_window,
      |  CAST(FLOOR((cum - 1) / CAST(512.0 AS DOUBLE)) AS BIGINT)
      |    - CAST(FLOOR((cum - n_tokens) / CAST(512.0 AS DOUBLE)) AS BIGINT)
      |    + 1 AS n_windows
      |FROM c""".stripMargin

  /** Mirror of TextAnalysis.unigramSurprisal: ln of integer ratios
    * rounded 6dp, per-doc sum via BIGINT-quantized terms.
    */
  private def surprisalSql: String =
    """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
      |             FROM documents),
      |cw AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_corpus FROM tok),
      |t AS (SELECT doc_id,
      |        ROUND(LN(CAST(n_corpus AS DOUBLE) / CAST(cw AS DOUBLE)), 6)
      |          AS term
      |      FROM tok JOIN cw USING (w), n)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(CAST(ROUND(term * 1.0e6, 0) AS BIGINT)) AS DOUBLE)
      |    / 1.0e6 AS surprisal_sum,
      |  (CAST(SUM(CAST(ROUND(term * 1.0e6, 0) AS BIGINT)) AS DOUBLE)
      |    / 1.0e6) / COUNT(*) AS avg_surprisal
      |FROM t GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.bigramSurprisal: positional bigrams from
    * the token list, add-one-smoothed conditional surprisal, the
    * 6dp-rounded-ln + BIGINT-quantized-sum contract of surprisalSql.
    */
  private def bigramSurprisalSql: String =
    """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      |       FROM (SELECT doc_id, ts,
      |               UNNEST(generate_series(1, len(ts) - 1)) AS i FROM s)),
      |bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      |un AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      |vz AS (SELECT COUNT(*) AS v FROM un),
      |t AS (SELECT doc_id,
      |        ROUND(LN(CAST((c1 + v) AS DOUBLE)
      |          / CAST((c12 + 1) AS DOUBLE)), 6) AS term
      |      FROM bg JOIN bi USING (w1, w2) JOIN un USING (w1), vz)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(CAST(ROUND(term * 1.0e6, 0) AS BIGINT)) AS DOUBLE)
      |    / 1.0e6 AS surprisal_sum,
      |  (CAST(SUM(CAST(ROUND(term * 1.0e6, 0) AS BIGINT)) AS DOUBLE)
      |    / 1.0e6) / COUNT(*) AS avg_surprisal
      |FROM t GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.chunkPlan (size 128, overlap 16, stride
    * 112): per-row integer chunk arithmetic.
    */
  private def chunkPlanSql: String =
    """WITH n AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |    CASE WHEN n_tokens <= 128 THEN CAST(1 AS BIGINT)
      |         ELSE 1 + CAST(FLOOR((n_tokens - 128 + 111)
      |                / CAST(112.0 AS DOUBLE)) AS BIGINT) END AS n_chunks
      |  FROM n)
      |SELECT doc_id, n_tokens, n_chunks,
      |  n_tokens - (n_chunks - 1) * 112 AS last_chunk_tokens
      |FROM c""".stripMargin

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")

  private def stopCount(words: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> t IN (${inList(words)})))"

  private def langIdSql: String = {
    val langs = TextAnalysis.StopWords
    val counts = langs.map { case (l, ws) =>
      s"${stopCount(ws)} AS c_$l" }.mkString(", ")
    val names = langs.map(_._1)
    val pred = names.init.zipWithIndex.foldRight(s"'${names.last}'") {
      case ((lang, i), onElse) =>
        val beats = names.drop(i + 1).map(o => s"c_$lang >= c_$o")
          .mkString(" AND ")
        s"CASE WHEN $beats THEN '$lang' ELSE $onElse END"
    }
    s"""WITH c AS (SELECT doc_id, lang, $counts FROM documents)
       |SELECT doc_id, $pred AS predicted_lang, lang AS labeled_lang
       |FROM c""".stripMargin
  }

  private def qualitySql: String = {
    val en = inList(TextAnalysis.StopWords.head._2)
    s"""WITH b AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS ntok,
       |  CAST(len(list_filter(string_split(text, ' '),
       |       t -> t IN ($en))) AS DOUBLE) AS nstop,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nchar
       |  FROM documents)
       |SELECT doc_id, ntok AS n_tokens,
       |  nstop / ntok AS stopword_ratio,
       |  nchar / ntok AS mean_token_len,
       |  0.3 * LEAST(1.0, ntok / 100.0) + 0.4 * (1.0 - nstop / ntok)
       |    + 0.3 * LEAST(1.0, (nchar / ntok) / 8.0) AS quality
       |FROM b""".stripMargin
  }

  /** Mirror of TextAnalysis.qualityPrune: the qualitySql score,
    * per-source rank (quality DESC, doc_id) and count, integer cut
    * 100·rank ≤ n·keepPct + 99.
    */
  private def qualityPruneSql: String = {
    val keepPct = 50
    s"""WITH q AS (SELECT doc_id, quality FROM ($qualitySql)),
       |j AS (SELECT d.doc_id, d.source, q.quality
       |      FROM documents d JOIN q ON d.doc_id = q.doc_id),
       |r AS (SELECT doc_id, source, quality,
       |        ROW_NUMBER() OVER (PARTITION BY source
       |          ORDER BY quality DESC, doc_id) AS q_rank,
       |        COUNT(*) OVER (PARTITION BY source) AS src_n
       |      FROM j)
       |SELECT doc_id, source, quality, q_rank,
       |  q_rank * 100 <= src_n * $keepPct + 99 AS kept
       |FROM r""".stripMargin
  }

  /** Exact mean via scaled-BIGINT sum / count — the shared OracleSql
    * twin of ExactAgg.davg (never re-implemented here, so the two
    * sides cannot drift).
    */
  private def davgSql(x: String): String =
    graft.functions.OracleSql.davg(x)

  /** Mirror of TextAnalysis.datasetSplit: salted-md5 two-hex-digit
    * bucket split (train < 'cc' ≤ val < 'e6' ≤ test) over the quality
    * frame.
    */
  private def datasetSplitSql: String =
    s"""WITH q AS ($qualitySql),
       |s AS (SELECT doc_id, n_tokens, quality,
       |        CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
       |               THEN 'train'
       |             WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
       |               THEN 'val'
       |             ELSE 'test' END AS split
       |      FROM q)
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  ${davgSql("quality")} AS avg_quality
       |FROM s GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.curateCorpus: canonical-copy semi join
    * (min doc_id per exact text hash) + lang agreement + quality bar,
    * rolled up per labeled language.
    */
  private def curateSql: String =
    s"""WITH q AS ($qualitySql),
       |lng AS ($langIdSql),
       |keep AS (SELECT MIN(doc_id) AS keep_id FROM documents
       |         GROUP BY md5(text))
       |SELECT labeled_lang AS lang, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  ${davgSql("quality")} AS avg_quality
       |FROM q JOIN lng USING (doc_id)
       |WHERE doc_id IN (SELECT keep_id FROM keep)
       |  AND quality >= CAST(0.5 AS DOUBLE)
       |  AND predicted_lang = labeled_lang
       |GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.tfidfTopTerms: idf rounded at 6dp BEFORE
    * the tf product (the only libm crossing), rank on the exact
    * product with term tiebreak.
    */
  private def tfidfSql: String =
    """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
      |             FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dfr AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs_total FROM documents),
      |s AS (SELECT doc_id, term,
      |        CAST(tf AS DOUBLE) *
      |          ROUND(LN((n_docs_total + CAST(1.0 AS DOUBLE))
      |                   / (df + CAST(1.0 AS DOUBLE))), 6) AS tfidf
      |      FROM tf JOIN dfr USING (term), n)
      |SELECT doc_id, term, tfidf FROM (
      |  SELECT doc_id, term, tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY tfidf DESC, term) AS rn
      |  FROM s)
      |WHERE rn <= 3""".stripMargin

  /** Mirror of TextAnalysis.collocations: PMI over exact integer
    * count ratios, ln rounded 6dp, support >= 5, top-20.
    */
  private def collocationsSql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
      |uni AS (SELECT UNNEST(ts) AS w FROM toks),
      |uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
      |bg AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
      |       FROM (SELECT ts, UNNEST(generate_series(1, len(ts) - 1)) AS i
      |             FROM toks)),
      |bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY 1, 2
      |       HAVING COUNT(*) >= 5),
      |nb AS (SELECT COUNT(*) AS nbig FROM bg)
      |SELECT w1, w2, c_ab,
      |  ROUND(LN(CAST(c_ab * nbig AS DOUBLE)
      |           / CAST(ua.c * ub.c AS DOUBLE)), 6) AS pmi
      |FROM bc, nb
      |JOIN uc ua ON w1 = ua.w
      |JOIN uc ub ON w2 = ub.w
      |ORDER BY pmi DESC, w1, w2
      |LIMIT 20""".stripMargin

  /** Mirror of Dedup.simhashClusters: the unique fixpoint of min-label
    * propagation, computed by an UNROLLED propagate+shortcut chain —
    * each round sets lbl(x) ← min(lbl(x), min over neighbors' labels,
    * lbl(lbl(x))) over MATERIALIZED per-round label tables. Each round
    * costs O(E); 12 rounds replace the previous recursive transitive
    * closure, whose Θ(Σ cluster²) row count DuckDB could not finish at
    * sf0.1 (>30 min on one query) — this form runs the same query in
    * ~3 s there and is measured bit-identical to the Spark fixpoint at
    * every SF (labels already stable at 8 rounds on sf0.1). The
    * fixpoint is unique, so any sufficient round count is exact; and
    * an INSUFFICIENT count is a self-describing ORACLE error, not a
    * misattributed Spark mismatch: one extra guard round (l$k+1) runs
    * after the committed budget and any label it still moves raises
    * `error('CC oracle: not converged…')` — the investigator is sent
    * at the oracle's round budget, never at the Spark operator. (The
    * guard is necessary-condition only — l_k = l_{k+1} at a true
    * fixpoint; a stable-but-wrong label is impossible because the
    * min-label fixpoint is unique.)
    */
  private def simhashClustersSql: String = {
    val k = 12
    val rounds = (1 to (k + 1)).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, LEAST(l.lbl, COALESCE(nm.m, l.lbl),
         |                       COALESCE(j.lbl, l.lbl)) AS lbl
         |  FROM l${i - 1} l
         |  LEFT JOIN (SELECT s.a AS node, MIN(p.lbl) AS m
         |             FROM sym s JOIN l${i - 1} p ON s.b = p.node
         |             GROUP BY 1) nm ON nm.node = l.node
         |  LEFT JOIN l${i - 1} j ON j.node = l.lbl)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT doc_a, doc_b FROM ($simhashPairsSql)),
       |sym AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p
       |        UNION ALL SELECT doc_b, doc_a FROM p),
       |l0 AS MATERIALIZED (SELECT a AS node, LEAST(a, MIN(b)) AS lbl
       |       FROM sym GROUP BY a),
       |$rounds,
       |chk AS MATERIALIZED (SELECT COUNT(*) AS moved
       |       FROM l$k a JOIN l${k + 1} b
       |         ON a.node = b.node AND a.lbl <> b.lbl),
       |m AS (SELECT node AS doc_id,
       |        CASE WHEN (SELECT moved FROM chk) > 0
       |             THEN error('CC oracle: not converged in $k rounds — raise the unroll budget')
       |             ELSE lbl END AS mn
       |      FROM l$k)
       |SELECT d.doc_id, LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS cluster_id
       |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin
  }

  /** Mirror of Dedup.softDedupWeights: unrolled-fixpoint clusters +
    * per-cluster size + 1/size weight (identical-operand division —
    * IEEE-exact cross-engine).
    */
  private def softDedupWeightsSql: String =
    s"""WITH cl AS (SELECT * FROM ($simhashClustersSql)),
       |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl
       |       GROUP BY 1)
       |SELECT cl.doc_id, cl.cluster_id, sz.cluster_size,
       |  1.0 / CAST(sz.cluster_size AS DOUBLE) AS weight
       |FROM cl JOIN sz ON cl.cluster_id = sz.cluster_id""".stripMargin

  /** Mirror of Dedup.bestOfCluster: unrolled-fixpoint clusters +
    * qualitySql scores + FIRST_VALUE over (quality DESC, doc_id) with
    * an unbounded frame — the same deterministic representative.
    */
  private def bestOfClusterSql: String =
    s"""WITH cl AS (SELECT * FROM ($simhashClustersSql)),
       |q AS (SELECT doc_id, quality FROM ($qualitySql)),
       |j AS (SELECT cl.doc_id, cl.cluster_id, q.quality
       |      FROM cl JOIN q ON cl.doc_id = q.doc_id)
       |SELECT doc_id, cluster_id,
       |  FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    AS canonical_id,
       |  quality,
       |  doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
       |    ORDER BY quality DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |    AS is_canonical
       |FROM j""".stripMargin

  /** Mirror of TextAnalysis.splitLeakage: unrolled-fixpoint clusters +
    * the salted-md5 split rule; multi-doc clusters with split spread.
    */
  private def splitLeakageSql: String =
    s"""WITH cl AS (SELECT * FROM ($simhashClustersSql)),
       |s AS (SELECT cluster_id,
       |        CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
       |               THEN 'train'
       |             WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
       |               THEN 'val'
       |             ELSE 'test' END AS split
       |      FROM cl)
       |SELECT cluster_id, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT split) AS n_splits,
       |  array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
       |  COUNT(DISTINCT split) >= 2 AS leaky
       |FROM s GROUP BY 1
       |HAVING COUNT(*) >= 2""".stripMargin

  /** Mirror of FeatureEng.hashedFeatures: md5 nibble-pair bucket,
    * third-nibble sign, per-doc summed weights.
    */
  private def hashedFeaturesSql: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    s"""WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       |             FROM documents),
       |th AS (SELECT doc_id, md5(tok) AS h FROM tok),
       |tb AS (SELECT doc_id,
       |         ((CASE substr(h, 1, 1) $nibble END) * 16
       |          + (CASE substr(h, 2, 1) $nibble END)) % 64 AS bucket,
       |         CASE WHEN substr(h, 3, 1) >= '8' THEN 1 ELSE -1 END AS sign
       |       FROM th)
       |SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight
       |FROM tb GROUP BY 1, 2""".stripMargin
  }

  /** Mirror of Dedup.incrementalDedup: batch = doc_id % 10 = 0,
    * corpus = rest; exact-hash membership, then MinHash band-bucket
    * membership (same signature/band derivation as minhashSql).
    */
  private def incrementalDedupSql: String = {
    val hashes = (0 until 8).map(j =>
      s"MIN(md5('$j:' || sh)) AS h$j").mkString(", ")
    def band(b: Int) = {
      val key = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($key) AS bkey FROM s"
    }
    s"""$shinglesCte,
       |s AS (SELECT doc_id, $hashes FROM e GROUP BY doc_id),
       |bd AS (${band(0)} UNION ALL ${band(1)}),
       |tag AS (SELECT doc_id, text, doc_id % 10 = 0 AS is_new
       |        FROM documents),
       |eh AS (SELECT DISTINCT md5(text) AS eh FROM tag WHERE NOT is_new),
       |near AS (SELECT DISTINCT a.doc_id
       |         FROM bd a JOIN bd b
       |           ON a.band = b.band AND a.bkey = b.bkey
       |         JOIN tag ta ON a.doc_id = ta.doc_id AND ta.is_new
       |         JOIN tag tb ON b.doc_id = tb.doc_id AND NOT tb.is_new)
       |SELECT t.doc_id,
       |  CASE WHEN md5(t.text) IN (SELECT eh FROM eh) THEN 'dup_exact'
       |       WHEN t.doc_id IN (SELECT doc_id FROM near) THEN 'dup_near'
       |       ELSE 'new' END AS status
       |FROM tag t WHERE is_new""".stripMargin
  }

  /** Mirror of TextAnalysis.repetitionMetrics: exact integer-ratio
    * repetition screens (Gopher-style).
    */
  private def repetitionSql: String =
    """WITH toked AS (SELECT doc_id, string_split(text, ' ') AS ts
      |               FROM documents),
      |tcc AS (SELECT doc_id, w, COUNT(*) AS c
      |        FROM (SELECT doc_id, UNNEST(ts) AS w FROM toked)
      |        GROUP BY 1, 2),
      |uni AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |          COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
      |        FROM tcc GROUP BY 1),
      |bcc AS (SELECT doc_id, b, COUNT(*) AS c
      |        FROM (SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS b
      |              FROM (SELECT doc_id, ts,
      |                      UNNEST(generate_series(1, len(ts) - 1)) AS i
      |                    FROM toked))
      |        GROUP BY 1, 2),
      |big AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bc,
      |          CAST(SUM(c) AS BIGINT) AS n_bigrams
      |        FROM bcc GROUP BY 1)
      |SELECT u.doc_id, n_tokens,
      |  CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
      |  CAST(top_c AS DOUBLE) / n_tokens AS top_token_share,
      |  CASE WHEN n_bigrams > 0 THEN CAST(top_bc AS DOUBLE) / n_bigrams
      |  END AS top_bigram_share,
      |  (CAST(n_distinct AS DOUBLE) / n_tokens < 0.3
      |   OR CAST(top_c AS DOUBLE) / n_tokens > 0.2) AS is_repetitive
      |FROM uni u LEFT JOIN big USING (doc_id)""".stripMargin

  /** Mirror of Similarity.semDedup: IVF-codebook cluster assignment
    * (same ROW_NUMBER tie-break as annIvfSql) + within-cluster
    * exact-cosine pairs, min-id canonical wins.
    */
  private def semDedupSql: String =
    s"""$embCte,
       |p AS (SELECT vec_id AS pid, v AS pv FROM d WHERE vec_id < 16),
       |ar AS (SELECT d.vec_id, d.v, pid,
       |         ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |           ORDER BY ${cos("d.v", "pv")} DESC, pid) AS prn
       |       FROM d, p),
       |a AS (SELECT vec_id, v, pid AS list_id FROM ar WHERE prn = 1),
       |dup AS (SELECT a2.vec_id AS vec_id, MIN(a1.vec_id) AS dup_of
       |        FROM a a1 JOIN a a2
       |          ON a1.list_id = a2.list_id AND a1.vec_id < a2.vec_id
       |        WHERE ${cos("a1.v", "a2.v")} >= 0.4
       |        GROUP BY 1)
       |SELECT a.vec_id, a.list_id AS cluster_id, dup.dup_of,
       |  dup.dup_of IS NOT NULL AS is_dup
       |FROM a LEFT JOIN dup USING (vec_id)""".stripMargin

  /** Mirror of Similarity.knnGraph: the semDedup IVF assignment
    * (same codebook, same tie-break), within-cluster pairwise
    * cosines, top-5 per src (cos DESC, dst tie-break), and a
    * reversed self-join of the k-bounded edge set for the mutual
    * flag.
    */
  private def knnGraphSql: String =
    s"""$embCte,
       |p AS (SELECT vec_id AS pid, v AS pv FROM d WHERE vec_id < 16),
       |ar AS (SELECT d.vec_id, d.v, pid,
       |         ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |           ORDER BY ${cos("d.v", "pv")} DESC, pid) AS prn
       |       FROM d, p),
       |a AS MATERIALIZED (SELECT vec_id, v, pid AS list_id
       |                   FROM ar WHERE prn = 1),
       |e AS (SELECT a1.vec_id AS src, a2.vec_id AS dst,
       |        ${cos("a1.v", "a2.v")} AS cos
       |      FROM a a1 JOIN a a2
       |        ON a1.list_id = a2.list_id AND a1.vec_id <> a2.vec_id),
       |r AS (SELECT src, dst, cos,
       |        ROW_NUMBER() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rn FROM e),
       |k AS MATERIALIZED (SELECT src, dst, cos, rn FROM r WHERE rn <= 5)
       |SELECT k.src, k.dst, k.cos, k.rn,
       |  (m.src IS NOT NULL) AS is_mutual
       |FROM k LEFT JOIN k m ON k.src = m.dst AND k.dst = m.src""".stripMargin

  /** Mirror of Similarity.kCenterCoreset: the k−1 greedy rounds
    * UNROLLED as CTE stages — stage r picks the farthest-from-
    * selected vector (dm DESC, vec_id tie-break) and folds its
    * distance into the running minimum with LEAST (associative, so
    * the incremental chain equals the engine's one-shot least over
    * all selected, bit-for-bit). Every stage is MATERIALIZED:
    * DuckDB inlines CTEs by default, and each d_r is referenced by
    * BOTH s_{r+1} and d_{r+1} — inlined, the chain re-expands
    * 2^k-fold (measured minutes at sf0.01); materialized it is k
    * linear scans, milliseconds.
    */
  private def kCenterCtes(k: Int, allVecs: Boolean): String = {
    val ctes = scala.collection.mutable.ArrayBuffer[String](
      "s1 AS MATERIALIZED (SELECT MIN(vec_id) AS sid FROM d)",
      "v1 AS MATERIALIZED (SELECT d.v AS sv FROM d JOIN s1 ON d.vec_id = s1.sid)",
      s"d1 AS MATERIALIZED (SELECT d.vec_id, d.v, 1.0 - (${cos("d.v", "sv")}) AS dm " +
        "FROM d, v1)")
    for (r <- 2 to k) {
      val excl = (1 until r).map(i => s"SELECT sid FROM s$i")
        .mkString(" UNION ALL ")
      ctes += (s"s$r AS MATERIALIZED (SELECT vec_id AS sid, dm FROM d${r - 1} " +
        s"WHERE vec_id NOT IN ($excl) ORDER BY dm DESC, vec_id LIMIT 1)")
      if (r < k || allVecs) {
        ctes += s"v$r AS MATERIALIZED (SELECT d.v AS sv FROM d JOIN s$r ON d.vec_id = s$r.sid)"
      }
      if (r < k) {
        ctes += (s"d$r AS MATERIALIZED (SELECT p.vec_id, p.v, " +
          s"LEAST(p.dm, 1.0 - (${cos("p.v", "sv")})) AS dm " +
          s"FROM d${r - 1} p, v$r)")
      }
    }
    ctes.mkString(",\n")
  }

  private def kCenterSql: String = {
    val k = 8
    val rounds = (2 to k).map(r =>
      s"UNION ALL SELECT CAST($r AS INTEGER), sid, dm FROM s$r")
    s"""$embCte,
       |${kCenterCtes(k, allVecs = false)}
       |SELECT CAST(1 AS INTEGER) AS sel_round, sid AS vec_id,
       |  CAST(NULL AS DOUBLE) AS radius FROM s1
       |${rounds.mkString("\n")}""".stripMargin
  }

  /** Mirror of Similarity.kCenterAssign: the selection CTEs (one
    * extra v_k for the last pick's vector), then a corpus × centers
    * distance matrix reduced by ROW_NUMBER (dist ASC, pick-order
    * tie-break) — the argmin the engine computes as a lexicographic
    * struct array_min.
    */
  private def kCenterAssignSql: String = {
    val k = 8
    val centers = (1 to k).map(r =>
      s"SELECT CAST($r AS INTEGER) AS sel_round, " +
        s"(SELECT sid FROM s$r) AS center_id, sv FROM v$r")
      .mkString("\nUNION ALL ")
    s"""$embCte,
       |${kCenterCtes(k, allVecs = true)},
       |centers AS MATERIALIZED ($centers),
       |scored AS (SELECT d.vec_id, c.center_id, c.sel_round,
       |             1.0 - (${cos("d.v", "c.sv")}) AS dist
       |           FROM d, centers c)
       |SELECT vec_id, center_id, dist FROM (
       |  SELECT vec_id, center_id, dist,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY dist, sel_round) AS rn
       |  FROM scored)
       |WHERE rn = 1""".stripMargin
  }

  /** Mirror of TextAnalysis.temperatureMix: per-source token mass,
    * √mass quantized to a scaled BIGINT (the dsirSql discipline) so
    * the cross-source total is integer-exact, then the weight and
    * effective-epoch divisions on identical operands.
    */
  private def temperatureMixSql: String =
    """WITH pd AS (SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1),
      |q AS (SELECT source, n_docs, n_tokens,
      |    CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000.0, 0)
      |      AS BIGINT) AS q_sqrt
      |  FROM pd),
      |t AS (SELECT CAST(SUM(q_sqrt) AS BIGINT) AS q_total FROM q)
      |SELECT source, n_docs, n_tokens,
      |  CAST(q_sqrt AS DOUBLE) / CAST(q_total AS DOUBLE) AS weight,
      |  100000.0 * (CAST(q_sqrt AS DOUBLE) / CAST(q_total AS DOUBLE))
      |    / CAST(n_tokens AS DOUBLE) AS epochs
      |FROM q, t""".stripMargin

  /** Mirror of TextAnalysis.sourceLengthProfile: per-source rank
    * selection at ⌈q·n⌉ (integer div), min/max/count. The oracle may
    * use the per-source window the engine refuses — single-node
    * DuckDB has no straggler to avoid.
    */
  private def sourceLengthProfileSql: String =
    """WITH b AS (SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |r AS (SELECT source, n_tok,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY n_tok, doc_id) AS rnk,
      |        COUNT(*) OVER (PARTITION BY source) AS n
      |      FROM b),
      |agg AS (SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
      |          MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok
      |        FROM r GROUP BY 1),
      |p50 AS (SELECT source, n_tok AS p50_tok FROM r
      |        WHERE rnk = (n + 1) // 2),
      |p90 AS (SELECT source, n_tok AS p90_tok FROM r
      |        WHERE rnk = (n * 9 + 9) // 10)
      |SELECT source, n_docs, min_tok, p50_tok, p90_tok, max_tok
      |FROM agg JOIN p50 USING (source) JOIN p90 USING (source)""".stripMargin

  /** Mirror of TextAnalysis.dsirWeights: hashed-unigram importance
    * weights, target = lang 'en'. Same md5 nibble bucketing as
    * hashedFeaturesSql; the per-bucket log-ratio is quantized to a
    * scaled BIGINT before the per-doc sum, so the weights are pure
    * integer arithmetic in both engines.
    */
  private def dsirSql: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_target,
       |               UNNEST(string_split(text, ' ')) AS tok
       |             FROM documents),
       |th AS (SELECT doc_id, is_target, md5(tok) AS h FROM tok),
       |tb AS (SELECT doc_id, is_target,
       |         ((CASE substr(h, 1, 1) $nibble END) * 16
       |          + (CASE substr(h, 2, 1) $nibble END)) % 64 AS bucket
       |       FROM th),
       |st AS (SELECT bucket, COUNT(*) AS n_raw,
       |         COUNT(CASE WHEN is_target THEN 1 END) AS n_tgt
       |       FROM tb GROUP BY 1),
       |t AS (SELECT CAST(SUM(n_raw) AS BIGINT) AS t_raw,
       |        CAST(SUM(n_tgt) AS BIGINT) AS t_tgt,
       |        COUNT(*) AS k FROM st),
       |lr AS (SELECT bucket,
       |         CAST(ROUND(LN((CAST(n_tgt + 1 AS DOUBLE) / (t_tgt + k))
       |             / (CAST(n_raw + 1 AS DOUBLE) / (t_raw + k)))
       |           * 1000000.0, 0) AS BIGINT) AS lri
       |       FROM st, t),
       |pd AS (SELECT doc_id, bucket, COUNT(*) AS c
       |       FROM tb GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  CAST(CAST(SUM(c * lri) AS BIGINT) AS DOUBLE) / 1000000.0
       |    AS log_weight,
       |  CAST(SUM(c * lri) AS BIGINT) > 0 AS target_like
       |FROM pd JOIN lr USING (bucket)
       |GROUP BY 1""".stripMargin
  }

  /** Mirror of TextAnalysis.dsirSelect: per-source floor (top-10 by
    * weight desc, doc_id tiebreak) then global fill to budget 300.
    * The oracle may use the windows the engine refuses — single-node
    * DuckDB has no straggler to avoid. Weight doubles are the exact
    * scaled-BIGINT sums dsirSql already pins, so ordering agrees
    * bit-for-bit.
    */
  private def dsirSelectSql: String =
    s"""WITH w AS (SELECT doc_id, log_weight FROM ($dsirSql)),
       |j AS (SELECT w.doc_id, d.source, w.log_weight
       |      FROM w JOIN documents d USING (doc_id)),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
       |        ORDER BY log_weight DESC, doc_id) AS rnk FROM j),
       |fl AS (SELECT doc_id, source, log_weight FROM r WHERE rnk <= 10),
       |nf AS (SELECT COUNT(*) AS n_floor FROM fl),
       |rest AS (SELECT doc_id, source, log_weight,
       |           ROW_NUMBER() OVER (ORDER BY log_weight DESC, doc_id)
       |             AS grk
       |         FROM r WHERE rnk > 10)
       |SELECT doc_id, source, log_weight, 'floor' AS picked_via FROM fl
       |UNION ALL
       |SELECT doc_id, source, log_weight, 'fill' AS picked_via
       |FROM rest, nf WHERE grk + n_floor <= 300""".stripMargin

  /** Mirror of Dedup.repeatedSubstrings: strided 20-char window
    * hashes, corpus-wide distinct-doc counts, per-doc repeated share.
    */
  private def repeatedSubstringsSql: String =
    """WITH w AS (SELECT doc_id, md5(substr(text, CAST(i AS INTEGER), 20)) AS h
      |           FROM (SELECT doc_id, text,
      |                   UNNEST(generate_series(1, length(text) - 19, 10)) AS i
      |                 FROM documents WHERE length(text) >= 20)),
      |f AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM w GROUP BY 1),
      |pd AS (SELECT doc_id, COUNT(*) AS n_windows,
      |         CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_repeated
      |       FROM w JOIN f USING (h) GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(n_windows, CAST(0 AS BIGINT)) AS n_windows,
      |  COALESCE(n_repeated, CAST(0 AS BIGINT)) AS n_repeated,
      |  CASE WHEN COALESCE(n_windows, CAST(0 AS BIGINT)) > 0
      |       THEN CAST(n_repeated AS DOUBLE) / n_windows END
      |    AS repeated_frac
      |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin

  /** Mirror of Dedup.substringScrub: non-overlapping 10-token blocks,
    * corpus-wide occurrence counts, rebuild from surviving blocks in
    * position order plus the always-kept tail.
    */
  private def substringScrubSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |tt AS (SELECT doc_id, toks, len(toks) AS n,
      |         CAST(FLOOR(len(toks) / 10.0) AS INTEGER) AS nb FROM t),
      |b AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS idx,
      |        array_to_string(toks[(i - 1) * 10 + 1 : i * 10], ' ') AS block
      |      FROM (SELECT doc_id, toks,
      |              UNNEST(generate_series(1, nb)) AS i
      |            FROM tt WHERE nb >= 1)),
      |bh AS (SELECT doc_id, idx, block, md5(block) AS h FROM b),
      |f AS (SELECT h, COUNT(*) AS occ FROM bh GROUP BY 1),
      |bf AS (SELECT doc_id, idx, block, occ FROM bh JOIN f USING (h)),
      |kept AS (SELECT doc_id, string_agg(block, ' ' ORDER BY idx)
      |           AS kept_text
      |         FROM bf WHERE occ < 2 GROUP BY 1),
      |drp AS (SELECT doc_id, COUNT(*) AS n_blocks,
      |          CAST(SUM(CASE WHEN occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_dropped
      |        FROM bf GROUP BY 1),
      |tl AS (SELECT doc_id,
      |         -- array_to_string([]) is NULL in DuckDB, '' in Spark
      |         COALESCE(array_to_string(toks[nb * 10 + 1 : n], ' '), '')
      |           AS tail_text
      |       FROM tt)
      |SELECT tt.doc_id,
      |  -- the engine FILTERS empty segments before joining; mirror
      |  -- that so an all-empty kept side can never leak a leading
      |  -- space (unreachable on space-tokenized text — blocks of 10
      |  -- tokens are >= 9 chars — but symmetric by spelling)
      |  CASE WHEN kept_text IS NOT NULL AND kept_text <> ''
      |              AND tail_text <> ''
      |         THEN kept_text || ' ' || tail_text
      |       WHEN kept_text IS NOT NULL AND kept_text <> ''
      |         THEN kept_text
      |       ELSE tail_text END AS clean_text,
      |  COALESCE(n_blocks, CAST(0 AS BIGINT)) AS n_blocks,
      |  COALESCE(n_dropped, CAST(0 AS BIGINT)) AS n_dropped
      |FROM tt LEFT JOIN kept USING (doc_id)
      |  LEFT JOIN drp USING (doc_id) LEFT JOIN tl USING (doc_id)""".stripMargin

  /** Mirror of Dedup.decontaminateScrub: eval = doc_id % 20 = 1,
    * 10-token blocks over the train docs, a block drops when any of
    * its 5-grams is in the eval gram set, rebuild = kept blocks in
    * order + tail. Rebuild spelling shared with substringScrubSql.
    */
  private def decontaminateScrubSql: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT DISTINCT UNNEST(CASE WHEN len(string_split(text, ' ')) >= 5
      |      THEN list_transform(
      |        generate_series(1, len(string_split(text, ' ')) - 4),
      |        i -> array_to_string(string_split(text, ' ')[i : i + 4], ' '))
      |      ELSE [] END) AS sh
      |  FROM documents WHERE doc_id % 20 = 1),
      |t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |      FROM documents WHERE doc_id % 20 <> 1),
      |tt AS (SELECT doc_id, toks, len(toks) AS n,
      |         CAST(FLOOR(len(toks) / 10.0) AS INTEGER) AS nb FROM t),
      |b AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS idx,
      |        toks[(i - 1) * 10 + 1 : i * 10] AS btoks
      |      FROM (SELECT doc_id, toks,
      |              UNNEST(generate_series(1, nb)) AS i
      |            FROM tt WHERE nb >= 1)),
      |bg AS (SELECT doc_id, idx,
      |         UNNEST(list_distinct(list_transform(generate_series(1, 6),
      |           i -> array_to_string(btoks[i : i + 4], ' ')))) AS sh
      |       FROM b),
      |hit AS (SELECT DISTINCT doc_id, idx FROM bg JOIN ev USING (sh)),
      |bf AS (SELECT b.doc_id, b.idx,
      |         array_to_string(btoks, ' ') AS block,
      |         hit.doc_id IS NOT NULL AS bad
      |       FROM b LEFT JOIN hit
      |         ON b.doc_id = hit.doc_id AND b.idx = hit.idx),
      |kept AS (SELECT doc_id, string_agg(block, ' ' ORDER BY idx)
      |           AS kept_text
      |         FROM bf WHERE NOT bad GROUP BY 1),
      |drp AS (SELECT doc_id, COUNT(*) AS n_blocks,
      |          CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
      |            AS n_dropped
      |        FROM bf GROUP BY 1),
      |tl AS (SELECT doc_id,
      |         COALESCE(array_to_string(toks[nb * 10 + 1 : n], ' '), '')
      |           AS tail_text
      |       FROM tt)
      |SELECT tt.doc_id,
      |  CASE WHEN kept_text IS NOT NULL AND kept_text <> ''
      |              AND tail_text <> ''
      |         THEN kept_text || ' ' || tail_text
      |       WHEN kept_text IS NOT NULL AND kept_text <> ''
      |         THEN kept_text
      |       ELSE tail_text END AS clean_text,
      |  COALESCE(n_blocks, CAST(0 AS BIGINT)) AS n_blocks,
      |  COALESCE(n_dropped, CAST(0 AS BIGINT)) AS n_dropped
      |FROM tt LEFT JOIN kept USING (doc_id)
      |  LEFT JOIN drp USING (doc_id) LEFT JOIN tl USING (doc_id)""".stripMargin

  /** Shared winnowing CTE chain (k=8, w=10): position hashes, window
    * min, full-windows-only distinct fingerprint set as `f` — the
    * single source both winnow oracles build on (a constant drifting
    * in one copy would silently unpin the other).
    */
  private val winnowCte: String =
    """WITH p AS (SELECT doc_id, length(text) - 7 AS npos, text
      |           FROM documents WHERE length(text) - 7 >= 10),
      |h AS (SELECT doc_id, npos, i, md5(substr(text, CAST(i AS INTEGER), 8)) AS h
      |      FROM (SELECT doc_id, npos, text,
      |              UNNEST(generate_series(1, npos)) AS i FROM p)),
      |w AS (SELECT doc_id, npos, i,
      |        MIN(h) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS fp
      |      FROM h),
      |f AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM w
      |                   WHERE i <= npos - 9)""".stripMargin

  /** Mirror of TextAnalysis.winnowFingerprints (k=8, w=10): md5 of
    * every 8-char window, min over each run of 10 consecutive
    * position hashes (full windows only), distinct selected hashes.
    */
  private def winnowSql: String =
    s"""$winnowCte
       |SELECT doc_id, fp FROM f""".stripMargin

  /** Mirror of TextAnalysis.winnowOverlap (k=8, w=10, minShared=2,
    * maxDocFreq=100): winnow fingerprint sets, drop fingerprints in
    * >100 docs, pair docs sharing >= 2 survivors.
    */
  private def winnowOverlapSql: String =
    s"""$winnowCte,
       |rare AS (SELECT fp FROM f GROUP BY 1 HAVING COUNT(*) <= 100),
       |pr AS (SELECT doc_id, fp FROM f JOIN rare USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS n_shared
       |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin

  /** Mirror of TextAnalysis.evalContamination: winnowOverlapSql's
    * pairs, both endpoints tagged with the salted-hash split, eval
    * docs (split ≠ train) aggregated over their train partners.
    * CAST(SUM...) keeps DuckDB off HUGEINT.
    */
  private def evalContaminationSql: String = {
    def splitCase(c: String) =
      s"""CASE WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2)
         |       < 'cc' THEN 'train'
         |     WHEN substr(md5('split:' || CAST($c AS VARCHAR)), 1, 2)
         |       < 'e6' THEN 'val'
         |     ELSE 'test' END""".stripMargin
    s"""WITH p AS (SELECT doc_a, doc_b, n_shared
       |           FROM ($winnowOverlapSql)),
       |ps AS (SELECT doc_a, doc_b, n_shared,
       |         ${splitCase("doc_a")} AS split_a,
       |         ${splitCase("doc_b")} AS split_b
       |       FROM p),
       |e AS (SELECT doc_a AS doc_id, split_a AS split, n_shared
       |      FROM ps WHERE split_a <> 'train' AND split_b = 'train'
       |      UNION ALL
       |      SELECT doc_b AS doc_id, split_b AS split, n_shared
       |      FROM ps WHERE split_b <> 'train' AND split_a = 'train')
       |SELECT doc_id, split, COUNT(*) AS n_train_partners,
       |       CAST(SUM(n_shared) AS BIGINT) AS total_shared
       |FROM e GROUP BY 1, 2""".stripMargin
  }

  /** Mirror of Similarity.annRecallCurve: the IVF tuning curve —
    * recall@3 of the probe chain at nprobe ∈ {1,2,4,8} against the
    * brute-force ground truth, micro-averaged over the 8-query
    * panel. One brute CTE is shared; each nprobe point gets its own
    * prefixed probe chain (ivfCosCtes is nprobe-parameterized).
    */
  private def annRecallCurveSql: String = {
    val probes = Seq(1, 2, 4, 8)
    val chains = probes.map { np =>
      s"""${ivfCosCtes(s"p$np", "vec_id < 8", np)},
         |ax$np AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |            ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM p${np}s) WHERE rn <= 3)""".stripMargin
    }.mkString(",\n")
    val legs = probes.map { np =>
      s"""SELECT $np AS nprobe,
         |       COUNT(ax$np.neighbor_id) AS n_hits,
         |       COUNT(*) AS n_truth,
         |       CAST(COUNT(ax$np.neighbor_id) AS DOUBLE) /
         |         CAST(COUNT(*) AS DOUBLE) AS recall
         |FROM bf LEFT JOIN ax$np
         |  ON ax$np.query_id = bf.query_id
         | AND ax$np.neighbor_id = bf.neighbor_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH bd AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |bq AS (SELECT vec_id AS query_id, v AS qv FROM bd
       |       WHERE vec_id < 8),
       |bs AS (SELECT query_id, bd.vec_id AS neighbor_id,
       |        ${cos("qv", "bd.v")} AS cos
       |      FROM bq, bd WHERE bd.vec_id <> query_id),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM bs)
       |  WHERE rn <= 3),
       |$chains
       |$legs""".stripMargin
  }

  /** Mirror of Similarity.annRecallLadder: one micro-averaged
    * recall@3 row per shipped ANN index variant against ONE
    * brute-force ground truth. Each rung reuses that method's
    * existing full oracle statement verbatim as a derived-table
    * subquery (DuckDB scopes each nested WITH independently), so the
    * ladder cannot drift from the per-method mirrors — a probe-chain
    * change lands in both or neither. DISTINCT on the approximate leg
    * mirrors the Spark side's dropDuplicates robustness guard.
    */
  private def annRecallLadderSql: String = {
    val methods = Seq(
      "ivf" -> annIvfSql,
      "lsh" -> annLshSql,
      "ivfpq" -> annIvfPqSql,
      "ivfpq_rerank" -> annIvfPqRerankSql,
      "ivfpq_residual" -> annIvfPqResidualSql,
      "residual_rerank" -> annResidualRerankSql,
      "rp_rerank" -> annRpRerankSql,
      "trained_rerank" -> annTrainedRerankSql)
    val legs = methods.map { case (name, sql) =>
      s"""SELECT '$name' AS method, query_id, neighbor_id FROM (
         |$sql
         |)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH bf AS (SELECT query_id, neighbor_id FROM (
       |$annTopkSql
       |)),
       |ax AS (SELECT DISTINCT method, query_id, neighbor_id FROM (
       |$legs
       |)),
       |m AS (SELECT * FROM (VALUES ${
            methods.map(m => s"('${m._1}')").mkString(", ")
          }) t(method)),
       |tm AS (SELECT m.method, bf.query_id, bf.neighbor_id
       |       FROM bf CROSS JOIN m)
       |SELECT tm.method,
       |       COUNT(ax.neighbor_id) AS n_hits,
       |       COUNT(*) AS n_truth,
       |       CAST(COUNT(ax.neighbor_id) AS DOUBLE) /
       |         CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM tm LEFT JOIN ax
       |  ON ax.method = tm.method
       | AND ax.query_id = tm.query_id
       | AND ax.neighbor_id = tm.neighbor_id
       |GROUP BY tm.method""".stripMargin
  }

  /** Mirror of q_image_neardup — the image leg of the dedup family.
    * The Spark side builds REAL 9×8 PNGs from the embeddings table's
    * ids (Multimodal.imagesFromIds: cell grays from the cellGray
    * integer formula, plus a one-cell-perturbed copy per 4th id),
    * round-trips them through ImageIO encode→decode, dHashes the
    * decoded luminance grid (bit y*8+x ⟺ cell(y,x+1) > cell(y,x)),
    * and pairs hashes by composite-band LSH (28 two-block 16-bit
    * keys) + exact hamming ≤ 6. PNG is lossless and the image is
    * exactly grid-sized, so the DECODED grid equals the FORMULA grid
    * — this SQL replays the formula, the 64 gradient bits, the
    * composite band keys, the first-clean-band candidate dedup, and
    * the hamming verify, making the whole
    * codec round-trip oracle-checked: a corrupted byte anywhere in
    * encode/decode changes a hash and fails the gate. The 64-bit
    * hash is never packed into one SQL BIGINT (bit 63 would need
    * two's-complement gymnastics); blocks stay separate — Spark's
    * bit_count(xor(hash)) equals the Σ of per-block bit_counts.
    */
  private def imageNearDupSql: String = {
    val pivotCols = (0 until 8).map(b =>
      s"MAX(CASE WHEN block = $b THEN bkey END) AS b$b").mkString(", ")
    // composite 2-block bands, lexicographic (i, j) order — mirrors
    // Multimodal.bandSets(2) exactly (28 bands of 16-bit keys)
    val pairs = for { i <- 0 until 8; j <- (i + 1) until 8 } yield (i, j)
    val bandSel = pairs.zipWithIndex.map { case ((i, j), b) =>
      s"SELECT id, $b AS band, b$i * 256 + b$j AS key FROM pv" }
      .mkString("\n  UNION ALL\n  ")
    val firstShared = pairs.zipWithIndex.init.map { case ((i, j), b) =>
      s"WHEN pa.b$i = pb.b$i AND pa.b$j = pb.b$j THEN $b" }.mkString(" ")
    val hamming = (0 until 8).map(b =>
      s"bit_count(xor(pa.b$b, pb.b$b))").mkString(" + ")
    s"""WITH ids AS (
       |  SELECT vec_id AS id, vec_id AS base, FALSE AS pert
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000000, vec_id, TRUE FROM embeddings
       |  WHERE vec_id % 4 = 0),
       |cells AS (
       |  SELECT id, base, pert,
       |         UNNEST(generate_series(0, 71)) AS i
       |  FROM ids),
       |hx AS (
       |  SELECT id, i,
       |    (strpos('0123456789abcdef',
       |       substr(md5(base || ':' || i), 1, 1)) - 1) * 16 +
       |    (strpos('0123456789abcdef',
       |       substr(md5(base || ':' || i), 2, 1)) - 1) AS graw,
       |    pert AND i = base % 72 AS hit
       |  FROM cells),
       |cg AS (
       |  SELECT id, i,
       |    CASE WHEN hit THEN (graw + 96) % 256 ELSE graw END AS g
       |  FROM hx),
       |bits AS (
       |  SELECT c1.id, (c1.i // 9) * 8 + (c1.i % 9) AS k,
       |    CASE WHEN c2.g > c1.g THEN 1 ELSE 0 END AS bit
       |  FROM cg c1 JOIN cg c2 ON c2.id = c1.id AND c2.i = c1.i + 1
       |  WHERE c1.i % 9 < 8),
       |blk AS (
       |  SELECT id, CAST(k // 8 AS INTEGER) AS block,
       |    CAST(SUM(bit * (1 << CAST(k % 8 AS INTEGER))) AS BIGINT) AS bkey
       |  FROM bits GROUP BY id, k // 8),
       |pv AS (SELECT id, $pivotCols FROM blk GROUP BY id),
       |bands AS (
       |  $bandSel),
       |pr AS (
       |  SELECT a.id AS img_a, b.id AS img_b, a.band AS bnd
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |fs AS (
       |  SELECT pr.img_a, pr.img_b,
       |    CAST($hamming AS INTEGER) AS hamming
       |  FROM pr
       |  JOIN pv pa ON pa.id = pr.img_a
       |  JOIN pv pb ON pb.id = pr.img_b
       |  WHERE pr.bnd = (CASE $firstShared ELSE ${pairs.size - 1} END))
       |SELECT img_a, img_b, hamming FROM fs WHERE hamming <= 6""".stripMargin
  }

  /** The clustered corpus as a `d` CTE — mirror of
    * Similarity.clusteredCopies (16 centers = the first 16 corpus
    * vectors, 40 md5-nibble-perturbed copies each, copy `c` of
    * center `i` at vec_id i + 16c). The noise replays embNearDupSql's
    * pertTerms shape with the clu:c:a|b digest keys, so every
    * coordinate is the identical correctly-rounded double in both
    * engines.
    */
  private def clusteredCorpusCte: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    val pertTerms = (1 to 64).map { j =>
      val dg = if (j <= 32) "da" else "db"
      val pos = (j - 1) % 32 + 1
      s"v[$j] + ((CASE substr($dg, $pos, 1) $nibble END) - 7.5) / 128.0"
    }.mkString(",\n  ")
    s"""d AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id < 16
       |  UNION ALL
       |  SELECT vid + 16 * c AS vec_id, [
       |  $pertTerms] AS v
       |  FROM (SELECT e.vec_id AS vid,
       |          list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
       |          g.c AS c,
       |          md5('clu:' || g.c || ':a:' || CAST(e.vec_id AS VARCHAR)) AS da,
       |          md5('clu:' || g.c || ':b:' || CAST(e.vec_id AS VARCHAR)) AS db
       |        FROM embeddings e, generate_series(1, 40) g(c)
       |        WHERE e.vec_id < 16))""".stripMargin
  }

  /** Mirror of q_ann_recall_clustered — the PQ rungs graded on the
    * clustered regime (r15 verdict Next #4): the SAME candidate-chain
    * SQL the gate oracles use (ivfPqCandidateBody /
    * annIvfPqResidualBody / pqRerankTail, qpred-parameterized), run
    * over the clusteredCorpusCte with the copy-panel queries
    * (vec_id 320..327 = the c=20 copies of centers 0..7). Each leg is
    * an inner WITH referencing the outer MATERIALIZED `d`; the
    * roll-up is the ladder's truth-join recall aggregate.
    */
  private def annRecallClusteredSql: String = {
    val cq = "vec_id >= 320 AND vec_id < 328"
    val top3 =
      """SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |            ORDER BY adist, neighbor_id) AS rn FROM s)
        |WHERE rn <= 3""".stripMargin
    val methods = Seq(
      "ivfpq" ->
        s"""WITH $ivfPqDefaultBook,
           |${ivfPqCandidateBody(cq)}
           |$top3""".stripMargin,
      "ivfpq_residual" ->
        s"""WITH ${annIvfPqResidualBody(cq)}
           |$top3""".stripMargin,
      "residual_rerank" ->
        s"""WITH ${annIvfPqResidualBody(cq)},
           |${pqRerankTail(40, cq)}""".stripMargin)
    val legs = methods.map { case (name, sql) =>
      s"""SELECT '$name' AS method, query_id, neighbor_id FROM (
         |$sql
         |)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $clusteredCorpusCte,
       |bq AS (SELECT vec_id AS query_id, v AS qv FROM d WHERE $cq),
       |bs AS (SELECT query_id, d.vec_id AS neighbor_id,
       |        ${cos("qv", "d.v")} AS cos
       |      FROM bq, d WHERE d.vec_id <> query_id),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos DESC, neighbor_id) AS rn FROM bs)
       |  WHERE rn <= 3),
       |ax AS (SELECT DISTINCT method, query_id, neighbor_id FROM (
       |$legs
       |)),
       |m AS (SELECT * FROM (VALUES ${
            methods.map(m => s"('${m._1}')").mkString(", ")
          }) t(method)),
       |tm AS (SELECT m.method, bf.query_id, bf.neighbor_id
       |       FROM bf CROSS JOIN m)
       |SELECT tm.method,
       |       COUNT(ax.neighbor_id) AS n_hits,
       |       COUNT(*) AS n_truth,
       |       CAST(COUNT(ax.neighbor_id) AS DOUBLE) /
       |         CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM tm LEFT JOIN ax
       |  ON ax.method = tm.method
       | AND ax.query_id = tm.query_id
       | AND ax.neighbor_id = tm.neighbor_id
       |GROUP BY tm.method""".stripMargin
  }

  /** Mirror of q_audio_neardup — the audio leg of the dedup family.
    * The Spark side builds REAL RIFF/WAVs from the embeddings table's
    * ids (Multimodal.wavsFromIds: 16 square-wave energy windows at
    * power-of-two amplitudes 2^(10 + md5-byte mod 5), plus a
    * half-gain copy per 4th id), decodes them through javax.sound,
    * computes the 16-window RMS envelope, centers it, and pairs by
    * sign-band LSH (2 bands × 8 bits) + exact cosine > 0.98
    * (Multimodal.audioNearDup ∘ Similarity.nearDupPairs). Because
    * every amplitude is a power of two, the whole decode → square →
    * window-mean → sqrt → center chain stays EXACT dyadic rationals
    * (see wavsFromIds' scaladoc for the argument), so this SQL
    * replays the envelope from the md5 formula, the band keys, and
    * the 16-term cosine chain bit-for-bit — a corrupted byte anywhere
    * in the WAV encode/decode changes an envelope value and fails the
    * gate. Envelope values are emitted as exact CASE literals
    * (2^-6..2^-1), not POWER() calls.
    */
  private def audioNearDupSql: String = {
    // first md5 byte of "base:w" (the same two-nibble strpos trick the
    // image oracle uses), mod 5 → amplitude exponent class 0..4
    def gexp(d: String) =
      s"((strpos('0123456789abcdef', substr($d, 1, 1)) - 1) * 16 + " +
        s"(strpos('0123456789abcdef', substr($d, 2, 1)) - 1)) % 5"
    // envelope value 2^(e-15) with e = 10 + class (base) or 9 + class
    // (half-gain copy) — exact dyadic literals
    val evCase = (0 to 5).map { k =>
      val v = java.lang.Double.toString(math.pow(2.0, k - 6))
      s"WHEN $k THEN $v" }.mkString(" ")
    def bandSel(b: Int): String = {
      val key = (0 until 8).map(r =>
        s"CASE WHEN v[${b * 8 + r + 1}] > 0 THEN ${1L << r} ELSE 0 END")
        .mkString(" + ")
      s"SELECT id, $b AS band, CAST($key AS BIGINT) AS bkey FROM pv"
    }
    val cosChain = {
      def dot16(a: String, b: String) =
        (1 to 16).map(i => s"$a[$i] * $b[$i]").mkString(" + ")
      s"(${dot16("pa.v", "pb.v")}) / " +
        s"(SQRT(${dot16("pa.v", "pa.v")}) * SQRT(${dot16("pb.v", "pb.v")}))"
    }
    s"""WITH ids AS (
       |  SELECT vec_id AS id, vec_id AS base, FALSE AS half
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000000, vec_id, TRUE FROM embeddings
       |  WHERE vec_id % 4 = 0),
       |wn AS (SELECT id, base, half,
       |         UNNEST(generate_series(0, 15)) AS w
       |       FROM ids),
       |ge AS (SELECT id, w,
       |    ${gexp("md5(base || ':' || w)")} +
       |      (CASE WHEN half THEN 0 ELSE 1 END) AS ek
       |  FROM wn),
       |env AS (SELECT id, w, CASE ek $evCase END AS ev FROM ge),
       |cent AS (SELECT id, w,
       |    ev - SUM(ev) OVER (PARTITION BY id) / 16.0 AS c
       |  FROM env),
       |pv AS (SELECT id, list(c ORDER BY w) AS v FROM cent GROUP BY id),
       |bd AS (
       |  ${bandSel(0)}
       |  UNION ALL
       |  ${bandSel(1)}),
       |cand AS (
       |  SELECT DISTINCT a.id AS vec_a, b.id AS vec_b
       |  FROM bd a JOIN bd b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
       |SELECT vec_a, vec_b, cos FROM (
       |  SELECT vec_a, vec_b, $cosChain AS cos
       |  FROM cand JOIN pv pa ON vec_a = pa.id
       |            JOIN pv pb ON vec_b = pb.id)
       |WHERE cos > 0.98""".stripMargin
  }

  /** Mirror of q_video_neardup — the video leg of the dedup family.
    * The Spark side builds REAL RIFF/AVIs from the embeddings table's
    * ids (Multimodal.videosFromIds: 3 lossless PNG frames per video,
    * cell grays from the frameCellGray md5 formula, plus a copy per
    * 4th id with ONE cell of frame base%3 shifted), walks the
    * container, decodes every frame through ImageIO, dHashes each
    * frame with the image kernel, pairs frames by the composite
    * 3-BLOCK band LSH + exact hamming ≤ 5, and rolls up per video pair with
    * n_shared = COUNT(DISTINCT lower-id side's frame). PNG
    * losslessness makes each decoded frame grid equal the formula
    * grid, so this SQL replays the per-frame hashes (the image
    * oracle's block arithmetic with a frame dimension), the banded
    * frame pairs (DISTINCT replaces the row-local first-clean-band
    * rule — same pair set), and the distinct-frames roll-up exactly.
    */
  private def videoNearDupSql: String = {
    val frames = 3
    val pivotCols = (0 until 8).map(b =>
      s"MAX(CASE WHEN block = $b THEN bkey END) AS b$b").mkString(", ")
    // 3-block lexicographic combinations mirror Multimodal.bandSets(3)
    // (56 bands of 24-bit keys): the at-scale frame banding, full
    // recall to hamming <= 5 by pigeonhole, ~2^8 fewer band
    // collisions than the 2-block image banding (SCALE_r16 measured
    // 2-block at 22x wall for 10x videos)
    val triples = (0 until 8).combinations(3).map(_.toSeq).toIndexedSeq
    val bandSel = triples.zipWithIndex.map { case (Seq(i, j, k), b) =>
      s"SELECT id, f, $b AS band, (b$i * 256 + b$j) * 256 + b$k AS key FROM pv" }
      .mkString("\n  UNION ALL\n  ")
    val hamming = (0 until 8).map(b =>
      s"bit_count(xor(pa.b$b, pb.b$b))").mkString(" + ")
    s"""WITH ids AS (
       |  SELECT vec_id AS id, vec_id AS base, FALSE AS pert
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000000, vec_id, TRUE FROM embeddings
       |  WHERE vec_id % 4 = 0),
       |fr AS (SELECT id, base, pert,
       |         UNNEST(generate_series(0, ${frames - 1})) AS f
       |       FROM ids),
       |cells AS (
       |  SELECT id, base, pert, f,
       |         UNNEST(generate_series(0, 71)) AS i
       |  FROM fr),
       |hx AS (
       |  SELECT id, f, i,
       |    (strpos('0123456789abcdef',
       |       substr(md5(base || ':' || f || ':' || i), 1, 1)) - 1) * 16 +
       |    (strpos('0123456789abcdef',
       |       substr(md5(base || ':' || f || ':' || i), 2, 1)) - 1) AS graw,
       |    pert AND f = base % $frames AND i = base % 72 AS hit
       |  FROM cells),
       |cg AS MATERIALIZED (
       |  SELECT id, f, i,
       |    CASE WHEN hit THEN (graw + 96) % 256 ELSE graw END AS g
       |  FROM hx),
       |bits AS (
       |  SELECT c1.id, c1.f, (c1.i // 9) * 8 + (c1.i % 9) AS k,
       |    CASE WHEN c2.g > c1.g THEN 1 ELSE 0 END AS bit
       |  FROM cg c1 JOIN cg c2
       |    ON c2.id = c1.id AND c2.f = c1.f AND c2.i = c1.i + 1
       |  WHERE c1.i % 9 < 8),
       |blk AS (
       |  SELECT id, f, CAST(k // 8 AS INTEGER) AS block,
       |    CAST(SUM(bit * (1 << CAST(k % 8 AS INTEGER))) AS BIGINT) AS bkey
       |  FROM bits GROUP BY id, f, k // 8),
       |pv AS MATERIALIZED (SELECT id, f, $pivotCols FROM blk GROUP BY id, f),
       |bands AS (
       |  $bandSel),
       |pr AS (
       |  SELECT DISTINCT a.id AS vid_a, a.f AS fa, b.id AS vid_b, b.f AS fb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
       |fs AS (
       |  SELECT pr.vid_a, pr.fa, pr.vid_b,
       |    CAST($hamming AS INTEGER) AS hamming
       |  FROM pr
       |  JOIN pv pa ON pa.id = pr.vid_a AND pa.f = pr.fa
       |  JOIN pv pb ON pb.id = pr.vid_b AND pb.f = pr.fb)
       |SELECT vid_a, vid_b, COUNT(DISTINCT fa) AS n_shared,
       |       MIN(hamming) AS min_hamming
       |FROM fs WHERE hamming <= 5
       |GROUP BY vid_a, vid_b
       |HAVING COUNT(DISTINCT fa) >= 2""".stripMargin
  }

  /** Mirror of Dedup.sourceMinhashSim (n=3, numHashes=8): one
    * 8-slot MinHash signature per source over the source's gram
    * multiset, pairwise slot-match Jaccard estimate.
    */
  private def sourceMinhashSimSql: String = {
    val hashes = (0 until 8).map(j =>
      s"MIN(md5('$j:' || sh)) AS h$j").mkString(", ")
    val matches = (0 until 8).map(j =>
      s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks
       |           FROM documents),
       |g AS (SELECT source, UNNEST(CASE WHEN len(toks) >= 3 THEN
       |          list_transform(generate_series(1, len(toks) - 2),
       |            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
       |        ELSE [] END) AS sh
       |      FROM t),
       |s AS (SELECT source, $hashes FROM g GROUP BY 1)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  CAST($matches AS BIGINT) AS n_match,
       |  CAST($matches AS DOUBLE) / 8.0 AS est_jaccard
       |FROM s a JOIN s b ON a.source < b.source""".stripMargin
  }

  /** Mirror of Similarity.embDimProfile: per-dimension range, exact
    * scaled-BIGINT mean, and exact-zero count.
    */
  private def embDimProfileSql: String =
    """WITH e AS (SELECT vec_id,
      |    UNNEST(embedding) AS x,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim
      |  FROM embeddings),
      |q AS (SELECT dim, CAST(x AS DOUBLE) AS x,
      |        CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0) AS BIGINT) AS q
      |      FROM e)
      |SELECT dim, COUNT(*) AS n,
      |  MIN(x) AS min_v, MAX(x) AS max_v,
      |  CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_v,
      |  CAST(SUM(CASE WHEN x = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      |FROM q GROUP BY 1""".stripMargin

  /** Mirror of TextAnalysis.topNgramsBySource (n=2, k=5): every
    * bigram occurrence (not per-doc distinct), per-source counts,
    * top 5 by (count desc, gram asc).
    */
  private def topNgramsSql: String =
    """WITH t AS (SELECT source, string_split(text, ' ') AS toks
      |           FROM documents),
      |g AS (SELECT source, UNNEST(CASE WHEN len(toks) >= 2 THEN
      |          list_transform(generate_series(1, len(toks) - 1),
      |            i -> toks[i] || ' ' || toks[i + 1])
      |        ELSE [] END) AS gram
      |      FROM t),
      |c AS (SELECT source, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
      |r AS (SELECT source, gram, cnt,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY cnt DESC, gram) AS rank
      |      FROM c)
      |SELECT source, gram, cnt, rank FROM r WHERE rank <= 5""".stripMargin

  /** Mirror of TextAnalysis.bpeTrain (rounds=3): word-frequency
    * vocabulary, then 3 unrolled rounds of (pair count → argmax →
    * greedy merge). The greedy merge uses the SAME run-parity closed
    * form as the engine (a position merges iff it matches the pair
    * and — when lft=rgt, the only overlapping case — its run
    * position is odd). Every stage is MATERIALIZED (the k-center
    * lesson: DuckDB inlines CTEs and a 3-round chain re-expands
    * multiplicatively).
    */
  private def bpeSql: String =
    s"""$bpePrefix
       |SELECT 1 AS round, lft, rgt, cnt FROM b1
       |UNION ALL SELECT 2, lft, rgt, cnt FROM b2
       |UNION ALL SELECT 3, lft, rgt, cnt FROM b3""".stripMargin

  /** One BPE stage r: s{r-1} -> pair counts p{r}, argmax b{r},
    * merged s{r} (run-parity greedy closed form).
    */
  private def bpeStage(r: Int): String = {
      val in = s"s${r - 1}"
      s"""p$r AS (SELECT tok AS lft, nxt AS rgt,
         |          CAST(SUM(wcnt) AS BIGINT) AS cnt
         |        FROM (SELECT wcnt, tok,
         |                LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |              FROM $in)
         |        WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT lft, rgt, cnt FROM p$r
         |                     ORDER BY cnt DESC, lft, rgt LIMIT 1),
         |x$r AS (SELECT s.word, s.wcnt, s.pos, s.tok, b.lft, b.rgt,
         |          s.pos - COALESCE(MAX(CASE WHEN s.tok <> b.lft THEN s.pos END)
         |            OVER (PARTITION BY s.word ORDER BY s.pos
         |                  ROWS UNBOUNDED PRECEDING), 0) AS runpos,
         |          LEAD(s.tok) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt
         |        FROM $in s LEFT JOIN b$r b ON TRUE),
         |y$r AS (SELECT word, wcnt, pos, tok, lft, rgt,
         |          COALESCE(CASE WHEN lft IS NULL THEN FALSE
         |            WHEN lft = rgt THEN tok = lft AND nxt = lft
         |                                AND runpos % 2 = 1
         |            ELSE tok = lft AND nxt = rgt END, FALSE) AS site
         |        FROM x$r),
         |s$r AS MATERIALIZED (
         |  SELECT word, wcnt,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
         |      AS INTEGER) AS pos,
         |    CASE WHEN site THEN lft || rgt ELSE tok END AS tok
         |  FROM (SELECT word, wcnt, pos, tok, lft, rgt, site,
         |          COALESCE(LAG(site) OVER (PARTITION BY word ORDER BY pos),
         |            FALSE) AS consumed
         |        FROM y$r)
         |  WHERE NOT consumed)""".stripMargin
  }

  /** Shared BPE CTE chain: vocabulary w, char split s0, three merge
    * stages ending in the merged vocab s3 — the single source the
    * train and encode oracles build on.
    */
  private def bpePrefix: String = {
    def stage(r: Int): String = bpeStage(r)
    s"""WITH w AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS wcnt
       |  FROM (SELECT UNNEST(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE length(word) >= 2 GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT word, wcnt, CAST(i AS INTEGER) AS pos,
       |    substr(word, CAST(i AS INTEGER), 1) AS tok
       |  FROM (SELECT word, wcnt,
       |          UNNEST(generate_series(1, length(word))) AS i FROM w)),
       |${stage(1)},
       |${stage(2)},
       |${stage(3)}""".stripMargin
  }

  /** Mirror of TextAnalysis.bpeEncode (rounds=3): per-doc whitespace
    * word count, BPE token count under the merged vocab (sub-2-char
    * words count one token per character), chars, and the int/int
    * compression ratio.
    */
  private def bpeEncodeSql: String =
    s"""$bpePrefix,
       |wt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tok
       |       FROM s3 GROUP BY 1),
       |dw AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
       |       FROM documents),
       |per AS (SELECT doc_id,
       |          CAST(SUM(CASE WHEN length(word) >= 1 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_words,
       |          CAST(SUM(COALESCE(n_tok, length(word))) AS BIGINT)
       |            AS n_bpe_tokens,
       |          CAST(SUM(length(word)) AS BIGINT) AS n_chars
       |        FROM dw LEFT JOIN wt USING (word) GROUP BY 1)
       |SELECT doc_id, n_words, n_bpe_tokens, n_chars,
       |  CASE WHEN n_bpe_tokens > 0
       |       THEN CAST(n_chars AS DOUBLE) / n_bpe_tokens END
       |    AS chars_per_token
       |FROM per""".stripMargin

  /** Mirror of TextAnalysis.maskTokens (pct=15): token i of doc d is
    * [MASK] when the first md5 byte of "d:i:token" lands under 15
    * mod 100.
    */
  private def maskTokensSql: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents),
       |m AS (SELECT doc_id,
       |        list_transform(generate_series(1, len(toks)), i ->
       |          CASE WHEN ((CASE substr(md5(doc_id || ':' || i || ':'
       |                || toks[i]), 1, 1) $nibble END) * 16
       |              + (CASE substr(md5(doc_id || ':' || i || ':'
       |                || toks[i]), 2, 1) $nibble END)) % 100 < 15
       |            THEN '[MASK]' ELSE toks[i] END) AS mtoks,
       |        CAST(len(toks) AS BIGINT) AS n_tokens
       |      FROM t)
       |SELECT doc_id, array_to_string(mtoks, ' ') AS masked_text,
       |  n_tokens,
       |  CAST(len(list_filter(mtoks, t -> t = '[MASK]')) AS BIGINT)
       |    AS n_masked
       |FROM m""".stripMargin
  }

  /** Mirror of Dedup.ngramNovelty: distinct 3-grams per doc,
    * introducer = min doc_id per gram, integer-ratio novelty.
    */
  private def ngramNoveltySql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
      |          list_distinct(list_transform(
      |            generate_series(1, len(toks) - 2),
      |            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
      |        ELSE [] END AS shs
      |      FROM t),
      |e AS (SELECT doc_id, UNNEST(shs) AS sh FROM g),
      |intro AS (SELECT sh, MIN(doc_id) AS intro_id FROM e GROUP BY 1),
      |per AS (SELECT doc_id, COUNT(*) AS n_grams,
      |          CAST(SUM(CASE WHEN doc_id = intro_id THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_novel
      |        FROM e JOIN intro USING (sh) GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(n_grams, CAST(0 AS BIGINT)) AS n_grams,
      |  COALESCE(n_novel, CAST(0 AS BIGINT)) AS n_novel,
      |  CASE WHEN COALESCE(n_grams, CAST(0 AS BIGINT)) > 0
      |       THEN CAST(n_novel AS DOUBLE) / n_grams END AS novelty
      |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin

  /** Mirror of Dedup.decontaminate: distinct 5-gram overlap of every
    * non-eval document against the eval partition (doc_id % 20 = 1).
    */
  private def decontaminateSql: String = {
    val terms = (0 until 5)
      .map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id, doc_id % 20 = 1 AS is_eval,
       |        string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, is_eval,
       |        CASE WHEN len(toks) >= 5 THEN
       |          list_distinct(list_transform(generate_series(1, len(toks) - 4),
       |            i -> $terms))
       |        ELSE [] END AS shs
       |      FROM t),
       |e AS (SELECT doc_id, is_eval, UNNEST(shs) AS sh FROM g),
       |ev AS (SELECT DISTINCT sh FROM e WHERE is_eval),
       |hits AS (SELECT doc_id, COUNT(*) AS n_shared
       |         FROM e JOIN ev USING (sh) WHERE NOT is_eval GROUP BY 1)
       |SELECT t.doc_id,
       |  COALESCE(n_shared, CAST(0 AS BIGINT)) AS n_shared,
       |  COALESCE(n_shared, CAST(0 AS BIGINT)) > 0 AS contaminated
       |FROM t LEFT JOIN hits USING (doc_id)
       |WHERE NOT is_eval""".stripMargin
  }

  /** Mirror of TextAnalysis.clusterAwareSplit: unrolled-fixpoint
    * clusters + the salted-md5 split rule applied to the CLUSTER id
    * (leakage-free by construction).
    */
  private def clusterAwareSplitSql: String =
    s"""WITH cl AS (SELECT * FROM ($simhashClustersSql))
       |SELECT doc_id, cluster_id,
       |  CASE WHEN substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
       |         THEN 'train'
       |       WHEN substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6'
       |         THEN 'val'
       |       ELSE 'test' END AS split
       |FROM cl""".stripMargin

  /** Mirror of Dedup.sourceOverlap: simhash near-dup pairs labeled by
    * each side's source, counted per unordered source pair.
    */
  private def sourceOverlapSql: String =
    s"""WITH p AS (SELECT doc_a, doc_b FROM ($simhashPairsSql)),
       |j AS (SELECT da.source AS src_a, db.source AS src_b
       |      FROM p JOIN documents da ON p.doc_a = da.doc_id
       |             JOIN documents db ON p.doc_b = db.doc_id)
       |SELECT LEAST(src_a, src_b) AS source_a,
       |       GREATEST(src_a, src_b) AS source_b,
       |       COUNT(*) AS n_pairs
       |FROM j GROUP BY 1, 2""".stripMargin

  /** Mirror of TextAnalysis.clusterFamilySummary: ONE unrolled-fixpoint
    * cluster pass (the DuckDB analog of the shared materialized label
    * view) consumed by all three family members, each collapsed to a
    * (member, n_rows, checksum) row.
    */
  private def clusterFamilySql: String =
    s"""WITH cl AS (SELECT * FROM ($simhashClustersSql)),
       |ds AS (SELECT cluster_id,
       |         CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
       |                THEN 'train'
       |              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
       |                THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM cl),
       |lk AS (SELECT cluster_id, COUNT(*) AS n_docs,
       |         COUNT(DISTINCT split) AS n_splits
       |       FROM ds GROUP BY 1 HAVING COUNT(*) >= 2),
       |cs AS (SELECT cluster_id,
       |         CASE WHEN substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 2) < 'cc'
       |                THEN 'train'
       |              WHEN substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 2) < 'e6'
       |                THEN 'val'
       |              ELSE 'test' END AS split
       |       FROM cl)
       |SELECT 'clusters' AS member, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(doc_id * 31 + cluster_id) AS BIGINT) AS checksum FROM cl
       |UNION ALL
       |SELECT 'cluster_split', CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(cluster_id * CASE split WHEN 'train' THEN 1
       |    WHEN 'val' THEN 2 ELSE 3 END) AS BIGINT) FROM cs
       |UNION ALL
       |SELECT 'split_leakage', CAST(COUNT(*) AS BIGINT),
       |  CAST(SUM(n_docs * n_splits) AS BIGINT) FROM lk""".stripMargin

  /** Mirror of TextAnalysis.piiScan over the same deterministically
    * PII-injected corpus as SparkEntry's q_pii_scan (patterns are the
    * Java/RE2-common subset, so counts and redactions agree exactly).
    */
  private def piiScanSql: String = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val phone = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    s"""WITH aug AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
       |         || CAST(doc_id AS VARCHAR) || '@example.com now'
       |       ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-'
       |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
       |       ELSE '' END
       |    || CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.'
       |         || CAST(doc_id % 256 AS VARCHAR) || '.7'
       |       ELSE '' END AS text
       |  FROM documents),
       |c AS (SELECT doc_id, text,
       |    CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
       |    CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
       |    CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips
       |  FROM aug)
       |SELECT doc_id, n_emails, n_phones, n_ips,
       |  CAST(len(regexp_replace(regexp_replace(regexp_replace(text,
       |    '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g'),
       |    '$ip', '<IP>', 'g')) AS BIGINT) AS redacted_len,
       |  n_emails + n_phones + n_ips = 0 AS is_clean
       |FROM c""".stripMargin
  }

  /** Mirror of FeatureEng.qualityClassifier: hashed-bag margin
    * against md5-derived integer bucket weights, exact int64.
    */
  private def qualityClassifierSql: String = {
    val nibble = "0123456789abcdef".zipWithIndex.map { case (c, i) =>
      s"WHEN '$c' THEN $i" }.mkString(" ")
    s"""WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
       |             FROM documents),
       |th AS (SELECT doc_id, md5(tok) AS h FROM tok),
       |tb AS (SELECT doc_id,
       |         ((CASE substr(h, 1, 1) $nibble END) * 16
       |          + (CASE substr(h, 2, 1) $nibble END)) % 64 AS bucket,
       |         CASE WHEN substr(h, 3, 1) >= '8' THEN 1 ELSE -1 END AS sign
       |       FROM th),
       |bw AS (SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS weight
       |       FROM tb GROUP BY 1, 2),
       |ww AS (SELECT doc_id, bucket, weight,
       |         ((CASE substr(md5('qw:' || CAST(bucket AS VARCHAR)), 1, 1) $nibble END) * 16
       |          + (CASE substr(md5('qw:' || CAST(bucket AS VARCHAR)), 2, 1) $nibble END)) % 101 - 50 AS w
       |       FROM bw)
       |SELECT doc_id, CAST(SUM(weight * w) AS BIGINT) AS margin,
       |  SUM(weight * w) >= 0 AS keep
       |FROM ww GROUP BY 1""".stripMargin
  }

  /** Mirror of Web.htmlFromDocs: rebuild each synthetic page
    * bit-for-bit in SQL (chr(10) block separators, 10-word
    * paragraphs with the last absorbing the remainder, nav/sidebar/
    * footer chrome, the four planted sidebar URL classes). The
    * downstream extraction/filter oracles replay the OPERATOR over
    * this rebuilt page, so both the fixture and the rules are pinned
    * end-to-end — a drift in either engine's string/regex semantics
    * fails the gate.
    */
  private val htmlCte: String =
    """w AS (SELECT doc_id, source, text,
      |        string_split(text, ' ') AS words,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |      FROM documents),
      |p AS (SELECT doc_id, source, text, words, n,
      |        CAST(FLOOR(n / 10) AS BIGINT) AS nfull FROM w),
      |h AS (SELECT doc_id, source, text,
      |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
      |  '</title></head><body>' || chr(10) ||
      |  '<nav><a href="https://' || source ||
      |  '.example.com/">Home</a> <a href="https://' || source ||
      |  '.example.com/tags">Tags</a> <a href="https://' || source ||
      |  '.example.com/feed">Feed</a></nav>' || chr(10) ||
      |  array_to_string(list_transform(range(0, nfull), i ->
      |       '<p>' || array_to_string(list_slice(words,
      |         i * 10 + 1,
      |         CASE WHEN i = nfull - 1 THEN n ELSE i * 10 + 10 END),
      |         ' ') || '</p>'), chr(10)) || chr(10) ||
      |  '<div><a href="https://src' ||
      |  CAST((doc_id * 3 + CAST(FLOOR(doc_id / 20) AS BIGINT) + 1) % 20 AS VARCHAR) ||
      |  '.example.com/post/' || CAST(doc_id % 100 AS VARCHAR) ||
      |  '">Related 1</a> <a href="https://src' ||
      |  CAST((doc_id * 3 + CAST(FLOOR(doc_id / 20) AS BIGINT) + 2) % 20 AS VARCHAR) ||
      |  '.example.com/img/' || CAST(doc_id AS VARCHAR) ||
      |  '.jpg">Related 2</a> <a href="https://src' ||
      |  CAST((doc_id * 3 + CAST(FLOOR(doc_id / 20) AS BIGINT) + 3) % 20 AS VARCHAR) ||
      |  '.example.com/post/' || CAST(doc_id AS VARCHAR) ||
      |  '?utm_source=feed">Related 3</a> <a href="https://src' ||
      |  CAST((doc_id * 3 + CAST(FLOOR(doc_id / 20) AS BIGINT) + 4) % 20 AS VARCHAR) ||
      |  '.example.com/a/b/c/d/e/' || CAST(doc_id AS VARCHAR) ||
      |  '">Related 4</a></div>' || chr(10) ||
      |  '<footer>© <a href="https://' || source ||
      |  '.example.com/about">About</a> <a href="https://' || source ||
      |  '.example.com/privacy">Privacy</a> <a href="https://' || source ||
      |  '.example.com/terms">Terms</a></footer>' || chr(10) ||
      |  '</body></html>' AS html
      |FROM p)""".stripMargin

  private val strippedOf: String => String = b =>
    s"trim(regexp_replace($b, '<[^>]*>', '', 'g'))"

  private def htmlExtractSql: String = {
    // array_to_string([]) is NULL in DuckDB (Spark's array_join of an
    // empty array is '') — coalesce so no-anchor blocks score 0
    val anchor = "3 * coalesce(len(array_to_string(regexp_extract_all(b, " +
      "'<a [^>]*>([^<]*)</a>', 1), '')), 0)"
    s"""WITH $htmlCte,
       |e AS (SELECT doc_id, text, string_split(html, chr(10)) AS blocks
       |      FROM h),
       |k AS (SELECT doc_id, text,
       |        CAST(len(blocks) AS INTEGER) AS n_blocks,
       |        list_filter(blocks, b ->
       |          len(${strippedOf("b")}) >= 15 AND
       |          $anchor <= len(${strippedOf("b")})) AS kept
       |      FROM e)
       |SELECT doc_id, n_blocks, CAST(len(kept) AS INTEGER) AS n_kept,
       |  array_to_string(list_transform(kept, b -> ${strippedOf("b")}),
       |    ' ') AS main_text,
       |  array_to_string(list_transform(kept, b -> ${strippedOf("b")}),
       |    ' ') = text AS recovered
       |FROM k""".stripMargin
  }

  /** Shared link-extraction + verdict-ladder CTEs (mirror of
    * Web.extractLinks + Web.urlVerdicts at maxDepth = 4).
    */
  private val urlVerdictCtes: String =
    s"""$htmlCte,
       |u AS (SELECT doc_id, source,
       |        unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS url
       |      FROM h),
       |v AS (SELECT doc_id, source, url,
       |        regexp_extract(url, '^https?://([^/?#]+)', 1) AS domain,
       |        regexp_extract(url, '^https?://[^/?#]+(/[^?#]*)', 1) AS path,
       |        regexp_extract(url, '\\?([^#]*)', 1) AS q
       |      FROM u),
       |c AS (SELECT doc_id, source, domain,
       |        CASE
       |          WHEN NOT regexp_matches(url, '^https?://') THEN 'bad_scheme'
       |          WHEN regexp_matches(path,
       |            '\\.(jpe?g|png|gif|css|js|ico|svg|woff2?)$$')
       |            THEN 'binary_ext'
       |          WHEN regexp_matches(q, '(^|&)(utm_[a-z]+|fbclid|sessionid)=')
       |            THEN 'tracking'
       |          WHEN len(string_split(path, '/')) - 1 > 4 THEN 'too_deep'
       |          ELSE 'keep' END AS verdict
       |      FROM v)""".stripMargin

  private def urlFilterSql: String =
    s"""WITH $urlVerdictCtes
       |SELECT domain, verdict, COUNT(*) AS n_urls,
       |  COUNT(DISTINCT doc_id) AS n_docs
       |FROM c GROUP BY 1, 2""".stripMargin

  private def linkGraphSql: String =
    s"""WITH $urlVerdictCtes
       |SELECT source, domain, COUNT(*) AS n_links
       |FROM c
       |WHERE verdict = 'keep' AND domain <> source || '.example.com'
       |GROUP BY 1, 2""".stripMargin

  val sql: Map[String, String] = Map(
    "q_html_extract" -> htmlExtractSql,
    "q_url_filter" -> urlFilterSql,
    "q_link_graph" -> linkGraphSql,
    "q_cluster_split" -> clusterAwareSplitSql,
    "q_cluster_family_shared" -> clusterFamilySql,
    "q_pii_scan" -> piiScanSql,
    "q_quality_classifier" -> qualityClassifierSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_decontaminate" -> decontaminateSql,
    // the Bloom prefilter only adds false positives and every
    // survivor is exactly re-verified, so the output — and therefore
    // the oracle — is decontaminate's verbatim
    "q_decontaminate_bloom" -> decontaminateSql,
    "q_semdedup" -> semDedupSql,
    "q_knn_graph" -> knnGraphSql,
    "q_kcenter_coreset" -> kCenterSql,
    "q_coreset_assign" -> kCenterAssignSql,
    "q_temperature_mix" -> temperatureMixSql,
    "q_source_length_profile" -> sourceLengthProfileSql,
    "q_dsir_weights" -> dsirSql,
    "q_dsir_select" -> dsirSelectSql,
    "q_substring_dedup" -> repeatedSubstringsSql,
    "q_substring_scrub" -> substringScrubSql,
    "q_decontaminate_scrub" -> decontaminateScrubSql,
    "q_winnow_fingerprints" -> winnowSql,
    "q_winnow_overlap" -> winnowOverlapSql,
    "q_eval_contamination" -> evalContaminationSql,
    "q_source_minhash_sim" -> sourceMinhashSimSql,
    "q_emb_dim_profile" -> embDimProfileSql,
    "q_top_ngrams" -> topNgramsSql,
    "q_mask_tokens" -> maskTokensSql,
    "q_bpe_merges" -> bpeSql,
    "q_bpe_encode" -> bpeEncodeSql,
    "q_ngram_novelty" -> ngramNoveltySql,
    "q_split_leakage" -> splitLeakageSql,
    "q_dedup_clusters" -> simhashClustersSql,
    "q_soft_dedup" -> softDedupWeightsSql,
    "q_dedup_best_rep" -> bestOfClusterSql,
    "q_dedup_incremental" -> incrementalDedupSql,
    "q_text_repetition" -> repetitionSql,
    "q_feature_hash" -> hashedFeaturesSql,
    "q_emb_quantize" -> quantizeSql,
    "q_pack_sequences" -> packSequencesSql,
    "q_text_surprisal" -> surprisalSql,
    "q_bigram_surprisal" -> bigramSurprisalSql,
    "q_chunk_docs" -> chunkPlanSql,
    "q_domain_mix" ->
      """WITH pd AS (SELECT lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
        |    COUNT(*) AS k_domains FROM pd)
        |SELECT lang, n_docs, n_tokens, n_total, k_domains,
        |  CAST(n_docs AS DOUBLE) / n_total AS share,
        |  (CAST(n_total AS DOUBLE) / k_domains) / n_docs AS weight,
        |  ((CAST(n_total AS DOUBLE) / k_domains) / n_docs) * n_tokens
        |    AS expected_tokens
        |FROM pd, t""".stripMargin,
    "q_collocations" -> collocationsSql,
    "q_data_split" -> datasetSplitSql,
    "q_corpus_curate" -> curateSql,
    "q_tfidf_terms" -> tfidfSql,
    "q_dedup_exact" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
        |  MIN(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_jaccard" -> jaccardBandedSql,
    "q_dedup_containment" -> containmentSql,

    "q_dedup_minhash" -> minhashSql,
    "q_dedup_minhash_oph" -> minhashOphSql,
    "q_dedup_simhash" -> simhashPairsSql,
    "q_dedup_simhash_canon" ->
      s"""SELECT doc_b AS doc_id, MIN(doc_a) AS canonical_id
         |FROM ($simhashPairsSql)
         |GROUP BY 1""".stripMargin,
    "q_ann_topk" -> annTopkSql,
    "q_ann_lsh" -> annLshSql,
    "q_ann_ivf" -> annIvfSql,
    "q_ann_ivf_trained" -> annIvfTrainedSql,
    "q_ann_ivfpq" -> annIvfPqSql,
    "q_ann_ivfpq_rerank" -> annIvfPqRerankSql,
    "q_ann_ivfpq_residual" -> annIvfPqResidualSql,
    "q_ann_residual_rerank" -> annResidualRerankSql,
    "q_ann_trained_rerank" -> annTrainedRerankSql,
    "q_ann_recall" -> annRecallSql("ivf"),
    "q_lsh_recall" -> annRecallSql("lsh"),
    "q_ann_recall_curve" -> annRecallCurveSql,
    "q_ann_recall_ladder" -> annRecallLadderSql,
    "q_ann_recall_clustered" -> annRecallClusteredSql,
    "q_image_neardup" -> imageNearDupSql,
    "q_audio_neardup" -> audioNearDupSql,
    "q_video_neardup" -> videoNearDupSql,
    "q_kmeans" -> kmeansSql,
    "q_emb_neardup" -> embNearDupSql,
    "q_bm25" -> bm25Sql,
    "q_hybrid_rrf" -> hybridRrfSql,
    "q_mmr_rerank" -> mmrRerankSql,
    "q_hard_negatives" -> hardNegativesSql,
    "q_ann_rp_rerank" -> annRpRerankSql,
    "q_inverted_index" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents),
        |tok AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS term
        |        FROM (SELECT doc_id, ts,
        |                UNNEST(generate_series(1, len(ts))) AS i
        |              FROM s))
        |SELECT term, doc_id, pos FROM tok
        |WHERE term IN ('spark', 'join', 'window')""".stripMargin,

    // mirror of Retrieval.phraseSearch('table hash'): posting lists
    // for each phrase term, aligned-position equi-join, occurrence
    // rollup per doc
    "q_phrase_search" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents),
        |tok AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS term
        |        FROM (SELECT doc_id, ts,
        |                UNNEST(generate_series(1, len(ts))) AS i
        |              FROM s)),
        |p0 AS (SELECT doc_id, pos AS start FROM tok WHERE term = 'table'),
        |p1 AS (SELECT doc_id, pos - 1 AS start FROM tok WHERE term = 'hash')
        |SELECT doc_id, COUNT(*) AS n_occurrences, MIN(start) AS first_pos
        |FROM p0 JOIN p1 USING (doc_id, start)
        |GROUP BY doc_id""".stripMargin,
    "q_vocab_coverage" ->
      """WITH t AS (SELECT UNNEST(string_split(text, ' ')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY 1),
        |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
        |r AS (SELECT tok, n,
        |        CAST(SUM(n) OVER (ORDER BY n DESC, tok
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
        |      FROM c)
        |SELECT tok, n, cum_n,
        |  CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
        |FROM r CROSS JOIN tt
        |WHERE cum_n * 20 <= total * 19""".stripMargin,
    "q_budget_select" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id, lang, n_tok, cum_tok FROM (
        |  SELECT doc_id, lang, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY lang
        |      ORDER BY n_tok DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        |  FROM d)
        |WHERE cum_tok <= 2000""".stripMargin,
    "q_knn_label" -> knnLabelSql,
    "q_calibration" -> calibrationSql,
    "q_eval_pr" -> prSql,
    "q_global_index" ->
      """SELECT doc_id, n_chars,
        |  ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS global_idx
        |FROM documents""".stripMargin,
    "q_tokenize_ids" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents),
        |tok AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, ts[i] AS tok
        |        FROM (SELECT doc_id, ts,
        |                UNNEST(generate_series(1, len(ts))) AS i
        |              FROM s)),
        |v AS (SELECT tok,
        |        CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
        |          AS INTEGER) AS token_id
        |      FROM tok GROUP BY tok
        |      QUALIFY token_id <= 256)
        |SELECT t.doc_id, t.pos, COALESCE(v.token_id, 0) AS token_id
        |FROM tok t LEFT JOIN v ON t.tok = v.tok""".stripMargin,
    "q_length_buckets" -> {
      val cases = (20 to 0 by -1).map(j =>
        s"WHEN ntok >= ${1L << j} THEN $j").mkString("\n        |    ")
      s"""WITH b AS (SELECT
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
         |  FROM documents)
         |SELECT CASE
         |    $cases
         |    ELSE -1 END AS len_bucket,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
         |  CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / 32) AS BIGINT) AS n_batches
         |FROM b GROUP BY 1""".stripMargin
    },
    "q_curriculum" ->
      s"""WITH q AS ($qualitySql)
         |SELECT doc_id, quality,
         |  ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS curriculum_rank
         |FROM q""".stripMargin,
    "q_shard_plan" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |        CAST(SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS running_tokens
        |      FROM t)
        |SELECT doc_id, n_tokens, running_tokens,
        |  CAST(FLOOR((running_tokens - n_tokens) / 2048.0) AS BIGINT)
        |    AS shard_id
        |FROM r""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |       AS BIGINT) AS n_re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_obs
        |FROM documents""".stripMargin,

    "q_text_quality" -> qualitySql,
    "q_quality_prune" -> qualityPruneSql,
    "q_text_langid" -> langIdSql,

    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  MIN(md5(substr(text, CAST(i AS INTEGER), 8))) AS fingerprint
        |FROM (SELECT doc_id, text,
        |        UNNEST(generate_series(1, GREATEST(length(text) - 7, 1))) AS i
        |      FROM documents)
        |GROUP BY doc_id""".stripMargin,
  )
}
