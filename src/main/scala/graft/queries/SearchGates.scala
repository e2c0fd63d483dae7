package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Similarity-search and graph gates (s*): exact, LSH, IVF, IVF+PQ,
  * filtered, int8 and JL-compressed ANN, plus PageRank, TrustRank,
  * components, communities, k-means, triangles, k-core and HITS. */
object SearchGates {
  import GateSupport._

  /** NORMALIZED-projection view of the embeddings table — the s18 index
    * replay (proj kind `srht2`: Similarity's index machinery projects
    * the unit vector so candidate L2 approximates angular distance). */
  private lazy val duckJlProjNv: String =
    "emb_src AS (\n" +
      "  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings\n" +
      "), " + duckJlItems("jemb", "emb_src") + ",\n" +
      "proj_nv AS (\n  SELECT id AS vec_id, p FROM jemb\n)"

  /** Gate-query quantizer parameters, shared between the Spark queries
    * and the DuckDB oracle SQL below. The ANN gates (s02/s03/s04) run the
    * SAME distributed operators as production but with deterministic,
    * SQL-expressible quantizers — integer-LCG hyperplanes, centroids /
    * codewords lifted from strided corpus rows — so an independent engine
    * can verify bucketing, probing, encoding and ranking end-to-end.
    * (Lloyd-trained quantizers and Gaussian planes, the production
    * defaults, are covered by recall / cluster-precision specs.) */
  private val lshGatePlanes = 8
  private val ivfGateNList = 8
  private val ivfGateNProbe = 3
  private val pqGateM = 8
  private val pqGateKSub = 16

  private def gateCentroids(e: DataFrame): Array[Array[Double]] =
    gateCentroidsN(e, ivfGateNList)

  /** PQ codewords = subspace slices of kSub strided (+1 offset, so they
    * differ from the centroid rows) normalized embeddings. */
  private def gateCodebooks(e: DataFrame): Similarity.PqCodebooks = {
    val n = e.count()
    Similarity.codebooksFromVectors(
      Similarity.vectorsByIds(e, "vec_id", "embedding",
        (0 until pqGateKSub).map(j => j * n / pqGateKSub + 1)), pqGateM)
  }

  /** Build (once per data dir) and reuse a persisted IVF+PQ index over the
    * embeddings table — the 100 TB shape: the full-corpus encode pass is
    * paid ONCE at write time; every query batch afterwards does a
    * partition-pruned scan of m-byte codes. Memoized so repeated gate/bench
    * invocations exercise the pay-once economics instead of re-encoding.
    * Built with the deterministic gate quantizers (see above) so the s04
    * gate is oracle-checkable; [[Similarity.trainIvfPq]] is the production
    * path and is exercised by the IVF/PQ specs. */
  private val pqIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, () => String]
  private def pqIndexFor(s: SparkSession, dir: String): String =
    cachedTempIndex(pqIndexCache, dir, "graft-pq-index") { path =>
      val e = embeds(s, dir)
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", path,
        gateCentroids(e), gateCodebooks(e))
    }

  /** Build (once per data dir) a persisted JL-projected candidate index
    * over the embeddings table — the s18 gate: projection at write time
    * (deterministic LCG sign matrix, no trained quantizer), sign-bit
    * bucket partitions, probes candidate-generate from the narrow
    * projected column and exact-rerank only candidates. */
  private val jlIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, () => String]
  private def jlIndexFor(s: SparkSession, dir: String): String =
    cachedTempIndex(jlIndexCache, dir, "graft-jl-index") { path =>
      // split write → append → compact so the gate's oracle (which knows
      // only the LOGICAL index) also cross-checks the lifecycle's
      // answer-invariance: append ≡ rebuild AND compaction folds the
      // appended segment without changing any served rank
      val e = embeds(s, dir)
      Similarity.writeJlIndex(e.filter(col("vec_id") < 400), "vec_id",
        "embedding", path, dim = 64, outDim = 16, scale = 1e6, bucketBits = 4)
      Similarity.appendToJlIndex(e.filter(col("vec_id") >= 400), "vec_id",
        "embedding", path)
      Similarity.compactJlIndex(s, path)
    }

  /** DuckDB oracle for s02: the EXACT lshTopK computation — sign-bucket
    * assignment against the same gridPlanes integer literals, hamming-1
    * multi-probe (xor with each single-bit mask; 0 = own bucket), bucket
    * equi-join, cosine rerank with neighbor-id tie-break. Buckets and
    * similarities are computed on the NORMALIZED double vectors exactly
    * as Spark's lshTopK does (sim = dot of normalized = its rerank
    * column), not on raw vectors with a separate cosine — the same
    * bit-for-bit discipline as the s03/s04 oracles. */
  private def s02OracleSql: String = {
    val bucketExpr = Similarity.gridPlanes(64, lshGatePlanes).zipWithIndex.map {
      case (p, i) =>
        val lst = p.map(_.toLong).mkString("[", ",", "]")
        s"(CASE WHEN list_inner_product(v, CAST($lst AS DOUBLE[])) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n    + ")
    val probeVals = (0L +: (0 until lshGatePlanes).map(i => 1L << i).toSeq)
      .map(m => s"($m)").mkString(",")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |nv AS (SELECT vec_id, [x / sqrt(list_inner_product(emb, emb)) for x in emb] AS v FROM e),
       |b AS (SELECT vec_id, v, $bucketExpr AS bucket FROM nv),
       |probes AS (SELECT q.vec_id, q.v, xor(q.bucket, pm.m) AS bucket
       |  FROM b q CROSS JOIN (VALUES $probeVals) pm(m) WHERE q.vec_id < 10),
       |cand AS (SELECT p.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    list_inner_product(p.v, b.v) AS sim
       |  FROM probes p JOIN b ON b.bucket = p.bucket AND b.vec_id <> p.vec_id)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank, neighbor_id FROM cand)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Shared CTE prefix for the IVF oracles: normalized double vectors and
    * the deterministic strided-row centroids (id list derived from
    * count(*) in BOTH engines — vec_ids are contiguous 0..n-1). Cell
    * assignment ties break toward the larger cell index, matching
    * Spark's greatest-of-structs argmax. */
  private def ivfOracleCtes: String = {
    val js = (0 until ivfGateNList).map(j => s"($j)").mkString(",")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |nv AS (SELECT vec_id, [x / sqrt(list_inner_product(emb, emb)) for x in emb] AS v FROM e),
       |cids AS (SELECT j, j * (SELECT count(*) FROM embeddings) // $ivfGateNList AS cid
       |  FROM (VALUES $js) t(j)),
       |cents AS (SELECT cids.j, nv.v AS cv FROM cids JOIN nv ON nv.vec_id = cids.cid),
       |assign AS (SELECT vec_id, v, cell FROM (
       |  SELECT nv.vec_id, nv.v, c.j AS cell, ROW_NUMBER() OVER (PARTITION BY nv.vec_id
       |    ORDER BY list_inner_product(nv.v, c.cv) DESC, c.j DESC) AS rn
       |  FROM nv CROSS JOIN cents c) WHERE rn = 1),
       |probes AS (SELECT vec_id, v, cell FROM (
       |  SELECT nv.vec_id, nv.v, c.j AS cell, ROW_NUMBER() OVER (PARTITION BY nv.vec_id
       |    ORDER BY list_inner_product(nv.v, c.cv) DESC, c.j DESC) AS rn
       |  FROM nv CROSS JOIN cents c WHERE nv.vec_id < 10) WHERE rn <= $ivfGateNProbe)""".stripMargin
  }

  /** DuckDB oracle for s03: the EXACT ivfTopK computation over the
    * deterministic gate centroids — nearest-cell assignment, nProbe probe
    * cells per query, cell equi-join, exact cosine rerank. */
  private def s03OracleSql: String =
    s"""$ivfOracleCtes,
       |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
       |    list_inner_product(p.v, a.v) AS sim
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank, neighbor_id FROM cand)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB oracle for s04: the EXACT IVF+PQ computation over the
    * deterministic gate quantizers — PQ encode as per-subspace argmin L2
    * (expressed as Spark's 2·dot − ‖c‖² argmax, ties to the larger code),
    * per-query ADC lookup tables, and the score summed in the SAME
    * left-to-right subspace order as Spark's fold (one explicit join per
    * subspace, not SUM — so equal codes give bitwise-equal scores). */
  private def s04OracleSql: String = {
    val sub = 64 / pqGateM
    val sjs = (0 until pqGateKSub).map(j => s"($j)").mkString(",")
    val mis = (0 until pqGateM).map(mi => s"($mi)").mkString(",")
    val codeCols = (0 until pqGateM)
      .map(mi => s"MAX(CASE WHEN mi=$mi THEN code END) AS c$mi").mkString(", ")
    val lutJoins = (0 until pqGateM).map(mi =>
      s"  JOIN lut l$mi ON l$mi.vec_id = p.vec_id AND l$mi.mi = $mi AND l$mi.code = cd.c$mi")
      .mkString("\n")
    val scoreExpr = (0 until pqGateM).map(mi => s"l$mi.val").mkString(" + ")
    s"""$ivfOracleCtes,
       |sids AS (SELECT j, j * (SELECT count(*) FROM embeddings) // $pqGateKSub + 1 AS sid
       |  FROM (VALUES $sjs) t(j)),
       |samp AS (SELECT sids.j, nv.v AS sv FROM sids JOIN nv ON nv.vec_id = sids.sid),
       |cw AS (SELECT ms.mi, s.j AS code, s.sv[ms.mi*$sub+1 : ms.mi*$sub+$sub] AS w,
       |    list_inner_product(s.sv[ms.mi*$sub+1 : ms.mi*$sub+$sub],
       |                       s.sv[ms.mi*$sub+1 : ms.mi*$sub+$sub]) AS c2
       |  FROM samp s CROSS JOIN (VALUES $mis) ms(mi)),
       |codes_long AS (SELECT vec_id, mi, code FROM (
       |  SELECT nv.vec_id, cw.mi, cw.code, ROW_NUMBER() OVER (PARTITION BY nv.vec_id, cw.mi
       |    ORDER BY (2*list_inner_product(nv.v[cw.mi*$sub+1 : cw.mi*$sub+$sub], cw.w) - cw.c2) DESC,
       |      cw.code DESC) AS rn
       |  FROM nv CROSS JOIN cw) WHERE rn = 1),
       |codes AS (SELECT vec_id, $codeCols FROM codes_long GROUP BY vec_id),
       |lut AS (SELECT nv.vec_id, cw.mi, cw.code,
       |    list_inner_product(nv.v[cw.mi*$sub+1 : cw.mi*$sub+$sub], cw.w) AS val
       |  FROM nv CROSS JOIN cw WHERE nv.vec_id < 10),
       |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, $scoreExpr AS sim
       |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
       |  JOIN codes cd ON cd.vec_id = a.vec_id
       |$lutJoins)
       |SELECT query_id, rank, neighbor_id FROM (
       |  SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank, neighbor_id FROM cand)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** DuckDB oracle for s05 (kNN graph): the s03 cell-assignment CTEs at
    * the SemDeDup cell count, each unordered within-cell pair scored
    * once, both directions ranked per node (desc sim, neighbor-id tie
    * break) — the exact knnGraph computation. */
  /** Shared CTE prefix reconstructing the [[Similarity.knnGraph]] edge
    * set (cell-bucketed pairs, top-5 per node) — the body of the s05
    * oracle, reused by s08's PageRank oracle on the same edges. Ends
    * with a `knn_ranked(query_id, rank, neighbor_id)` CTE. */
  private def knnGraphCtes: String = {
    val js = (0 until semGateNList).map(j => s"($j)").mkString(",")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |nv AS (SELECT vec_id, [x / sqrt(list_inner_product(emb, emb)) for x in emb] AS v FROM e),
       |cids AS (SELECT j, j * (SELECT count(*) FROM embeddings) // $semGateNList AS cid
       |  FROM (VALUES $js) t(j)),
       |cents AS (SELECT cids.j, nv.v AS cv FROM cids JOIN nv ON nv.vec_id = cids.cid),
       |assign AS (SELECT vec_id, v, cell FROM (
       |  SELECT nv.vec_id, nv.v, c.j AS cell, ROW_NUMBER() OVER (PARTITION BY nv.vec_id
       |    ORDER BY list_inner_product(nv.v, c.cv) DESC, c.j DESC) AS rn
       |  FROM nv CROSS JOIN cents c) WHERE rn = 1),
       |pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb,
       |    list_inner_product(a.v, b.v) AS sim
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |directed AS (SELECT ida AS query_id, idb AS neighbor_id, sim FROM pairs
       |  UNION ALL SELECT idb AS query_id, ida AS neighbor_id, sim FROM pairs),
       |knn_ranked AS (
       |  SELECT query_id, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank, neighbor_id FROM directed)""".stripMargin
  }

  private def s05OracleSql: String =
    s"""WITH $knnGraphCtes
       |SELECT query_id, rank, neighbor_id FROM knn_ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** BFS-hops oracle: the shared kNN edges, then EXACTLY 4 unrolled
    * waves — each d_i is referenced three times (carry + expand +
    * NOT IN), so every level is AS MATERIALIZED (the r5 2^k-inlining
    * rule). Expanding from the whole distance table (not the frontier)
    * is wave-equivalent: neighbors of older layers were absorbed in
    * earlier waves. */
  private def s19OracleSql: String = {
    val waves = (1 to 4).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT id, hops FROM d${i - 1}
         |  UNION ALL
         |  SELECT id, CAST($i AS INTEGER) AS hops FROM (
         |    SELECT DISTINCT b.dst AS id
         |    FROM bi b JOIN d${i - 1} p ON p.id = b.src)
         |  WHERE id NOT IN (SELECT id FROM d${i - 1}))""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |edges AS (SELECT query_id AS src, neighbor_id AS dst FROM knn_ranked WHERE rank <= 5),
       |bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |d0 AS MATERIALIZED (
       |  SELECT vec_id AS id, CAST(0 AS INTEGER) AS hops
       |  FROM embeddings WHERE vec_id < 3),
       |$waves
       |SELECT id, hops FROM d4 ORDER BY id""".stripMargin
  }

  /** PageRank oracle: the same kNN edges, then 5 unrolled fixed-point
    * iterations (DuckDB's recursive CTEs are avoided so the aggregate
    * per iteration needs no recursion caveats) — every `//` floor
    * division and 85/100 damping step mirrors
    * [[graft.ops.Graph.pageRankInt]]'s LONG arithmetic exactly; each
    * iteration's rank is cast back to BIGINT (DuckDB SUM(BIGINT) widens
    * to HUGEINT). */
  private def s08OracleSql: String = {
    val scale = 1000000000L
    val base = scale * 15L / 100L
    val prChain = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT a.dst AS node,
         |    CAST($base + (85 * SUM(a.w * (p.rank_q // COALESCE(dg.d, 1)))) // 100 AS BIGINT) AS rank_q
         |  FROM pr${i - 1} p JOIN aug a ON a.src = p.node
         |  LEFT JOIN deg dg ON dg.node = a.src
         |  GROUP BY a.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |edges AS (SELECT query_id AS src, neighbor_id AS dst FROM knn_ranked WHERE rank <= 5),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
       |aug AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
       |  UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
       |pr0 AS (SELECT node, CAST($scale AS BIGINT) AS rank_q FROM nodes),
       |$prChain
       |SELECT node, rank_q FROM pr5 ORDER BY node""".stripMargin
  }

  /** HITS oracle: the s08 kNN edges, 4 unrolled iterations of
    * auth-from-hubs / hubs-from-auths with exact L∞ normalization
    * (raw·scale // max). MATERIALIZED throughout — an$i is referenced
    * by BOTH hr$i and st$i, so the inlined chain would re-expand
    * 2^k-fold (the r5 perceptron-oracle lesson). */
  private def s16OracleSql: String = {
    val scale = 100000L
    def norm(src: String, out: String) =
      s"""mx_$out AS MATERIALIZED (
         |  SELECT greatest(coalesce(max(raw), 0), 0) AS mx FROM $src),
         |$out AS MATERIALIZED (
         |  SELECT node, CASE WHEN mx <= 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST((raw * $scale) // mx AS BIGINT) END AS q
         |  FROM $src, mx_$out)""".stripMargin
    val chain = (1 to 4).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT a.dst AS node, SUM(a.w * h.hub_q) AS raw
         |  FROM st${i - 1} h JOIN aug a ON a.src = h.node GROUP BY a.dst),
         |${norm(s"ar$i", s"an$i")},
         |hr$i AS MATERIALIZED (
         |  SELECT a.src AS node, SUM(a.w * an.q) AS raw
         |  FROM an$i an JOIN aug a ON a.dst = an.node GROUP BY a.src),
         |${norm(s"hr$i", s"hn$i")},
         |st$i AS MATERIALIZED (
         |  SELECT h.node, h.q AS hub_q, a.q AS auth_q
         |  FROM hn$i h JOIN an$i a ON a.node = h.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |edges AS (SELECT query_id AS src, neighbor_id AS dst FROM knn_ranked WHERE rank <= 5),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges),
       |aug AS MATERIALIZED (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
       |  UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
       |st0 AS (SELECT node, CAST($scale AS BIGINT) AS hub_q,
       |  CAST($scale AS BIGINT) AS auth_q FROM nodes),
       |$chain
       |SELECT node, hub_q, auth_q FROM st4 ORDER BY node""".stripMargin
  }

  /** Triangle-count oracle: the s08 kNN edges canonicalized to
    * undirected simple form, the same degree-ordered orientation
    * (lower (deg, id) endpoint first), wedges at each node's out-edges
    * closed by the oriented third edge — each triangle exactly once. */
  private def s13OracleSql: String =
    s"""WITH $knnGraphCtes,
       |und AS (
       |  SELECT DISTINCT LEAST(query_id, neighbor_id) AS a,
       |    GREATEST(query_id, neighbor_id) AS b
       |  FROM knn_ranked WHERE rank <= 5 AND query_id <> neighbor_id
       |),
       |deg AS (
       |  SELECT n, COUNT(*) AS d FROM (
       |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
       |  GROUP BY n
       |),
       |orient AS (
       |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
       |           THEN u.a ELSE u.b END AS u,
       |         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
       |           THEN u.b ELSE u.a END AS v
       |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
       |),
       |tri AS (
       |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
       |  FROM orient e1
       |  JOIN orient e2 ON e2.u = e1.u AND e2.v <> e1.v
       |  JOIN orient e3 ON e3.u = e1.v AND e3.v = e2.v
       |)
       |SELECT node, COUNT(*) AS triangles FROM (
       |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri)
       |GROUP BY node ORDER BY node""".stripMargin

  /** Clustering-coefficient oracle: the s13 triangle CTEs plus the
    * degree table; lcc = triangles / (d·(d−1)//2) — one double division
    * of exact BIGINTs, bitwise identical to Spark's tree. */
  private def s14OracleSql: String =
    s"""WITH $knnGraphCtes,
       |und AS (
       |  SELECT DISTINCT LEAST(query_id, neighbor_id) AS a,
       |    GREATEST(query_id, neighbor_id) AS b
       |  FROM knn_ranked WHERE rank <= 5 AND query_id <> neighbor_id
       |),
       |deg AS (
       |  SELECT n, COUNT(*) AS d FROM (
       |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
       |  GROUP BY n
       |),
       |orient AS (
       |  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
       |           THEN u.a ELSE u.b END AS u,
       |         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
       |           THEN u.b ELSE u.a END AS v
       |  FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
       |),
       |tri AS (
       |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
       |  FROM orient e1
       |  JOIN orient e2 ON e2.u = e1.u AND e2.v <> e1.v
       |  JOIN orient e3 ON e3.u = e1.v AND e3.v = e2.v
       |),
       |tcnt AS (
       |  SELECT node, COUNT(*) AS triangles FROM (
       |    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
       |    UNION ALL SELECT z FROM tri)
       |  GROUP BY node
       |)
       |SELECT d.n AS node, CAST(d.d AS BIGINT) AS degree,
       |  CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       |  CASE WHEN d.d >= 2 THEN CAST(coalesce(t.triangles, 0) AS DOUBLE)
       |    / CAST((d.d * (d.d - 1)) // 2 AS DOUBLE)
       |    ELSE CAST(0 AS DOUBLE) END AS lcc
       |FROM deg d LEFT JOIN tcnt t ON t.node = d.n
       |ORDER BY node""".stripMargin

  /** k-core oracle: EXACTLY 3 unrolled peel waves at k=7 over the 5-NN
    * graph plus the planted 14-clique (a wave keeps edges whose
    * endpoints both had degree ≥ k in the previous wave's subgraph) —
    * idempotent once converged, so early Spark convergence still
    * matches. AS MATERIALIZED: each wave references its predecessor
    * three times (inlined CTEs would re-expand 3^k-fold). */
  private def s15OracleSql: String = {
    val k = 7
    val waves = (1 to 3).map { i =>
      s"""d${i - 1} AS MATERIALIZED (
         |  SELECT n, COUNT(*) AS d FROM (
         |    SELECT a AS n FROM w${i - 1} UNION ALL SELECT b FROM w${i - 1})
         |  GROUP BY n),
         |w$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM w${i - 1} e
         |  JOIN d${i - 1} ka ON ka.n = e.a AND ka.d >= $k
         |  JOIN d${i - 1} kb ON kb.n = e.b AND kb.d >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |w0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(a0, b0) AS a, GREATEST(a0, b0) AS b FROM (
       |    SELECT query_id AS a0, neighbor_id AS b0 FROM knn_ranked WHERE rank <= 5
       |    UNION ALL
       |    SELECT x.vec_id AS a0, y.vec_id AS b0 FROM e x JOIN e y
       |      ON x.vec_id < 14 AND y.vec_id < 14 AND x.vec_id < y.vec_id)
       |  WHERE a0 <> b0),
       |$waves,
       |d3 AS (
       |  SELECT n, COUNT(*) AS d FROM (
       |    SELECT a AS n FROM w3 UNION ALL SELECT b FROM w3) GROUP BY n)
       |SELECT n AS node, CAST(d AS BIGINT) AS degree FROM d3
       |ORDER BY node""".stripMargin
  }

  /** TrustRank oracle: the s08 fixed-point chain with the restart mass
    * gated to the seed set (vec_id % 50 = 0) — base joins in per node,
    * ranks start at `scale` on seeds and 0 elsewhere; every floor
    * division mirrors [[graft.ops.Graph.personalizedPageRankInt]]. */
  private def s11OracleSql: String = {
    val scale = 1000000000L
    val base = scale * 15L / 100L
    val prChain = (1 to 5).map { i =>
      s"""pr$i AS (
         |  SELECT a.dst AS node,
         |    CAST(b.base_q + (85 * SUM(a.w * (p.rank_q // COALESCE(dg.d, 1)))) // 100 AS BIGINT) AS rank_q
         |  FROM pr${i - 1} p JOIN aug a ON a.src = p.node
         |  LEFT JOIN deg dg ON dg.node = a.src
         |  JOIN bases b ON b.node = a.dst
         |  GROUP BY a.dst, b.base_q)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |edges AS (SELECT query_id AS src, neighbor_id AS dst FROM knn_ranked WHERE rank <= 5),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
       |aug AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM edges
       |  UNION ALL SELECT node, node, CAST(0 AS BIGINT) FROM nodes),
       |sd AS (SELECT vec_id AS node FROM e WHERE vec_id % 50 = 0),
       |bases AS (SELECT n.node,
       |  CASE WHEN s.node IS NULL THEN CAST(0 AS BIGINT)
       |       ELSE CAST($base AS BIGINT) END AS base_q
       |  FROM nodes n LEFT JOIN sd s ON s.node = n.node),
       |pr0 AS (SELECT node,
       |  CASE WHEN base_q > 0 THEN CAST($scale AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS rank_q FROM bases),
       |$prChain
       |SELECT node, rank_q FROM pr5 ORDER BY node""".stripMargin
  }

  /** Connected-components oracle: exact reachability closure (recursive
    * CTE seeded with (node, node), stepped over both edge directions),
    * then label = min reachable id — the ground truth the star
    * algorithm must reproduce. Bounded: Σ component² pairs, components
    * capped by the quantizer cell size. */
  private def s09OracleSql: String =
    s"""WITH RECURSIVE $knnGraphCtes,
       |edges AS (SELECT query_id AS src, neighbor_id AS dst FROM knn_ranked WHERE rank <= 5),
       |bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |nodes AS (SELECT DISTINCT src AS node FROM bi),
       |reach(node, r) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT b.dst, reach.r FROM reach JOIN bi b ON b.src = reach.node)
       |SELECT node AS id, MIN(r) AS label FROM reach GROUP BY node ORDER BY id""".stripMargin

  /** Label-propagation oracle: the s08/s09 kNN edge CTEs, then 4
    * unrolled synchronous vote rounds — per round a neighbor-label
    * count and a ROW_NUMBER argmax (count desc, label asc), exactly the
    * struct-max [[graft.ops.Graph.labelPropagation]] computes. Each
    * l_i is referenced once, so the chain inlines linearly. */
  private def s12OracleSql: String = {
    val lpChain = (1 to 4).map { i =>
      s"""c$i AS (
         |  SELECT b.dst AS id, l.lbl, COUNT(*) AS c
         |  FROM bi b JOIN l${i - 1} l ON l.id = b.src GROUP BY b.dst, l.lbl),
         |l$i AS (
         |  SELECT id, lbl FROM (
         |    SELECT id, lbl, ROW_NUMBER() OVER (PARTITION BY id
         |      ORDER BY c DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |edges AS (SELECT query_id AS src, neighbor_id AS dst FROM knn_ranked WHERE rank <= 5),
       |ds AS (SELECT src, dst FROM edges WHERE src <> dst),
       |bi AS (SELECT src, dst FROM ds UNION SELECT dst, src FROM ds),
       |alln AS (SELECT DISTINCT src AS id FROM edges UNION SELECT dst AS id FROM edges),
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM bi),
       |$lpChain
       |SELECT id, label FROM (
       |  SELECT id, lbl AS label FROM l4
       |  UNION ALL
       |  SELECT id, id AS label FROM alln WHERE id NOT IN (SELECT id FROM l0)
       |) ORDER BY id""".stripMargin
  }

  private def s10OracleSql: String =
    s"""WITH $kmeansCtes
       |SELECT vec_id, cluster FROM af ORDER BY vec_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ---- similarity/graph: fixed-point integer PageRank over the kNN
    // graph — corpus-centrality as a curation prior; every iteration's
    // LONG floor-division arithmetic reproduced exactly by DuckDB
    // ---- graph: synchronous label-propagation communities over the
    // kNN similarity graph — finer than connected components (dense
    // neighborhoods out-vote bridge edges); deterministic variant
    // (simultaneous updates, smallest-label ties) so 4 iterations are a
    // pure function of the graph
    Gate("s12_label_prop", Some(s12OracleSql))((s, dir) => {
      withShufflePartitions(s, 8) {
        val e = embeds(s, dir)
        val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
            maxCell = Int.MaxValue,
            centroids = Some(gateCentroidsN(e, semGateNList)))
          .select(col("query_id"), col("neighbor_id"))
        graft.ops.Graph.labelPropagation(edges, "query_id", "neighbor_id", iters = 4)
          .orderBy(col("id"))
      }
    }),

    Gate("s08_pagerank", Some(s08OracleSql))((s, dir) => {
      val e = embeds(s, dir)
      val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
          maxCell = Int.MaxValue,
          centroids = Some(gateCentroidsN(e, semGateNList)))
        .select(col("query_id"), col("neighbor_id"))
      graft.ops.Graph.pageRankInt(edges, "query_id", "neighbor_id", iters = 5)
        .orderBy(col("node"))
    }),

    // ---- similarity: JL sign random projection — 64-float embeddings
    // compressed to 16 exact BIGINTs (Achlioptas ±1 matrix from the
    // gridPlanes integer-LCG family; inputs through the round(x·1e6)
    // stable conversion), then exact top-3 by projected squared L2 —
    // every coordinate, distance and rank is integer arithmetic both
    // engines reproduce bit-for-bit
    // JL projection replay: nested comprehensions rebuild the ±1 LCG
    // sign matrix and the scaled-long projection (shared duckJlProj
    // fragment — s18 replays the same projection); distances and ranks
    // are exact integers (row_number cast to Spark's INT)
    Gate("s17_jl_project", Some(
      (s"WITH $duckJlProj, " + """pairs AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum([ (c.p[j+1] - q.p[j+1]) * (c.p[j+1] - q.p[j+1])
        |                    for j in range(0, 16) ]) AS BIGINT) AS dist
        |  FROM proj q, proj c WHERE q.vec_id < 10
        |), ranked AS (
        |  SELECT query_id, neighbor_id, dist,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY dist, neighbor_id) AS rnk
        |  FROM pairs
        |)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, dist
        |FROM ranked WHERE rnk <= 3
        |ORDER BY query_id, rank""".stripMargin)))((s, dir) => {
      val proj = embeds(s, dir).select(col("vec_id"),
        Similarity.randomProject(col("embedding"), 64, 16).as("p"))
      val q = proj.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("p").as("qp"))
      val pairs = proj.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          aggregate(zip_with(col("p"), col("qp"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("dist"))
      Similarity.topKPerGroup(pairs, Seq(col("query_id")),
          Seq(col("dist"), col("neighbor_id")), 3)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: persisted JL-PROJECTED candidate index — s17's
    // compression composed with the index lifecycle (the IVF two-stage
    // shape at half the candidate-scan bytes): projection + sign-bit
    // bucketing at write time, probes multi-probe bucketBits+1
    // partitions, integer-L2 top-16 candidates from the narrow p
    // column, exact cosine rerank only for candidates. Everything up
    // to the rerank is exact integer arithmetic; the oracle replays
    // projection, buckets, probes, candidates and the s01-style rerank
    // JL candidate-index replay: the shared NORMALIZED projection
    // (srht2 — the index machinery projects unit vectors), the sign-bit
    // bucket CASE sum, multi-probe = own bucket + every single-bit
    // xor flip, exact integer squared-L2 top-16 candidates, then the
    // s01-style cosine rerank on the raw embeddings
    Gate("s18_jl_index", Some(
      (s"WITH $duckJlProjNv, " + s"""qb AS (
        |  SELECT vec_id AS query_id, p, $duckJlBucket AS jb
        |  FROM proj_nv WHERE vec_id < 10
        |), cb AS (
        |  SELECT vec_id AS neighbor_id, p, $duckJlBucket AS jbucket
        |  FROM proj_nv
        |), probes AS (
        |  SELECT query_id, p AS qp,
        |    unnest([jb, xor(jb, 1), xor(jb, 2), xor(jb, 4), xor(jb, 8)]) AS jbucket
        |  FROM qb
        |), cand AS (
        |  SELECT pr.query_id, cb.neighbor_id,
        |    CAST(list_sum([ (cb.p[j+1] - pr.qp[j+1]) * (cb.p[j+1] - pr.qp[j+1])
        |                    for j in range(0, 16) ]) AS BIGINT) AS jdist
        |  FROM cb JOIN probes pr ON cb.jbucket = pr.jbucket
        |  WHERE cb.neighbor_id <> pr.query_id
        |), topc AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY jdist, neighbor_id) AS crn
        |    FROM cand) WHERE crn <= 16
        |), rr AS (
        |  SELECT t.query_id, t.neighbor_id,
        |    list_cosine_similarity(qe.embedding, ce.embedding) AS cs
        |  FROM topc t
        |  JOIN embeddings qe ON qe.vec_id = t.query_id
        |  JOIN embeddings ce ON ce.vec_id = t.neighbor_id
        |)
        |SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cs DESC, neighbor_id) AS rnk
        |  FROM rr) WHERE rnk <= 3
        |ORDER BY query_id, rank""".stripMargin)))((s, dir) => {
      val q = embeds(s, dir).filter(col("vec_id") < 10)
      Similarity.jlTopKIndexed(s, jlIndexFor(s, dir), q, "vec_id",
          "embedding", k = 3, candidates = 16)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- graph: HITS hubs & authorities over the kNN similarity
    // graph — the curation prior PageRank's single score conflates:
    // directory-like nodes (pointing at many authorities) score high
    // hub, widely-referenced nodes high auth. Exact fixed-point with
    // L-infinity normalization (raw·scale div max — no sqrt, so every
    // half-step is an exact LONG both engines reproduce); 4 unrolled
    // iterations replayed wave-for-wave by the oracle
    Gate("s16_hits", Some(s16OracleSql))((s, dir) => {
      // hitsInt's half-step cuts run EAGERLY here: scope the shuffle
      // width down for this narrow gate graph (the s09/s15 precedent) —
      // ranks are exact longs, partition-count independent (measured
      // ~15% off the gate wall in a one-JVM interleaved A/B)
      withShufflePartitions(s, 8) {
        val e = embeds(s, dir)
        val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
            maxCell = Int.MaxValue,
            centroids = Some(gateCentroidsN(e, semGateNList)))
          .select(col("query_id"), col("neighbor_id"))
        // cut INSIDE the scope (the er02 lesson): the returned lazy frame
        // runs later at the restored session width — only the trivial
        // ≤n-row orderBy escapes
        graft.ops.Lineage.cut(
          graft.ops.Graph.hitsInt(edges, "query_id", "neighbor_id", iters = 4))
      }.orderBy(col("node"))
    }),

    // ---- graph: exact TRIANGLE COUNTS over the kNN similarity graph
    // (clustering-coefficient numerator — community cohesion / link-farm
    // signal). Degree-ordered orientation: each triangle materializes
    // exactly once as a wedge at its lowest-(degree,id) corner, bounding
    // wedge volume at O(m^1.5) regardless of hub degrees. Exact integer
    // counts — the oracle replays the same orientation and joins
    Gate("s13_triangles", Some(s13OracleSql))((s, dir) => {
      val e = embeds(s, dir)
      val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
          maxCell = Int.MaxValue,
          centroids = Some(gateCentroidsN(e, semGateNList)))
        .select(col("query_id"), col("neighbor_id"))
      graft.ops.Graph.triangleCounts(edges, "query_id", "neighbor_id")
        .orderBy(col("node"))
    }),

    // ---- graph: local clustering coefficient — triangles(v) over the
    // node's neighbor-pair count d(d−1)/2, the cohesion-vs-hub signal
    // (link farms read ~1, spam hubs ~0). Composes the s13 triangle
    // pipeline with the degree table; the lcc is ONE double division of
    // exact longs, so DuckDB replays it bitwise
    Gate("s14_clustering_coeff", Some(s14OracleSql))((s, dir) => {
      val e = embeds(s, dir)
      val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
          maxCell = Int.MaxValue,
          centroids = Some(gateCentroidsN(e, semGateNList)))
        .select(col("query_id"), col("neighbor_id"))
      graft.ops.Graph.clusteringCoefficients(edges, "query_id", "neighbor_id")
        .orderBy(col("node"))
    }),

    // ---- graph: k-core peeling — repeatedly delete degree<k nodes
    // (each wave over the surviving subgraph) to isolate the dense
    // cohesive core. Fixed maxWaves=3 is the determinism contract: the
    // oracle unrolls EXACTLY 3 waves (idempotent once converged, so
    // early Spark convergence still matches — the waterfilling-gate
    // recipe); survivors carry their within-core degree. Fixture: the
    // organic 5-NN graph has NO nonempty core above its min degree
    // (measured: k=6 and k=7 peel it to nothing), so a 14-node clique
    // is planted on vec_id < 14 — the spam-ring shape k-core exists to
    // isolate. The gate proves BOTH sides (the e18 lesson): peeling
    // strips the organic graph AND the planted core survives intact
    Gate("s15_kcore", Some(s15OracleSql))((s, dir) => {
      // the peel loop runs EAGERLY (per-wave counts + checkpoints):
      // scope the shuffle width down for this narrow gate graph
      withShufflePartitions(s, 8) {
        val e = embeds(s, dir)
        val knn = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
            maxCell = Int.MaxValue,
            centroids = Some(gateCentroidsN(e, semGateNList)))
          .select(col("query_id"), col("neighbor_id"))
        val ring = e.filter(col("vec_id") < 14).select(col("vec_id"))
        val clique = ring.select(col("vec_id").as("query_id"))
          .join(ring.select(col("vec_id").as("neighbor_id")),
            col("query_id") < col("neighbor_id"))
        graft.ops.Graph.kCore(knn.unionByName(clique), "query_id",
            "neighbor_id", k = 7, maxWaves = 3)
          .orderBy(col("node"))
      }
    }),

    // ---- graph: personalized PageRank (TrustRank) — restart mass on a
    // trusted seed set only; rank = link-proximity to the seeds over the
    // kNN similarity graph, the classic propagate-trust curation prior
    Gate("s11_trustrank", Some(s11OracleSql))((s, dir) => {
      val e = embeds(s, dir)
      val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
          maxCell = Int.MaxValue,
          centroids = Some(gateCentroidsN(e, semGateNList)))
        .select(col("query_id"), col("neighbor_id"))
      val seeds = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("node"))
      graft.ops.Graph.personalizedPageRankInt(edges, "query_id",
          "neighbor_id", seeds, "node", iters = 5)
        .orderBy(col("node"))
    }),

    // ---- graph: multi-source BFS hop distance from seed vectors over
    // the kNN similarity graph — the influence-radius / contamination-
    // spread primitive. Exactly-4-wave contract: the oracle unrolls 4
    // MATERIALIZED waves (empty frontiers are idempotent, the s15
    // fixed-wave recipe); unreached nodes are omitted by both engines.
    Gate("s19_bfs_hops", Some(s19OracleSql))((s, dir) => withShufflePartitions(s, 8) {
      val e = embeds(s, dir)
      val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
          maxCell = Int.MaxValue,
          centroids = Some(gateCentroidsN(e, semGateNList)))
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
      graft.ops.Lineage.cut(
        graft.ops.Graph.bfsHops(edges, "id_a", "id_b",
            e.filter(col("vec_id") < 3).select("vec_id"), "vec_id",
            maxHops = 4)
          .orderBy(col("id")))
    }),

    // ---- graph: O(log n) large-star/small-star connected components
    // over the kNN graph — the distributed closure path behind every
    // dedup family, verified against DuckDB's exact recursive reach
    Gate("s09_components", Some(s09OracleSql))((s, dir) => {
      // the star loop runs EAGERLY here (checkpoints + convergence
      // checks): scope the shuffle width down for this narrow 25k-edge
      // graph — labels are exact longs, partition-count independent
      withShufflePartitions(s, 8) {
        val e = embeds(s, dir)
        val edges = Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
            maxCell = Int.MaxValue,
            centroids = Some(gateCentroidsN(e, semGateNList)))
          .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
        // cut INSIDE the scope (the er02 lesson): the final label join
        // otherwise runs later at the restored session width
        graft.ops.Lineage.cut(graft.ops.Graph.connectedComponentsStar(edges))
      }.orderBy(col("id"))
    }),

    // ---- clustering: distributed Lloyd k-means with quantized-mean
    // centroid updates — strided raw-row init, every assignment score
    // and every centroid update reproduced bit-for-bit by DuckDB
    Gate("s10_kmeans", Some(s10OracleSql))((s, dir) => {
      // one parquet scan: count, init collect and the Lloyd loop all
      // read the checkpointed copy
      val e = embeds(s, dir).localCheckpoint()
      val n = e.count()
      // strided raw rows (vec_ids are contiguous 0..n-1 at every SF, so
      // DuckDB derives the same init from count(*)); the op's DEFAULT
      // init is a hash-ordered sample that assumes nothing about ids
      val init = Similarity.rawVectorsByIds(e, "vec_id", "embedding",
        (0 until 8).map(j => j * n / 8))
      val (assign, _) = graft.ops.Clustering.kmeans(
        e, "vec_id", "embedding", k = 8, iters = 3,
        initCentroids = Some(init))
      assign.select(col("id").as("vec_id"), col("cluster"))
        .orderBy(col("vec_id"))
    }),

    // ---- similarity: k-NN GRAPH (corpus × corpus top-k inside
    // coarse-quantizer cells — the SemDeDup/graph-clustering primitive).
    // Deterministic strided-row centroids (s03 discipline) so DuckDB
    // reproduces cell assignment, within-cell cosine and the per-node
    // rank end-to-end.
    Gate("s05_knn_graph", Some(s05OracleSql))((s, dir) => {
      val e = embeds(s, dir)
      Similarity.knnGraph(e, "vec_id", "embedding", k = 5,
          maxCell = Int.MaxValue,
          centroids = Some(gateCentroidsN(e, semGateNList)))
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: exact brute-force cosine top-k (two-stage top-k)
    Gate("s01_ann_topk", Some(
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS INTEGER) AS rank,
        |    e.vec_id AS neighbor_id
        |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q, embeddings e
        |  WHERE e.vec_id <> q.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))((s, dir) => {
      val e = embeds(s, dir)
      val queries = e.filter(col("vec_id") < 10)
      Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: attribute-FILTERED exact top-k — the predicate
    // applies before scoring, so all k results satisfy it (post-filtering
    // a candidate list would under-fill)
    Gate("s06_filtered_ann", Some(
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS INTEGER) AS rank,
        |    e.vec_id AS neighbor_id
        |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q, embeddings e
        |  WHERE e.vec_id <> q.vec_id AND e.label % 2 = 0)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))((s, dir) => {
      val e = embeds(s, dir)
      val queries = e.filter(col("vec_id") < 10)
      Similarity.filteredTopK(queries, e, "vec_id", "embedding",
          col("label") % 2 === 0, k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: INT8 scalar quantization — scoring entirely in
    // quantized space (exact integer dots, 4× narrower candidate rows);
    // DuckDB reproduces codes, dots and ranking bit-for-bit
    // codes/dots are exact integers; ranking multiplies the exact dot by
    // the neighbor scale with the SAME expression shape as Spark
    // (maxabs / 127.0 first, then the product) for bitwise-equal order
    Gate("s07_int8_ann", Some(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |), m AS (
        |  SELECT vec_id, emb, list_max([abs(x) for x in emb]) AS maxabs FROM v
        |), c AS (
        |  SELECT vec_id, maxabs / 127.0 AS scale,
        |    CASE WHEN maxabs = 0 THEN [0.0 for x in emb]
        |         ELSE [round(x * 127.0 / maxabs) for x in emb] END AS codes
        |  FROM m
        |)
        |SELECT query_id, rank, neighbor_id, int_dot FROM (
        |  SELECT q.vec_id AS query_id, cc.vec_id AS neighbor_id,
        |    CAST(list_inner_product(q.codes, cc.codes) AS BIGINT) AS int_dot,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_inner_product(q.codes, cc.codes) * cc.scale DESC,
        |        cc.vec_id) AS INTEGER) AS rank
        |  FROM (SELECT * FROM c WHERE vec_id < 10) q, c cc
        |  WHERE cc.vec_id <> q.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))((s, dir) => {
      val e = embeds(s, dir)
      Similarity.int8TopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: LSH-bucketed ANN (the 100 TB shape; recall tested
    // in spec). ORACLE-checked: the gate feeds the operator deterministic
    // integer-component hyperplanes (gridPlanes) that DuckDB reproduces
    // bit-for-bit, so bucket assignment, hamming-1 multi-probe and the
    // cosine rerank are all verified against an independent engine. The
    // Gaussian-plane production default stays covered by the recall spec.
    Gate("s02_ann_lsh", Some(s02OracleSql))((s, dir) => {
      val e = embeds(s, dir)
      val queries = e.filter(col("vec_id") < 10)
      Similarity.lshTopK(queries, e, "vec_id", "embedding", k = 5, dim = 64,
          planes = Some(Similarity.gridPlanes(64, lshGatePlanes)))
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: IVF (coarse-quantized) ANN — corpus cells + probes.
    // ORACLE-checked: centroids are the normalized embeddings of nList
    // deterministic strided vec_ids (both engines pick the same rows via
    // count(*)), so cell assignment, probe selection and the rerank are
    // verified against DuckDB's exact computation. Lloyd-trained
    // centroids (the production default) stay covered by the recall spec.
    Gate("s03_ann_ivf", Some(s03OracleSql))((s, dir) => {
      val e = embeds(s, dir)
      val queries = e.filter(col("vec_id") < 10)
      Similarity.ivfTopK(queries, e, "vec_id", "embedding", k = 5,
          nList = ivfGateNList, nProbe = ivfGateNProbe,
          centroids = Some(gateCentroids(e)))
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: IVF+PQ over a PERSISTED index — 8-byte codes
    // instead of 256-byte vectors in the candidate join, corpus encoded
    // once at index-write time, query batches served by partition-pruned
    // scans. ORACLE-checked: the index is built with deterministic
    // quantizers (centroids + codebooks lifted from strided corpus rows),
    // so DuckDB reproduces cell assignment, PQ encoding (per-subspace
    // argmin), ADC lookup-table scoring and the final rank exactly.
    // Lloyd-trained quantizers stay covered by the cluster-precision and
    // recall@10 specs.
    Gate("s04_ann_ivfpq", Some(s04OracleSql))((s, dir) => {
      val queries = embeds(s, dir).filter(col("vec_id") < 10)
      Similarity.ivfPqTopKIndexed(s, pqIndexFor(s, dir), queries,
        "vec_id", "embedding", k = 5, nProbe = ivfGateNProbe)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    })
  )
}
