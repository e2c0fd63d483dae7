package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Chunking, Dedup, Lm, Pii, Sampling, Similarity, TextAnalysis}

/** Composed-pipeline gates (p*): corpus prep, sampling, packing,
  * splits, the seven-operator full chain, coreset sampling, soft dedup
  * weights, mixture caps, perplexity buckets and decontaminated splits. */
object ComposedGates {
  import GateSupport._
  import Gate.heavy

  /** Mixture-gate fractions (p05), shared with the oracle SQL so both
    * engines derive identical per-domain thresholds. */
  private val mixFractions: Seq[(String, Double)] =
    Seq("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0, "src3" -> 0.25)
  private val mixDefault = 0.1

  /** Split-gate weights (p07); cumulative thresholds computed by the
    * SAME scanLeft as [[Sampling.splitByHash]] so double rounding in the
    * running sum (exact for these weights, but not for arbitrary ones —
    * e.g. 0.1+0.2 ≠ 0.3) can never diverge between the Spark CASE and
    * the oracle CASE. */
  private val splitWeights: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private def splitThresholds: Seq[String] =
    splitWeights.map(_._2).scanLeft(0.0)(_ + _).tail.dropRight(1)
      .map(Sampling.hexThresholdLex)

  /** Packing-gate shard count / token budget (p08). */
  private val packShards = 8
  private val packBudget = 256

  /** DuckDB oracle for the composed corpus-prep pipeline, generated from
    * the SAME stopword/profile lists as the Spark implementation. */
  private def corpusPrepOracle: String = {
    def lst(words: Seq[String]) =
      words.map(w => s"'${w.replace("'", "''")}'").mkString("[", ",", "]")
    val stop = lst(TextAnalysis.LangProfiles("en"))
    val scored = TextAnalysis.LangProfiles.toSeq.map { case (lang, words) =>
      s"printf('%06d', len(list_filter(tk, x -> list_contains(${lst(words)}, x)))) || '$lang'"
    }.mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id < 30
       |), t AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk
       |  FROM corpus),
       |q AS (SELECT doc_id, text, tk,
       |    len(tk) AS word_cnt,
       |    len(list_filter(tk, x -> list_contains($stop, x))) AS stopword_cnt
       |  FROM t
       |  WHERE len(tk) >= 20
       |    AND 20 * len(list_filter(tk, x -> list_contains($stop, x))) >= len(tk)),
       |p AS (SELECT doc_id, text, word_cnt, stopword_cnt, CASE
       |   WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |   WHEN regexp_matches(text, '[\\x{3040}-\\x{30ff}]') THEN 'ja'
       |   WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
       |   WHEN regexp_matches(text, '[\\x{0600}-\\x{06ff}]') THEN 'ar'
       |   ELSE substr(greatest($scored), 7) END AS lang_pred FROM q)
       |SELECT doc_id, CAST(word_cnt AS INTEGER) AS word_cnt,
       |  CAST(stopword_cnt AS INTEGER) AS stopword_cnt
       |FROM p
       |WHERE lang_pred = 'en'
       |  AND doc_id IN (SELECT min(doc_id) FROM p WHERE lang_pred = 'en' GROUP BY text)
       |ORDER BY doc_id""".stripMargin
  }

  /** DuckDB oracle for the p16 full-chain pipeline: each stage reuses
    * its own gate's verified recipe (t09 plant, t15 gopher, t03 langid,
    * d09 normalization, t09 redaction, t11 chunking, p07 split, p08
    * packing), chained as one CTE pipeline; every list/regex constant
    * interpolates from the SAME Scala values the Spark chain compiles. */
  private def pipelineOracle: String = {
    def lst(words: Seq[String]) =
      words.map(w => s"'${w.replace("'", "''")}'").mkString("[", ",", "]")
    val scored = TextAnalysis.LangProfiles.toSeq.map { case (lang, words) =>
      s"printf('%06d', len(list_filter(tk, x -> list_contains(${lst(words)}, x)))) || '$lang'"
    }.mkString(", ")
    val red = Pii.Rules.foldLeft("text") { case (acc, (pat, tok)) =>
      s"regexp_replace($acc, '$pat', '$tok', 'g')"
    }
    val arms = splitWeights.map(_._1).dropRight(1).zip(splitThresholds)
      .map { case (nm, t) =>
        s"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) < '$t' THEN '$nm'"
      }.mkString(" ")
    val splitCase = s"CASE $arms ELSE '${splitWeights.last._1}' END"
    s"""WITH planted AS (
       |  SELECT doc_id, CASE WHEN doc_id < 40 THEN text || ' contact user' || doc_id
       |    || '@example.com or +555 123 4567, host 10.0.' || (doc_id % 256)
       |    || '.7, ssn 123-45-6789' ELSE text END AS text
       |  FROM documents WHERE text IS NOT NULL
       |), tkk AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS tk,
       |    list_filter(list_transform(string_split_regex(text, '\n'), l -> trim(l)),
       |      l -> len(l) > 0) AS lines
       |  FROM planted
       |), gm AS (
       |  SELECT doc_id, text, tk,
       |    CAST(len(tk) AS BIGINT) AS n_words,
       |    CAST(COALESCE(list_sum(list_transform(tk, x -> len(x))), 0) AS BIGINT) AS sum_word_len,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS symbol_cnt,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(lines, x -> regexp_matches(x, '^[-*•]'))) AS BIGINT) AS bullet_lines,
       |    CAST(len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)$$'))) AS BIGINT) AS ellipsis_lines,
       |    CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
       |    CAST(len(list_filter(${lst(TextAnalysis.GopherStopwords)},
       |      w -> list_contains(tk, w))) AS BIGINT) AS stop_hits
       |  FROM tkk
       |), g AS (
       |  SELECT doc_id, text, tk FROM gm
       |  WHERE n_words >= 50 AND n_words <= 100000
       |    AND sum_word_len >= CAST(3.0 AS DOUBLE) * greatest(n_words, 1)
       |    AND sum_word_len <= CAST(10.0 AS DOUBLE) * greatest(n_words, 1)
       |    AND symbol_cnt < CAST(0.1 AS DOUBLE) * greatest(n_words, 1)
       |    AND bullet_lines < CAST(0.9 AS DOUBLE) * greatest(n_lines, 1)
       |    AND ellipsis_lines < CAST(0.3 AS DOUBLE) * greatest(n_lines, 1)
       |    AND alpha_words >= CAST(0.8 AS DOUBLE) * greatest(n_words, 1)
       |    AND stop_hits >= 1
       |), en AS (
       |  SELECT doc_id, text FROM g
       |  WHERE CASE
       |    WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |    WHEN regexp_matches(text, '[\\x{3040}-\\x{30ff}]') THEN 'ja'
       |    WHEN regexp_matches(text, '[\\x{0400}-\\x{04ff}]') THEN 'ru'
       |    WHEN regexp_matches(text, '[\\x{0600}-\\x{06ff}]') THEN 'ar'
       |    ELSE substr(greatest($scored), 7) END = 'en'
       |), norm AS (
       |  SELECT doc_id, text,
       |    trim(regexp_replace(regexp_replace(
       |      translate(text, '$asciiUpper', '$asciiLower'), '[[:punct:]]', ' ', 'g'),
       |      '\\s+', ' ', 'g')) AS n
       |  FROM en
       |), ded AS (
       |  SELECT doc_id, text FROM norm
       |  WHERE doc_id IN (SELECT min(doc_id) FROM norm GROUP BY n)
       |), redacted AS (
       |  SELECT doc_id, $red AS rtext FROM ded
       |), toksr AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(rtext, '\\s+'), t -> len(t) > 0) AS tk2
       |  FROM redacted
       |), t2 AS (SELECT doc_id, tk2, len(tk2) AS n FROM toksr WHERE len(tk2) > 0),
       |chunks AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |    CAST(len(tk2[CAST(i*$chunkStride+1 AS BIGINT) : CAST(least(i*$chunkStride+$chunkWindow, n) AS BIGINT)]) AS INTEGER) AS n_tokens
       |  FROM t2, range(0, 200) r(i) WHERE i*$chunkStride < n
       |), sp AS (
       |  SELECT *, $splitCase AS split FROM chunks
       |), packed AS (
       |  SELECT split, doc_id, chunk_idx, n_tokens,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id, chunk_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
       |  FROM sp
       |)
       |SELECT split,
       |  CAST(COUNT(*) FILTER (WHERE chunk_idx = 0) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_chunks,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(MAX(strt // $packBudget) + 1 AS INTEGER) AS n_bins
       |FROM packed GROUP BY 1
       |ORDER BY split""".stripMargin
  }

  /** DuckDB oracle for p10 (SemDeDup): same normalized vectors and
    * strided-row centroids as the s03 oracle, but cell assignment runs
    * over the corpus ∪ planted copies; pairs form only WITHIN a cell,
    * then the d02/p04 recursive-closure + min-id survivor machinery.
    * The plant multiplies floats by 1.01 (double in SQL) — a ~1e-8
    * normalized-vector difference against a ≥ 0.995 threshold and a
    * ≥ 0.01 centroid-score gap, so no decision can flip (the d05
    * tolerance argument); only ids are output, never raw scores. */
  private def p10OracleSql: String = {
    val js = (0 until semGateNList).map(j => s"($j)").mkString(",")
    s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |allv AS (
       |  SELECT vec_id, emb FROM e
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id, [x * 1.01 for x in emb] AS emb
       |  FROM e WHERE vec_id < 20
       |),
       |nv AS (SELECT vec_id, [x / sqrt(list_inner_product(emb, emb)) for x in emb] AS v FROM allv),
       |cids AS (SELECT j, j * (SELECT count(*) FROM embeddings) // $semGateNList AS cid
       |  FROM (VALUES $js) t(j)),
       |cents AS (SELECT cids.j, nv.v AS cv FROM cids JOIN nv ON nv.vec_id = cids.cid),
       |assign AS (SELECT vec_id, v, cell FROM (
       |  SELECT nv.vec_id, nv.v, c.j AS cell, ROW_NUMBER() OVER (PARTITION BY nv.vec_id
       |    ORDER BY list_inner_product(nv.v, c.cv) DESC, c.j DESC) AS rn
       |  FROM nv CROSS JOIN cents c) WHERE rn = 1),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_inner_product(a.v, b.v) >= 0.995
       |),
       |sym AS (SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL SELECT id_b AS a, id_a AS b FROM pairs),
       |reach(id, r) AS (
       |  SELECT a, b FROM sym
       |  UNION
       |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r),
       |compm AS (SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id)
       |SELECT av.vec_id FROM allv av LEFT JOIN compm m ON m.id = av.vec_id
       |WHERE m.id IS NULL OR m.comp = av.vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** p17 oracle: the kmeans assignment CTEs, then the p02 md5-rank cap
    * per cluster (top-20 by (md5(vec_id), vec_id)) with the cluster's
    * total population riding in-row. */
  private def p17OracleSql: String =
    s"""WITH $kmeansCtes,
       |kept AS (SELECT cluster, vec_id FROM (
       |  SELECT cluster, vec_id, ROW_NUMBER() OVER (PARTITION BY cluster
       |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM af) WHERE rn <= 20),
       |tot AS (SELECT cluster, COUNT(*) AS n_total FROM af GROUP BY cluster)
       |SELECT k.cluster, k.vec_id, t.n_total
       |FROM kept k JOIN tot t ON t.cluster = k.cluster
       |ORDER BY k.cluster, k.vec_id""".stripMargin

  private def waterfillCtes(iters: Int): String = {
    val sb = new StringBuilder(
      """WITH stats AS MATERIALIZED (
        |  SELECT source AS domain,
        |    CAST(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0))) AS BIGINT) AS t
        |  FROM documents GROUP BY source),
        |b AS (SELECT CAST(SUM(t) AS BIGINT) * 9 // 10 AS budget FROM stats),
        |s0 AS MATERIALIZED (
        |  SELECT domain, t,
        |    COALESCE(TRY_CAST(regexp_extract(domain, '[0-9].*$') AS BIGINT) % 1000, 0) + 1 AS w,
        |    (t = 0) AS sat, CAST(0 AS BIGINT) AS alloc
        |  FROM stats)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
        |a$i AS MATERIALIZED (
        |  SELECT b.budget - CAST(COALESCE(SUM(CASE WHEN sat THEN alloc END), 0) AS BIGINT) AS rem,
        |    CAST(COALESCE(SUM(CASE WHEN NOT sat THEN w END), 0) AS BIGINT) AS wa
        |  FROM s${i - 1}, b GROUP BY b.budget),
        |s$i AS MATERIALIZED (
        |  SELECT domain, t, w,
        |    sat OR (a.wa > 0 AND (a.rem * w) // a.wa >= t) AS sat,
        |    CASE WHEN sat THEN alloc
        |         WHEN a.wa > 0 AND (a.rem * w) // a.wa >= t THEN t
        |         ELSE CAST(0 AS BIGINT) END AS alloc
        |  FROM s${i - 1}, a$i a)""".stripMargin)
    }
    sb.append(s""",
      |af AS (
      |  SELECT b.budget - CAST(COALESCE(SUM(CASE WHEN sat THEN alloc END), 0) AS BIGINT) AS rem,
      |    CAST(COALESCE(SUM(CASE WHEN NOT sat THEN w END), 0) AS BIGINT) AS wa
      |  FROM s$iters, b GROUP BY b.budget),
      |plan AS (
      |  SELECT domain, t AS tokens,
      |    CASE WHEN sat THEN alloc
      |         ELSE LEAST((af.rem * w) // af.wa, t) END AS alloc
      |  FROM s$iters, af)""".stripMargin)
    sb.result()
  }

  val gates: Seq[Gate] = Seq(
    // ---- dedup: quality-aware cluster collapse — each near-dup cluster
    // keeps its LONGEST member. The planted copies carry an extra suffix,
    // so the representative is the high-id copy, not the min id: the gate
    // fails if the selection degenerates to nearDedup's min-id rule.
    // Oracle = exact all-pairs Jaccard + recursive closure + per-component
    // argmax in DuckDB.
    // exact all-pairs Jaccard + recursive closure (the d02 oracle's
    // machinery) + per-component argmax on length with min-id tie-break;
    // docs in no pair are their own component
    Gate("p04_cluster_best", Some(
      (s"WITH RECURSIVE $duckNearDupPairs,\n$duckClosure,\n" +
        """scored AS (
          |  SELECT c.doc_id, coalesce(m.comp, c.doc_id) AS comp, len(c.text) AS q
          |  FROM corpus c LEFT JOIN compm m ON m.id = c.doc_id
          |)
          |SELECT doc_id FROM (
          |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY comp
          |    ORDER BY q DESC, doc_id) AS rn
          |  FROM scored) WHERE rn = 1 ORDER BY doc_id""".stripMargin)))((s, dir) => {
      val corpus = docsWithNearDups(s, dir)
      val pairs = Dedup.nearDupPairs(
        corpus.withColumn("shingles", Dedup.textShingles(col("text"), 3)),
        "doc_id", "shingles", threshold = 0.6,
        numHashes = 64, numBands = 32, maxBucket = Int.MaxValue)
      Dedup.bestPerCluster(corpus.withColumn("q", length(col("text"))),
          "doc_id", "q", pairs)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ---- cleaning: boilerplate-LINE removal (the CCNet/RefinedWeb
    // line-dedup pass) — lines recurring in ≥ minDocs distinct docs are
    // stripped, documents are rebuilt in line order. Planted: a footer
    // on every 4th doc (crosses the threshold → removed) and a header
    // on every 25th (stays under it at sf0.01 → kept).
    // line explode via per-row unnest(range(0, len(lst))) — unbounded,
    // exactly mirroring Spark's split+posexplode, so no corpus can
    // outgrow a hard-coded bound; frequent lines by
    // count(DISTINCT doc_id); rebuild =
    // ordered string_agg of the kept lines (FILTER + ORDER BY pos),
    // coalesced to '' when everything was boilerplate — matching
    // Spark's empty array_join
    Gate("p09_boilerplate", Some(
      """WITH aug AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 25 = 0 THEN 'COOKIE NOTICE' || chr(10) ELSE '' END)
        |    || coalesce(text, '') ||
        |    (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'Subscribe to our newsletter today' ELSE '' END)
        |    AS text
        |  FROM documents
        |), ls AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lst FROM aug
        |), lines AS (
        |  SELECT doc_id, i AS pos, lst[CAST(i + 1 AS BIGINT)] AS line
        |  FROM (SELECT doc_id, lst, unnest(range(0, len(lst))) AS i FROM ls)
        |), freq AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line)
        |  WHERE nd >= 30
        |), marked AS (
        |  SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS bp
        |  FROM lines l LEFT JOIN freq f ON f.line = l.line
        |)
        |SELECT doc_id,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE NOT bp), '')) AS clean_md5,
        |  CAST(coalesce(SUM(CASE WHEN bp THEN 1 END), 0) AS BIGINT) AS removed_lines,
        |  CAST(coalesce(SUM(CASE WHEN NOT bp THEN 1 END), 0) AS BIGINT) AS kept_lines
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin))((s, dir) => {
      val aug = docs(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 25 === 0, lit("COOKIE NOTICE\n")).otherwise(lit("")),
          // coalesce BEFORE concat, mirroring the oracle's coalesce(text,
          // ''): Spark concat is NULL if ANY argument is NULL, which would
          // erase the planted lines for a NULL-text doc
          coalesce(col("text"), lit("")),
          when(col("doc_id") % 4 === 0,
            lit("\nSubscribe to our newsletter today")).otherwise(lit(""))).as("text"))
      TextAnalysis.removeBoilerplateLines(aug, "doc_id", "text", minDocs = 30)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("removed_lines"), col("kept_lines"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup: SemDeDup — semantic near-dup collapse inside coarse-
    // quantizer cells. The gate runs with the deterministic strided-row
    // centroids (the s03 discipline) so DuckDB reproduces cell
    // assignment, within-cell cosine, transitive closure and min-id
    // survivor selection end-to-end; Lloyd-trained centroids (the
    // production default) are covered by spec.
    Gate("p10_semdedup", Some(p10OracleSql))((s, dir) => {
      val base = embeds(s, dir).select("vec_id", "embedding")
      val planted = base.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      Similarity.semanticDedup(base.unionByName(planted), "vec_id", "embedding",
          threshold = 0.995, maxCell = Int.MaxValue,
          centroids = Some(gateCentroidsN(embeds(s, dir), semGateNList)))
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // ---- embeddings: chunk→document mean pooling. Groups = vec_id % 50
    // (synthetic "documents" of ~n/50 chunk vectors each); output is
    // exploded to (doc, idx, mean_x) rows so the gate compares scalars.
    // meanPool's 1e-8-quantized scaled-LONG sums make the means
    // independent of partitioning AND engine (raw-double DECIMAL casts
    // are not cross-engine stable — see meanPool's Scaladoc).
    // per-(group, dimension) means over 1e-8-quantized components
    // (scaled-LONG sums — the only double→fixed-point conversion both
    // engines perform identically, see meanPool's Scaladoc); range(1,65)
    // covers the fixed dim-64 embedding
    Gate("p11_mean_pool", Some(
      """WITH e AS (
        |  SELECT vec_id % 50 AS doc_id, CAST(embedding AS DOUBLE[]) AS emb
        |  FROM embeddings
        |), x AS (
        |  SELECT doc_id, CAST(i - 1 AS INTEGER) AS idx,
        |    CAST(round(emb[CAST(i AS BIGINT)] * 100000000.0) AS BIGINT) AS w
        |  FROM e, range(1, 65) r(i)
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_vecs, idx,
        |  CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE)
        |    / (CAST(count(*) AS DOUBLE) * 100000000.0) AS mean_x
        |FROM x GROUP BY doc_id, idx ORDER BY doc_id, idx""".stripMargin))((s, dir) => {
      val e = embeds(s, dir)
        .select((col("vec_id") % 50).as("doc_id"), col("embedding"))
      Similarity.meanPool(e, "doc_id", "embedding")
        .select(col("group_id").as("doc_id"), col("n_vecs"),
          posexplode(col("mean_vec")).as(Seq("idx", "mean_x")))
        .orderBy(col("doc_id"), col("idx"))
    }),

    // ---- pipeline: CLUSTER-BALANCED CORESET SAMPLE — the
    // embedding-space curation pattern (cap every k-means cluster at the
    // same budget so dominant modes stop drowning rare ones): s10's
    // Lloyd assignment composed with the p02 deterministic md5-rank cap,
    // per-cluster totals riding in-row so the balance is visible against
    // the raw populations. Every assignment, rank and total replays in
    // DuckDB
    Gate("p17_cluster_sample", Some(p17OracleSql))((s, dir) => {
      val e = embeds(s, dir).localCheckpoint()
      val n = e.count()
      val init = Similarity.rawVectorsByIds(e, "vec_id", "embedding",
        (0 until 8).map(j => j * n / 8))
      val (assign, _) = graft.ops.Clustering.kmeans(
        e, "vec_id", "embedding", k = 8, iters = 3,
        initCentroids = Some(init))
      // cut: the assignment feeds both the cap and the totals. The
      // Lloyd loop itself CANNOT replay (it runs eagerly at build time
      // and embeds the final centroids as literals) — the cut only
      // keeps the k×dim distance-CASE projection out of the plan twice
      val asg = graft.ops.Lineage.cut(
        assign.select(col("id").as("vec_id"), col("cluster")))
      val kept = Sampling.stratifiedByHash(asg, "cluster", col("vec_id"), n = 20)
      val totals = asg.groupBy(col("cluster")).agg(count(lit(1)).as("n_total"))
      kept.join(totals, Seq("cluster"))
        .select(col("cluster"), col("vec_id"), col("n_total"))
        .orderBy(col("cluster"), col("vec_id"))
    }),

    // ---- sampling: priority (weighted reservoir) sampling — n_chars-
    // weighted top-100 by w/u priority; the Lehmer pseudo-uniform and
    // the single exact-integer division are recomputed by the oracle
    // priority = w·M / v with v two Lehmer steps from the doc_id —
    // all-BIGINT modular arithmetic plus ONE double division of exact
    // integers, so the draw is bitwise identical in both engines
    Gate("p12_priority_sample", Some(
      """SELECT doc_id, n_chars, priority FROM (
        |  SELECT doc_id, n_chars,
        |    CAST(n_chars * 2147483647 AS DOUBLE) /
        |      ((48271 * ((48271 * (doc_id % 2147483646 + 1)) % 2147483647)) % 2147483647) AS priority
        |  FROM documents WHERE n_chars > 0
        |  ORDER BY priority DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin))((s, dir) =>
      Sampling.prioritySample(docs(s, dir).select("doc_id", "n_chars"),
          col("doc_id"), col("n_chars"), n = 100)
        .orderBy(col("doc_id"))),

    // ---- sampling: TEMPERATURE-SCALED MIXTURE — the T5 α = 0.5 rule:
    // per-domain caps ∝ √(domain size) under a total row budget, so
    // dominant domains flatten and rare ones keep proportionally more.
    // Domains are floor(√doc_id) — naturally skewed sizes 1, 3, 5, …
    // so the flattening is visible; √ through the round(x·1e6) stable
    // conversion, caps in pure integer arithmetic, md5-rank selection:
    // every kept row replays bitwise
    // temperature-mix replay: per-domain counts → quantized √ weights
    // (round(sqrt·1e6) — IEEE sqrt is correctly rounded in both
    // engines) → integer caps sw·budget // Σsw → md5-rank ≤ cap
    Gate("p19_temperature_mix", Some(
      """WITH doms AS (
        |  SELECT doc_id, CAST(floor(sqrt(CAST(doc_id AS DOUBLE))) AS BIGINT) AS dom
        |  FROM documents
        |), cnt AS (
        |  SELECT dom, COUNT(*) AS n FROM doms GROUP BY dom
        |), wt AS (
        |  SELECT dom, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS sw
        |  FROM cnt
        |), tot AS (SELECT CAST(SUM(sw) AS BIGINT) AS tw FROM wt),
        |caps AS (SELECT dom, (sw * 150) // tw AS cap FROM wt, tot),
        |ranked AS (
        |  SELECT d.doc_id, d.dom, c.cap,
        |    ROW_NUMBER() OVER (PARTITION BY d.dom
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        |  FROM doms d JOIN caps c ON c.dom = d.dom
        |)
        |SELECT doc_id, dom FROM ranked WHERE rn <= cap ORDER BY doc_id""".stripMargin))((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        floor(sqrt(col("doc_id").cast("double"))).cast("long").as("dom"))
      Sampling.temperatureCap(d, "dom", col("doc_id"), budget = 150L)
        .select(col("doc_id"), col("dom"))
        .orderBy(col("doc_id"))
    }),

    // ---- sampling: CCNET PERPLEXITY BUCKETS — the canonical quality
    // pipeline: odd docs scored against the persisted even-doc LM
    // (t33's artifact shape), cut into head/middle/tail at the 33rd/
    // 66th score percentile via the histogram sketch (t25's geometry,
    // thresholds interpolated at integer precision on the
    // round(score·1e6) scaled longs), then kept per bucket at
    // 1.0/0.5/0.1 through the md5 mixture filter (p05's machinery).
    // Every stage already oracle-checked alone; this gate pins the
    // composition
    // CCNet-bucket replay: the t33 scoring chain → round(score·1e6)
    // scaled longs → t25's bucket/cumulative/target/interpolation CTEs
    // (positive-only: scores ≥ 0) → two thresholds → strictly-above
    // bucket labels → the p05 md5 CASE keep filter, thresholds from
    // the SAME fraction constants as the Spark op's defaults
    Gate("p20_perplexity_buckets", heavy(
      ("WITH " + duckLmScored + ",\n" +
      s"""sc AS (
        |  SELECT doc_id, n_bigrams, lm_score,
        |    CAST(round(lm_score * 1000000.0) AS BIGINT) AS v
        |  FROM scored
        |), bk AS (
        |  SELECT ${duckBucket("v")} AS bucket FROM sc
        |),
        |hg AS (SELECT bucket, COUNT(*) AS cnt FROM bk GROUP BY 1),
        |cum AS (
        |  SELECT bucket, cnt,
        |    CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
        |    CAST(SUM(cnt) OVER () AS BIGINT) AS n
        |  FROM hg
        |),
        |tq AS (
        |  SELECT c.bucket, c.cnt, c.cum, p.pct,
        |    CAST(floor(CAST(p.pct AS DOUBLE) / 100.0 * CAST(c.n - 1 AS DOUBLE)) AS BIGINT) + 1 AS target
        |  FROM cum c, (SELECT unnest([33, 66]) AS pct) p
        |),
        |est AS (
        |  SELECT pct,
        |    ${duckQuantileEst} AS est_value
        |  FROM tq WHERE cum >= target AND cum - cnt < target
        |),
        |thr AS (
        |  SELECT MAX(CASE WHEN pct = 33 THEN est_value END) AS t_lo,
        |         MAX(CASE WHEN pct = 66 THEN est_value END) AS t_hi
        |  FROM est
        |),
        |lab AS (
        |  SELECT sc.doc_id, sc.n_bigrams, sc.lm_score, sc.v AS score_scaled,
        |    CASE WHEN sc.v > thr.t_hi THEN 'head'
        |         WHEN sc.v > thr.t_lo THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM sc, thr
        |)
        |SELECT doc_id, n_bigrams, lm_score, score_scaled, bucket FROM lab
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) <
        |  CASE WHEN bucket = 'head' THEN '${graft.ops.Sampling.hexThresholdLex(1.0)}'
        |       WHEN bucket = 'middle' THEN '${graft.ops.Sampling.hexThresholdLex(0.5)}'
        |       ELSE '${graft.ops.Sampling.hexThresholdLex(0.1)}' END
        |ORDER BY doc_id""".stripMargin)))((s, dir) => {
      val path = graft.Paths.scratchDir("graft-lm-ccnet").resolve("lm").toString
      val base = docs(s, dir)
      Lm.writeLmIndex(base.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
      Lm.perplexityBucketSample(s, path, base.filter(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- sampling: SOFT DEDUP — near-dup cluster members are kept at
    // weight scale/cluster_size instead of dropped (d04's verified
    // pairs → components → integer weights), then the weights drive a
    // deterministic priority sample: a doc in a 2-cluster is sampled
    // at half a singleton's rate, no document is ever lost. Oracle
    // replays the exact all-pairs closure (d04 shape), the per-
    // component sizes, the // weights and the Lehmer priority draw
    // soft-dedup replay: d04's exact closure → per-component sizes →
    // // weights → the p12 Lehmer priority draw over the weights
    Gate("p18_soft_dedup", Some(
      (s"WITH RECURSIVE $duckNearDupPairs,\n$duckClosure,\n" +
        """labeled AS (
          |  SELECT c.doc_id, coalesce(m.comp, c.doc_id) AS comp
          |  FROM corpus c LEFT JOIN compm m ON m.id = c.doc_id
          |), sized AS (
          |  SELECT comp, CAST(count(*) AS BIGINT) AS csize FROM labeled GROUP BY comp
          |), weighted AS (
          |  SELECT l.doc_id, s.csize AS cluster_size, 1000 // s.csize AS weight
          |  FROM labeled l JOIN sized s ON s.comp = l.comp
          |)
          |SELECT doc_id, cluster_size, weight, priority FROM (
          |  SELECT doc_id, cluster_size, CAST(weight AS BIGINT) AS weight,
          |    CAST(weight * 2147483647 AS DOUBLE) /
          |      ((48271 * ((48271 * (doc_id % 2147483646 + 1)) % 2147483647)) % 2147483647) AS priority
          |  FROM weighted WHERE weight > 0
          |  ORDER BY priority DESC, doc_id LIMIT 150)
          |ORDER BY doc_id""".stripMargin)))((s, dir) => {
      val base = docsWithNearDups(s, dir)
      val pairs = Dedup.nearDupPairs(
        base.withColumn("shingles", Dedup.textShingles(col("text"), 3)),
        "doc_id", "shingles", threshold = 0.6,
        numHashes = 64, numBands = 32, maxBucket = Int.MaxValue)
      val weighted = Dedup.softDedupWeights(
        base.select(col("doc_id")), "doc_id", pairs, scale = 1000L)
      Sampling.prioritySample(weighted, col("doc_id"), col("weight"), n = 150)
        .select(col("doc_id"), col("cluster_size"), col("weight"), col("priority"))
        .orderBy(col("doc_id"))
    }),

    // ---- sampling: token-budget mixture plan — integer waterfilling
    // allocates 90% of the corpus' tokens across the 20 sources with
    // weights 1..20; over-weighted domains saturate (whole supply
    // taken) and their unmet share re-flows. Both engines run EXACTLY 6
    // saturation waves, so the plan matches wave-for-wave
    Gate("p14_token_budget", Some(
      s"""${waterfillCtes(6)}
         |SELECT domain, tokens, alloc,
         |  CASE WHEN tokens = 0 THEN CAST(0 AS BIGINT)
         |       ELSE alloc * 1000000000 // tokens END AS fraction_ppb
         |FROM plan ORDER BY domain""".stripMargin))((s, dir) => {
      val d = docs(s, dir)
      val stats = d.select(col("source").as("domain"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .groupBy(col("domain")).agg(sum(col("n")).as("tokens")).cache()
      // ONE corpus aggregation: weights and the budget derive from the
      // collected ≤#domains rows (cached for the op's internal pass).
      // Weight = trailing source number + 1 — the SAME name rule the
      // oracle applies, so a regenerated corpus with a different source
      // set cannot desynchronize the two engines.
      val rows = stats.collect()
      val weights = rows.map { r =>
        val dn = r.getString(0)
        // ASCII digits only (Character.isDigit accepts Unicode digits
        // DuckDB's [0-9] does not) and folded mod 1000 so an arbitrary
        // regenerated name can neither diverge from the oracle nor trip
        // the planner's 64-bit weight bound; >19-digit tails overflow
        // to None here and to NULL under the oracle's TRY_CAST — both 0
        val num = dn.dropWhile(c => c < '0' || c > '9')
        dn -> (num.toLongOption.map(_ % 1000L).getOrElse(0L) + 1L)
      }.toMap
      val total = rows.map(_.getLong(1)).sum
      val out = graft.ops.Sampling.tokenBudgetPlan(stats, weights, total * 9L / 10L)
        .orderBy(col("domain"))
      stats.unpersist()
      out
    }),

    // ---- layout: Morton (Z-order) clustering key — the exact-integer
    // bit interleave behind Layout.zorderWrite's multi-dimensional file
    // pruning; both engines recompute every bit (the layout itself is
    // spec-verified via per-file min/max candidate counts)
    // low 16 bits taken sign-normalized (((x % 65536) + 65536) % 65536)
    // so the replay matches Layout.zValue's two's-complement bitwiseAND
    // for ANY key sign, not just the non-negative ids in this corpus
    Gate("p15_zorder_key", Some(
      """SELECT event_id, CAST(list_sum([
        |    ((((user_id % 65536) + 65536) % 65536) // CAST(2**i AS BIGINT)) % 2
        |      * CAST(2**(2*i+1) AS BIGINT)
        |  + (((((event_id * 2654435761) % 65536) + 65536) % 65536)
        |      // CAST(2**i AS BIGINT)) % 2
        |      * CAST(2**(2*i) AS BIGINT)
        |  for i in range(0, 16)]) AS BIGINT) AS z
        |FROM events ORDER BY event_id""".stripMargin))((s, dir) => {
      val e = Tables.load(s, dir, "events")
      e.select(col("event_id"),
          graft.ops.Layout.zValue(col("user_id") % 65536L,
            (col("event_id") * 2654435761L) % 65536L).as("z"))
        .orderBy(col("event_id"))
    }),

    // ---- sampling: deterministic global shuffle — contiguous 1-based
    // positions in md5(seed:key) order; the order is a pure function of
    // (seed, key), so the oracle recomputes the exact position of every
    // row with a ROW_NUMBER over the same md5 (engine-portable by design)
    // the shuffle order is md5('e1:' || key) with a key-string tie-break
    // — both engines emit lowercase-hex md5 and sort strings bytewise,
    // so every position is recomputable exactly
    Gate("p13_global_shuffle", Some(
      """SELECT doc_id,
        |  ROW_NUMBER() OVER (
        |    ORDER BY md5('e1:' || CAST(doc_id AS VARCHAR)),
        |             CAST(doc_id AS VARCHAR)) AS shuffle_pos
        |FROM documents
        |ORDER BY doc_id""".stripMargin))((s, dir) =>
      Sampling.shuffleByHash(docs(s, dir).select("doc_id"),
          col("doc_id"), seed = "e1")
        .orderBy(col("doc_id"))),

    // ---- composed corpus-prep pipeline (the end-to-end training-data
    // shape): quality gate → language filter → exact dedup, over a
    // corpus with planted exact copies so the dedup stage does real work.
    // The stopword-ratio filter uses integer arithmetic (20·cnt ≥ words
    // ⇔ ratio ≥ 0.05) so no float comparison can diverge cross-engine.
    Gate("p01_corpus_prep", Some(corpusPrepOracle))((s, dir) => {
      val base = docs(s, dir).select("doc_id", "text")
      val copies = base.filter(col("doc_id") < 30)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val q = TextAnalysis.qualityMetrics(base.unionByName(copies))
        .filter(col("word_cnt") >= 20 &&
          col("stopword_cnt") * 20 >= col("word_cnt"))
      val l = TextAnalysis.languageId(q).filter(col("lang_pred") === "en")
      Dedup.exactByHash(l, "text", "doc_id")
        .select(col("doc_id"), col("word_cnt"), col("stopword_cnt"))
        .orderBy(col("doc_id"))
    }),

    // ---- sampling: deterministic stratified sample — n docs per lang
    // stratum chosen by smallest md5(doc_id); reproducible under any
    // partitioning and recomputable by the oracle engine.
    Gate("p02_stratified_sample", Some(
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin))((s, dir) =>
      Sampling.stratifiedByHash(docs(s, dir).select("doc_id", "lang"),
          "lang", col("doc_id"), 20)
        .select(col("lang"), col("doc_id")).orderBy(col("lang"), col("doc_id"))),

    // ---- sampling: deterministic Bernoulli sample via md5-threshold
    // filter (pure per-row predicate — no RNG, no shuffle).
    Gate("p03_hash_sample", Some(
      s"""SELECT doc_id FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) < '${graft.ops.Sampling.hexThreshold(0.3)}'
         |ORDER BY doc_id""".stripMargin))((s, dir) =>
      Sampling.bernoulliByHash(docs(s, dir), col("doc_id"), 0.3)
        .select(col("doc_id")).orderBy(col("doc_id"))),

    // ---- sampling: per-domain mixture — each source kept at its own
    // deterministic fraction (up/down-weighting a training mix). Still a
    // pure per-row codegen filter; the oracle recomputes the exact
    // per-domain md5 thresholds.
    // per-domain CASE over the same md5 threshold machinery; thresholds
    // derived from the SAME fraction constants as the Spark query
    Gate("p05_mixture_sample", Some({
      val arms = mixFractions.map { case (d, f) =>
        s"WHEN source = '$d' THEN '${Sampling.hexThresholdLex(f)}'"
      }.mkString("\n         |    ")
      s"""SELECT doc_id, source FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) <
         |  CASE $arms
         |    ELSE '${Sampling.hexThresholdLex(mixDefault)}' END
         |ORDER BY doc_id""".stripMargin
    }))((s, dir) =>
      Sampling.mixtureByHash(docs(s, dir).select("doc_id", "source"),
          "source", col("doc_id"), mixFractions.toMap, mixDefault)
        .orderBy(col("doc_id"))),

    // ---- reporting: corpus composition by source — doc/token counts,
    // token share, cumulative share largest-first. The mixture-planning
    // report; shares are single double divisions of exact BIGINT sums.
    // DuckDB SUM(BIGINT) → HUGEINT: cast back to BIGINT before the
    // double division so both engines divide identical exact integers
    Gate("p06_composition", Some(
      """WITH agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(CAST(SUM(n_tokens) OVER () AS BIGINT) AS DOUBLE) AS token_share,
        |  CAST(CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(SUM(n_tokens) OVER () AS BIGINT) AS DOUBLE) AS cum_share
        |FROM agg ORDER BY n_tokens DESC, source""".stripMargin))((s, dir) =>
      TextAnalysis.corpusComposition(docs(s, dir), "source")
        .orderBy(col("n_tokens").desc, col("source"))),

    // ---- splitting: deterministic weighted train/val/test labels from
    // the md5(key) space — no RNG, partitioning-invariant, the same doc
    // lands in the same split on every rerun (and in the oracle engine).
    // interval CASE from the SAME cumulative thresholds as the Spark
    // operator (splitThresholds); last split is the ELSE arm
    Gate("p07_split", Some({
      val arms = splitWeights.map(_._1).dropRight(1).zip(splitThresholds)
        .map { case (nm, t) =>
          s"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) < '$t' THEN '$nm'"
        }.mkString("\n        |  ")
      s"""SELECT doc_id,
         |  CASE $arms
         |  ELSE '${splitWeights.last._1}' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    }))((s, dir) =>
      Sampling.splitByHash(docs(s, dir).select("doc_id"), col("doc_id"),
          splitWeights)
        .orderBy(col("doc_id"))),

    // ---- split + decontamination — the step between p07 and training
    // in every production pipeline: hash-split into train/eval, then
    // QUARANTINE any train doc sharing a distinct 8-gram with the eval
    // arm (exact-gram membership; t35's Bloom screen is the
    // probabilistic scale path). The planted near-dup copies and the
    // corpus's organic exact dups land across arms, so both the
    // quarantine and pass-through paths do real work.
    // decontaminated-split replay: the p07 hash-CASE with a 0.8/0.2
    // spec, distinct 8-grams per doc (whole-text pseudo-gram under 8
    // tokens — the wordShingles contract), eval-gram membership join,
    // quarantine relabel + per-doc shared counts
    Gate("p21_decontam_split", heavy({
      val thr = Sampling.hexThresholdLex(0.8)
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |    text || ' perturbed suffix token' AS text
         |  FROM documents WHERE doc_id < 50
         |), labeled AS (
         |  SELECT doc_id, text,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) < '$thr'
         |         THEN 'train' ELSE 'eval' END AS split
         |  FROM corpus
         |), toks AS (
         |  SELECT doc_id, split,
         |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0) AS tk
         |  FROM labeled
         |), tg AS (
         |  SELECT doc_id, split,
         |    CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
         |         ELSE list_distinct([array_to_string(
         |                tk[CAST(i + 1 AS BIGINT) : CAST(i + 8 AS BIGINT)], ' ')
         |              for i in range(0, len(tk) - 7)]) END AS gs
         |  FROM toks
         |), eg AS (
         |  SELECT DISTINCT unnest(gs) AS g FROM tg WHERE split = 'eval'
         |), tr AS (
         |  SELECT doc_id, unnest(gs) AS g FROM tg WHERE split != 'eval'
         |), sh AS (
         |  SELECT doc_id, count(*) AS nsg FROM tr JOIN eg USING (g) GROUP BY doc_id
         |)
         |SELECT l.doc_id,
         |  CASE WHEN l.split != 'eval' AND sh.nsg IS NOT NULL THEN 'quarantine'
         |       ELSE l.split END AS split,
         |  CAST(coalesce(sh.nsg, 0) AS BIGINT) AS n_shared_grams
         |FROM labeled l LEFT JOIN sh USING (doc_id)
         |ORDER BY l.doc_id""".stripMargin
    }))((s, dir) =>
      Sampling.decontaminatedSplit(docsWithNearDups(s, dir), "doc_id",
          "text", col("doc_id"), Seq("train" -> 0.8, "eval" -> 0.2),
          evalSplit = "eval", n = 8)
        .select(col("doc_id"), col("split"), col("n_shared_grams"))
        .orderBy(col("doc_id"))),

    // ---- packing: chunk documents, then greedily concat-pack the
    // chunks into fixed 256-token bins within md5-balanced shards —
    // bin_id/bin_offset are a pure function of (shard order, token
    // counts), recomputed exactly by the oracle.
    // re-chunk (the t11 CTE), shard by doc_id mod, then the same
    // running-total window; DuckDB window SUM(INTEGER) → HUGEINT is cast
    // back to BIGINT before the subtraction and floor-divisions
    Gate("p08_packing", Some(
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0) AS tk
         |  FROM documents
         |), t2 AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
         |chunks AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         |    CAST(len(tk[CAST(i*$chunkStride+1 AS BIGINT) : CAST(least(i*$chunkStride+$chunkWindow, n) AS BIGINT)]) AS INTEGER) AS n_tokens
         |  FROM t2, range(0, 200) r(i) WHERE i*$chunkStride < n
         |), sh AS (SELECT *, CAST(doc_id % $packShards AS INTEGER) AS shard FROM chunks),
         |packed AS (
         |  SELECT shard, doc_id, chunk_idx, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS strt
         |  FROM sh)
         |SELECT shard, CAST(strt // $packBudget AS INTEGER) AS bin_id,
         |  CAST(strt % $packBudget AS INTEGER) AS bin_offset,
         |  doc_id, chunk_idx, n_tokens
         |FROM packed ORDER BY shard, doc_id, chunk_idx""".stripMargin))((s, dir) => {
      val chunks = Chunking.chunkByTokens(docs(s, dir), "doc_id", "text",
        chunkWindow, chunkStride)
      Chunking.packGreedy(
          chunks.withColumn("shard", pmod(col("doc_id"), lit(packShards)).cast("int")),
          col("shard"), col("n_tokens"), packBudget,
          Seq(col("doc_id"), col("chunk_idx")))
        .select(col("shard"), col("bin_id"), col("bin_offset"),
          col("doc_id"), col("chunk_idx"), col("n_tokens"))
        .orderBy(col("shard"), col("doc_id"), col("chunk_idx"))
    }),

    // ---- FULL-CHAIN PIPELINE INTEGRATION: seven already-verified
    // operators composed end-to-end the way a real pretraining prep job
    // runs them — plant PII (t09 recipe) → gopherQuality gate → langid
    // 'en' filter → normalized exact dedup (d09 key) → Pii.redact →
    // chunkByTokens → splitByHash per doc → packGreedy within each
    // split — then per-split doc/chunk/token/bin counts. Catches the
    // cross-operator contract bugs (null-safety, column collisions,
    // order dependence) per-operator gates cannot; every stage's DuckDB
    // recipe already exists, the oracle chains them in one CTE pipeline
    Gate("p16_pipeline", Some(pipelineOracle))((s, dir) => {
      val planted = docs(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          when(col("doc_id") < 40, concat(col("text"),
              lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or +555 123 4567, host 10.0."),
              (col("doc_id") % 256).cast("string"), lit(".7, ssn 123-45-6789")))
            .otherwise(col("text")).as("text"))
      val q = TextAnalysis.gopherQuality(planted, minStopHits = 1)
        .filter(col("gopher_pass")).select("doc_id", "text")
      // en feeds BOTH the exact-dedup group build and the join back —
      // uncut, the gopher+langid regex chain executes twice (the graph
      // multi-branch-reference class); cut once, survivors-sized
      val en = graft.ops.Lineage.cut(TextAnalysis.languageId(q)
        .filter(col("lang_pred") === "en").select("doc_id", "text"))
      val canon = Dedup.exactGroupsByHash(
        en.select(col("doc_id"),
          TextAnalysis.normalizeForDedup(col("text")).as("norm")),
        "norm", "doc_id").select(col("canonical_id").as("doc_id"))
      val ded = en.join(canon, Seq("doc_id"))
      val red = ded.select(col("doc_id"), Pii.redact(col("text")).as("text"))
      val chunks = Chunking.chunkByTokens(red, "doc_id", "text",
        chunkWindow, chunkStride)
      val packed = Chunking.packGreedy(
        Sampling.splitByHash(chunks, col("doc_id"), splitWeights),
        col("split"), col("n_tokens"), packBudget,
        Seq(col("doc_id"), col("chunk_idx")))
      // ONE pass over the packed chunks: n_docs counts chunk_idx==0
      // rows (every doc surviving gopher has ≥ minWords tokens, so
      // exactly one zeroth chunk) — not a second full-chain
      // recomputation for a doc-level frame, and not countDistinct
      // over chunk rows (Spark's two-exchange distinct expansion)
      packed.groupBy(col("split")).agg(
          sum(when(col("chunk_idx") === 0, 1L).otherwise(0L)).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("sum_tokens"),
          (max(col("bin_id")) + lit(1)).as("n_bins"))
        .orderBy(col("split"))
    })
  )
}
