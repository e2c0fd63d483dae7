package graft.queries

import org.apache.spark.sql.functions._

/** SQL-text kernel gates (f*): the registered graft_* functions (ANN,
  * sampling, sketch hashes, web/text prep, media/audio decode and
  * fingerprints) driven from pure SQL. */
object KernelGates {
  import GateSupport._
  import DedupGates.{nfcMarkerDecomposed, nfcMarkerPre, nfcMarkerSingleton}

  val gates: Seq[Gate] = Seq(
    // ---- SQL-text kernel surface: the registered graft_* functions
    // drive an exact ANN entirely from spark.sql(...) — same kernels,
    // second surface; DuckDB reproduces the ranking like s01
    Gate("f01_sql_ann", Some(
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id) AS INTEGER) AS rank,
        |    e.vec_id AS neighbor_id
        |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q, embeddings e
        |  WHERE e.vec_id <> q.vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin))((s, dir) => {
      graft.functions.SqlKernels.registerAll(s)
      embeds(s, dir).createOrReplaceTempView("graft_sql_emb")
      s.sql(
        """SELECT query_id, rank, neighbor_id FROM (
          |  SELECT q.vec_id AS query_id,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
          |      ORDER BY graft_dot(q.nv, c.nv) DESC, c.vec_id) AS INT) AS rank,
          |    c.vec_id AS neighbor_id
          |  FROM (SELECT vec_id, graft_normalize(embedding) AS nv
          |        FROM graft_sql_emb WHERE vec_id < 10) q,
          |       (SELECT vec_id, graft_normalize(embedding) AS nv
          |        FROM graft_sql_emb) c
          |  WHERE c.vec_id <> q.vec_id)
          |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)
    }),

    // ---- SQL-text sampling surface: graft_keep + graft_split drive
    // the deterministic-sampling tier from pure SQL — the builders plan
    // the SAME md5-threshold expressions as the Column API, and DuckDB
    // recomputes both from the shared threshold constants
    // thresholds come from the operator's own helpers (hexThresholdLex /
    // splitArms), never hand-summed cumulative weights — running double
    // sums round differently than literals for arbitrary weights
    Gate("f02_sql_sampling", Some({
      val keepThr = graft.ops.Sampling.hexThresholdLex(0.5)
      val (arms, last) = graft.ops.Sampling.splitArms(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val armSql = arms.map { case (nm, t) =>
        s"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) < '$t' THEN '$nm'"
      }.mkString(" ")
      s"""SELECT doc_id,
         |  CASE $armSql ELSE '$last' END AS split
         |FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) < '$keepThr'
         |ORDER BY doc_id""".stripMargin
    }))((s, dir) => {
      graft.functions.SqlKernels.registerAll(s)
      docs(s, dir).createOrReplaceTempView("graft_sql_docs")
      s.sql(
        """SELECT doc_id,
          |  graft_split(doc_id, 'train', 0.8, 'val', 0.1, 'test', 0.1) AS split
          |FROM graft_sql_docs
          |WHERE graft_keep(doc_id, 0.5)
          |ORDER BY doc_id""".stripMargin)
    }),

    // ---- SQL-text sketch surface: a KMV distinct-count AND a
    // histogram-sketch median built from PURE SQL — graft_hash60 /
    // graft_hist_bucket as registered functions, the bottom-k via
    // window rank (the oracle's own shape), the estimator and the
    // quantile extraction as the same literal-for-literal expressions;
    // value domain residue-suffixed like t21 so the estimator branch
    // engages
    // the SQL-surface KMV replays exactly like t21 (same value domain,
    // same fold, same estimator literals), minus the exact column
    Gate("f03_sql_sketch", Some(
      raw"""WITH toks AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |      t -> len(t) > 0)) || '#' || CAST(doc_id % 97 AS VARCHAR) AS v
        |  FROM documents
        |),
        |hs AS (
        |  SELECT DISTINCT source,
        |    $duckHash60 AS hv
        |  FROM (SELECT source, md5(v) AS hh FROM toks)
        |),
        |ranked AS (
        |  SELECT source, hv,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
        |  FROM hs
        |),
        |sk AS (
        |  SELECT source, COUNT(*) AS n_sketch, MAX(hv) AS hk
        |  FROM ranked WHERE rn <= 64 GROUP BY source
        |),
        |hg AS (
        |  SELECT source,
        |    ${duckBucket("n_chars")} AS bucket,
        |    COUNT(*) AS cnt
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0 GROUP BY 1, 2
        |),
        |hc AS (
        |  SELECT source, bucket, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS BIGINT) AS cum,
        |    CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM hg
        |),
        |med AS (
        |  SELECT source,
        |    ${duckQuantileEst} AS med_chars
        |  FROM (SELECT *, CAST(floor(CAST(50 AS DOUBLE) / 100.0
        |          * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 AS target FROM hc)
        |  WHERE cum >= target AND cum - cnt < target
        |)
        |SELECT sk.source, sk.n_sketch,
        |  CASE WHEN sk.n_sketch < 64 THEN sk.n_sketch
        |       ELSE CAST(round(63.0 / (GREATEST(CAST(sk.hk AS DOUBLE), 1.0)
        |         / 1152921504606846976.0)) AS BIGINT) END AS est_distinct,
        |  med.med_chars
        |FROM sk JOIN med ON med.source = sk.source
        |ORDER BY sk.source""".stripMargin))((s, dir) => {
      graft.functions.SqlKernels.registerAll(s)
      docs(s, dir).createOrReplaceTempView("graft_sql_docs")
      s.sql(
        """WITH toks AS (
          |  SELECT source, tok || '#' || CAST(doc_id % 97 AS STRING) AS v FROM (
          |    SELECT source, doc_id,
          |      explode(filter(split(lower(text), '\\s+'), t -> length(t) > 0)) AS tok
          |    FROM graft_sql_docs)
          |),
          |hs AS (SELECT DISTINCT source, graft_hash60(v) AS hv FROM toks),
          |ranked AS (
          |  SELECT source, hv,
          |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
          |  FROM hs
          |),
          |sk AS (
          |  SELECT source, COUNT(*) AS n_sketch, MAX(hv) AS hk
          |  FROM ranked WHERE rn <= 64 GROUP BY source
          |),
          |hg AS (
          |  SELECT source, graft_hist_bucket(n_chars, 5) AS bucket, COUNT(*) AS cnt
          |  FROM graft_sql_docs WHERE n_chars IS NOT NULL AND n_chars >= 0
          |  GROUP BY source, bucket
          |),
          |hc AS (
          |  SELECT source, bucket, cnt,
          |    SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
          |    SUM(cnt) OVER (PARTITION BY source) AS n
          |  FROM hg
          |),
          |med AS (
          |  SELECT source,
          |    CASE WHEN bucket < 32 THEN bucket
          |         ELSE (32 + bucket % 32)
          |              * shiftleft(CAST(1 AS BIGINT), CAST(bucket div 32 - 1 AS INT)) END
          |    + ((target - (cum - cnt) - 1) *
          |       CASE WHEN bucket < 32 THEN CAST(1 AS BIGINT)
          |            ELSE shiftleft(CAST(1 AS BIGINT), CAST(bucket div 32 - 1 AS INT)) END
          |      ) div cnt AS med_chars
          |  FROM (SELECT *, CAST(floor(CAST(50 AS DOUBLE) / 100.0D
          |          * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1 AS target FROM hc)
          |  WHERE cum >= target AND cum - cnt < target
          |)
          |SELECT sk.source, sk.n_sketch,
          |  CASE WHEN sk.n_sketch < 64 THEN sk.n_sketch
          |       ELSE CAST(round(63.0D / (GREATEST(CAST(sk.hk AS DOUBLE), 1.0D)
          |         / 1152921504606846976.0D)) AS BIGINT) END AS est_distinct,
          |  med.med_chars
          |FROM sk JOIN med ON med.source = sk.source
          |ORDER BY sk.source""".stripMargin)
    }),

    // ---- SQL-text surface: the WEB/TEXT PREP tier driven entirely
    // from spark.sql — graft_normalize_url / graft_host / graft_domain
    // / graft_extract_text are the SAME Column-API chains
    // (deep-converted builders share every pattern constant), so this
    // is t31's normalize → dedup → domain → blocklist pipeline as pure
    // SQL; the extract runs over a planted wrapper whose ground truth
    // the oracle recomputes (the mm04 pattern)
    // f04 replay: identical shared fragments driven to the per-domain
    // report; the extract_len replay is the planted ground truth
    // ('page ' || url_norm after tag-strip + collapse) per the mm04
    // oracle pattern
    Gate("f04_sql_webprep", Some(
      (s"WITH $duckUrlBuilt,\n$duckUrlNorm,\n$duckUrlDed,\n$duckUrlHostsDoms,\n" +
        """screened AS (
          |  SELECT * FROM doms WHERE domain NOT IN ('site0.com', 'site3.co.uk')
          |)
          |SELECT domain, COUNT(*) AS n_urls,
          |  CAST(SUM(dup_count) AS BIGINT) AS n_docs,
          |  MIN(url_norm) AS first_url,
          |  CAST(SUM(5 + length(url_norm)) AS BIGINT) AS sum_extract_len
          |FROM screened GROUP BY domain ORDER BY domain""".stripMargin)))((s, dir) => {
      graft.functions.SqlKernels.registerAll(s)
      docs(s, dir).createOrReplaceTempView("graft_sql_docs")
      s.sql(
        s"""WITH u0 AS (SELECT doc_id, doc_id % 50 AS core FROM graft_sql_docs),
          |built AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 2 = 1
          |         THEN translate(sh, '$asciiLower', '$asciiUpper') ELSE sh END
          |    || CASE WHEN doc_id % 4 = 0
          |            THEN CASE WHEN core % 2 = 0 THEN ':80' ELSE ':443' END
          |            ELSE '' END
          |    || '/p/' || CAST(core % 11 AS STRING)
          |    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
          |    || CASE WHEN core % 4 = 0 THEN '?id=' || CAST(core AS STRING) ELSE '' END
          |    || CASE WHEN doc_id % 3 = 1
          |            THEN CASE WHEN core % 4 = 0 THEN '&utm_source=g'
          |                      ELSE '?utm_source=g' END
          |            ELSE '' END
          |    || CASE WHEN doc_id % 2 = 1 THEN '#sec' || CAST(doc_id AS STRING)
          |            ELSE '' END AS url
          |  FROM (
          |    SELECT doc_id, core,
          |      (CASE WHEN core % 2 = 0 THEN 'http' ELSE 'https' END) || '://'
          |      || (CASE WHEN core % 3 = 0 THEN 'www.' ELSE '' END)
          |      || 'site' || CAST(core % 7 AS STRING) || '.'
          |      || (CASE WHEN core % 5 = 0 THEN 'com' WHEN core % 5 = 1 THEN 'org'
          |               WHEN core % 5 = 2 THEN 'co.uk' WHEN core % 5 = 3 THEN 'io'
          |               ELSE 'net' END) AS sh
          |    FROM u0)
          |),
          |normd AS (
          |  SELECT doc_id, graft_normalize_url(url) AS url_norm FROM built
          |),
          |ded AS (
          |  SELECT url_norm, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
          |  FROM normd GROUP BY url_norm
          |),
          |doms AS (
          |  SELECT url_norm, dup_count,
          |    graft_domain(graft_host(url_norm)) AS domain,
          |    length(graft_extract_text('<p>page ' || url_norm || '</p>')) AS extract_len
          |  FROM ded
          |),
          |screened AS (
          |  SELECT * FROM doms WHERE domain NOT IN ('site0.com', 'site3.co.uk')
          |)
          |SELECT domain, COUNT(*) AS n_urls, SUM(dup_count) AS n_docs,
          |  MIN(url_norm) AS first_url, SUM(extract_len) AS sum_extract_len
          |FROM screened GROUP BY domain ORDER BY domain""".stripMargin)
    }),

    // ---- SQL-text media surface: a pure spark.sql pipeline builds
    // REAL 16-bit PCM WAV containers (the mm07/mm08 sample formula),
    // decodes them with graft_audio_stats and fingerprints them with
    // graft_audio_fingerprint — the SQL-only user's audio path. The
    // oracle replays samples from the formula (never parsing bytes)
    // and the fingerprint through the shared biased duckPhash chain.
    // SQL-audio replay: samples straight from the doc_id formula (the
    // WAV container is never parsed — mm07's ground-truth pattern),
    // features in exact integer arithmetic, fingerprint through the
    // shared biased duckPhash chain
    Gate("f05_sql_audio", Some(
      (s"""WITH smp AS (
         |  SELECT doc_id, ${duckWavSamples("doc_id", "0", "0", bump = false)} AS s
         |  FROM documents WHERE doc_id < 60
         |), b AS (
         |  SELECT doc_id, [x + 32768 for x in s] AS bytes FROM smp
         |),
         |""".stripMargin + duckPhash("b", "f") + "\n" +
        """SELECT smp.doc_id,
          |  CAST(8000 AS BIGINT) AS sample_rate,
          |  CAST(len(s) AS BIGINT) AS n_samples,
          |  CAST(list_sum([abs(x) for x in s]) // len(s) AS BIGINT) AS mean_abs,
          |  hf.ph AS afp
          |FROM smp JOIN hf ON smp.doc_id = hf.doc_id
          |ORDER BY smp.doc_id""".stripMargin)))((s, dir) => {
      graft.functions.SqlKernels.registerAll(s)
      docs(s, dir).createOrReplaceTempView("graft_sql_docs")
      s.sql(
        """WITH base AS (
          |  SELECT doc_id, 400 + doc_id % 97 AS n
          |  FROM graft_sql_docs WHERE doc_id < 60
          |), wav AS (
          |  SELECT doc_id, unhex(concat(
          |    '52494646',
          |    concat_ws('', transform(sequence(0, 3), k ->
          |      lpad(hex(shiftright(36 + 2*n, 8*k) & 255), 2, '0'))),
          |    '57415645', '666D7420', '10000000', '0100', '0100',
          |    '401F0000', '803E0000', '0200', '1000', '64617461',
          |    concat_ws('', transform(sequence(0, 3), k ->
          |      lpad(hex(shiftright(2*n, 8*k) & 255), 2, '0'))),
          |    concat_ws('', transform(sequence(0, n - 1), i ->
          |      concat(
          |        lpad(hex(pmod(pmod((doc_id+3)*(i*i + i*7) + doc_id*31, 1601)
          |          - 800, 65536) & 255), 2, '0'),
          |        lpad(hex(shiftright(pmod(pmod((doc_id+3)*(i*i + i*7)
          |          + doc_id*31, 1601) - 800, 65536), 8)), 2, '0'))))
          |  )) AS w
          |  FROM base
          |), st AS (
          |  SELECT doc_id, graft_audio_stats(w, 0) AS a,
          |    graft_audio_fingerprint(w) AS afp
          |  FROM wav
          |)
          |SELECT doc_id, element_at(a, 1) AS sample_rate,
          |  element_at(a, 4) AS n_samples, element_at(a, 6) AS mean_abs, afp
          |FROM st ORDER BY doc_id""".stripMargin)
    }),

    // ---- SQL-text surface for the round-11 operators: confusable
    // folding and the SRHT JL projection from PURE SQL. Each doc's
    // text is adversarially "confused" in-query (ZWSP prefix +
    // full-width letter substitution); graft_fold_confusables must
    // erase exactly the plant (confused_len = folded_len + 1 — the
    // ZWSP removed; md5 replayed from the shared fold chain), and
    // graft_jl_project's first/last coordinates replay through the
    // shared SRHT fragment
    // the SQL fold/JL surface replayed from the SHARED constants:
    // chr(8203)=ZWSP plant, the d15 fold chain, md5 of the folded
    // text, and the SRHT projection fragment's first/last coordinates
    Gate("f06_sql_jl_fold", Some(
      (s"""WITH confused AS (
         |  SELECT doc_id,
         |    chr(8203) || translate(text, 'aeiost', 'ａｅｉｏｓｔ') AS c
         |  FROM documents WHERE doc_id < 30
         |), folded AS (
         |  SELECT doc_id, c, """.stripMargin +
        duckLigFold(s"translate(regexp_replace(c, $duckZwClass, '', 'g'), $duckConfFrom, $duckConfTo)") +
        s""" AS f
         |  FROM confused
         |), $duckJlProj
         |SELECT d.doc_id, CAST(length(d.c) AS INTEGER) AS confused_len,
         |  CAST(length(d.f) AS INTEGER) AS folded_len,
         |  md5(d.f) AS folded_md5,
         |  e.p[1] AS p1, e.p[16] AS p16
         |FROM folded d JOIN proj e ON e.vec_id = d.doc_id
         |WHERE d.doc_id < 30
         |ORDER BY d.doc_id""".stripMargin)))((s, dir) => {
      graft.functions.SqlKernels.registerAll(s)
      docs(s, dir).createOrReplaceTempView("graft_sql_docs")
      embeds(s, dir).createOrReplaceTempView("graft_sql_emb")
      s.sql(
        """WITH confused AS (
          |  SELECT doc_id,
          |    concat('​', translate(text, 'aeiost', 'ａｅｉｏｓｔ')) AS c
          |  FROM graft_sql_docs WHERE doc_id < 30
          |), folded AS (
          |  SELECT doc_id, c, graft_fold_confusables(c) AS f FROM confused
          |), proj AS (
          |  SELECT vec_id, graft_jl_project(embedding, 64, 16) AS p
          |  FROM graft_sql_emb WHERE vec_id < 30
          |)
          |SELECT d.doc_id, length(d.c) AS confused_len,
          |  length(d.f) AS folded_len,
          |  md5(cast(d.f AS binary)) AS folded_md5,
          |  element_at(e.p, 1) AS p1, element_at(e.p, 16) AS p16
          |FROM folded d JOIN proj e ON e.vec_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin)
    }),

    // ---- SQL surface: Unicode NFC through the registered kernel — the
    // d16 canonical-equivalence dedup expressed purely in SQL text via
    // graft_nfc (FunctionRegistry → raw StaticInvoke tree, the f04
    // registration path); oracle replays with DuckDB's nfc_normalize.
    // graft_nfkc is registered too but spec-covered only (no DuckDB
    // NFKC counterpart — the d16/UnicodeNorm scaladoc contract).
    // the d16 oracle shape at the f07 fixture range: nfc_normalize is
    // DuckDB's NFC (utf8proc) — byte-identical to Java's Normalizer on
    // the stabilized algorithm (probed + UnicodeNormSpec-pinned)
    Gate("f07_sql_nfc", Some(
      s"""WITH corpus AS (
        |  SELECT doc_id, text || '$nfcMarkerPre' AS text
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 8000000 AS doc_id, text || '$nfcMarkerDecomposed' AS text
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 9000000 AS doc_id, text || '$nfcMarkerSingleton' AS text
        |  FROM documents WHERE doc_id < 40
        |)
        |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM (SELECT doc_id, nfc_normalize(text) AS n FROM corpus)
        |GROUP BY n ORDER BY canonical_id""".stripMargin))((s, dir) => {
      graft.functions.SqlKernels.registerAll(s)
      docs(s, dir).createOrReplaceTempView("graft_sql_docs")
      s.sql(
        s"""WITH corpus AS (
          |  SELECT doc_id, concat(text, '$nfcMarkerPre') AS text
          |  FROM graft_sql_docs WHERE doc_id < 40
          |  UNION ALL
          |  SELECT doc_id + 8000000 AS doc_id,
          |    concat(text, '$nfcMarkerDecomposed') AS text
          |  FROM graft_sql_docs WHERE doc_id < 40
          |  UNION ALL
          |  SELECT doc_id + 9000000 AS doc_id,
          |    concat(text, '$nfcMarkerSingleton') AS text
          |  FROM graft_sql_docs WHERE doc_id < 40
          |)
          |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
          |FROM (SELECT doc_id, graft_nfc(text) AS n FROM corpus)
          |GROUP BY n ORDER BY canonical_id""".stripMargin)
    })
  )
}
