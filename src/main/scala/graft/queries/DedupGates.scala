package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Dedup gates (d*): exact, MinHash+LSH, SimHash, Jaccard and embedding
  * dedup, persisted digest/MinHash indexes, contamination probes and the
  * confusable/NFC normalisation fixtures. */
object DedupGates {
  import GateSupport._

  /** d16 NFC fixture markers — three canonically-equivalent spellings of
    * " café Å q̣̇" built from explicit codepoints (no invisible source
    * characters; the round-11 bidi/escape-rendering lesson). All three
    * NFC-normalize to [[nfcMarkerPre]]'s exact bytes in BOTH Java's
    * Normalizer and DuckDB's nfc_normalize (utf8proc) — normalization is
    * Unicode-stabilized, probed, and pinned in UnicodeNormSpec. */
  // precomposed é (U+00E9), Å (U+00C5); q + dot-below (U+0323, ccc 220)
  // + dot-above (U+0307, ccc 230) already in canonical order — this IS
  // the NFC normal form of all three markers
  private[graft] val nfcMarkerPre: String =
    " caf" + cp(0xE9) + " " + cp(0xC5) + " q" + cp(0x323) + cp(0x307)
  // decomposed: e + combining acute (U+0301), A + combining ring
  // (U+030A), marks in SWAPPED order (0307 before 0323 — canonical
  // reordering must sort them back)
  private[graft] val nfcMarkerDecomposed: String =
    " cafe" + cp(0x301) + " A" + cp(0x30A) + " q" + cp(0x307) + cp(0x323)
  // singleton decompositions: U+212B ANGSTROM SIGN → U+00C5; é spelled
  // decomposed; marks in canonical order but uncomposed
  private[graft] val nfcMarkerSingleton: String =
    " cafe" + cp(0x301) + " " + cp(0x212B) + " q" + cp(0x323) + cp(0x307)

  /** Build (once per data dir) a persisted MinHash LSH index over the
    * d10 gate corpus (doc_id < 400, word-3-gram shingles) — the
    * continuous-ingest shape: the corpus is shingled and signed ONCE at
    * write time; every probe batch afterwards touches only the stored
    * band rows and candidate shingles. Near-exhaustive banding (32
    * bands × 2 rows — miss-free on this corpus, see the d02 comment) so
    * the probe result equals the exact-Jaccard oracle. */
  private val mhIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, () => String]
  private def mhIndexFor(s: SparkSession, dir: String): String =
    cachedTempIndex(mhIndexCache, dir, "graft-mh-index") { path =>
      Dedup.writeMinhashIndex(
        docs(s, dir).filter(col("doc_id") < 400)
          .select(col("doc_id"), Dedup.textShingles(col("text"), 3).as("shingles")),
        "doc_id", "shingles", path, numHashes = 64, numBands = 32)
    }

  /** Deterministic 64-bit signature from a doc id, expressible in BOTH
    * Spark and ANSI-ish DuckDB SQL (XOR/CASE/shift on small values only —
    * no wraparound arithmetic): base = XOR of fixed constants selected by
    * the bits of `orig % 397`; planted copies (id ≥ 1,000,000) flip
    * 1..4 spread bits chosen by `orig % 5` (0 ⇒ exact dup). */
  private val sigConsts = Seq(-4767286540954276203L, -409945945691060918L,
    -1379700187739999003L, 9118805310061913749L, 3836392971734152462L,
    -8792153768808948482L, -3858317867683981838L, -7883909788743084858L,
    8571704695318784627L)
  private val flipMasks = Seq(8L, 2199023256064L, 144115188084244512L, 4611686035607388164L)

  private def arithSignature(id: Column): Column = {
    val orig = when(id >= 1000000L, id - 1000000L).otherwise(id)
    val group = orig % 397
    val base = sigConsts.zipWithIndex.map { case (c, i) =>
      when(shiftright(group, i).bitwiseAND(lit(1L)) === 1L, lit(c)).otherwise(lit(0L))
    }.reduce(_ bitwiseXOR _)
    val j = orig % 5
    val flip = when(id < 1000000L, lit(0L))
      .otherwise(flipMasks.zipWithIndex.map { case (m, k) =>
        when(j === (k + 1).toLong, lit(m)).otherwise(lit(0L))
      }.reduce(_ bitwiseXOR _))
    base.bitwiseXOR(flip)
  }

  /** DuckDB oracle for d07: exact all-pairs hamming over the SAME
    * arithmetic signature (generated from the same constants as
    * [[arithSignature]], so the two can never drift). All DuckDB ops
    * here (xor, CASE, >> on values < 512, bit_count) are
    * overflow-safe — unlike the real XXH64 kernel, see COVERAGE.md. */
  private def simhashBandsOracle: String = {
    val base = sigConsts.zipWithIndex.map { case (c, i) =>
      s"CASE WHEN ((orig % 397) >> $i) & 1 = 1 THEN CAST($c AS BIGINT) ELSE 0 END"
    }.reduce((a, b) => s"xor($a,\n      $b)")
    val flip = "CASE WHEN doc_id < 1000000 THEN 0 " +
      flipMasks.zipWithIndex.map { case (m, k) =>
        s"WHEN orig % 5 = ${k + 1} THEN CAST($m AS BIGINT) "
      }.mkString + "ELSE 0 END"
    s"""WITH corpus AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id FROM documents WHERE doc_id < 50
       |), o AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id >= 1000000 THEN doc_id - 1000000 ELSE doc_id END AS orig
       |  FROM corpus
       |), sig AS (
       |  SELECT doc_id, xor($base,
       |      $flip) AS sh
       |  FROM o
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB oracle for d11 (semantic contamination): corpus and scaled
    * probes normalized and cell-assigned against the same strided-row
    * centroids, matched within shared cells at cosine ≥ 0.995 — ids
    * only in the output (the d05/p10 float-vs-double plant tolerance
    * argument). */
  private def d11OracleSql: String = {
    val js = (0 until semGateNList).map(j => s"($j)").mkString(",")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |nv AS (SELECT vec_id, [x / sqrt(list_inner_product(emb, emb)) for x in emb] AS v FROM e),
       |pe AS (SELECT vec_id + 1000000 AS vec_id, [x * 1.01 for x in emb] AS emb
       |  FROM e WHERE vec_id < 15),
       |pv AS (SELECT vec_id, [x / sqrt(list_inner_product(emb, emb)) for x in emb] AS v FROM pe),
       |cids AS (SELECT j, j * (SELECT count(*) FROM embeddings) // $semGateNList AS cid
       |  FROM (VALUES $js) t(j)),
       |cents AS (SELECT cids.j, nv.v AS cv FROM cids JOIN nv ON nv.vec_id = cids.cid),
       |ca AS (SELECT vec_id, v, cell FROM (
       |  SELECT nv.vec_id, nv.v, c.j AS cell, ROW_NUMBER() OVER (PARTITION BY nv.vec_id
       |    ORDER BY list_inner_product(nv.v, c.cv) DESC, c.j DESC) AS rn
       |  FROM nv CROSS JOIN cents c) WHERE rn = 1),
       |pa AS (SELECT vec_id, v, cell FROM (
       |  SELECT pv.vec_id, pv.v, c.j AS cell, ROW_NUMBER() OVER (PARTITION BY pv.vec_id
       |    ORDER BY list_inner_product(pv.v, c.cv) DESC, c.j DESC) AS rn
       |  FROM pv CROSS JOIN cents c) WHERE rn = 1)
       |SELECT p.vec_id AS probe_id, a.vec_id AS corpus_id
       |FROM pa p JOIN ca a ON a.cell = p.cell
       |WHERE list_inner_product(a.v, p.v) >= 0.995
       |ORDER BY probe_id, corpus_id""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // ---- dedup: exact (digest groupBy — one narrow shuffle of 16-byte
    // md5 keys with map-side combine; never ships document text)
    Gate("d01_dedup_exact", Some(
      """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin))((s, dir) =>
      Dedup.exactGroupsByHash(docs(s, dir), "text", "doc_id")
        .select(col("canonical_id"), col("dup_count"))
        .orderBy(col("canonical_id"))),

    // ---- dedup: MinHash + LSH banding, Jaccard-verified, transitive-
    // closure survivors (fused shingle kernel)
    // exact-Jaccard pairs + full transitive closure via recursive CTE:
    // the minhash pipeline's survivor set (only each component's minimum
    // id survives) must equal the exact computation
    Gate("d02_minhash_dedup", Some(
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    text || ' perturbed suffix token' AS text
        |  FROM documents WHERE doc_id < 50
        |), toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |  FROM corpus
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / greatest(len(list_distinct(a.s || b.s)), 1) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.6
        |), sym AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL
        |  SELECT id_b AS a, id_a AS b FROM pairs
        |), reach(id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r
        |), losers AS (
        |  SELECT id FROM reach GROUP BY id HAVING min(r) < id
        |)
        |SELECT doc_id FROM corpus
        |WHERE doc_id NOT IN (SELECT id FROM losers)
        |ORDER BY doc_id""".stripMargin))((s, dir) => {
      // no caching needed here: candidate generation materializes its own
      // (id, shingles) cache internally and releases it; the anti-join
      // left side prunes the shingles column away entirely
      val withShingles = docsWithNearDups(s, dir)
        .withColumn("shingles", Dedup.textShingles(col("text"), 3))
      // near-exhaustive banding + lifted cap so the survivor set equals
      // the DuckDB oracle's exact-Jaccard + recursive-CTE closure: the
      // corpus gap (min true-pair jaccard 0.69 vs max false 0.07) makes
      // 32 bands × 2 rows miss-free (miss ≈ (1-0.69²)^32 ≈ 8e-10) at a
      // fraction of 1-row-band candidate volume
      Dedup.nearDedup(withShingles, "doc_id", "shingles", threshold = 0.6,
          numHashes = 64, numBands = 32, maxBucket = Int.MaxValue)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ---- dedup: SimHash signatures + hamming pairs via pigeonhole bands
    Gate("d03_simhash_pairs", None)((s, dir) => {
      val sh = docsWithNearDups(s, dir)
        .withColumn("simhash", Dedup.simhash(TextAnalysis.tokens(col("text"))))
      Dedup.simhashPairs(sh, "doc_id", "simhash", maxDistance = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: the simhashPairs DISTRIBUTED operator (pigeonhole band
    // join + hamming verify) oracle-checked end-to-end. The text→simhash
    // kernel itself is not SQL-expressible (see COVERAGE.md d03 note), so
    // this gate feeds the operator an arithmetic signature both engines
    // compute identically: XOR of fixed 64-bit constants selected by the
    // doc-group's bits, with 1..4 planted bit-flips on copied docs —
    // exercising banding, bucket-local pair generation, hamming count and
    // the ≤ maxDistance filter against DuckDB's exact all-pairs answer.
    Gate("d07_simhash_bands", Some(simhashBandsOracle))((s, dir) => {
      val base = docs(s, dir).select("doc_id")
      val corpus = base.unionByName(
        base.filter(col("doc_id") < 50).select((col("doc_id") + 1000000L).as("doc_id")))
      val sig = corpus.withColumn("sig", arithSignature(col("doc_id")))
      Dedup.simhashPairs(sig, "doc_id", "sig", maxDistance = 3, maxBucket = Int.MaxValue)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: incremental ingest — a new batch (fresh docs + planted
    // copies of corpus docs + one intra-batch duplicate) cleaned against
    // the existing corpus via digest anti-join; only genuinely new
    // content survives, min-id representative per in-batch group.
    Gate("d08_incremental_dedup", Some(
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 400),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
        |  UNION ALL SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id < 20
        |  UNION ALL SELECT doc_id + 4000000 AS doc_id, text FROM documents WHERE doc_id = 450
        |),
        |fresh AS (SELECT doc_id, text FROM batch
        |  WHERE text NOT IN (SELECT text FROM corpus))
        |SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY text ORDER BY doc_id""".stripMargin))((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") < 400)
      val batch = d.filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") < 20)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id") === 450)
          .select((col("doc_id") + 4000000L).as("doc_id"), col("text")))
      Dedup.incrementalExact(batch, corpus, "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ---- dedup: PERSISTED exact-dedup digest index — the corpus is
    // hashed once at write time; batch 1 is cleaned against the stored
    // digests (corpus text never re-read), its survivors' digests are
    // appended, and batch 2 is then cleaned against corpus + batch 1 —
    // the continuous-ingest lifecycle end to end. clean1 is materialized
    // (Lineage.cut) BEFORE the append: the anti-join is lazy, and
    // re-evaluating it after its own digests landed in the index would
    // drop every row.
    // the index is digests of text; md5 equality ≡ text equality at any
    // realistic scale, so the oracle replays the two-batch lifecycle
    // with text membership
    Gate("d12_digest_index", Some(
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id < 400),
        |b1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 400 AND doc_id < 450
        |  UNION ALL SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id < 20
        |),
        |c1 AS (
        |  SELECT MIN(doc_id) AS doc_id, text FROM b1
        |  WHERE text NOT IN (SELECT text FROM corpus) GROUP BY text
        |),
        |b2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 450
        |  UNION ALL SELECT doc_id + 5000000 AS doc_id, text
        |  FROM documents WHERE doc_id >= 400 AND doc_id < 410
        |),
        |c2 AS (
        |  SELECT MIN(doc_id) AS doc_id FROM b2
        |  WHERE text NOT IN (SELECT text FROM corpus)
        |    AND text NOT IN (SELECT text FROM c1)
        |  GROUP BY text
        |)
        |SELECT doc_id FROM c1
        |UNION ALL SELECT doc_id FROM c2
        |ORDER BY doc_id""".stripMargin))((s, dir) => {
      val d = docs(s, dir)
      val path = graft.Paths.scratchDir("graft-digest-idx").resolve("idx").toString
      Dedup.writeDigestIndex(d.filter(col("doc_id") < 400), "text", path)
      val batch1 = d.filter(col("doc_id") >= 400 && col("doc_id") < 450)
        .select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") < 20)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      val clean1 = graft.ops.Lineage.cut(
        Dedup.probeDigestIndex(s, path, batch1, "text", "doc_id"))
      Dedup.appendToDigestIndex(clean1, "text", path)
      val batch2 = d.filter(col("doc_id") >= 450)
        .select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") >= 400 && col("doc_id") < 410)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      val clean2 = Dedup.probeDigestIndex(s, path, batch2, "text", "doc_id")
      clean1.select(col("doc_id")).unionByName(clean2.select(col("doc_id")))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup: CORPUS SNAPSHOT DIFF — the dataset-versioning report:
    // per-source added/removed/retained counts between corpus v1
    // (doc_id < 400) and v2 (100 ≤ doc_id < 500, with 200..249's text
    // EDITED — each edit must register as one removal plus one
    // addition, never a retain). One union + one (group, digest)
    // membership aggregate — no join, one wide shuffle of digest rows
    // at any corpus size. Oracle replays with text-set algebra
    // (md5 equality ≡ text equality, the d12 contract).
    // snapshot-diff replay: per-source DISTINCT text sets for each
    // version, union with side markers, membership aggregate, then the
    // added/removed/retained classification — text equality stands in
    // for digest equality (the d12 contract)
    Gate("d13_snapshot_diff", Some(
      """WITH v1 AS (
        |  SELECT DISTINCT source AS grp, text FROM documents WHERE doc_id < 400
        |), v2 AS (
        |  SELECT DISTINCT source AS grp,
        |    CASE WHEN doc_id >= 200 AND doc_id < 250
        |         THEN text || ' v2-edit' ELSE text END AS text
        |  FROM documents WHERE doc_id >= 100 AND doc_id < 500
        |), u AS (
        |  SELECT grp, text, 1 AS s1, 0 AS s2 FROM v1
        |  UNION ALL SELECT grp, text, 0 AS s1, 1 AS s2 FROM v2
        |), m AS (
        |  SELECT grp, text, max(s1) AS in1, max(s2) AS in2 FROM u GROUP BY grp, text
        |)
        |SELECT grp AS source,
        |  CAST(SUM(CASE WHEN in2 = 1 AND in1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(SUM(CASE WHEN in1 = 1 AND in2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(SUM(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
        |FROM m GROUP BY grp ORDER BY grp""".stripMargin))((s, dir) => {
      val d = docs(s, dir)
      val v1 = d.filter(col("doc_id") < 400).select(col("source"), col("text"))
      val v2 = d.filter(col("doc_id") >= 100 && col("doc_id") < 500)
        .select(col("source"),
          when(col("doc_id") >= 200 && col("doc_id") < 250,
            concat(col("text"), lit(" v2-edit"))).otherwise(col("text")).as("text"))
      Dedup.corpusChurn(v1, v2, "text", "source")
        .withColumnRenamed("grp", "source")
        .orderBy(col("source"))
    }),

    // ---- dedup: NEAR-DUP-AWARE SNAPSHOT CHURN — d13's exact-digest
    // diff counts a re-encoded doc as remove+add; this one diffs two
    // PERCEPTUAL indexes (mm06's artifact) so identity is modulo
    // near-dup: v2 carries RE-ENCODED copies (blocking-artifact bumps,
    // fresh ids — a re-crawl mints new ids) of v1's first 200 items →
    // all 200 retained; of v1's last 100 (no bumped counterpart) only
    // 48 count removed — the other 52 cross-match bumped copies of
    // OTHER cores at ≤ 3 bits (the r9 sawtooth-density effect, itself
    // a realistic churn property); v2's 40 slope-11 novels (min
    // distance ≥ 13 from every sawtooth-7 item, the mm06 fixture) →
    // added. Expected row: (40, 48, 200), replayed independently.
    // Oracle replays both signature sets and the plain distance
    // predicate (pigeonhole banding is exhaustive at ≤ maxDistance —
    // the mm06 argument), then the same per-side membership counts.
    // near-dup churn replay: both snapshots' signatures via the shared
    // dHash chain, matches by the plain distance predicate (pigeonhole
    // banding is exhaustive at <= maxDistance -- the mm06 argument;
    // maxBucket is unlimited here), then per-side membership counts
    Gate("d14_neardup_churn", Some(
      (s"""WITH b1 AS (
         |  SELECT doc_id, ${duckSawBytes("doc_id", 7, bump = false)} AS bytes
         |  FROM documents WHERE doc_id < 300
         |), b2 AS (
         |  SELECT doc_id + 1000 AS doc_id, bytes FROM (
         |    SELECT doc_id, ${duckSawBytes("doc_id", 7, bump = true)} AS bytes
         |    FROM documents WHERE doc_id < 200)
         |  UNION ALL
         |  SELECT doc_id, ${duckSawBytes("doc_id", 11, bump = false)} AS bytes
         |  FROM documents WHERE doc_id >= 300 AND doc_id < 340
         |),
         |""".stripMargin + duckPhash("b1", "1") + ",\n" + duckPhash("b2", "2") + ",\n" +
        """m1 AS (SELECT DISTINCT a.doc_id AS id FROM h1 a JOIN h2 b
          |       ON bit_count(xor(a.ph, b.ph)) <= 3),
          |m2 AS (SELECT DISTINCT b.doc_id AS id FROM h1 a JOIN h2 b
          |       ON bit_count(xor(a.ph, b.ph)) <= 3)
          |SELECT
          |  (SELECT count(*) FROM h2) - (SELECT count(*) FROM m2) AS n_added,
          |  (SELECT count(*) FROM h1) - (SELECT count(*) FROM m1) AS n_removed,
          |  (SELECT count(*) FROM m2) AS n_retained""".stripMargin)))((s, dir) => {
      val d = col("doc_id")
      val base = graft.Paths.scratchDir("graft-phash-diff")
      val p1 = base.resolve("v1").toString
      val p2 = base.resolve("v2").toString
      val ids = docs(s, dir).select(d)
      Dedup.writePhashIndex(ids.filter(d < 300)
          .select(d, sawtoothPayload(d, 7, lit(false)).as("content")),
        "doc_id", "content", p1)
      // payload FIRST, id remap in a second select: Spark 4 resolves an
      // unqualified col("doc_id") LATERALLY against an earlier
      // `... AS doc_id` alias in the SAME projection, which would
      // silently build the payload from core+1000 (bit this gate)
      Dedup.writePhashIndex(
        ids.filter(d < 200)
          .select(d, sawtoothPayload(d, 7, lit(true)).as("content"))
          .select((d + lit(1000L)).as("doc_id"), col("content"))
          .unionByName(ids.filter(d >= 300 && d < 340)
            .select(d, sawtoothPayload(d, 11, lit(false)).as("content"))),
        "doc_id", "content", p2)
      Dedup.diffPhashIndexes(s, p1, p2)
    }),

    // ---- dedup: normalization-keyed exact dedup — copies that differ
    // only in case / punctuation / whitespace collapse into one group
    // (the CCNet/RefinedWeb hashing key). Planted noisy copies (ASCII
    // upper-cased via translate — Java's full-case upper() and DuckDB's
    // utf8proc disagree on ß/İ, so the plant must not use it —
    // punctuation and padding added) of doc_id < 40 must fold into
    // their originals with dup_count 2.
    // the normalization key re-expressed with RE2 spellings ([[:punct:]]
    // = Java \p{Punct}, the t02-established pairing); groups by the raw
    // normalized string — same partition as Spark's md5-of-key. The
    // plant upper-cases via translate (ASCII-only, engine-independent),
    // NOT upper(): Java and utf8proc diverge on ß/İ.
    Gate("d09_normalized_dedup", Some(
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id,
        |    '  ' || translate(text, '$asciiLower', '$asciiUpper') || '!! ' AS text
        |  FROM documents WHERE doc_id < 40
        |), norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(
        |      translate(text, '$asciiUpper', '$asciiLower'), '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g')) AS n
        |  FROM corpus)
        |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM norm GROUP BY n ORDER BY canonical_id""".stripMargin))((s, dir) => {
      val base = docs(s, dir).select("doc_id", "text")
      val noisy = base.filter(col("doc_id") < 40).select(
        (col("doc_id") + 5000000L).as("doc_id"),
        concat(lit("  "),
          translate(col("text"), asciiLower, asciiUpper), lit("!! ")).as("text"))
      Dedup.exactGroupsByHash(
        base.unionByName(noisy).select(col("doc_id"),
          TextAnalysis.normalizeForDedup(col("text")).as("norm")),
        "norm", "doc_id")
        .orderBy(col("canonical_id"))
    }),

    // ---- dedup: CONFUSABLE-folded normalization — the adversarial-web
    // layer d09's byte-keyed normalization cannot see: zero-width
    // stuffing (ZWSP after every space + a BOM prefix), full-width
    // letter substitution, NBSP-for-space and the fi ligature all
    // produce DIFFERENT bytes that render identically. Both planted
    // variant families fold back onto their base document only through
    // TextAnalysis.foldConfusables; the oracle replays the identical
    // literal chain (zero-width class regex, one codepoint translate,
    // ligature replaces) then d09's normalization.
    // confusable-fold replay: identical literal chain (zero-width class
    // removal, ONE codepoint translate, ligature replaces — constants
    // interpolated from TextAnalysis, one source of truth), then d09's
    // normalization. Plants: chr(65279)=BOM, chr(8203)=ZWSP,
    // chr(160)=NBSP; the full-width letters and the fi ligature are
    // visible literals.
    Gate("d15_confusable_dedup", Some(
      (s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 6000000 AS doc_id,
        |    chr(65279) || replace(text, ' ', ' ' || chr(8203)) AS text
        |  FROM documents WHERE doc_id < 40
        |  UNION ALL
        |  SELECT doc_id + 7000000 AS doc_id,
        |    translate(replace(text, 'fi', 'ﬁ'),
        |      'aeiost ', 'ａｅｉｏｓｔ' || chr(160)) AS text
        |  FROM documents WHERE doc_id >= 40 AND doc_id < 80
        |), folded AS (
        |  SELECT doc_id, """.stripMargin +
        duckLigFold(s"translate(regexp_replace(text, $duckZwClass, '', 'g'), $duckConfFrom, $duckConfTo)") +
        s""" AS f
        |  FROM corpus
        |), norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(
        |      translate(f, '$asciiUpper', '$asciiLower'), '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g')) AS n
        |  FROM folded
        |)
        |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM norm GROUP BY n ORDER BY canonical_id""".stripMargin)))((s, dir) => {
      val base = docs(s, dir).select("doc_id", "text")
      val zw = base.filter(col("doc_id") < 40).select(
        (col("doc_id") + 6000000L).as("doc_id"),
        concat(lit("\uFEFF"),
          replace(col("text"), lit(" "), lit(" \u200B"))).as("text"))
      val fw = base.filter(col("doc_id") >= 40 && col("doc_id") < 80).select(
        (col("doc_id") + 7000000L).as("doc_id"),
        translate(replace(col("text"), lit("fi"), lit("ﬁ")),
          "aeiost ", "ａｅｉｏｓｔ\u00A0").as("text"))
      Dedup.exactGroupsByHash(
        base.unionByName(zw).unionByName(fw).select(col("doc_id"),
          TextAnalysis.normalizeForDedup(
            TextAnalysis.foldConfusables(col("text"))).as("norm")),
        "norm", "doc_id")
        .orderBy(col("canonical_id"))
    }),

    // ---- dedup: UNICODE-NFC-folded dedup — the canonical-equivalence
    // layer below even d15's confusable folds: precomposed é/Å, their
    // decomposed base+combining-mark spellings, the U+212B ANGSTROM
    // singleton and SWAPPED combining-mark order (ccc 230 before 220)
    // are all byte-different, render identically, and NFC-normalize to
    // one canonical byte string. Three planted suffix families per base
    // doc fold to one group only through UnicodeNorm.nfc (Java
    // Normalizer); the oracle replays with DuckDB's nfc_normalize —
    // Unicode normalization is stabilized, so the two engines agree
    // byte-for-byte (probed + spec-pinned).
    // NFC replay: the three marker families (constants interpolated from
    // the Scala fixture — raw UTF-8 in the SQL text, one source of
    // truth) fold to one group per base doc through nfc_normalize
    Gate("d16_nfc_dedup", Some(
      s"""WITH corpus AS (
        |  SELECT doc_id, text || '$nfcMarkerPre' AS text
        |  FROM documents WHERE doc_id < 60
        |  UNION ALL
        |  SELECT doc_id + 8000000 AS doc_id, text || '$nfcMarkerDecomposed' AS text
        |  FROM documents WHERE doc_id < 60
        |  UNION ALL
        |  SELECT doc_id + 9000000 AS doc_id, text || '$nfcMarkerSingleton' AS text
        |  FROM documents WHERE doc_id < 60
        |)
        |SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
        |FROM (SELECT doc_id, nfc_normalize(text) AS n FROM corpus)
        |GROUP BY n ORDER BY canonical_id""".stripMargin))((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 60)
      def fam(offset: Long, marker: String) = base.select(
        (col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(marker)).as("text"))
      Dedup.exactGroupsByHash(
        fam(0L, nfcMarkerPre)
          .unionByName(fam(8000000L, nfcMarkerDecomposed))
          .unionByName(fam(9000000L, nfcMarkerSingleton))
          .select(col("doc_id"),
            graft.functions.UnicodeNorm.nfc(col("text")).as("norm")),
        "norm", "doc_id")
        .orderBy(col("canonical_id"))
    }),

    // ---- dedup: incremental NEAR-dedup against a persisted MinHash
    // index — the continuous-ingest shape: the corpus is shingled and
    // signed ONCE (writeMinhashIndex, memoized per dir); each new batch
    // probes the stored band buckets and exact-verifies only its
    // candidates. Near-exhaustive banding + lifted cap make the result
    // equal DuckDB's exact batch × corpus all-pairs Jaccard.
    // exact batch × corpus all-pairs Jaccard over the same word-3-gram
    // shingles — the persisted-index probe path must reproduce it
    // exactly (miss-free banding, see the d10 query comment)
    Gate("d10_indexed_neardup", Some(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 400
        |), batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    text || ' perturbed suffix token' AS text
        |  FROM documents WHERE doc_id < 30
        |), csh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS s
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |    FROM corpus)
        |), bsh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |         ELSE list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)])
        |    END AS s
        |  FROM (SELECT doc_id,
        |      list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
        |    FROM batch)
        |)
        |SELECT batch_id, corpus_id, jaccard FROM (
        |  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
        |    CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
        |      / greatest(len(list_distinct(b.s || c.s)), 1) AS jaccard
        |  FROM bsh b, csh c
        |) WHERE jaccard >= 0.6 ORDER BY batch_id, corpus_id""".stripMargin))((s, dir) => {
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") < 30)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" perturbed suffix token")).as("text")))
        .select(col("doc_id"), Dedup.textShingles(col("text"), 3).as("shingles"))
      Dedup.probeMinhashIndex(s, mhIndexFor(s, dir), batch, "doc_id", "shingles",
          threshold = 0.6, maxBucket = Int.MaxValue)
        .orderBy(col("batch_id"), col("corpus_id"))
    }),

    // ---- dedup: semantic (embedding-level) contamination — eval-set
    // probe vectors broadcast against the corpus, matched inside shared
    // coarse-quantizer cells (NO corpus shuffle — the decontamination
    // scale shape). Probes = scaled copies of vec_id < 15: each must
    // rediscover its original. Deterministic gate centroids as in p10.
    Gate("d11_semantic_contam", Some(d11OracleSql))((s, dir) => {
      val e = embeds(s, dir)
      val probes = e.filter(col("vec_id") < 15)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      Similarity.semanticContamination(e, probes, "vec_id", "embedding",
          gateCentroidsN(e, semGateNList), threshold = 0.995)
        .select(col("probe_id"), col("corpus_id"))
        .orderBy(col("probe_id"), col("corpus_id"))
    }),

    // ---- dedup: n-gram Jaccard verification on LSH candidates.
    // Oracle-checked against DuckDB's EXACT all-pairs Jaccard: 2-row
    // bands are miss-free on this corpus (min true-pair jaccard 0.69 →
    // miss ≈ (1-0.69²)^32 ≈ 8e-10) while keeping the candidate set small;
    // maxBucket is lifted because the oracle has no skew-drop notion
    // (the capped default is the production path).
    // exact all-pairs Jaccard over the same word-3-gram shingles — the
    // LSH path must reproduce it exactly (see the d04 query comment)
    Gate("d04_ngram_jaccard", Some(
      (s"WITH $duckNearDupPairs\n" +
        "SELECT id_a, id_b, jaccard FROM pairsj ORDER BY id_a, id_b")))((s, dir) => {
      val withShingles = docsWithNearDups(s, dir)
        .withColumn("shingles", Dedup.textShingles(col("text"), 3))
      Dedup.nearDupPairs(withShingles, "doc_id", "shingles", threshold = 0.6,
          numHashes = 64, numBands = 32, maxBucket = Int.MaxValue)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: embedding-cosine near-dups via hyperplane LSH buckets
    // exact all-pairs cosine: the hyperplane-LSH path must find every
    // pair ≥ 0.995 (planted pairs are exactly parallel, so they never
    // straddle a sign boundary; nearest natural pair sits at cos ≈ 0.51)
    Gate("d05_embed_neardup", Some(
      """WITH allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, [x * 1.01 for x in embedding] AS embedding
        |  FROM embeddings WHERE vec_id < 20
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM allv a JOIN allv b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.995
        |ORDER BY id_a, id_b""".stripMargin))((s, dir) => {
      val base = embeds(s, dir).select("vec_id", "embedding")
      val planted = base.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      val all = base.unionByName(planted)
      Similarity.embeddingNearDups(all, "vec_id", "embedding",
          threshold = 0.995, dim = 64)
        .select(col("id_a"), col("id_b")).orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: decontamination — probes are substrings lifted from the
    // first 20 docs (words 4..11 of the normalized text), so hits are
    // guaranteed and every match is verified by exact substring containment
    Gate("d06_contamination", Some(
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents
        |), p AS (
        |  SELECT doc_id AS probe_id,
        |    array_to_string(list_filter(string_split_regex(lower(text), '\s+'),
        |      x -> len(x) > 0)[4:11], ' ') AS probe
        |  FROM documents
        |  WHERE doc_id < 20
        |    AND len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) >= 11
        |)
        |SELECT p.probe_id, d.doc_id
        |FROM p JOIN d ON instr(d.nt, p.probe) > 0
        |ORDER BY probe_id, doc_id""".stripMargin))((s, dir) => {
      val d = docs(s, dir)
      val probes = d.filter(col("doc_id") < 20)
        .select(col("doc_id").as("probe_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 4, 8)).as("probe"))
        .filter(size(TextAnalysis.tokens(col("text"))) >= 11)
      TextAnalysis.contaminated(d, "doc_id", "text", probes, "probe_id", "probe")
        .orderBy(col("probe_id"), col("doc_id"))
    })
  )
}
