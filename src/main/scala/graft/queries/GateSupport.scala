package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Audio, Bpe, Chunking, Dedup, Funnel, FuzzyJoin, Lm, Multimodal, Pii, Profile, Ranking, Sampling, Similarity, TextAnalysis, Unigram, Web}

/** Training-data pipeline operators (extension tier, BASELINE.json north
  * star) driven through the oracle gate where SQL-expressible, rows-only
  * otherwise (MinHash/SimHash constants aren't reproducible in SQL).
  *
  * Near-dup operators run against `documents` ∪ a deterministic perturbed
  * copy of a slice (suffix token appended, id + 1,000,000) — the synthetic
  * corpus has no natural near-dups, so planting some makes the candidate
  * generation + verification path do real work and produce stable output.
  *
  * Loaders, caches, fixtures and DuckDB fragments that gates of more
  * than one family use. Object vals initialise in declaration order, so
  * a val here may only read vals declared above it (or be lazy). */
private[queries] object GateSupport {

  def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** documents + perturbed near-duplicates of doc_id < 50. */
  def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select("doc_id", "text", "lang")
    val dups = base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" perturbed suffix token")).as("text"),
        col("lang"))
    base.unionByName(dups)
  }

  def embeds(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** er-gate entity catalog: the 64 distinct part names, keyed by the
    * min partkey carrying each. */
  def cleanPartNames(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")
      .groupBy(col("p_name")).agg(min(col("p_partkey")).as("clean_id"))
      .select(col("clean_id"), col("p_name").as("name"))

  /** Deterministic single-character deletion typo, shared by the
    * er-gates/e25 and their oracles: 1-based position 2..len−1 (first
    * and last chars stay, so the typo never degenerates to a
    * prefix/suffix trim); requires len ≥ 3 and a non-negative seed. */
  def typoName(name: Column, seed: Column): Column = {
    val pos = (lit(2L) + seed % (length(name).cast("long") - 2L)).cast("int")
    concat(name.substr(lit(1), pos - 1),
      name.substr(pos + 1, length(name)))
  }

  /** DuckDB fragments shared by every er-gate + e25 oracle — ONE source
    * of truth (a fix once landed in one inline copy and not its three
    * siblings; the shared-fragment rule). Both are single-line on
    * purpose: a multi-line fragment whose continuation starts with `||`
    * loses a pipe to an outer stripMargin (the r9 trap). */
  val duckCleanSel: String =
    "SELECT MIN(p_partkey) AS clean_id, p_name AS name FROM part GROUP BY p_name"

  /** Renders [[typoName]] for SQL exprs `n` (name) and `seed`. */
  def duckTypoExpr(n: String, seed: String): String =
    s"substr($n, 1, CAST(2 + $seed % (length($n) - 2) AS INTEGER) - 1) || " +
      s"substr($n, CAST(2 + $seed % (length($n) - 2) AS INTEGER) + 1)"

  val chunkWindow = 32
  val chunkStride = 24

  /** ASCII-only case flip for the d09 plant: Java's `upper()` (full
    * case mapping: ß→SS) and DuckDB's (utf8proc: ß→ẞ) diverge on
    * non-ASCII, so the planted copies are up-cased via `translate`,
    * which both engines apply byte-identically (the same alphabet pair
    * [[TextAnalysis.normalizeForDedup]] folds with). */
  val asciiLower = TextAnalysis.AsciiLower
  val asciiUpper = TextAnalysis.AsciiUpper

  /** The string of one codepoint (fixtures spell characters this way). */
  def cp(i: Int): String = new String(Character.toChars(i))
  /** Confusable-fold constants as DuckDB literals (shared verbatim with
    * [[TextAnalysis.foldConfusables]] — one source of truth; the d15
    * oracle interpolates these). ConfusableTo contains ASCII `'`, so it
    * is SQL-escaped; the zero-width class and ConfusableFrom are
    * quote-free by construction. */
  def duckStr(s: String): String = "'" + s.replace("'", "''") + "'"
  val duckConfFrom = duckStr(TextAnalysis.ConfusableFrom)
  val duckConfTo = duckStr(TextAnalysis.ConfusableTo)
  val duckZwClass = "'[" + TextAnalysis.ZeroWidthChars + "]'"
  def duckLigFold(e: String): String =
    TextAnalysis.LigatureFolds.foldLeft(e) {
      case (x, (f, t)) => s"replace($x, '$f', '$t')" }

  /** The SRHT sign test shared by every JL replay (s17/s18/e22):
    * sign(j,d) = lcg(d)·had(j,d) is +1 iff the LCG bit (0 when
    * (1103515245·d+12345) % 2001 ≥ 1000) plus the Walsh parity
    * bit_count(j & d) is EVEN — one CASE selecting s[d+1] vs
    * -s[d+1], interpolated into each comprehension. */
  val duckJlSignCase: String =
    "CASE WHEN ((CASE WHEN (CAST(1103515245 AS BIGINT)*d + 12345) % 2001 >= 1000 " +
      "THEN 0 ELSE 1 END) + bit_count(CAST(j AS BIGINT) & CAST(d AS BIGINT))) % 2 = 0 " +
      "THEN s[d+1] ELSE -s[d+1] END"

  /** Shared RAW JL projection fragment (s17 + f06 — the standalone
    * `randomProject`/`graft_jl_project` surfaces, which project the
    * vector as given): a `proj(vec_id, p)` view over the embeddings
    * table, derived from the ONE parameterized [[duckJlItemsRaw]]
    * chain. The INDEX machinery (s18 + e22) projects the NORMALIZED
    * vector instead — [[duckJlItems]] / [[duckJlProjNv]]. */
  // lazy: the items chains interpolate duckJlBucket, a val defined
  // further down — an eager init here would read it as null (the
  // object-val init-order trap the round-11 CLAUDE.md documents)
  lazy val duckJlProj: String =
    "emb_src AS (\n" +
      "  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings\n" +
      "), " + duckJlItemsRaw("jemb", "emb_src") + ",\n" +
      "proj AS (\n  SELECT id AS vec_id, p FROM jemb\n)"

  /** Sign-bit bucket over the first 4 projected coordinates — the SQL
    * replay of Similarity's jlBucket at the s18 gate's bucketBits=4. */
  val duckJlBucket: String =
    (0 until 4).map(b =>
      s"(CASE WHEN p[${b + 1}] >= 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")

  /** Generates the three-CTE chain projecting an (id, v DOUBLE[]) CTE
    * `src` to `name` = (id, v, p, jb) from the RAW vector — the
    * s17/f06 `randomProject` surface. */
  def duckJlItemsRaw(name: String, src: String): String =
    duckJlItemsFrom(name, src,
      "[CAST(round(x * 1000000.0) AS BIGINT) for x in v]")

  /** The INDEX-machinery variant of [[duckJlItemsRaw]]: scaled longs
    * come from the NORMALIZED vector (proj kind `srht2`). Normalization
    * replays Similarity's kernel bit-for-bit: left-to-right Σx² (DuckDB
    * list comprehension + list_sum fold the list in order), correctly-
    * rounded IEEE sqrt and division in both engines, and the all-zero
    * vector passes through unchanged (the r3 kernel convention). `v`
    * stays the RAW vector — the cosine rerank normalizes its own copy,
    * exactly like the Spark side. */
  def duckJlItems(name: String, src: String): String =
    s"""${name}_nm AS (
       |  SELECT id, v, sqrt(list_sum([x * x for x in v])) AS nrm
       |  FROM $src
       |), ${name}_nv AS (
       |  SELECT id, v,
       |    [CASE WHEN nrm = 0 THEN x ELSE x / nrm END for x in v] AS nv
       |  FROM ${name}_nm
       |), """.stripMargin +
      duckJlItemsFrom(name, s"${name}_nv",
        "[CAST(round(x * 1000000.0) AS BIGINT) for x in nv]")

  /** Common tail of the two items chains: scaled longs (caller-chosen
    * source expression) → SRHT projection → sign bucket. */
  def duckJlItemsFrom(name: String, src: String,
      scaledExpr: String): String =
    s"""${name}_sv AS (
       |  SELECT id, v,
       |    $scaledExpr AS s
       |  FROM $src
       |), ${name}_pj AS (
       |  SELECT id, v,
       |    [ CAST(list_sum([ $duckJlSignCase
       |                      for d in range(0, 64) ]) AS BIGINT)
       |      for j in range(0, 16) ] AS p
       |  FROM ${name}_sv
       |), $name AS (
       |  SELECT id, v, p, $duckJlBucket AS jb
       |  FROM ${name}_pj
       |)""".stripMargin

  /** SemDeDup gate cell count (p10): more cells than the s03 probe gate
    * because within-cell pair generation is quadratic per cell — 16
    * cells both bounds the pair count and spreads cell tasks. */
  val semGateNList = 16

  /** Centroids = normalized embeddings of nList strided vec_ids; both
    * engines derive the id list from count(*) (vec_ids are contiguous). */
  def gateCentroidsN(e: DataFrame, nList: Int): Array[Array[Double]] = {
    val n = e.count()
    Similarity.vectorsByIds(e, "vec_id", "embedding",
      (0 until nList).map(j => j * n / nList))
  }
  /** Per-(cache, dir) memoized temp-dir index build — shared by the two
    * persisted-index gates below. The map holds one lazy thunk per dir,
    * so the (atomic) TrieMap insertion is the only global
    * synchronization point: concurrent first calls for DIFFERENT dirs
    * build in parallel, while two callers for the same dir share one
    * build via the lazy val's own per-instance lock. A shutdown hook
    * removes the temp dir — gate/bench JVMs would otherwise leave a
    * corpus-sized index under /tmp per run. */
  def cachedTempIndex(
      cache: scala.collection.concurrent.TrieMap[String, () => String],
      dir: String, prefix: String)(build: String => Unit): String =
    cache.getOrElseUpdate(dir, {
      lazy val built: String = {
        val base = graft.Paths.scratchDir(prefix)
        val path = base.resolve("index").toString
        build(path)
        path
      }
      () => built
    })()

  /** Run `f` with a reduced shuffle-partition count, restoring after.
    * Structured Streaming creates one state-store instance per shuffle
    * partition and commits each of them every micro-batch — at gate/bench
    * data sizes that fixed cost dwarfs the data cost, so the streaming
    * queries run with a handful of state partitions. Results are
    * partition-count independent (decimal sums / dedup). */
  def withShufflePartitions[A](s: SparkSession, n: Int)(f: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** k-means oracle: 3 unrolled Lloyd iterations. Assignment rank
    * `‖c‖² − 2·x·c` via in-order `list_inner_product` (ties →
    * lowest cluster, same as Spark's least-of-structs); centroid
    * update via the p11 quantized-mean idiom (`round(x·1e8)` BIGINT
    * sums, one double division chain); empty clusters COALESCE to the
    * previous centroid; init = raw strided corpus rows both engines
    * derive from count(*). */
  /** Shared Lloyd-replay CTE chain (the s10 oracle body): strided-row
    * init, 3 quantized-mean iterations, ending with the final
    * assignment `af(vec_id, v, cluster)`. Reused by p17's
    * cluster-balanced sample. */
  def kmeansCtes: String = {
    val k = 8
    val js = (0 until k).map(j => s"($j)").mkString(",")
    def assignCte(name: String, cents: String, materialized: Boolean = false) = {
      val mat = if (materialized) " MATERIALIZED" else ""
      s"""$name AS$mat (SELECT vec_id, v, cluster FROM (
         |  SELECT e.vec_id, e.v, c.cluster,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_inner_product(c.v, c.v) - 2.0 * list_inner_product(e.v, c.v),
         |      c.cluster) AS rn
         |  FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    }
    val iterChain = (1 to 3).map { i =>
      s"""${assignCte(s"a$i", s"c${i - 1}")},
         |x$i AS (SELECT cluster, i,
         |  CAST(round(v[CAST(i AS BIGINT)] * 100000000.0) AS BIGINT) AS w
         |  FROM a$i, range(1, 65) r(i)),
         |m$i AS (SELECT cluster, i,
         |  CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 100000000.0) AS m
         |  FROM x$i GROUP BY cluster, i),
         |n$i AS (SELECT cluster, list(m ORDER BY i) AS v FROM m$i GROUP BY cluster),
         |c$i AS (SELECT p.cluster, COALESCE(q.v, p.v) AS v
         |  FROM c${i - 1} p LEFT JOIN n$i q ON q.cluster = p.cluster)""".stripMargin
    }.mkString(",\n")
    // af is MATERIALIZED (structurally, not via string patching): p17
    // consumes it twice (cap + totals), and an inlined reference would
    // re-expand the whole Lloyd chain per use (the r5 iterative-oracle
    // rule)
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cids AS (SELECT j, j * (SELECT count(*) FROM embeddings) // $k AS cid
       |  FROM (VALUES $js) t(j)),
       |c0 AS (SELECT cids.j AS cluster, e.v FROM cids JOIN e ON e.vec_id = cids.cid),
       |$iterChain,
       |${assignCte("af", "c3", materialized = true)}""".stripMargin
  }

  /** DuckDB CTE chain replaying `k` greedy BPE merges (see
    * [[graft.ops.Bpe]]): `words`/`d0` seed the spaced word dict, then per
    * merge `i` — `p_i` adjacent-pair weights, `m_i` the deterministic
    * argmax (count DESC, pair lex), `d_{i+1}` the dict with that literal
    * merge applied. Symbols are wrapped in single spaces (double-space
    * separators — the Sennrich run-merging form, see `Bpe` scaladoc), and
    * `replace` is left-to-right non-overlapping in both engines, so the
    * greedy chain is bitwise reproducible. `d_{i+1}` LEFT JOINs its merge
    * row so an exhausted chain (no pairs left before rank k) carries the
    * dict forward unchanged instead of collapsing to zero rows. */
  /** DuckDB replay of [[graft.ops.Classifier.trainCentroid]]: hashed
    * integer count features, fixed-point (1/65536) class-mean weights,
    * midpoint threshold — exact integer arithmetic end to end, so the
    * weights, threshold, margins and predictions hash-match Spark's at
    * any parallelism. The bucket hash folds the first 6 md5 hex digits
    * to an integer (16^i powers are exact in DOUBLE, cast back to
    * BIGINT) — same value as Spark's conv(substr(md5,1,6),16,10).
    * Divisions mirror Long `/` (truncation toward zero): class-count
    * divisors apply to non-negative sums where DuckDB's floor `//`
    * agrees, and the possibly-negative mean-margin divisions re-apply
    * the sign around a magnitude floor-division. CTEs are MATERIALIZED —
    * inlined CTEs re-expand the chain combinatorially. */
  /** @param trainCond SQL predicate over `l.doc_id` restricting the
    *   TRAINING population (class counts, class sums, threshold) — the
    *   scoring margins `m` always cover every doc. "TRUE" trains on the
    *   full corpus (t19); t20 passes the md5-threshold train-split
    *   predicate so the oracle trains leakage-free like the Spark side. */
  /** DuckDB replay of [[graft.ops.Classifier.tokenBucket]]: the 6-hex
    * md5 digit fold mod `numBuckets`, over a column named `h` holding
    * `md5(token)`. Shared by the classifier and DSIR oracles. */
  def duckBucket6(numBuckets: Int): String =
    """CAST(list_sum([(CASE WHEN ascii(substr(h,i+1,1)) >= 97
      |      THEN ascii(substr(h,i+1,1)) - 87
      |      ELSE ascii(substr(h,i+1,1)) - 48 END)
      |    * CAST(16**(5-i) AS BIGINT) for i in range(0,6)])""".stripMargin +
      s" % $numBuckets AS BIGINT)"

  /** DuckDB replay of [[graft.ops.Sampling.tokenBudgetPlan]]: per-domain
    * token supplies, integer weights from the source name, then `iters`
    * unrolled saturation waves — every quota is the same rem·w // ΣW
    * truncating division (all operands non-negative, so DuckDB's floor
    * `//` agrees with Long `/`). MATERIALIZED: each wave references the
    * previous state twice. */
  /** DuckDB replay of [[graft.ops.Sketch.valueHash60]]: fold the first
    * 15 hex digits of an md5 column named `hh` into a BIGINT (16^i
    * powers are powers of two — exact through the DOUBLE cast; the sum
    * runs in BIGINT, which a 6-digit-style double fold could not at 60
    * bits). ONE definition interpolated into every sketch oracle so the
    * replays cannot drift apart. */
  val duckHash60 =
    """CAST(list_sum([(CASE WHEN ascii(substr(hh, fi+1, 1)) >= 97
      |        THEN ascii(substr(hh, fi+1, 1)) - 87
      |        ELSE ascii(substr(hh, fi+1, 1)) - 48 END)
      |      * CAST(16**(14-fi) AS BIGINT) for fi in range(0,15)]) AS BIGINT)""".stripMargin

  /** DuckDB replay of [[graft.ops.Sketch.histBucket]]'s log-linear id
    * (subBits = 5): exact region below 32, else floor-log2 from
    * length(bin(v))−1; negative values mirror through
    * −1 − bucket⁺(−(v+1)) — the SAME −(v+1) reflection as Spark, which
    * is the overflow-free form (DuckDB's checked negation raises on
    * −(Long.MinValue); negating v+1 never does). Every current oracle
    * filters to v ≥ 0, so the mirror arm is parity insurance, not
    * load-bearing — and it covers BUCKET IDS only: the quantile
    * lo/width replay CTEs in t25/t26/e16/f03 remain positive-only (a
    * future signed gate must mirror those too, minding that DuckDB `//`
    * floors where Spark div truncates on negatives). */
  def duckBucket(e: String): String = {
    def pos(u: String): String =
      s"CASE WHEN ($u) < 32 THEN ($u) " +
        s"ELSE CAST(length(bin($u)) - 5 AS BIGINT) * 32 " +
        s"+ (($u) >> CAST(length(bin($u)) - 6 AS INTEGER)) - 32 END"
    s"CASE WHEN ($e) < 0 THEN -1 - (${pos(s"-(($e) + 1)")}) ELSE ${pos(e)} END"
  }

  /** doc_id-derived synthetic media payload (a sawtooth byte "image"):
    * bytes_i = (core·31 + i·slope) % 251 over n = 200 + core % 50
    * bytes; with `bump`, +40 on every 8th 16-byte block (the blocking
    * artifact a lossy re-encode leaves), clamped to 255. Shared by the
    * mm05/mm06/e21 gates; [[duckSawBytes]] is its oracle twin. */
  def sawtoothPayload(core: Column, slope: Int, bump: Column): Column = {
    val n = lit(200) + pmod(core, lit(50))
    unhex(concat_ws("", transform(sequence(lit(0), n - 1), i =>
      lpad(hex(least(lit(255),
          pmod(core * lit(31) + i * lit(slope), lit(251)) +
            when(bump && pmod(shiftright(i, 4), lit(8)) === 0, 40).otherwise(0))),
        2, "0"))))
  }

  /** DuckDB expression for [[sawtoothPayload]]'s BYTES as an integer
    * list — the oracles never materialize blobs (the mm04 pattern). */
  def duckSawBytes(core: String, slope: Int, bump: Boolean): String = {
    val bumpTerm = if (bump) " + CASE WHEN (i>>4)%8 = 0 THEN 40 ELSE 0 END" else ""
    s"[ least(255, (($core)*31 + i*$slope) % 251$bumpTerm) " +
      s"for i in range(0, 200 + ($core) % 50) ]"
  }

  /** DuckDB expression for [[wavPayload]]'s decoded SAMPLES as a signed
    * integer list — the oracle twin (oracles never materialize WAV
    * containers; the decode is ground-truthed by construction, the
    * mm04 pattern). */
  def duckWavSamples(core: String, lead: String, dcOff: String,
      bump: Boolean): String = {
    val bumpTerm = if (bump) " + CASE WHEN (i>>5)%4 = 0 THEN 120 ELSE 0 END" else ""
    s"[ CASE WHEN i < ($lead) THEN 0 " +
      s"ELSE ((($core)+3)*(i*i + i*7) + ($core)*31) % 1601 - 800 END" +
      s" + ($dcOff)$bumpTerm for i in range(0, 400 + ($core) % 97) ]"
  }

  /** CTE chain replaying [[graft.functions.PerceptualHashImpl.dhash63]]
    * over a `(doc_id, bytes)` CTE `src` → `h$sfx(doc_id, ph)` — every
    * step exact non-negative integer arithmetic shared with the kernel
    * (mm05/mm06/e21 oracles). */
  def duckPhash(src: String, sfx: String): String =
    s"""wn$sfx AS (
       |  SELECT doc_id, bytes, len(bytes) AS n FROM $src
       |), cl$sfx AS (
       |  SELECT doc_id,
       |    [ list_sum(bytes[(j*n//64)+1 : greatest((j*n//64)+1, (j+1)*n//64)])
       |        // (greatest((j*n//64)+1, (j+1)*n//64) - (j*n//64))
       |      for j in range(0, 64) ] AS cells
       |  FROM wn$sfx
       |), h$sfx AS (
       |  SELECT doc_id,
       |    CAST(list_sum([ CASE WHEN cells[j+2] < cells[j+1]
       |        THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END
       |      for j in range(0, 63) ]) AS BIGINT) AS ph
       |  FROM cl$sfx
       |)""".stripMargin

  /** The t33 LM-scoring replay chain shared by the t33 / e19 / p20
    * oracles: lowercased tokens -> bigram structs -> even-doc
    * reference counts -> odd-doc scoring through the round(p*1e12)
    * scaled-long stable conversion, landing in
    * `scored(doc_id, n_bigrams, lm_score)` -- ONE fragment (the
    * duckBucket pattern) so the scoring replay cannot drift
    * per-oracle. Plain string: `\s+` stays literal. */
  val duckLmScored: String =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0) AS tk
      |  FROM documents
      |), g0 AS (
      |  SELECT doc_id,
      |    unnest([{'w1': tk[i], 'w2': tk[i+1]} for i in range(1, len(tk))]) AS g
      |  FROM toks
      |), grams AS (
      |  SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM g0
      |), bc AS (SELECT w1, w2, count(*) AS c12 FROM grams
      |          WHERE doc_id % 2 = 0 GROUP BY w1, w2),
      |uc AS (SELECT w1, count(*) AS c1 FROM grams
      |       WHERE doc_id % 2 = 0 GROUP BY w1),
      |scored AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(SUM(COALESCE(
      |        CAST(round(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
      |          * 1000000000000.0) AS BIGINT), 0)) AS DOUBLE)
      |      / (CAST(count(*) AS DOUBLE) * 1000000000000.0) AS lm_score
      |  FROM grams g LEFT JOIN bc USING (w1, w2) LEFT JOIN uc USING (w1)
      |  WHERE g.doc_id % 2 = 1
      |  GROUP BY doc_id
      |)""".stripMargin

  /** The quantile-hit interpolation `lo + (rank-1)*width // cnt` over
    * a positive-side subBits-5 bucket -- ONE fragment behind every
    * sketch-quantile replay (the duckBucket pattern: the interpolation
    * geometry cannot drift per-oracle). Expects the hit frame's
    * `bucket`/`target`/`cum`/`cnt` columns in scope; embedded lines
    * carry no margin pipe, so an outer stripMargin leaves them intact
    * (the r9 composition rule). */
  val duckQuantileEst: String =
    """CASE WHEN bucket < 32 THEN bucket
      |     ELSE (32 + bucket % 32)
      |          * (CAST(1 AS BIGINT) << CAST(bucket // 32 - 1 AS INTEGER)) END
      |    + ((target - (cum - cnt) - 1) *
      |       CASE WHEN bucket < 32 THEN CAST(1 AS BIGINT)
      |            ELSE CAST(1 AS BIGINT) << CAST(bucket // 32 - 1 AS INTEGER) END
      |      ) // cnt""".stripMargin

  /** DuckDB near-dup replay fragments shared by the d04 / p04 / p18
    * oracles: the planted-copy corpus, word-3-gram shingles and the
    * exact all-pairs Jaccard pair list (`pairsj`), plus the recursive
    * transitive closure (`sym`/`reach`/`compm`, consumes `pairsj`) —
    * one text each so the replays cannot drift. Quadratic by design:
    * these oracles are gated at sf0.01 (see CLAUDE.md round-2). */
  lazy val duckNearDupPairs: String =
    """corpus AS (
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
      |), pairsj AS (
      |  SELECT id_a, id_b, jaccard FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / greatest(len(list_distinct(a.s || b.s)), 1) AS jaccard
      |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  ) WHERE jaccard >= 0.6
      |)""".stripMargin

  lazy val duckClosure: String =
    """sym AS (
      |  SELECT id_a AS a, id_b AS b FROM pairsj
      |  UNION ALL
      |  SELECT id_b AS a, id_a AS b FROM pairsj
      |), reach(id, r) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r
      |), compm AS (
      |  SELECT id, least(id, min(r)) AS comp FROM reach GROUP BY id
      |)""".stripMargin

  /** DuckDB URL-prep replay fragments shared by the t31 and f04
    * oracles — ONE text each for the doc_id-derived URL construction,
    * the full normalizeUrl chain, and the host + registrable-domain
    * heuristic, so the two replays cannot drift (the duckBucket
    * precedent). Each is a comma-joined CTE run; [[duckUrlHostsDoms]]
    * consumes a `ded` CTE carrying a `url_norm` column. */
  lazy val duckUrlBuilt: String =
    s"""u0 AS (
       |  SELECT doc_id, doc_id % 50 AS core FROM documents
       |), built AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 1
       |         THEN translate(sh, '$asciiLower', '$asciiUpper') ELSE sh END
       |    || CASE WHEN doc_id % 4 = 0
       |            THEN CASE WHEN core % 2 = 0 THEN ':80' ELSE ':443' END
       |            ELSE '' END
       |    || '/p/' || CAST(core % 11 AS VARCHAR)
       |    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
       |    || CASE WHEN core % 4 = 0 THEN '?id=' || CAST(core AS VARCHAR) ELSE '' END
       |    || CASE WHEN doc_id % 3 = 1
       |            THEN CASE WHEN core % 4 = 0 THEN '&utm_source=g'
       |                      ELSE '?utm_source=g' END
       |            ELSE '' END
       |    || CASE WHEN doc_id % 2 = 1 THEN '#sec' || CAST(doc_id AS VARCHAR)
       |            ELSE '' END AS url
       |  FROM (
       |    SELECT doc_id, core,
       |      (CASE WHEN core % 2 = 0 THEN 'http' ELSE 'https' END) || '://'
       |      || (CASE WHEN core % 3 = 0 THEN 'www.' ELSE '' END)
       |      || 'site' || CAST(core % 7 AS VARCHAR) || '.'
       |      || (CASE WHEN core % 5 = 0 THEN 'com' WHEN core % 5 = 1 THEN 'org'
       |               WHEN core % 5 = 2 THEN 'co.uk' WHEN core % 5 = 3 THEN 'io'
       |               ELSE 'net' END) AS sh
       |    FROM u0)
       |)""".stripMargin

  lazy val duckUrlNorm: String =
    s"""n1 AS (
       |  SELECT doc_id, regexp_replace(trim(url), '#.*', '', 'g') AS t FROM built
       |), n2 AS (
       |  SELECT doc_id, t,
       |    regexp_extract(t, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1) AS pfx
       |  FROM n1
       |), n2b AS (
       |  SELECT doc_id, t, pfx,
       |    regexp_extract(pfx, '^([A-Za-z][A-Za-z0-9+.-]*://)', 1) AS sp
       |  FROM n2
       |), n2c AS (
       |  SELECT doc_id, t, pfx, sp,
       |    regexp_extract(substr(pfx, length(sp) + 1), '^([^/?#]*@)', 1) AS ui
       |  FROM n2b
       |), n3 AS (
       |  SELECT doc_id,
       |    CASE WHEN length(pfx) > 0
       |         THEN regexp_replace(regexp_replace(
       |                translate(sp, '$asciiUpper', '$asciiLower') || ui ||
       |                translate(substr(pfx, length(sp) + length(ui) + 1),
       |                  '$asciiUpper', '$asciiLower'),
       |                '^(http://[^/?#]*):80$$', '\\1'),
       |                '^(https://[^/?#]*):443$$', '\\1')
       |              || substr(t, length(pfx) + 1)
       |         ELSE t END AS u
       |  FROM n2c
       |), n4 AS (
       |  SELECT doc_id, u, instr(u, '?') AS qpos FROM n3
       |), n5 AS (
       |  SELECT doc_id,
       |    regexp_replace(CASE WHEN qpos > 0 THEN substr(u, 1, qpos - 1) ELSE u END,
       |      '/$$', '') AS base,
       |    list_filter(string_split(substr(u, qpos + 1), '&'),
       |      p -> NOT regexp_matches(p, '${Web.TrackingParamRe}')) AS kept,
       |    qpos
       |  FROM n4
       |), normd AS (
       |  SELECT doc_id,
       |    CASE WHEN qpos > 0 AND len(kept) > 0
       |         THEN base || '?' || array_to_string(kept, '&')
       |         ELSE base END AS url_norm
       |  FROM n5
       |)""".stripMargin

  lazy val duckUrlDed: String =
    """ded AS (
      |  SELECT url_norm, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count
      |  FROM normd GROUP BY url_norm
      |)""".stripMargin

  lazy val duckUrlHostsDoms: String =
    s"""hosts AS (
       |  SELECT *,
       |    translate(regexp_replace(regexp_replace(
       |      regexp_extract(trim(url_norm), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
       |      '^[^@]*@', ''), ':[0-9]*$$', ''), '$asciiUpper', '$asciiLower') AS host
       |  FROM ded
       |), doms AS MATERIALIZED (
       |  -- MATERIALIZED is load-bearing (round-11, measured): inlined,
       |  -- the downstream filter+join consumers re-expand this
       |  -- list-splitting tree and the t31 oracle peaked at 5.2 GB RSS
       |  -- for 33 rows (the allocator-poisoning class that made later
       |  -- heavy oracles fail tiny mallocs in a shared process);
       |  -- materialized it reads 144 MB, 36x less
       |  SELECT url_norm, canonical_id, dup_count,
       |    CASE WHEN len(string_split(host, '.')) <= 1 THEN host
       |         ELSE array_to_string(
       |           string_split(host, '.')[
       |             greatest(len(string_split(host, '.')) -
       |               (CASE WHEN len(string_split(host, '.')) > 2
       |                      AND list_contains(${Web.MultiPartSecond
                                 .map(w => s"'$w'").mkString("[", ",", "]")},
       |                        string_split(host, '.')[len(string_split(host, '.')) - 1])
       |                      AND length(string_split(host, '.')[len(string_split(host, '.'))]) = 2
       |                 THEN 3 ELSE 2 END) + 1, 1) :
       |             len(string_split(host, '.'))], '.')
       |    END AS domain
       |  FROM hosts
       |)""".stripMargin

  /** DuckDB replay of [[graft.ops.Sketch.histDistance]]'s exact TV
    * machinery over two bucket-count CTEs `(source, bucket, c)`:
    * emits CTEs j/t/f with suffix `p`; the final SELECT applies the
    * one double division per pair. */
  def duckTv(p: String, aCte: String, bCte: String,
      keyCol: String = "source"): String =
    s"""j$p AS (
       |  SELECT COALESCE(a.$keyCol, b.$keyCol) AS $keyCol,
       |    COALESCE(a.c, 0) AS ca, COALESCE(b.c, 0) AS cb
       |  FROM $aCte a FULL JOIN $bCte b
       |    ON a.$keyCol IS NOT DISTINCT FROM b.$keyCol AND a.bucket = b.bucket
       |),
       |t$p AS (SELECT $keyCol, CAST(SUM(ca) AS BIGINT) AS na,
       |          CAST(SUM(cb) AS BIGINT) AS nb
       |        FROM j$p GROUP BY 1),
       |f$p AS (
       |  SELECT j.$keyCol,
       |    SUM(ABS(CAST(j.ca AS DECIMAL(38,0)) * t.nb
       |          - CAST(j.cb AS DECIMAL(38,0)) * t.na)) AS num,
       |    MAX(t.na) AS na, MAX(t.nb) AS nb
       |  FROM j$p j JOIN t$p t ON t.$keyCol IS NOT DISTINCT FROM j.$keyCol
       |  GROUP BY 1
       |)""".stripMargin

  def duckTvSelect(p: String): String =
    s"""CASE WHEN f$p.na > 0 AND f$p.nb > 0
       |       THEN CAST(f$p.num AS DOUBLE)
       |            / (2.0 * CAST(f$p.na AS DOUBLE) * CAST(f$p.nb AS DOUBLE))
       |       WHEN f$p.na > 0 OR f$p.nb > 0 THEN 1.0 ELSE 0.0 END""".stripMargin

  /** The EXACT lower empirical quantile value at rank
    * floor(pct/100 · (n−1)) + 1 per partition — the load-bearing
    * cross-engine rank contract, shared by the t25/e16 gates' exact
    * comparison sides so the two cannot drift. */
  def exactRankValues(df: org.apache.spark.sql.DataFrame,
      partCol: String, valCol: String, pcts: Seq[Int]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("rn", row_number().over(
        Window.partitionBy(partCol).orderBy(valCol)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(partCol)))
      .select(col(partCol), col(valCol), col("rn"), col("n"),
        explode(typedlit(pcts)).as("pct"))
      .filter(col("rn") === floor(col("pct").cast("double") / lit(100.0) *
        (col("n") - lit(1L)).cast("double")).cast("long") + lit(1L))
      .select(col(partCol), col("pct"), col(valCol).as("exact_value"))
  }
}
