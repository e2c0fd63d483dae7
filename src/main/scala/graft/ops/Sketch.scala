package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches: KMV (k-minimum-values).
  *
  * The classic cardinality estimator (Bar-Yossef et al. 2002; the
  * bottom-k / theta-sketch family): hash every value uniformly, keep
  * only the k SMALLEST distinct hashes per key. If the k-th smallest
  * normalized hash is U, the key saw ≈ (k−1)/U distinct values; with
  * fewer than k distinct values the sketch IS the exact set. Standard
  * error ≈ 1/√(k−2) (~13% at k=64, ~6% at k=256).
  *
  * Why not `approx_count_distinct`: Spark's HLL++ is neither mergeable
  * at the DataFrame level (no exposed sketch artifact) nor replayable
  * by an external engine. This sketch is BOTH: the artifact is k plain
  * longs per key (persistable, unionable, re-aggregatable across days/
  * segments), and the hash is the repo's portable md5 digit-fold
  * ([[valueHash60]]) so DuckDB replays every slot and the estimate
  * bit-for-bit (gate t21).
  *
  * 100 TB shape: aggregation state is a BOUNDED sorted array (≤ k
  * longs) per key per partition — map-side partial aggregation shuffles
  * at most k longs per (partition, key), never the distinct value set
  * itself. Merging month-from-days is [[kmvMerge]]: union the sketch
  * rows, re-cap — associative and order-independent (the k smallest
  * distinct of a multiset do not depend on arrival order).
  */
object Sketch {

  /** Portable 60-bit value hash: first 15 hex digits of md5, exact in
    * Spark (`conv(…,16,10)`) and in DuckDB (digit fold with BIGINT
    * powers — each 16^i is a power of two, exact through the DOUBLE
    * cast). 60 bits keeps collision probability negligible (< 1e-9 at
    * a billion distinct values per key) while staying far inside
    * BIGINT. */
  def valueHash60(v: Column): Column =
    conv(substring(md5(v.cast("string")), 1, 15), 16, 10).cast("long")

  /** Bounded-state KMV aggregator: buffer = ascending Array[Long] of at
    * most k distinct hashes. Insert and merge keep the array sorted and
    * capped, so partial states stay ≤ k longs regardless of input
    * volume — this is what makes the sketch a sketch. */
  private final class KmvAgg(k: Int) extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(buf: Array[Long], hBoxed: java.lang.Long): Array[Long] = {
      if (hBoxed == null) return buf
      val h = hBoxed.longValue()
      val idx = java.util.Arrays.binarySearch(buf, h)
      if (idx >= 0) buf // already present
      else {
        val ins = -idx - 1
        if (buf.length >= k) {
          if (ins >= k) buf // larger than the current cap — irrelevant
          else {
            val out = new Array[Long](k)
            System.arraycopy(buf, 0, out, 0, ins)
            out(ins) = h
            System.arraycopy(buf, ins, out, ins + 1, k - ins - 1)
            out
          }
        } else {
          val out = new Array[Long](buf.length + 1)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(buf, ins, out, ins + 1, buf.length - ins)
          out
        }
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      val out = new Array[Long](math.min(k, a.length + b.length))
      var i = 0; var j = 0; var o = 0
      while (o < out.length && (i < a.length || j < b.length)) {
        val take =
          if (i >= a.length) { val v = b(j); j += 1; v }
          else if (j >= b.length) { val v = a(i); i += 1; v }
          else if (a(i) < b(j)) { val v = a(i); i += 1; v }
          else if (a(i) > b(j)) { val v = b(j); j += 1; v }
          else { val v = a(i); i += 1; j += 1; v } // shared hash: once
        if (o == 0 || out(o - 1) != take) { out(o) = take; o += 1 }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }

    override def finish(r: Array[Long]): Array[Long] = r

    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** KMV aggregation column over a 60-bit hash column: usable directly
    * in any `groupBy(...).agg(...)`. */
  def kmvAgg(hash60: Column, k: Int): Column = {
    require(k >= 2, s"kmv k=$k must be >= 2 (the estimator needs k-1 >= 1)")
    udaf(new KmvAgg(k)).apply(hash60)
  }

  /** Per-key KMV sketch of a value column: `(key, hashes array<long>
    * ascending, ≤ k)`. One hash projection + one bounded aggregation. */
  def kmvSketch(df: DataFrame, keyCol: String, valueCol: String, k: Int): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), valueHash60(col(valueCol)).as("h"))
      .groupBy(col("key"))
      .agg(kmvAgg(col("h"), k).as("hashes"))

  /** Merge sketch frames (built with the same k and hash): union →
    * explode → re-cap. The artifact stays ≤ k longs per key, so
    * merging a year of daily sketches is a narrow aggregation. */
  def kmvMerge(sketches: DataFrame, k: Int): DataFrame =
    sketches.select(col("key"), explode(col("hashes")).as("h"))
      .groupBy(col("key"))
      .agg(kmvAgg(col("h"), k).as("hashes"))

  private val HashSpace = 1152921504606846976.0 // 2^60

  /** The KMV estimator over a sketch array — exact below k, (k−1)/U_(k)
    * above, as one expression (shared by [[kmvEstimate]] and
    * [[kmvSetEstimates]] so every surface replays identically). */
  private def kmvEstExpr(hashes: Column, k: Int): Column = {
    val n = size(hashes)
    val hk = element_at(hashes, n).cast("double")
    val u = greatest(hk, lit(1.0)) / lit(HashSpace)
    when(n < k, n.cast("long"))
      .otherwise(round(lit((k - 1).toDouble) / u).cast("long"))
  }

  /** The KMV estimator as a bare Column over a sketch ARRAY — for
    * callers folding [[kmvAgg]] into a wider aggregate (e.g.
    * [[graft.ops.Profile.tableProfile]]'s single-pass stats row)
    * instead of carrying a separate sketch frame. */
  def kmvEstimateExpr(hashes: Column, k: Int): Column = kmvEstExpr(hashes, k)

  /** Distinct-count estimates from a sketch frame: `(key, n_sketch,
    * est_distinct)`. Exact when the key had < k distinct values (the
    * sketch holds them all); otherwise the KMV estimator
    * (k−1) / U_(k) with U the 60-bit hash normalized to (0, 1] — the
    * expression shape (one int→double cast, one exact power-of-two
    * scale, one division, one round) is replayed bitwise by DuckDB. */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.select(col("key"),
      size(col("hashes")).cast("long").as("n_sketch"),
      kmvEstExpr(col("hashes"), k).as("est_distinct"))

  /** Set-algebra estimates between two per-key KMV sketch frames built
    * with the same k and hash — the theta-sketch construction
    * (DataSketches / Dasgupta et al.): `(key, est_a, est_b, est_union,
    * est_intersect, est_jaccard)`.
    *
    * The union sketch is the bottom-k of the merged hash sets (exactly
    * what a fresh sketch of A∪B would hold). For the intersection,
    * θ_X = the k-th smallest hash of side X (its sampling threshold;
    * the full hash space when the side is exact), θ = min(θ_A, θ_B),
    * and every shared hash below θ is a uniform sample of A∩B at rate
    * θ/2^60 — so |A∩B| ≈ matches · 2^60/θ, EXACT when both sides are
    * exact. Keys missing from one side estimate intersection 0; the
    * join is null-safe (null-key sketches participate).
    *
    * This is what makes bounded sketches an ALGEBRA: daily audience
    * sketches roll up to month unions, overlap matrices (campaign ×
    * campaign reach) come from pairwise intersections, and join-size
    * estimates from key-column sketches — all without touching the
    * corpus again. Fully declarative (array ops over ≤ k-long arrays),
    * replayed bitwise by DuckDB (gate t27). */
  def kmvSetEstimates(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"kmvSetEstimates: k=$k must be >= 2")
    val ja = a.select(col("key").as("__ka"), col("hashes").as("__ha"))
    val jb = b.select(col("key").as("__kb"), col("hashes").as("__hb"))
    val empty = typedlit(Array.empty[Long])
    val joined = ja.join(jb, col("__ka") <=> col("__kb"), "full")
    val ha = coalesce(col("__ha"), empty)
    val hb = coalesce(col("__hb"), empty)
    def theta(h: Column): Column =
      when(size(h) < k, lit(HashSpace)).otherwise(element_at(h, k).cast("double"))
    // θ is bound ONCE via the 1-element-transform idiom — referencing it
    // directly inside the filter lambda would re-evaluate both CaseWhen
    // trees per array element (the documented HOF-blocks-CSE trap)
    val matches = Dedup.bindOnce(least(theta(ha), theta(hb))) { th =>
      size(filter(array_intersect(ha, hb), h => h.cast("double") < th))
    }
    val th = least(theta(ha), theta(hb))
    val hu = slice(array_sort(array_distinct(concat(ha, hb))), 1, k)
    val estInter = round(matches.cast("double") * (lit(HashSpace) / th)).cast("long")
    val estUnion = kmvEstExpr(hu, k)
    joined.select(
      coalesce(col("__ka"), col("__kb")).as("key"),
      kmvEstExpr(ha, k).as("est_a"),
      kmvEstExpr(hb, k).as("est_b"),
      estUnion.as("est_union"),
      estInter.as("est_intersect"),
      when(estUnion > 0L,
        estInter.cast("double") / estUnion.cast("double"))
        .otherwise(lit(0.0)).as("est_jaccard"))
  }

  // --------------------------------------------------------- count-min
  //
  // Frequency estimation companion to KMV (Cormode & Muthukrishnan
  // 2005): depth × width counters; a value's estimate is the MIN of its
  // depth bucket counts — never an undercount, overcounts only by
  // collision mass (≤ 2N/width with prob 1 − 2^−depth). Unlike KMV's
  // custom aggregator this is FULLY declarative: build and merge are
  // plain hash aggregations (map-side combined), the artifact is
  // (key, di, bucket, cnt) integer rows bounded by depth·width per key,
  // and every hash/count/min is exact integer arithmetic the DuckDB
  // oracle replays (gate t22).

  /** Salted 60-bit row hash folded to a bucket: row `i`'s hash of `v`
    * is the md5 fold of `"i#v"` — independent-enough rows from one
    * portable hash function. */
  def cmBucket(v: Column, row: Int, width: Int): Column =
    pmod(valueHash60(concat(lit(row.toString), lit("#"), v.cast("string"))), lit(width.toLong))

  /** Per-key count-min sketch of a value column: `(key, di, bucket,
    * cnt)` rows — at most depth·width per key. One projection (the
    * depth bucket expressions ride an inline posexplode) + one counting
    * aggregation; pass `weightCol` to sum weights instead of counting
    * occurrences. */
  def cmSketch(df: DataFrame, keyCol: String, valueCol: String,
      depth: Int = 4, width: Int = 1024,
      weightCol: Option[String] = None): DataFrame = {
    require(depth >= 1 && width >= 1, s"cmSketch: depth=$depth width=$width")
    // negative/null weights raise: a negative weight breaks the sketch's
    // never-undercount contract (and null weights would null whole
    // bucket counters)
    val w = weightCol.map { c =>
      val wl = col(c).cast("long")
      when(wl.isNull || wl < 0L, raise_error(concat(
        lit(s"cmSketch: weight column $c must be non-negative and non-null, got "),
        coalesce(wl.cast("string"), lit("null"))))).otherwise(wl)
    }.getOrElse(lit(1L))
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), w.as("__w"),
        posexplode(array((0 until depth).map(i =>
          cmBucket(col(valueCol), i, width)): _*)).as(Seq("di", "bucket")))
      .groupBy(col("key"), col("di"), col("bucket"))
      .agg(sum(col("__w")).as("cnt"))
  }

  /** Merge count-min sketch frames (same depth/width/hash): counter
    * matrices add element-wise, so merging is one SUM aggregation. */
  def cmMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("key"), col("di"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Frequency estimates for a probe frame `(key, value)` against a
    * sketch: `(key, value, est_count)` = min over the depth rows of the
    * probed bucket counts (a bucket the sketch never saw counts 0).
    * The join touches depth rows per probe — the corpus is never
    * rescanned. */
  def cmEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
      valueCol: String, depth: Int = 4, width: Int = 1024): DataFrame = {
    // key joins NULL-SAFE: the build side keeps null-key groups (only
    // null VALUES are filtered), so probing them must find their counts
    // — a plain equi-join would silently under-count them to 0,
    // breaking the never-undercount contract
    val sk = sketch.select(col("key").as("__sk"), col("di").as("__sd"),
      col("bucket").as("__sb"), col("cnt"))
    probes
      .select(col(keyCol).as("key"), col(valueCol).as("value"),
        posexplode(array((0 until depth).map(i =>
          cmBucket(col(valueCol), i, width)): _*)).as(Seq("di", "bucket")))
      .join(sk, col("__sk") <=> col("key") && col("__sd") === col("di") &&
        col("__sb") === col("bucket"), "left")
      .groupBy(col("key"), col("value"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /** Join-cardinality estimate between two per-key count-min sketch
    * frames (same depth/width/hash): `(key, est_inner)` where
    * `est_inner` estimates Σ_v f_a(v)·f_b(v) — the equi-join row count
    * between the two sketched multisets on the value column (the CM
    * inner-product estimator, Cormode & Muthukrishnan 2005 §4.2). Size
    * a join (broadcast? pre-salt?) from two bounded artifacts without
    * touching either table; day-level sketches compose via [[cmMerge]]
    * first, so horizon-level join sizing is still sketch-only.
    *
    * One-sided like [[cmEstimate]]: per depth row the bucket-wise
    * product sum only ADDS collision mass over the true inner product,
    * so the min over depth rows NEVER undercounts. The inner bucket
    * join is exact for each row's sum (a bucket absent on either side
    * contributes 0) — and a depth row with NO shared buckets proves the
    * true inner product is 0, so a key with fewer than `depth` joined
    * rows estimates 0. Keys present in only one sketch (join size
    * provably 0) surface as 0 via the null-safe key-universe join (tier
    * invariant: null keys are groups too, checked FIRST — see the
    * round-6 notes).
    *
    * Domain bound (the [[histDistance]] contract): each per-row sum is
    * ≤ na·nb (non-negative counts), so the DECIMAL(38,0) sum is exact
    * while na·nb < 10³⁸−1; a cheap typed-error guard on the joined
    * rows' window totals (≤ the true totals, same Σab ≤ ΣaΣb bound)
    * raises at ~9·10³⁷ instead of letting the ANSI decimal aggregation
    * blow up mid-query at an engine-dependent row. */
  def cmInnerProduct(a: DataFrame, b: DataFrame, depth: Int = 4): DataFrame = {
    require(depth >= 1, s"cmInnerProduct: depth=$depth")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val am = cmMerge(a)
    val bm = cmMerge(b)
    val bS = bm.select(col("key").as("__bk"), col("di").as("__bd"),
      col("bucket").as("__bb"), col("cnt").as("__bc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key", "di")
    val perRow = am.join(bS,
        col("key") <=> col("__bk") && col("di") === col("__bd") &&
          col("bucket") === col("__bb"))
      // shared-bucket window totals bound the product sum from above;
      // the groupBy below reuses the window's (key, di) partitioning
      .withColumn("__na", sum(col("cnt")).over(w))
      .withColumn("__nb", sum(col("__bc")).over(w))
      .filter(when(
        col("__na").cast("double") * col("__nb").cast("double") > lit(9e37),
        raise_error(concat(lit("cmInnerProduct: per-key totals too large "),
          lit("for the exact DECIMAL(38,0) sum (na*nb > ~9e37) at key "),
          coalesce(col("key").cast("string"), lit("null"))))
        ).otherwise(lit(true)))
      .groupBy(col("key"), col("di"))
      .agg(sum(col("cnt").cast(dec) * col("__bc")).as("ip"))
    val est = perRow.groupBy(col("key"))
      .agg(when(count(lit(1)) < depth, lit(0L).cast(dec))
        .otherwise(min(col("ip"))).as("est_inner"))
    val keys = am.select(col("key")).union(bm.select(col("key"))).distinct()
    keys.join(est.select(col("key").as("__ek"), col("est_inner")),
        col("key") <=> col("__ek"), "left")
      .select(col("key"),
        coalesce(col("est_inner"), lit(0L).cast(dec)).as("est_inner"))
  }

  /** EXACT heavy hitters via a count-min prescreen: `(key, value, cnt)`
    * for every value occurring ≥ `minCount` times under its key.
    *
    * The naive `groupBy(key, value).count().filter(...)` shuffles EVERY
    * distinct value — at 100 TB the aggregation itself is the cost.
    * Here pass 1 builds the bounded CM sketch (state ≤ depth·width per
    * key); pass 2 probes each row's own value against the broadcast
    * sketch and keeps rows whose estimate reaches `minCount` — CM never
    * undercounts, so the survivors are a GUARANTEED superset of the
    * true heavy hitters — then exact-counts only the survivors (whose
    * distinct-value population is small by construction) and drops the
    * sketch's false positives. The result is EXACT: identical to the
    * naive aggregation (spec-pinned), at a shuffle bounded by the
    * heavy-hitter candidates instead of the full value cardinality.
    * Size `width` ≥ a few × (total rows / minCount) to keep collision
    * false-positives (wasted pass-2 work, never wrong results) rare. */
  /** The prescreen-vs-naive decision, extracted so the comparator is
    * unit-testable (result equality cannot distinguish the paths). */
  private[ops] def prescreenPaysOff(nHeavyBuckets: Long, broadcastRowLimit: Long): Boolean =
    nHeavyBuckets <= broadcastRowLimit

  def heavyHitters(df: DataFrame, keyCol: String, valueCol: String,
      minCount: Long, depth: Int = 4, width: Int = 1024,
      broadcastRowLimit: Long = 4000000L): DataFrame =
    heavyHittersImpl(df, keyCol, valueCol, minCount, depth, width,
      materialize = true, broadcastRowLimit)

  /** PLAN-INSPECTION variant only (hence `private[ops]`, exercised by
    * SketchSpec's plan-shape pin): nothing is cached or executed at
    * call time, there is NO broadcast-size fallback, and executing the
    * returned plan re-runs the sketch pass once per depth broadcast
    * build — never execute it on a large corpus. The public
    * [[heavyHitters]] always takes the materialized path. */
  private[ops] def heavyHittersPlanOnly(df: DataFrame, keyCol: String,
      valueCol: String, minCount: Long, depth: Int = 4,
      width: Int = 1024): DataFrame =
    heavyHittersImpl(df, keyCol, valueCol, minCount, depth, width,
      materialize = false, broadcastRowLimit = Long.MaxValue)

  private def heavyHittersImpl(df: DataFrame, keyCol: String, valueCol: String,
      minCount: Long, depth: Int, width: Int,
      materialize: Boolean, broadcastRowLimit: Long): DataFrame = {
    require(minCount >= 1, s"heavyHitters: minCount=$minCount must be >= 1")
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), col(valueCol).as("value"))
    // the contract is EXACT equality with this aggregation — it is also
    // the fallback when the candidate set is not broadcast-sized
    def naive: DataFrame = rows.groupBy(col("key"), col("value"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= minCount)
    // a value survives iff EVERY depth row's bucket is heavy (its CM
    // estimate = min over rows ≥ minCount) — expressed as depth chained
    // BROADCAST SEMI-joins, so the prescreen is entirely map-side.
    // Keys join NULL-SAFE: null-key groups are legal and must survive
    // like they do in the naive aggregation.
    def prescreened(heavy: DataFrame): DataFrame = {
      var surv = rows
      for (i <- 0 until depth) {
        val hi = broadcast(heavy.filter(col("di") === i)
          .select(col("key").as(s"__k$i"), col("bucket").as(s"__hb$i")))
        surv = surv.withColumn(s"__b$i", cmBucket(col("value"), i, width))
          .join(hi, col(s"__k$i") <=> col("key") &&
            col(s"__hb$i") === col(s"__b$i"), "left_semi")
      }
      surv.groupBy(col("key"), col("value"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= minCount)
    }
    val heavyPlan = cmSketch(rows, "key", "value", depth, width)
      .filter(col("cnt") >= minCount)
    if (!materialize) prescreened(heavyPlan)
    // materialize = false is the PLAN-INSPECTION variant ONLY: nothing
    // is cached or executed at call time, there is NO broadcast-size
    // fallback, and executing the returned plan re-runs the sketch pass
    // once per broadcast build — do not execute it on large corpora
    else {
      // persist across the depth broadcast builds (each would otherwise
      // re-run the whole corpus sketch pass); the count both
      // materializes the cache and sizes the candidate set
      val heavy = heavyPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nHeavy = heavy.count()
      if (!prescreenPaysOff(nHeavy, broadcastRowLimit)) {
        // candidate buckets scale as depth·N/minCount — past broadcast
        // size the prescreen cannot pay (a SHUFFLED semi-join would
        // move the corpus depth times); the naive one-shuffle
        // aggregation is the honest plan there. Still materialized —
        // the materialize contract must not silently lapse on the
        // fallback path (the output is heavy-hitter-sized either way).
        heavy.unpersist()
        Lineage.cut(naive)
      } else {
        // the result is heavy-hitter-sized — materialize it eagerly
        // (Lineage.cut) so the sketch cache releases before return
        val out = Lineage.cut(prescreened(heavy))
        heavy.unpersist()
        out
      }
    }
  }

  // ------------------------------------------------------------ bloom
  //
  // Membership filter completing the sketch tier: numHashes salted bit
  // positions per value (the SAME portable salted hash as count-min —
  // [[cmBucket]] with width = numBits), stored as 63-bit words
  // (key, word_idx, bits) — 63, not 64, bits per word because a shift
  // by 63 overflows DuckDB's checked BIGINT `<<` (probe-verified), and
  // the oracle must replay every word. Build is one explode + one bit_or
  // aggregation; merge is bit_or again; a probe is maybe-present iff
  // ALL its bits are set — NO false negatives ever, false positives at
  // the classic (1 − e^(−kn/m))^k rate. Use as a cheap pre-filter in
  // front of exact membership joins (contamination screens, seen-URL
  // checks): the filter for a billion values at 10 bits/value is
  // ~1.2 GB of plain integer rows, broadcastable in shards and
  // DuckDB-replayable bit for bit (gate t23).

  /** Per-key Bloom filter of a value column: `(key, word_idx, bits)`
    * rows — at most ceil(numBits/63) per key, typically far fewer
    * (only words with set bits exist). */
  def bloomSketch(df: DataFrame, keyCol: String, valueCol: String,
      numBits: Int = 8192, numHashes: Int = 4): DataFrame = {
    require(numBits >= 63, s"bloomSketch: numBits=$numBits must be >= 63")
    require(numHashes >= 1, s"bloomSketch: numHashes=$numHashes")
    bloomBits(
      df.filter(col(valueCol).isNotNull).select(col(keyCol).as("key"), col(valueCol)),
      valueCol, numBits, numHashes, col("key"))
      .groupBy(col("key"), col("word_idx"))
      .agg(bit_or(call_function("shiftleft", lit(1L), col("bit"))).as("bits"))
  }

  /** Merge Bloom frames (same numBits/numHashes): bitmaps OR together. */
  def bloomMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("key"), col("word_idx"))
      .agg(bit_or(col("bits")).as("bits"))

  // Persisted Bloom index — the continuous-ingest lifecycle every other
  // persisted index here has (MinHash bands, digest, IVF/PQ): pay the
  // corpus pass at write time, append new batches as extra bitmap rows
  // (bit_or is idempotent and associative, so segments never conflict),
  // probe against the stored rows, compact to one row per word when
  // append traffic accumulates. All dirs swap two-phase; readers heal.

  /** Per-path `_meta` memo for the bloom/hist index families whose
    * readers sit in per-micro-batch screen loops (e15/e17): the sidecar
    * collect is paid once per JVM, not per batch — the JL/Lm/phash memo
    * precedent. Meta is a CORRECTNESS input (bucket geometry / bit
    * space), so [[writeIndexDir]] invalidates around its swap via
    * [[FsOps.swapDirsInvalidating]] (remove → swap → remove, the
    * round-10 rule); appends/compactions keep parameters verbatim.
    * Keys carry the index family ([[metaKey]]), so one path read through
    * both getters never aliases two sidecar shapes. Only this JVM's
    * rewrites invalidate: an index rebuilt by another process with new
    * parameters needs a reader restart. */
  private val indexMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Any]]()
  private val metaFamilies = Seq("bloom", "hist")
  private def metaKey(family: String, path: String) = s"$family:$path"

  /** Shared persisted-index plumbing for the whole sketch tier: sketch
    * rows at the dir root plus a `_meta` parquet sidecar (underscore
    * dirs are invisible to Spark's file index, so `read.parquet(path)`
    * sees only the rows), built in a `.building` sibling and swapped in
    * two-phase; the delete→rename crash window heals at the next
    * metadata read. */
  private def writeIndexDir(spark: org.apache.spark.sql.SparkSession,
      rows: DataFrame, metaDf: DataFrame, path: String): Unit = {
    val tmp = path + ".building"
    rows.write.mode("overwrite").parquet(tmp)
    metaDf.coalesce(1).write.mode("overwrite").parquet(tmp + "/_meta")
    FsOps.swapDirsInvalidating(spark, tmp, path)(() => {
      metaFamilies.foreach(f => indexMetaCache.remove(metaKey(f, path))); ()
    })
  }

  private def healIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    FsOps.healSwap(spark, path + ".building", path)

  /** Write a [[bloomSketch]] of the corpus to `path` as a
    * self-describing index: bitmap rows at the root plus a `_meta`
    * sidecar (numBits, numHashes) so probes need only the path. Built
    * in a sibling dir and swapped in with ONE rename. */
  def writeBloomIndex(df: DataFrame, keyCol: String, valueCol: String,
      path: String, numBits: Int = 8192, numHashes: Int = 4): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    writeIndexDir(spark, bloomSketch(df, keyCol, valueCol, numBits, numHashes),
      Seq((numBits, numHashes)).toDF("num_bits", "num_hashes"), path)
  }

  /** Index parameters from the `_meta` sidecar (heals first; value
    * memoized per path — see [[indexMetaCache]]). */
  def readBloomMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    healIndex(spark, path) // heal EVERY entry, memoize only the value
    val v = indexMetaCache.computeIfAbsent(metaKey("bloom", path), _ => {
      val r = spark.read.parquet(path + "/_meta").collect().head
      Seq(r.getInt(0), r.getInt(1))
    })
    (v(0).asInstanceOf[Int], v(1).asInstanceOf[Int])
  }

  /** Append a batch to a [[writeBloomIndex]] index with the index's OWN
    * stored parameters: one pass over the BATCH, existing rows
    * untouched. Bitmap rows may now repeat per (key, word_idx) across
    * segments — probes bit_or-collapse on the fly; [[compactBloomIndex]]
    * restores one-row-per-word after heavy append traffic. */
  def appendToBloomIndex(batch: DataFrame, keyCol: String, valueCol: String,
      path: String): Unit = {
    val (numBits, numHashes) = readBloomMeta(batch.sparkSession, path)
    bloomSketch(batch, keyCol, valueCol, numBits, numHashes)
      .write.mode("append").parquet(path)
  }

  /** Membership probes against a persisted index (heals, then reads):
    * multi-segment rows collapse via bit_or BEFORE the bit tests — a
    * bit set in ANY segment counts, exactly as if the union had been
    * sketched fresh. */
  def probeBloomIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val (numBits, numHashes) = readBloomMeta(spark, path)
    val collapsed = bloomMerge(spark.read.parquet(path))
    bloomMayContain(collapsed, probes, keyCol, valueCol, numBits, numHashes)
  }

  /** Rewrite a multi-segment index as one row per (key, word_idx) —
    * restores single-row probes after append traffic. Two-phase swap,
    * heal window recovered at the next read. */
  def compactBloomIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (numBits, numHashes) = readBloomMeta(spark, path)
    import spark.implicits._
    writeIndexDir(spark, bloomMerge(spark.read.parquet(path)),
      Seq((numBits, numHashes)).toDF("num_bits", "num_hashes"), path)
  }

  // Persisted KMV / CM / histogram indexes — the same continuous-ingest
  // lifecycle Bloom has, completing the tier's "union a year of daily
  // sketches" story as managed artifacts instead of manual parquet
  // handling: write pays the corpus pass once, append adds segment rows
  // for just the batch (every merge here is associative and
  // order-independent, so segments never conflict), reads collapse
  // segments on the fly, compact restores one-row-per-group. All dirs
  // swap two-phase; readers heal.

  /** Write a [[kmvSketch]] of the corpus to `path` (self-describing:
    * `_meta` stores k). */
  def writeKmvIndex(df: DataFrame, keyCol: String, valueCol: String,
      path: String, k: Int = 256): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    writeIndexDir(spark, kmvSketch(df, keyCol, valueCol, k),
      Seq(k).toDF("k"), path)
  }

  /** Sketch parameter k from the `_meta` sidecar (heals first). */
  def readKmvMeta(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    healIndex(spark, path)
    spark.read.parquet(path + "/_meta").collect().head.getInt(0)
  }

  /** Append a batch with the index's OWN stored k: one pass over the
    * BATCH, existing rows untouched (per-key sketch rows may now repeat
    * across segments — reads re-cap on the fly). */
  def appendToKmvIndex(batch: DataFrame, keyCol: String, valueCol: String,
      path: String): Unit = {
    val k = readKmvMeta(batch.sparkSession, path)
    kmvSketch(batch, keyCol, valueCol, k).write.mode("append").parquet(path)
  }

  /** Distinct-count estimates from a persisted index: segments re-cap
    * through [[kmvMerge]] before estimation — exactly the sketch a
    * fresh build over the union would produce (the k smallest distinct
    * hashes of a multiset do not depend on how it was segmented). */
  def kmvIndexEstimates(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val k = readKmvMeta(spark, path)
    kmvEstimate(kmvMerge(spark.read.parquet(path), k), k)
  }

  /** Rewrite a multi-segment index as one row per key. */
  def compactKmvIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val k = readKmvMeta(spark, path)
    import spark.implicits._
    writeIndexDir(spark, kmvMerge(spark.read.parquet(path), k),
      Seq(k).toDF("k"), path)
  }

  /** Write a [[cmSketch]] of the corpus to `path` (self-describing:
    * `_meta` stores depth and width). */
  def writeCmIndex(df: DataFrame, keyCol: String, valueCol: String,
      path: String, depth: Int = 4, width: Int = 1024,
      weightCol: Option[String] = None): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    writeIndexDir(spark, cmSketch(df, keyCol, valueCol, depth, width, weightCol),
      Seq((depth, width)).toDF("depth", "width"), path)
  }

  /** Sketch parameters from the `_meta` sidecar (heals first). */
  def readCmMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    healIndex(spark, path)
    val r = spark.read.parquet(path + "/_meta").collect().head
    (r.getInt(0), r.getInt(1))
  }

  /** Append a batch with the index's OWN stored parameters. */
  def appendToCmIndex(batch: DataFrame, keyCol: String, valueCol: String,
      path: String, weightCol: Option[String] = None): Unit = {
    val (depth, width) = readCmMeta(batch.sparkSession, path)
    cmSketch(batch, keyCol, valueCol, depth, width, weightCol)
      .write.mode("append").parquet(path)
  }

  /** Frequency estimates against a persisted index: segment counter
    * rows SUM together ([[cmMerge]]) BEFORE the depth-min — min of
    * per-segment counts would undercount and break the sketch's
    * never-undercount contract. */
  def probeCmIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val (depth, width) = readCmMeta(spark, path)
    cmEstimate(cmMerge(spark.read.parquet(path)), probes, keyCol, valueCol,
      depth, width)
  }

  /** Rewrite a multi-segment index as one row per (key, di, bucket). */
  def compactCmIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val (depth, width) = readCmMeta(spark, path)
    import spark.implicits._
    writeIndexDir(spark, cmMerge(spark.read.parquet(path)),
      Seq((depth, width)).toDF("depth", "width"), path)
  }

  /** Write a [[histSketch]] of the corpus to `path` (self-describing:
    * `_meta` stores subBits). */
  def writeHistIndex(df: DataFrame, keyCol: String, valueCol: String,
      path: String, subBits: Int = 5): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    writeIndexDir(spark, histSketch(df, keyCol, valueCol, subBits),
      Seq(subBits).toDF("sub_bits"), path)
  }

  /** Sketch parameter subBits from the `_meta` sidecar (heals first). */
  def readHistMeta(spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    healIndex(spark, path) // heal EVERY entry, memoize only the value
    indexMetaCache.computeIfAbsent(metaKey("hist", path), _ =>
      Seq(spark.read.parquet(path + "/_meta").collect().head.getInt(0)))
      .head.asInstanceOf[Int]
  }

  /** Append a batch with the index's OWN stored subBits. */
  def appendToHistIndex(batch: DataFrame, keyCol: String, valueCol: String,
      path: String): Unit = {
    val subBits = readHistMeta(batch.sparkSession, path)
    histSketch(batch, keyCol, valueCol, subBits).write.mode("append").parquet(path)
  }

  // ONE source of truth for the segment naming scheme: the publisher
  // and the replay guard must never disagree on it — a drifted guard
  // would silently always-miss and re-score every replayed batch
  private def segmentDst(path: String, tag: String) =
    new org.apache.hadoop.fs.Path(s"$path/segment-$tag.parquet")
  private def segmentTmp(path: String, tag: String) =
    new org.apache.hadoop.fs.Path(s"$path/.segment-$tag.tmp")

  /** True iff [[publishSegmentOnce]] has already published `tag` to the
    * index at `path` — replaying writers MUST check this before doing
    * any work derived from the pre-absorb index content (scoring a
    * batch against an index that already absorbed it is the biased
    * outcome the exactly-once publication exists to prevent). When the
    * segment IS published, any leftover temp of that tag is a dead
    * crash-window residue (rename succeeded, delete didn't) and is
    * swept here — replay guards skip the publisher, so this is the only
    * cleanup point a replayed batch ever reaches. */
  def segmentPublished(spark: org.apache.spark.sql.SparkSession,
      path: String, tag: String): Boolean = {
    val dst = segmentDst(path, tag)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = fs.exists(dst)
    if (published) fs.delete(segmentTmp(path, tag), true)
    published
  }

  /** EXACTLY-ONCE segment publication for streaming-replay writers
    * ([[graft.streaming.EventStreams.streamingDriftScreen]]): publish
    * an already-built sketch frame as ONE file `segment-<tag>.parquet`
    * under the index root via write-to-hidden-temp + single atomic
    * rename. Returns false (and writes nothing) when the tag is
    * already published — a replayed foreachBatch thus cannot
    * double-count, which plain `mode("append")` would: histogram/CM
    * counts are NOT idempotent under re-append, unlike Bloom's bit_or
    * ([[appendToBloomIndex]]'s documented at-least-once tolerance).
    *
    * Single-file is safe BY CONSTRUCTION here: sketch artifacts are
    * bounded (≤ ~58·2^subBits bucket rows per key), so `coalesce(1)`
    * never concentrates corpus-sized data. The dot-prefixed temp dir
    * is invisible to index readers and deterministic per tag: a
    * crashed attempt's leftover is deleted by the retry, not swept by
    * readers (a reader sweep would race a live concurrent writer). */
  def publishSegmentOnce(sketch: DataFrame, path: String, tag: String): Boolean = {
    require(tag.nonEmpty && tag.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"publishSegmentOnce: tag '$tag' must be [A-Za-z0-9_-]+ (it names a file)")
    val spark = sketch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = segmentDst(path, tag)
    val tmp = segmentTmp(path, tag)
    // sweep the stale temp BEFORE the already-published early return: a
    // crash in the rename→delete window would otherwise leak the temp
    // forever (every retry would return early past the cleanup)
    fs.delete(tmp, true)
    if (fs.exists(dst)) return false
    sketch.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val parts = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    require(parts.length == 1,
      s"publishSegmentOnce: expected exactly one part file at $tmp, got ${parts.length}")
    // losing the rename race to a concurrent/zombie attempt publishing
    // the SAME tag is success: the content is deterministic per tag
    if (!fs.rename(parts.head, dst) && !fs.exists(dst))
      throw new IllegalStateException(
        s"publishSegmentOnce: rename to $dst failed with no winner")
    fs.delete(tmp, true)
    true
  }

  /** Quantiles from a persisted index: segment counts SUM together
    * (inside [[histQuantiles]]) before extraction — identical to a
    * fresh sketch of the union (counts are exact). */
  def histIndexQuantiles(spark: org.apache.spark.sql.SparkSession,
      path: String, percents: Seq[Int]): DataFrame = {
    val subBits = readHistMeta(spark, path)
    histQuantiles(spark.read.parquet(path), subBits, percents)
  }

  /** Rewrite a multi-segment index as one row per (key, bucket). */
  def compactHistIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val subBits = readHistMeta(spark, path)
    import spark.implicits._
    writeIndexDir(spark, histMerge(spark.read.parquet(path)),
      Seq(subBits).toDF("sub_bits"), path)
  }

  // ----------------------------------------------- quantile histogram
  //
  // The fourth member of the sketch tier (cardinality = KMV, frequency
  // = CM, membership = Bloom): per-key quantiles from a DETERMINISTIC
  // log-linear histogram over the FULL signed long domain (negative
  // values sign-mirror through −1 − bucket⁺(−(v+1))) — HdrHistogram /
  // DDSketch bucket geometry with integer-exact boundaries. Values
  // below 2^subBits map to themselves (exact region); above, the
  // value's power-of-two block [2^e, 2^(e+1)) splits into 2^subBits
  // linear sub-buckets, so EVERY bucket's relative width is ≤
  // 2^-subBits — and so is the relative error of any extracted
  // quantile (subBits = 5 → ≤ 3.125%). floor-log2 is length(bin(v))−1:
  // exact integer arithmetic, no transcendentals.
  //
  // Why this over KLL/GK: the artifact is (key, bucket, cnt) integer
  // rows — bounded by ~58·2^subBits per key regardless of data volume —
  // build and merge are PLAIN hash aggregations (map-side combined,
  // merge-ORDER independent, partitioning-invariant: counts just add),
  // day→month rollup is one SUM, and every number (bucket ids,
  // cumulative ranks, interpolated values) replays bitwise in DuckDB
  // (gate t25). KLL's rank error depends on merge order and its buffer
  // needs a custom aggregator; this trades a data-independent
  // RELATIVE-VALUE error bound for none of that. q29's exact
  // percentile_cont is a global-sort shape that cannot survive 100 TB;
  // this is the shape that can.

  /** The non-negative-side bucket id — exact below 2^subBits, then
    * 2^subBits linear sub-buckets per power-of-two block. Kept as its
    * own tree so the DuckDB replays (which filter to v ≥ 0) stay
    * byte-for-byte what they always were. */
  private def histBucketPos(u: Column, subBits: Int): Column = {
    val cap = 1L << subBits
    val e = (length(bin(u)) - lit(1)).cast("int")
    when(u < cap, u)
      .otherwise((e - lit(subBits - 1)).cast("long") * lit(cap) +
        call_function("shiftright", u, e - lit(subBits)) - lit(cap))
  }

  /** Log-linear bucket id over the FULL signed long domain, monotone in
    * `v` and exact in (−2^(subBits+1), 2^(subBits+1)): non-negative
    * values use the standard geometry; a negative value mirrors through
    * bucket(v) = −1 − bucket⁺(−(v+1)) (the −(v+1) reflection is
    * overflow-free at Long.MinValue), so bucket −1 holds −1, the
    * negative side's relative-width bound matches the positive side's,
    * and signed telemetry (latency deltas, PnL) sketches directly. */
  def histBucket(v: Column, subBits: Int): Column = {
    require(subBits >= 1 && subBits <= 20, s"histBucket: subBits=$subBits")
    val vl = v.cast("long")
    when(vl < 0L, lit(-1L) - histBucketPos(-(vl + lit(1L)), subBits))
      .otherwise(histBucketPos(vl, subBits))
  }

  private def histBucketLoPos(bucket: Column, subBits: Int): Column = {
    val cap = 1L << subBits
    val block = call_function("shiftright", bucket, lit(subBits))
    when(bucket < cap, bucket)
      .otherwise((lit(cap) + pmod(bucket, lit(cap))) *
        call_function("shiftleft", lit(1L), (block - lit(1L)).cast("int")))
  }

  private def histBucketWidthPos(bucket: Column, subBits: Int): Column = {
    val cap = 1L << subBits
    val block = call_function("shiftright", bucket, lit(subBits))
    when(bucket < cap, lit(1L))
      .otherwise(call_function("shiftleft", lit(1L), (block - lit(1L)).cast("int")))
  }

  /** Inclusive lower bound of a bucket (the id itself in the exact
    * region; (2^s + sub) · 2^(block−1) above; negative buckets mirror:
    * lo(−1−b⁺) = −(lo⁺(b⁺) + width⁺(b⁺)) — the reflection of the
    * positive bucket's inclusive value range). */
  def histBucketLo(bucket: Column, subBits: Int): Column = {
    val mirror = lit(-1L) - bucket
    // (−lo⁺) − width⁺, NOT −(lo⁺ + width⁺): the latter's intermediate is
    // hi⁺+1, which overflows at the top block (ANSI raises); the
    // reassociated form bottoms out exactly at Long.MinValue
    when(bucket >= 0L, histBucketLoPos(bucket, subBits))
      .otherwise((-histBucketLoPos(mirror, subBits)) -
        histBucketWidthPos(mirror, subBits))
  }

  /** Width of a bucket (1 in the exact region; 2^(block−1) above;
    * symmetric under the sign mirror). */
  def histBucketWidth(bucket: Column, subBits: Int): Column =
    when(bucket >= 0L, histBucketWidthPos(bucket, subBits))
      .otherwise(histBucketWidthPos(lit(-1L) - bucket, subBits))

  /** Per-key histogram sketch of a value column: `(key, bucket, cnt)`
    * rows. One projection + one counting aggregation; null values are
    * skipped, null keys kept (the tier-wide convention). Pass
    * `weightCol` to sum weights instead of counting rows — quantiles
    * then answer over the weight MASS (e.g. token-weighted document
    * lengths: "half the tokens live in docs shorter than X"). Weights
    * must be non-negative and non-null (raised per row): a negative or
    * null weight would make cumulative counts non-monotone and
    * silently corrupt — or vanish — quantile rows downstream. */
  def histSketch(df: DataFrame, keyCol: String, valueCol: String,
      subBits: Int = 5, weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map { c =>
      val wl = col(c).cast("long")
      when(wl.isNull || wl < 0L, raise_error(concat(
        lit(s"histSketch: weight column $c must be non-negative and non-null, got "),
        coalesce(wl.cast("string"), lit("null"))))).otherwise(wl)
    }.getOrElse(lit(1L))
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), histBucket(col(valueCol), subBits).as("bucket"),
        w.as("__w"))
      .groupBy(col("key"), col("bucket"))
      .agg(sum(col("__w")).as("cnt"))
  }

  /** Merge histogram frames (same subBits): counts add — one SUM. */
  def histMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("key"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile extraction: `(key, pct, est_value)` for each integer
    * percent in `percents`. The target rank is the lower empirical
    * quantile floor(pct/100 · (n−1)) + 1 (1-based); the answering
    * bucket is the first whose cumulative count reaches it, and the
    * estimate interpolates within the bucket at integer precision —
    * always inside [lo, lo+width), so the 2^-subBits relative bound
    * holds. Window cost is per-key over ≤ ~58·2^subBits bucket rows,
    * never over the data. (The interpolation product width·(rank−1)
    * assumes bucket_count · bucket_width < 2^63 — beyond any real
    * telemetry; the bound holds even if interpolation is dropped.) */
  /** Shared rank-target extraction over merged bucket rows — the ONE
    * implementation behind [[histQuantiles]] (per-key, pct targets) and
    * [[histBoundaries]] (global, i/k targets): cumulative/total window
    * sums over `partCols`, one probe explode, the hit filter, and the
    * integer interpolation `lo + (rank−1)·width div cnt` (truncating
    * IntegralDivide — DuckDB `//` parity on non-negative operands; the
    * width·(rank−1) product assumes bucket_count · bucket_width < 2^63,
    * the documented histQuantiles caveat, inherited by every caller).
    * `merged` must already be one row per (partCols, bucket); `target`
    * is the caller's rank expression over the probe column and `n` —
    * its tree shape is oracle-replayed, so each caller owns it. */
  private def rankExtract(merged: DataFrame, subBits: Int,
      probeCol: String, probes: Seq[Int], target: Column,
      partCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = partCols.map(col)
    val wOrd = Window.partitionBy(parts: _*).orderBy("bucket")
    val wAll = Window.partitionBy(parts: _*)
    val cum = merged
      .withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val hit = cum
      .select(parts ++ Seq(col("bucket"), col("cnt"), col("cum"), col("n"),
        explode(typedlit(probes.toList)).as(probeCol)): _*)
      .withColumn("target", target)
      .filter(col("cum") >= col("target") &&
        (col("cum") - col("cnt")) < col("target"))
    val rankInBucket = col("target") - (col("cum") - col("cnt"))
    val lo = histBucketLo(col("bucket"), subBits)
    val width = histBucketWidth(col("bucket"), subBits)
    hit.select(parts ++ Seq(col(probeCol),
      (lo + call_function("div",
        (rankInBucket - lit(1L)) * width, col("cnt"))).as("est_value")): _*)
  }

  def histQuantiles(sketch: DataFrame, subBits: Int,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 100),
      s"histQuantiles: percents=$percents must be integer percents in [0,100]")
    // pct/100 · (n−1): one double division, one multiply, one floor —
    // the exact expression shape the DuckDB oracle replays
    val target = (floor(col("pct").cast("double") / lit(100.0) *
      (col("n") - lit(1L)).cast("double")).cast("long") + lit(1L)).as("target")
    // histMerge first: un-merged multi-segment input would make
    // duplicate (key, bucket) rows window PEERS (same cum under the
    // RANGE frame), and the hit filter could then emit conflicting
    // rows per (key, pct). One cheap aggregation makes any
    // segmentation safe.
    rankExtract(histMerge(sketch), subBits, "pct", percents, target,
      Seq("key"))
  }

  /** GLOBAL k-way range boundaries from a histogram sketch — the
    * write-planning primitive: `k−1` ascending values v_1..v_{k−1}
    * splitting the domain into (−∞,v_1), [v_1,v_2), …, [v_{k−1},∞) —
    * range i owns z ∈ [v_i, v_{i+1}), the EXACT convention
    * [[Layout.zorderWritePlanned]] implements (`count of boundaries ≤
    * z`) — each holding ≈ 1/k of the sketched mass (boundary i sits at
    * rank ⌊i·(n−1)/k⌋+1, the histQuantiles rank contract at fraction
    * i/k). Key columns are collapsed — buckets are a pure function of
    * the value, so summing across keys IS the global histogram.
    *
    * Why this instead of `repartitionByRange`'s reservoir sampling:
    * boundaries become DETERMINISTIC (same sketch → same boundaries,
    * run after run — stable file ranges across an append/compact
    * lifecycle) and cost bucket rows only (≤ ~58·2^subBits), not a
    * sampling pass over the data; a persisted hist index amortizes the
    * one corpus pass across every write that plans from it. The
    * single-partition window is over bucket rows, never data. Balance
    * error inherits the sketch's ≤2^-subBits relative-value bound.
    * Consumed by [[Layout.zorderWritePlanned]]. */
  def histBoundaries(sketch: DataFrame, subBits: Int, k: Int): Seq[Long] = {
    require(k >= 1 && k <= (1 << 20), s"histBoundaries: k=$k not in [1, 2^20]")
    if (k == 1) return Seq.empty
    // i·(n−1)/k as multiply-then-divide: i/k alone would round before
    // the scale-up and misplace targets for large n
    val target = (floor(col("i").cast("double") *
      (col("n") - lit(1L)).cast("double") / lit(k.toDouble)).cast("long") +
      lit(1L)).as("target")
    rankExtract(sketch.groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt")),
        subBits, "i", (1 until k).toList, target, Seq.empty)
      .orderBy(col("i"))
      .collect().map(_.getLong(1)).toSeq
  }

  /** Total-variation distance between two per-key histogram sketch
    * frames (same subBits): `(key, tv)` with
    * TV = ½ Σ_b |p_a(b) − p_b(b)| ∈ [0, 1] — the standard distribution
    * drift metric (0 = identical bucket distributions, 1 = disjoint).
    * Chart it between daily snapshots of a corpus statistic to catch
    * composition drift; bucket rows only, the data is never re-read.
    *
    * Exact and cross-engine deterministic BY CONSTRUCTION: the
    * numerator Σ|ca·nb − cb·na| is a DECIMAL(38,0) sum of exact integer
    * products (order-independent under any partitioning — the repo's
    * decimal-sum recipe; no transcendentals, unlike KL/PSI), divided
    * once at the end by 2·na·nb. A key empty on one side scores 1.0
    * (total divergence), empty on both 0.0; the join is null-safe.
    *
    * Domain bound (the histQuantiles-style contract): the numerator sum
    * is ≤ 2·na·nb, so DECIMAL(38,0) holds exactly while
    * na·nb < (10³⁸−1)/2 ≈ 5·10³⁷ — beyond any row-counted sketch, but
    * REACHABLE for weighted sketches merged over long horizons (both
    * totals past ~7·10¹⁸). A cheap per-key guard raises a typed error
    * at that bound instead of letting the ANSI decimal sum blow up
    * mid-aggregation (where the replaying engine would diverge at a
    * different row). */
  def histDistance(a: DataFrame, b: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val am = histMerge(a).select(col("key").as("ka"),
      col("bucket").as("ba"), col("cnt").as("ca"))
    val bm = histMerge(b).select(col("key").as("kb"),
      col("bucket").as("bb"), col("cnt").as("cb"))
    val joined = am.join(bm,
        col("ka") <=> col("kb") && col("ba") === col("bb"), "full")
      .select(coalesce(col("ka"), col("kb")).as("key"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // per-key totals as WINDOW sums (the histQuantiles pattern): one
    // pass over the join, and the following groupBy reuses the window's
    // key partitioning — a groupBy + self-join back would execute the
    // full outer join twice and add a shuffle
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
    joined
      .withColumn("na", sum(col("ca")).over(w))
      .withColumn("nb", sum(col("cb")).over(w))
      // scaladoc domain bound, enforced as a typed error BEFORE the
      // decimal aggregation can overflow mid-query. DOUBLE comparison
      // with a threshold conservatively below (10^38−1)/2: even at the
      // accept edge the sum stays ≤ 2·4.9e37·(1+ε) < 10^38−1
      .filter(when(
        col("na").cast("double") * col("nb").cast("double") > lit(4.9e37),
        raise_error(concat(lit("histDistance: per-key totals too large for "),
          lit("the exact DECIMAL(38,0) numerator (na*nb > ~4.9e37) at key "),
          coalesce(col("key").cast("string"), lit("null"))))
        ).otherwise(lit(true)))
      .groupBy(col("key"))
      .agg(
        sum(abs(col("ca").cast(dec) * col("nb") - col("cb").cast(dec) * col("na")))
          .as("__num"),
        first(col("na")).as("__na"), first(col("nb")).as("__nb"))
      .select(col("key"),
        when(col("__na") > 0L && col("__nb") > 0L,
          col("__num").cast("double") /
            (lit(2.0) * col("__na").cast("double") * col("__nb").cast("double")))
          .when(col("__na") > 0L || col("__nb") > 0L, lit(1.0))
          .otherwise(lit(0.0)).as("tv"))
  }

  /** Inverse quantile (CDF) probes `(key, value)` against a histogram
    * sketch: `(key, value, est_le, n, frac)` — the estimated count (or
    * weight mass) of sketched values ≤ `value`, the key's total, and
    * their ratio. Whole buckets below the probe's bucket count fully;
    * the probe's own bucket contributes linearly-interpolated mass
    * (exact in the exact region, ≤ 2^-subBits relative error above).
    * The join touches bucket rows per probe — never the data. Null-safe
    * on the key (null-key groups are sketched and must probe); a NULL
    * probe value reports est_le = 0 / frac = 0.0, mirroring
    * [[cmEstimate]]'s convention; a key absent from the sketch reports
    * n = 0 with frac = NaN (no distribution to place the probe in). */
  def histCdf(sketch: DataFrame, probes: DataFrame, keyCol: String,
      valueCol: String, subBits: Int): DataFrame = {
    val sk = histMerge(sketch).select(col("key").as("__sk"),
      col("bucket"), col("cnt"))
    // distinct: a duplicated (key, value) probe row would fan the join
    // out and double-count est_le/n in the shared group
    val p = probes
      .select(col(keyCol).as("key"), col(valueCol).as("value")).distinct()
      .withColumn("__b",
        when(col("value").isNotNull, histBucket(col("value"), subBits)))
    val joined = p.join(sk, col("__sk") <=> col("key"), "left")
      .groupBy(col("key"), col("value"), col("__b"))
      .agg(
        sum(when(col("bucket") < col("__b"), col("cnt")).otherwise(lit(0L))).as("__below"),
        sum(when(col("bucket") === col("__b"), col("cnt")).otherwise(lit(0L))).as("__inb"),
        sum(coalesce(col("cnt"), lit(0L))).as("n"))
    val lo = histBucketLo(col("__b"), subBits)
    val width = histBucketWidth(col("__b"), subBits)
    val partial = call_function("div",
      col("__inb") * (col("value") - lo + lit(1L)), width)
    joined.select(col("key"), col("value"),
      coalesce(col("__below") + partial, lit(0L)).as("est_le"),
      col("n"),
      when(col("n") > 0L,
        coalesce(col("__below") + partial, lit(0L)).cast("double") /
          col("n").cast("double"))
        .otherwise(lit(Double.NaN)).as("frac"))
  }

  /** Shared salted-position decomposition: `(…, word_idx, bit)` rows,
    * numHashes per input row. 63-bit words are load-bearing — DuckDB's
    * checked `<<` overflows at shift 63, and the oracle replays every
    * word — so build and probe must decompose identically. */
  private def bloomBits(df: DataFrame, valueCol: String,
      numBits: Int, numHashes: Int, keep: Column*): DataFrame =
    df.select(keep :+
      posexplode(array((0 until numHashes).map(i =>
        cmBucket(col(valueCol), i, numBits)): _*)).as(Seq("hi", "pos")): _*)
      .select(keep :+ (col("pos") / 63).cast("int").as("word_idx") :+
        (col("pos") % 63).cast("int").as("bit"): _*)

  /** Membership probes `(key, value)` → `(key, value, may_contain)`:
    * true iff every salted bit position is set. False ⇒ definitely
    * absent; true ⇒ present or a false positive. A NULL probe value is
    * definitely absent (the build path never inserts nulls) — reported
    * `false`, mirroring [[cmEstimate]]'s 0 for null probes. */
  def bloomMayContain(sketch: DataFrame, probes: DataFrame, keyCol: String,
      valueCol: String, numBits: Int = 8192, numHashes: Int = 4): DataFrame = {
    // null-safe key join: the filter stores null-KEY groups (only null
    // values are skipped), and a false negative on them would break the
    // bloom guarantee
    val sk = sketch.select(col("key").as("__sk"),
      col("word_idx").as("__sw"), col("bits"))
    bloomBits(
      probes.select(col(keyCol).as("key"), col(valueCol).as("value")),
      "value", numBits, numHashes, col("key"), col("value"))
      .join(sk, col("__sk") <=> col("key") && col("__sw") === col("word_idx"), "left")
      .groupBy(col("key"), col("value"))
      .agg(bool_and(coalesce(
        coalesce(col("bits"), lit(0L))
          .bitwiseAND(call_function("shiftleft", lit(1L), col("bit"))) =!= 0L,
        lit(false))).as("may_contain"))
  }
}
