package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's demo query (SURVEY §2 coverage,
  * full map in COVERAGE.md) plus its DuckDB oracle SQL. Every query is
  * oracle-checked EXCEPT exactly one rows-only entry (d03: the
  * text→simhash kernel needs 64-bit wraparound arithmetic DuckDB rejects —
  * see COVERAGE.md; its distributed banding operator is oracle-checked
  * separately as d07, and the LSH/IVF/PQ/int8 ANN gates run with
  * deterministic SQL-expressible quantizers so DuckDB reproduces
  * bucketing, probing, encoding and ranking exactly). `SparkEntrySpec`
  * pins the rows-only set (`gates.filter(_.oracle.isEmpty)` is d03
  * alone), so this comment cannot silently rot.
  * Query name groups:
  *   - q01–q34  relational SQL surface (SURVEY §2.2) + engine supersets
  *   - m01–m09  DML mutation layer (INSERT/UPDATE/DELETE on views) +
  *              merge tier (upsert / column upsert / CDC apply) +
  *              SQLite row triggers (set-based audit-trigger path,
  *              INSTEAD OF view-directed DML)
  *   - src_*    file sources/sinks round-trips (SURVEY §2.1 S1–S17 + JSONL)
  *   - d0*      dedup (exact / MinHash+LSH / SimHash / Jaccard / embedding)
  *   - s01–s17  similarity search (exact, LSH, IVF, IVF+PQ, filtered,
  *              int8, JL sign-projection compression) + graph analytics
  *              (PageRank, TrustRank, components, label-propagation
  *              communities, k-means, triangle counts, clustering
  *              coefficients, k-core, HITS hubs/authorities)
  *   - t0*–t4*  text analysis (tokens, quality, langid, fingerprint, edit,
  *              BPE, classifier, markup strip, paragraph dedup, URL prep, n-gram decontam,
  *              postings search, LM filter, DSIR importance selection,
  *              table profiling) + sketches (KMV, count-min,
  *              Bloom, quantile histogram, CM join-size estimation)
  *   - mm0*     multimodal binary-column plumbing (real header decode,
  *              exact + perceptual dedup, persisted phash index, audio
  *              PCM decode + features + perceptual fingerprint, video
  *              near-dup via aligned frame-hash voting)
  *   - e0*–e21  event/time: windows, sessions, streaming (tumbling, dedup,
  *              stream-stream interval join, stream-static enrichment,
  *              streaming-state KMV + histogram quantiles, Bloom-index
  *              screen, drift screen, exact-dedup screen, LM quality
  *              screen, DSIR importance screen, perceptual media
  *              screen), as-of/range join
  *   - p0*–p21  composed pipelines (corpus prep, sampling, packing, splits,
  *              the seven-operator full-chain integration gate,
  *              cluster-balanced coreset sampling, soft dedup weights,
  *              temperature-scaled mixture caps, CCNet perplexity
  *              buckets, decontaminated train/eval splits)
  *   - f0*      SQL-text kernel surface (graft_* registered functions:
  *              ANN, sampling, sketch hashes, web/text prep,
  *              media/audio decode + fingerprints — pure-SQL
  *              demos)
  */
object SparkEntry {
  /** Every gate, each declared once with its oracle beside its body (one
    * object per family under `graft.queries`). Names are unique. */
  val gates: Seq[Gate] = {
    val all = RelationalQueries.gates ++ SourceQueries.gates ++
      DedupGates.gates ++ EntityGates.gates ++ SearchGates.gates ++
      TextGates.gates ++ MediaGates.gates ++ EventGates.gates ++
      ComposedGates.gates ++ KernelGates.gates
    val dup = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dup.isEmpty, s"gate names declared twice: ${dup.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    gates.find(_.name == "q03_join_revenue").get.run(spark, "/root/testdata/sf0.001")

  /** Each gate's Spark query by name (derived from [[gates]]). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.run).toMap

  /** Each oracle-checked gate's DuckDB SQL by name (derived from [[gates]]). */
  def oracleSql: Map[String, String] =
    gates.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
