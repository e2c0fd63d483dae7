package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.NoDataError

/** LTSV source (reference S3: `file.go:495-562`, `stream.go:147-206`).
  *
  * Format: `key:value<TAB>key:value…` per line; the table header is the
  * union of keys across all lines; a row missing a key gets `""`.
  *
  * Spark-first: lines are parsed with pure Catalyst expressions
  * (`split` / `substring_index` / `map_from_entries`) — fully distributed
  * and codegen'd; only the small distinct key set is collected to the
  * driver to build the projection. The inference sample (the first
  * [[TypeInference.MaxSampleSize]] non-blank lines) is parsed by a
  * driver-side read of the file head with the same rules — no Spark job.
  *
  * Deviation (documented, SURVEY §1.4): the reference's column order is Go
  * map-iteration order, i.e. unspecified — we sort keys for determinism.
  */
object LtsvSource {

  /** @param knownKeys column set override: skips the distributed
    *   distinct-keys discovery pass (the format's header is the union of
    *   keys, which normally costs one full extra scan — at scale, pass
    *   the known key list). Keys absent from a line still yield `""`. */
  def read(spark: SparkSession, path: String, inferTypes: Boolean = true,
      knownKeys: Option[Seq[String]] = None): DataFrame = {
    val readable = Compression.sparkReadablePath(path)
    val lines = spark.read.text(readable).filter(length(trim(col("value"))) > 0)
    // key = text before the first ':' in each tab-separated chunk;
    // value = the rest (values may themselves contain ':')
    val entries = expr(
      """transform(split(value, '\t'),
        |  kv -> struct(substring_index(kv, ':', 1) AS key,
        |               substring(kv, length(substring_index(kv, ':', 1)) + 2) AS value))
        |""".stripMargin)
    // duplicated keys on one line are last-wins (the reference's Go map
    // parse overwrites); keep an entry only if no LATER entry shares its
    // key — map_from_entries under Spark's default
    // mapKeyDedupPolicy=EXCEPTION would otherwise crash the whole load
    val lastWins = expr(
      """map_from_entries(
        |  filter(arr, (x, i) ->
        |    !exists(slice(arr, i + 2, size(arr)), y -> y.key = x.key)))
        |""".stripMargin)
    val mapped = lines.select(entries.as("arr")).select(lastWins.as("m"))
    val keys = knownKeys.getOrElse {
      mapped.select(explode(map_keys(col("m"))).as("k"))
        .distinct().collect().map(_.getString(0)).sorted.toSeq
    }
    if (keys.isEmpty) throw NoDataError(path)
    val cols = keys.map(k => coalesce(element_at(col("m"), k), lit("")).as(k))
    val allString = mapped.select(cols: _*)
    if (inferTypes)
      TypeInference.applyTypes(allString, TypeInference.inferForRows(keys, headRows(readable, keys)))
    else allString
  }

  /** The first [[TypeInference.MaxSampleSize]] lines that SQL `trim`
    * (spaces only) leaves non-empty, parsed as above on the driver:
    * split on tabs, key before the first ':', last key wins, projected
    * onto `keys` with `""` for an absent key. */
  private[sources] def headRows(path: String, keys: Seq[String]): Seq[Seq[String]] = {
    val r = new BufferedReader(new InputStreamReader(Compression.openRead(path), StandardCharsets.UTF_8))
    try {
      r.mark(1)
      if (r.read() != 0xFEFF) r.reset() // the text reader drops a leading BOM
      Iterator.continually(r.readLine()).takeWhile(_ != null)
        .filter(_.exists(_ != ' '))
        .take(TypeInference.MaxSampleSize)
        .map { line =>
          val m = line.split("\t", -1).iterator.map { kv =>
            val i = kv.indexOf(':')
            if (i < 0) kv -> "" else kv.substring(0, i) -> kv.substring(i + 1)
          }.toMap
          keys.map(m.getOrElse(_, ""))
        }.toVector
    } finally r.close()
  }
}
