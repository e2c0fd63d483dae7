package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

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
  * and codegen'd. The key union decides the projection: for a file Spark
  * would read in one split ([[Compression.singleSplit]]) one driver pass
  * with the same rules yields it together with the inference sample (the
  * first [[TypeInference.MaxSampleSize]] non-blank lines), so an open
  * launches no Spark job; for a larger file a distributed distinct-keys
  * pass collects only the small key set, and the sample comes from a
  * driver-side read of the file head.
  *
  * Deviation (documented, SURVEY §1.4): the reference's column order is Go
  * map-iteration order, i.e. unspecified — we sort keys for determinism.
  */
object LtsvSource {

  /** @param knownKeys column set override: skips key discovery (the
    *   format's header is the union of keys; on a multi-split file that
    *   costs a distributed scan plus a shuffle — at scale, pass the known
    *   key list). Keys absent from a line still yield `""`. */
  def read(spark: SparkSession, path: String, inferTypes: Boolean = true,
      knownKeys: Option[Seq[String]] = None): DataFrame = {
    val readable = Compression.sparkReadablePath(path)
    val mapped = parse(spark, readable)
    val local =
      if (knownKeys.isEmpty && Compression.singleSplit(spark, readable)) Some(scanLocal(readable))
      else None
    val keys = knownKeys.orElse(local.map(_._1)).getOrElse(sparkKeys(mapped))
    if (keys.isEmpty) throw NoDataError(path)
    val cols = keys.map(k => coalesce(element_at(col("m"), k), lit("")).as(k))
    val allString = mapped.select(cols: _*)
    if (inferTypes) {
      val sample = local.map(_._2).getOrElse(headRows(readable, keys))
      TypeInference.applyTypes(allString, TypeInference.inferForRows(keys, sample))
    } else allString
  }

  /** One map column `m` per line that SQL `trim` (spaces only) leaves
    * non-empty. */
  private[sources] def parse(spark: SparkSession, readable: String): DataFrame = {
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
    lines.select(entries.as("arr")).select(lastWins.as("m"))
  }

  /** The sorted key union of [[parse]]'s maps: a distributed distinct. */
  private[sources] def sparkKeys(mapped: DataFrame): Seq[String] =
    mapped.select(explode(map_keys(col("m"))).as("k"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq

  /** Driver-side twin of [[sparkKeys]] over the whole file, plus the
    * first [[TypeInference.MaxSampleSize]] lines projected onto those
    * keys (what [[headRows]] reads), in one pass. */
  private[sources] def scanLocal(path: String): (Seq[String], Seq[Seq[String]]) =
    withParsedLines(path) { lines =>
      val keys = mutable.HashSet.empty[String]
      val sample = ArrayBuffer.empty[Map[String, String]]
      lines.foreach { m =>
        keys ++= m.keys
        if (sample.length < TypeInference.MaxSampleSize) sample += m
      }
      val sorted = keys.toSeq.sorted
      (sorted, sample.map(project(_, sorted)).toSeq)
    }

  /** The first [[TypeInference.MaxSampleSize]] lines, projected onto `keys`
    * with `""` for an absent key; reads only the file head. */
  private[sources] def headRows(path: String, keys: Seq[String]): Seq[Seq[String]] =
    withParsedLines(path)(_.take(TypeInference.MaxSampleSize).map(project(_, keys)).toVector)

  private def project(m: Map[String, String], keys: Seq[String]): Seq[String] =
    keys.map(m.getOrElse(_, ""))

  /** The file's lines that SQL `trim` (spaces only) leaves non-empty,
    * parsed on the driver as [[parse]] does: split on tabs, key before the
    * first ':' (the whole chunk without one), last key wins. */
  private def withParsedLines[A](path: String)(f: Iterator[Map[String, String]] => A): A = {
    val r = new BufferedReader(new InputStreamReader(Compression.openRead(path), StandardCharsets.UTF_8))
    try {
      r.mark(1)
      if (r.read() != 0xFEFF) r.reset() // the text reader drops a leading BOM
      f(Iterator.continually(r.readLine()).takeWhile(_ != null)
        .filter(_.exists(_ != ' '))
        .map(_.split("\t", -1).iterator.map { kv =>
          val i = kv.indexOf(':')
          if (i < 0) kv -> "" else kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap))
    } finally r.close()
  }
}
