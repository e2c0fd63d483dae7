package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.DuplicateColumnError

/** CSV / TSV sources (reference S1/S2: `file.go:452-493`, `stream.go:110-145`).
  *
  * Spark-first: the file is read distributed with Spark's CSV reader as
  * all-string columns (no built-in inferSchema — the reference's inference
  * semantics differ, SURVEY §1.3), then typed via [[TypeInference]] casts,
  * which are plain Catalyst expressions (whole-stage codegen, no UDFs).
  *
  * Scale: one driver-side read of the file head ([[readRecords]]) yields
  * the header, the duplicate-column check and the inference sample (the
  * first [[TypeInference.MaxSampleSize]] records — the reference likewise
  * infers from the first chunk, `stream.go:285-317`). Spark gets the
  * header as an explicit all-string schema, so neither its header job nor
  * a sampling job runs. The quoted-newline scan (skipped with
  * `multiLine = Some(…)`) runs on the driver when Spark would read the
  * file in one split ([[Compression.singleSplit]]) — an open then
  * launches no Spark job — and as a Spark job otherwise. Both give the
  * same answer; above the bound the Spark job scans the splits in
  * parallel, where the driver would read the whole file on one thread.
  * The bulk load is a distributed scan. gz/bz2
  * decode inside Spark; xz/zst via the one-time shim in [[Compression]].
  */
object CsvSource {

  def readCsv(spark: SparkSession, path: String, inferTypes: Boolean = true,
      multiLine: Option[Boolean] = None): DataFrame =
    read(spark, path, ",", inferTypes, multiLine)

  def readTsv(spark: SparkSession, path: String, inferTypes: Boolean = true,
      multiLine: Option[Boolean] = None): DataFrame =
    read(spark, path, "\t", inferTypes, multiLine)

  /** Does any quoted field span a physical line? Exact for RFC-4180: a
    * line whose '"' count is odd leaves a quote open at the newline
    * (wrapping quotes pair up within a line, doubled quotes are even).
    * One distributed scan with `head(1)` short-circuit; a quote inside an
    * unquoted field can false-positive, which only costs splittability,
    * never correctness. */
  def detectQuotedNewlines(spark: SparkSession, readable: String): Boolean = {
    import org.apache.spark.sql.functions._
    spark.read.text(readable)
      .filter(((length(col("value")) -
        length(translate(col("value"), "\"", ""))) % 2) === 1)
      .head(1).nonEmpty
  }

  /** Driver-side twin of the distributed [[detectQuotedNewlines]]: the
    * same odd-quote rule over the same LF/CRLF/CR lines, streamed once
    * and stopped at the first odd line. Bytewise is exact: '"', CR and LF
    * never occur inside a UTF-8 multi-byte sequence. */
  def detectQuotedNewlines(readable: String): Boolean = {
    val in = Compression.openRead(readable)
    try {
      val buf = new Array[Byte](1 << 16)
      var odd = false
      var n = in.read(buf)
      while (n >= 0) {
        var i = 0
        while (i < n) {
          val b = buf(i)
          if (b == '"') odd = !odd
          else if (odd && (b == '\n' || b == '\r')) return true
          i += 1
        }
        n = in.read(buf)
      }
      odd
    } finally in.close()
  }

  /** @param multiLine None = auto-detect via [[detectQuotedNewlines]]:
    *   on the driver for a single-split file, as a parallel Spark job
    *   otherwise (same answer either way).
    *   Files with embedded newlines inside quoted fields (which
    *   [[graft.sinks.Dump]] legitimately writes) need multiLine parsing or
    *   they silently split into corrupt rows; files without them stay on
    *   the line-splittable fast path. Pass Some(false) to skip the
    *   detection scan when the data is known newline-free. */
  def read(spark: SparkSession, path: String, delimiter: String,
      inferTypes: Boolean, multiLine: Option[Boolean]): DataFrame = {
    val readable = Compression.sparkReadablePath(path)
    val ml = multiLine.getOrElse(
      if (Compression.singleSplit(spark, readable)) detectQuotedNewlines(readable)
      else detectQuotedNewlines(spark, readable))
    val sample = if (inferTypes) TypeInference.MaxSampleSize else 0
    val head = readRecords(readable, delimiter.charAt(0), 1 + sample, ml)
    val header = head.headOption.getOrElse(Seq.empty)
    checkDuplicateColumns(TableNaming.fromPath(path), header)
    val names = safeHeader(header, spark.sessionState.conf.caseSensitiveAnalysis)
    val raw = spark.read
      .schema(StructType(names.map(StructField(_, StringType))))
      .option("header", "true")
      .option("sep", delimiter)
      .option("quote", "\"")
      .option("escape", "\"") // RFC-4180 doubled quotes
      .option("multiLine", ml.toString)
      .csv(readable)
    // reference model: every cell is a string; absent/empty cells are ""
    // until typed casts turn non-parseable (incl. empty) cells into NULL
    val allString = raw.na.fill("")
    if (inferTypes) TypeInference.applyTypes(allString, TypeInference.inferForRows(names, head.drop(1)))
    else allString
  }

  /** Duplicate column names (case-sensitive, after trim) are an error —
    * `types.go:202-214`, `doc.go:78-84`. */
  def checkDuplicateColumns(table: String, header: Seq[String]): Unit = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    header.map(_.trim).foreach { c =>
      if (!seen.add(c)) throw DuplicateColumnError(table, c)
    }
  }

  /** Column names exactly as Spark derives them from a header row
    * (`CSVUtils.makeSafeHeader`): an empty name becomes `_c<i>`; names
    * that repeat under the session's case sensitivity get their index
    * appended. */
  private[sources] def safeHeader(header: Seq[String], caseSensitive: Boolean): Seq[String] = {
    def key(name: String) = if (caseSensitive) name else name.toLowerCase(Locale.ROOT)
    val repeated = header.groupBy(key).collect { case (k, vs) if vs.size > 1 => k }.toSet
    header.zipWithIndex.map {
      case ("", i) => s"_c$i"
      case (name, i) if repeated(key(name)) => s"$name$i"
      case (name, _) => name
    }
  }

  /** The first record of the file: its column names. */
  def readHeader(path: String, delim: Char): Seq[String] =
    readRecords(path, delim, 1, multiLine = true).headOption.getOrElse(Seq.empty)

  /** Parse the first `max` records of the file on the driver, streaming
    * (reads only the head bytes), as Spark's CSV reader splits them:
    * RFC-4180 quoting (a field that starts with '"' may contain the
    * delimiter, doubled quotes and — under `multiLine` — newlines; a
    * quote elsewhere is literal), LF/CRLF/CR line ends, a leading UTF-8
    * BOM stripped, and lines with no character above ' ' skipped. With
    * `multiLine = false` a newline ends the record even inside quotes,
    * as Spark's line-split read does. */
  def readRecords(path: String, delim: Char, max: Int, multiLine: Boolean): Seq[Seq[String]] = {
    val r = new BufferedReader(new InputStreamReader(Compression.openRead(path), StandardCharsets.UTF_8))
    try {
      val records = ArrayBuffer.empty[Seq[String]]
      val fields = ArrayBuffer.empty[String]
      val cur = new StringBuilder
      var inQuotes = false
      var fieldStart = true
      var blank = true
      def endField(): Unit = { fields += cur.result(); cur.clear(); fieldStart = true }
      def endRecord(): Unit = {
        endField()
        if (!blank) records += fields.toSeq
        fields.clear(); inQuotes = false; blank = true
      }
      var ci = r.read()
      if (ci == 0xFEFF) ci = r.read()
      while (ci >= 0 && records.length < max) {
        val c = ci.toChar
        ci = r.read()
        if (c > ' ') blank = false
        val eol = c == '\n' || c == '\r'
        if (inQuotes && (multiLine || !eol)) {
          if (c == '"') {
            if (ci == '"') { cur += '"'; ci = r.read() } else inQuotes = false
          } else if (!(c == '\r' && ci == '\n')) cur += c // a quoted CRLF reads as LF
        } else if (eol) {
          if (c == '\r' && ci == '\n') ci = r.read()
          endRecord()
        } else if (c == '"' && fieldStart) { inQuotes = true; fieldStart = false }
        else if (c == delim) endField()
        else { cur += c; fieldStart = false }
      }
      if (records.length < max) endRecord()
      records.toSeq
    } finally r.close()
  }
}
