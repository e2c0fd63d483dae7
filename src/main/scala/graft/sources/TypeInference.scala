package graft.sources

import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder, ResolverStyle}
import java.time.temporal.ChronoField
import java.util.Locale
import scala.util.matching.Regex

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Confidence-based column type inference over string data.
  *
  * Reproduces the reference's semantics (nao1215/filesql `types.go:327-711`):
  *   - sample ≤ [[TypeInference.MaxSampleSize]] values per column, stratified
  *     3-way (begin/middle/end) for large inputs (`types.go:492-578`)
  *   - per-value classification order datetime → integer → real → text
  *     (`types.go:581-598`)
  *   - datetime gated by length 4–35 + digit/separator check + pattern-family
  *     regex + a real calendar-strict parse (`types.go:402-445`)
  *   - decision rule (`types.go:633-672`): any text ⇒ TEXT; early-exit TEXT
  *     at >50% text; DATETIME at ≥80%; REAL when reals ≥10% and
  *     int+real ≥80%; INTEGER at ≥80%; fallbacks REAL > INTEGER > DATETIME > TEXT
  *
  * Sampling: only the first [[TypeInference.MaxSampleSize]] rows are
  * inspected (the reference's streaming path likewise infers from the
  * first chunk only, `stream.go:285-317`), so inference cost is
  * O(sample), not O(data). The text sources read that head on the driver
  * in the same pass that yields their header and hand it to
  * [[TypeInference.inferForRows]] — no Spark job;
  * [[TypeInference.inferForDataFrame]] runs the same routine over a
  * DataFrame's `head`.
  */
object TypeInference {

  val MaxSampleSize = 1000
  val MinConfidence = 0.8
  val EarlyTermination = 0.5
  val MinRealThreshold = 0.1
  val StratificationFactor = 3
  private val MinDatetimeLen = 4
  private val MaxDatetimeLen = 35

  sealed trait ColType
  case object TextType extends ColType
  case object IntegerType extends ColType
  case object RealType extends ColType
  /** families = pattern families observed in the sample, in priority order —
    * used to build the Spark cast expression. */
  final case class DatetimeType(families: Seq[DatetimeFamily]) extends ColType

  /** One datetime pattern family: a cheap regex gate + strict java.time
    * validators + the Spark-side parse strategy. */
  final case class DatetimeFamily(
      name: String,
      gate: Regex,
      validators: Seq[DateTimeFormatter],
      /** build a TimestampType column from a string column */
      sparkParse: Column => Column)

  private def fmt(pattern: String): DateTimeFormatter =
    DateTimeFormatter.ofPattern(pattern, Locale.US).withResolverStyle(ResolverStyle.STRICT)

  private def fmtOptFrac(base: String): DateTimeFormatter =
    new DateTimeFormatterBuilder()
      .appendPattern(base)
      .optionalStart().appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, true).optionalEnd()
      .toFormatter(Locale.US).withResolverStyle(ResolverStyle.STRICT)

  private def tryFmts(c: Column, fmts: String*): Column =
    coalesce(fmts.map(f => try_to_timestamp(c, lit(f))): _*)

  /** The 10 pattern families of `types.go:334-382`, most common first. */
  val Families: Seq[DatetimeFamily] = Seq(
    DatetimeFamily("iso-tz",
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?(Z|[+-]\\d{2}:\\d{2})$".r,
      Seq(DateTimeFormatter.ISO_OFFSET_DATE_TIME),
      c => c.try_cast("timestamp")),
    DatetimeFamily("iso",
      "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?$".r,
      Seq(fmtOptFrac("uuuu-MM-dd'T'HH:mm:ss")),
      c => c.try_cast("timestamp")),
    DatetimeFamily("iso-space",
      "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}(\\.\\d+)?$".r,
      Seq(fmtOptFrac("uuuu-MM-dd HH:mm:ss")),
      c => c.try_cast("timestamp")),
    DatetimeFamily("date",
      "^\\d{4}-\\d{2}-\\d{2}$".r,
      Seq(fmt("uuuu-MM-dd")),
      c => c.try_cast("timestamp")),
    DatetimeFamily("us-datetime",
      "^\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2}( (AM|PM))?$".r,
      Seq(fmt("M/d/uuuu H:mm:ss"), fmt("M/d/uuuu h:mm:ss a")),
      c => tryFmts(c, "M/d/yyyy H:mm:ss", "M/d/yyyy h:mm:ss a")),
    DatetimeFamily("us-date",
      "^\\d{1,2}/\\d{1,2}/\\d{4}$".r,
      Seq(fmt("M/d/uuuu")),
      c => tryFmts(c, "M/d/yyyy")),
    DatetimeFamily("euro-datetime",
      "^\\d{1,2}\\.\\d{1,2}\\.\\d{4} \\d{1,2}:\\d{2}:\\d{2}$".r,
      Seq(fmt("d.M.uuuu H:mm:ss")),
      c => tryFmts(c, "d.M.yyyy H:mm:ss")),
    DatetimeFamily("euro-date",
      "^\\d{1,2}\\.\\d{1,2}\\.\\d{4}$".r,
      Seq(fmt("d.M.uuuu")),
      c => tryFmts(c, "d.M.yyyy")),
    DatetimeFamily("time-sec",
      "^\\d{1,2}:\\d{2}:\\d{2}(\\.\\d+)?$".r,
      Seq(new DateTimeFormatterBuilder()
        .appendValue(ChronoField.HOUR_OF_DAY, 1, 2, java.time.format.SignStyle.NOT_NEGATIVE)
        .appendLiteral(':').appendValue(ChronoField.MINUTE_OF_HOUR, 2)
        .appendLiteral(':').appendValue(ChronoField.SECOND_OF_MINUTE, 2)
        .optionalStart().appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, true).optionalEnd()
        .toFormatter(Locale.US).withResolverStyle(ResolverStyle.STRICT)),
      c => tryFmts(c, "H:mm:ss.SSS", "H:mm:ss")),
    DatetimeFamily("time-min",
      "^\\d{1,2}:\\d{2}$".r,
      Seq(fmt("H:mm")),
      c => tryFmts(c, "H:mm"))
  )

  /** Datetime gate: length bounds, must contain a digit and a separator,
    * then family regex + strict parse (`types.go:402-445`). Returns the
    * matching family, if any. */
  def datetimeFamily(raw: String): Option[DatetimeFamily] = {
    val v = raw.trim
    if (v.length < MinDatetimeLen || v.length > MaxDatetimeLen) return None
    var hasDigit = false; var hasSep = false
    var i = 0
    while (i < v.length && !(hasDigit && hasSep)) {
      val ch = v.charAt(i)
      if (ch >= '0' && ch <= '9') hasDigit = true
      else if (ch == '-' || ch == '/' || ch == '.' || ch == ':' || ch == 'T' || ch == ' ') hasSep = true
      i += 1
    }
    if (!hasDigit || !hasSep) return None
    Families.find { fam =>
      fam.gate.pattern.matcher(v).matches() && fam.validators.exists { f =>
        try { f.parse(v); true } catch { case _: Exception => false }
      }
    }
  }

  private def isInteger(v: String): Boolean = {
    if (v.isEmpty) return false
    val c0 = v.charAt(0)
    if (c0 != '+' && c0 != '-' && (c0 < '0' || c0 > '9')) return false
    try { v.toLong; true } catch { case _: NumberFormatException => false }
  }

  private def isReal(v: String): Boolean = {
    if (!v.exists(c => c >= '0' && c <= '9')) return false
    try { v.toDouble; true } catch { case _: NumberFormatException => false }
  }

  /** Per-value classification: datetime → integer → real → text
    * (`types.go:581-598`). */
  def classify(value: String): ColType =
    datetimeFamily(value) match {
      case Some(fam) => DatetimeType(Seq(fam))
      case None =>
        if (isInteger(value)) IntegerType
        else if (isReal(value)) RealType
        else TextType
    }

  /** Stratified 3-way sampling for large inputs (`types.go:492-578`):
    * deterministic stride sampling from begin/middle/end sections. */
  def sampleValues(values: IndexedSeq[String]): IndexedSeq[String] = {
    val n = values.length
    if (n <= MaxSampleSize) return values
    if (n < MaxSampleSize * StratificationFactor) {
      val step = math.max(1, n / MaxSampleSize)
      return (0 until n by step).take(MaxSampleSize).map(values)
    }
    val section = n / StratificationFactor
    val per = MaxSampleSize / StratificationFactor
    val rem = MaxSampleSize % StratificationFactor
    val out = IndexedSeq.newBuilder[String]
    var taken = 0
    def takeSection(start: Int, size: Int, want: Int): Unit = {
      if (want <= 0 || size <= 0) return
      val step = math.max(1, size / want)
      var i = 0; var got = 0
      while (i < size && got < want && start + i < n) {
        out += values(start + i); got += 1; taken += 1; i += step
      }
    }
    takeSection(0, section, per + (if (rem > 0) 1 else 0))
    takeSection(section, section, per + (if (rem > 1) 1 else 0))
    takeSection(2 * section, n - 2 * section, MaxSampleSize - taken)
    out.result()
  }

  /** Infer one column's type from its (string) values — the reference's
    * `inferColumnType` (`types.go:449-490`) with early text termination. */
  def inferType(values: IndexedSeq[String]): ColType = {
    if (values.isEmpty) return TextType
    val sample = sampleValues(values)
    var text = 0; var integer = 0; var real = 0; var datetime = 0
    var nonEmpty = 0
    val famCounts = scala.collection.mutable.LinkedHashMap.empty[DatetimeFamily, Int]
    sample.foreach { raw =>
      val v = if (raw == null) "" else raw.trim
      if (v.nonEmpty) {
        nonEmpty += 1
        classify(v) match {
          case TextType => text += 1
          case IntegerType => integer += 1
          case RealType => real += 1
          case DatetimeType(fams) =>
            datetime += 1
            famCounts.updateWith(fams.head)(c => Some(c.getOrElse(0) + 1))
        }
        if (text > 0 && text.toDouble / nonEmpty > EarlyTermination) return TextType
      }
    }
    if (nonEmpty == 0) return TextType
    selectType(text, integer, real, datetime, nonEmpty,
      Families.filter(famCounts.contains))
  }

  /** The decision rule of `selectColumnType` (`types.go:633-672`). */
  private def selectType(text: Int, integer: Int, real: Int, datetime: Int,
      total: Int, fams: Seq[DatetimeFamily]): ColType = {
    if (text > 0) return TextType
    val dt = datetime.toDouble / total
    val re = real.toDouble / total
    val in = integer.toDouble / total
    if (dt >= MinConfidence) DatetimeType(fams)
    else if (re >= MinRealThreshold && (re + in) >= MinConfidence) RealType
    else if (in >= MinConfidence) IntegerType
    else if (real > 0) RealType
    else if (integer > 0) IntegerType
    else if (datetime > 0) DatetimeType(fams)
    else TextType
  }

  /** Infer every column's type from head rows already on the driver —
    * the per-column routine every source uses. A row shorter than
    * `names` (or a null cell) reads as "". */
  def inferForRows(names: Seq[String], rows: Seq[Seq[String]]): Seq[(String, ColType)] =
    names.zipWithIndex.map { case (name, i) =>
      name -> inferType(rows.iterator.map(r => if (i < r.length && r(i) != null) r(i) else "").toIndexedSeq)
    }

  /** [[inferForRows]] over the first `sampleRows` rows of an all-string
    * DataFrame (one Spark job) — first-chunk semantics
    * (`stream.go:285-317`), scale-safe. */
  def inferForDataFrame(df: DataFrame, sampleRows: Int = MaxSampleSize): Seq[(String, ColType)] =
    inferForRows(df.columns.toSeq, df.head(sampleRows).toSeq.map(r =>
      r.toSeq.map(v => if (v == null) "" else String.valueOf(v))))

  /** Apply inferred types by casting columns (distributed, codegen'd —
    * no UDFs): INTEGER→long, REAL→double, DATETIME→timestamp via the
    * observed pattern families. Unparseable cells become NULL (deviation
    * from SQLite's store-as-is affinity, documented in README). */
  def applyTypes(df: DataFrame, inferred: Seq[(String, ColType)]): DataFrame = {
    val projected = inferred.map { case (name, t) =>
      val c = col(s"`$name`")
      (t match {
        case TextType => c
        case IntegerType => c.try_cast("bigint")
        case RealType => c.try_cast("double")
        case DatetimeType(fams) =>
          val parsers = fams.map(_.sparkParse(c))
          if (parsers.isEmpty) c.try_cast("timestamp") else coalesce(parsers: _*)
      }).as(name)
    }
    df.select(projected: _*)
  }
}
