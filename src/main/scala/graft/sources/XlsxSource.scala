package graft.sources

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.NoDataError

/** XLSX source/sink (reference S5/S14: `stream_processor.go:326-417`,
  * `file.go:564-656`, `filesql.go:823-962`) implemented directly on
  * zip + streaming XML (StAX) — no external spreadsheet dependency.
  *
  * Semantics: one sheet = one table named `{file}_{sheet}`; row 1 is the
  * header; short rows are padded with `""`; all cell values are strings
  * until type inference.
  *
  * Scale note: an .xlsx is a single random-access zip — inherently a
  * driver-side parse (the reference materializes whole files too,
  * SURVEY §4). Parsed rows are parallelized into a DataFrame; for
  * 100 TB-scale inputs one ingests many files (one task per file) or
  * converts to parquet at the edge — this reader exists for format parity.
  * The rows are already in driver memory, so inference reads the first
  * [[TypeInference.MaxSampleSize]] of them directly: opening a workbook
  * runs no Spark job.
  */
object XlsxSource {

  /** All sheets of the workbook: (tableName, DataFrame) per sheet. */
  def readAllSheets(spark: SparkSession, path: String, inferTypes: Boolean = true): Seq[(String, DataFrame)] = {
    val localPath = materializeLocal(path)
    val sheets = parseWorkbook(localPath)
    if (sheets.isEmpty) throw NoDataError(path)
    sheets.map { case (sheetName, rows) =>
      TableNaming.forSheet(path, sheetName) -> toDataFrame(spark, path, rows, inferTypes)
    }
  }

  /** Single-table path: first sheet only (`file.go:564-625`). */
  def readFirstSheet(spark: SparkSession, path: String, inferTypes: Boolean = true): DataFrame = {
    val localPath = materializeLocal(path)
    val sheets = parseWorkbook(localPath)
    if (sheets.isEmpty) throw NoDataError(path)
    toDataFrame(spark, path, sheets.head._2, inferTypes)
  }

  private def materializeLocal(path: String): String =
    Compression.forPath(path) match {
      case None => path
      case Some(_) => Compression.sparkReadablePath(path) match {
        case p if p != path => p
        case p => // spark-native codec (gz/bz2) still needs local decompress for zip access
          val inner = Compression.stripExt(java.nio.file.Paths.get(p).getFileName.toString)
          val dir = graft.Paths.scratchDir("graft-xlsx-")
          val target = dir.resolve(inner)
          val in = Compression.openRead(p)
          try java.nio.file.Files.copy(in, target) finally in.close()
          target.toString
      }
    }

  private def toDataFrame(spark: SparkSession, path: String,
      rows: Seq[Seq[String]], inferTypes: Boolean): DataFrame = {
    if (rows.isEmpty) throw NoDataError(path)
    val header = rows.head.map(_.trim)
    CsvSource.checkDuplicateColumns(TableNaming.fromPath(path), header)
    val width = header.length
    val cells = rows.tail.map(_.padTo(width, "").take(width))
    val data = cells.map(Row.fromSeq)
    val schema = StructType(header.map(StructField(_, StringType, nullable = false)))
    val allString = spark.createDataFrame(
      spark.sparkContext.parallelize(data, math.max(1, math.min(data.size / 10000 + 1, 32))),
      schema)
    if (inferTypes)
      TypeInference.applyTypes(allString,
        TypeInference.inferForRows(header, cells.take(TypeInference.MaxSampleSize)))
    else allString
  }

  // ---------------------------------------------------------------- reading

  /** Parse all sheets: Seq of (sheetName, rows); each row a Seq[String]. */
  def parseWorkbook(path: String): Seq[(String, Seq[Seq[String]])] = {
    val zip = new ZipFile(path)
    try {
      val shared = Option(zip.getEntry("xl/sharedStrings.xml"))
        .map(e => parseSharedStrings(zip.getInputStream(e)))
        .getOrElse(IndexedSeq.empty)
      val rels = Option(zip.getEntry("xl/_rels/workbook.xml.rels"))
        .map(e => parseRels(zip.getInputStream(e)))
        .getOrElse(Map.empty)
      val sheets = Option(zip.getEntry("xl/workbook.xml"))
        .map(e => parseSheetList(zip.getInputStream(e)))
        .getOrElse(Seq.empty)
      sheets.flatMap { case (name, rid) =>
        val target = rels.getOrElse(rid, s"worksheets/sheet1.xml")
        val norm = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
        Option(zip.getEntry(norm)).map { e =>
          name -> parseSheet(zip.getInputStream(e), shared)
        }
      }
    } finally zip.close()
  }

  private def xmlReader(in: InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(in, "UTF-8")
  }

  private def parseSharedStrings(in: InputStream): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val r = xmlReader(in)
    var cur: StringBuilder = null
    var inT = false
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "si" => cur = new StringBuilder
            case "t" if cur != null => inT = true
            case _ =>
          }
          case XMLStreamConstants.CHARACTERS if inT => cur.append(r.getText)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "t" => inT = false
            case "si" => out += cur.result(); cur = null
            case _ =>
          }
          case _ =>
        }
      }
    } finally r.close()
    out.result()
  }

  private def parseRels(in: InputStream): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    val r = xmlReader(in)
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship") {
          val id = r.getAttributeValue(null, "Id")
          val target = r.getAttributeValue(null, "Target")
          if (id != null && target != null) out += id -> target
        }
      }
    } finally r.close()
    out.result()
  }

  /** (sheetName, relationship id) in workbook order. */
  private def parseSheetList(in: InputStream): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    val r = xmlReader(in)
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
          val name = r.getAttributeValue(null, "name")
          var rid: String = null
          var i = 0
          while (i < r.getAttributeCount) {
            if (r.getAttributeLocalName(i) == "id") rid = r.getAttributeValue(i)
            i += 1
          }
          if (name != null && rid != null) out += ((name, rid))
        }
      }
    } finally r.close()
    out.result()
  }

  /** Stream one worksheet into rows of strings. Cell types: `s` shared
    * string, `inlineStr`, `str` (formula cache), `b` boolean, default
    * numeric/raw — all rendered to strings (the reference flattens all
    * sheet data to string records). */
  private def parseSheet(in: InputStream, shared: IndexedSeq[String]): Seq[Seq[String]] = {
    val rows = mutable.ArrayBuffer.empty[Seq[String]]
    val r = xmlReader(in)
    var row: mutable.ArrayBuffer[String] = null
    var cellType = ""
    var cellCol = -1
    var inV = false
    var inIs = false
    val text = new StringBuilder
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
            case "row" => row = mutable.ArrayBuffer.empty[String]
            case "c" =>
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
              cellCol = Option(r.getAttributeValue(null, "r")).map(colIndex).getOrElse(row.size)
              text.clear()
            case "v" => inV = true; text.clear()
            case "is" => inIs = true
            // rich-text cells hold MULTIPLE <r><t>…</t></r> runs per <is>;
            // text was cleared at <c> start, so runs concatenate here —
            // clearing per <t> would keep only the last run (the
            // shared-strings parser concatenates runs the same way)
            case "t" if inIs => inV = true
            case _ =>
          }
          case XMLStreamConstants.CHARACTERS if inV => text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
            case "v" | "t" if inV =>
              inV = false
            case "is" => inIs = false
            case "c" =>
              val raw = text.result()
              val value = cellType match {
                case "s" => shared.lift(raw.trim.toIntOption.getOrElse(-1)).getOrElse("")
                case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
                case _ => raw
              }
              while (row.size < cellCol) row += "" // gap cells
              row += value
              text.clear()
            case "row" =>
              rows += row.toSeq; row = null
            case _ =>
          }
          case _ =>
        }
      }
    } finally r.close()
    // trim fully-empty trailing rows (Excel often emits them)
    rows.reverseIterator.takeWhile(_.forall(_.isEmpty)).length match {
      case 0 => rows.toSeq
      case n => rows.dropRight(n).toSeq
    }
  }

  /** "BC12" → 0-based column index 54. */
  private def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
    }
    math.max(acc - 1, 0)
  }

  // ---------------------------------------------------------------- writing

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }

  /** One sheet to serialize: name, header row, data rows. */
  final case class SheetData(name: String, header: Seq[String], rows: Iterator[Seq[String]])

  /** Write rows (header first) as a minimal single-sheet workbook with
    * inline strings (round-trips through [[parseWorkbook]] and Excel). */
  def write(out: OutputStream, sheetName: String, header: Seq[String],
      rows: Iterator[Seq[String]]): Unit =
    writeWorkbook(out, Seq(SheetData(sheetName, header, rows)))

  /** Write a multi-sheet workbook (inline strings). */
  def writeWorkbook(out: OutputStream, sheets: Seq[SheetData]): Unit = {
    val zip = new ZipOutputStream(out, StandardCharsets.UTF_8)
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    val sheetOverrides = sheets.indices.map(i =>
      s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
      .mkString("\n")
    entry("[Content_Types].xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
         |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
         |<Default Extension="xml" ContentType="application/xml"/>
         |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
         |$sheetOverrides
         |</Types>""".stripMargin)
    entry("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
        |</Relationships>""".stripMargin)
    val sheetRefs = sheets.zipWithIndex.map { case (s, i) =>
      s"""<sheet name="${xmlEscape(s.name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    entry("xl/workbook.xml",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
         |<sheets>$sheetRefs</sheets>
         |</workbook>""".stripMargin)
    val rels = sheets.indices.map(i =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""")
      .mkString
    entry("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
         |$rels
         |</Relationships>""".stripMargin)
    sheets.zipWithIndex.foreach { case (sheet, i) =>
      zip.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${i + 1}.xml"))
      val w = new java.io.OutputStreamWriter(zip, StandardCharsets.UTF_8)
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      def writeRow(cells: Seq[String]): Unit = {
        w.write("<row>")
        cells.foreach { c =>
          w.write("""<c t="inlineStr"><is><t xml:space="preserve">""")
          w.write(xmlEscape(c))
          w.write("</t></is></c>")
        }
        w.write("</row>")
      }
      writeRow(sheet.header)
      sheet.rows.foreach(writeRow)
      w.write("</sheetData></worksheet>")
      w.flush()
      zip.closeEntry()
    }
    zip.finish()
  }
}
