package perfbench

import java.io.{BufferedOutputStream, OutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream
import org.apache.commons.compress.compressors.xz.XZCompressorOutputStream
import org.apache.commons.compress.compressors.zstandard.ZstdCompressorOutputStream
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped tables and the writers that turn them into input
  * files. Nothing here calls the program: text formats are written by
  * hand, codecs by commons-compress, parquet by Spark's own writer and
  * XLSX as a hand-built zip. Every expected answer is computed from these
  * in-memory rows. */
object Data {
  sealed trait Kind
  case object IntK extends Kind   // whole number (Long)
  case object Cents extends Kind  // money with two decimals, held as Long cents
  case object Str extends Kind    // alphabetic text
  case object DateK extends Kind  // yyyy-MM-dd text

  final case class Col(name: String, kind: Kind)
  final case class Table(name: String, cols: Seq[Col], rows: IndexedSeq[Array[Any]])

  def text(v: Any, k: Kind): String = k match {
    case Cents => java.math.BigDecimal.valueOf(v.asInstanceOf[Long], 2).toPlainString
    case _ => v.toString
  }

  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes(UTF_8)); c.getValue }

  /** Order-independent checksum of one column, as `checksumSql` computes it. */
  def checksum(t: Table, c: Int): Long = t.cols(c).kind match {
    case IntK | Cents => t.rows.iterator.map(_(c).asInstanceOf[Long]).sum
    case Str | DateK => t.rows.iterator.map(r => crc(r(c).asInstanceOf[String])).sum
  }

  /** One aggregate over every column; the row count comes first. It reads
    * typed or all-text columns alike, so it checks a table whatever types
    * inference gave it. */
  def checksumSql(t: Table, table: String): String = {
    val parts = t.cols.map { c =>
      val q = s"`${c.name}`"
      c.kind match {
        case IntK => s"sum(CAST($q AS BIGINT))"
        case Cents => s"sum(CAST(round(CAST($q AS DOUBLE) * 100) AS BIGINT))"
        case Str => s"sum(crc32(CAST(CAST($q AS STRING) AS BINARY)))"
        case DateK => s"sum(crc32(CAST(substr(CAST($q AS STRING), 1, 10) AS BINARY)))"
      }
    }
    s"SELECT count(*), ${parts.mkString(", ")} FROM `$table`"
  }

  def expected(t: Table): Seq[Long] = t.rows.length.toLong +: t.cols.indices.map(checksum(t, _))

  // ------------------------------------------------------------ generators

  private val flags = Array("A", "N", "R")
  private val statuses = Array("F", "O", "P")
  private val priorities = Array("URGENT", "HIGH", "MEDIUM", "LOW", "NONE")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val words = Array("almond", "antique", "azure", "beige", "bisque", "black", "blanched",
    "blue", "blush", "brown", "burlywood", "chartreuse", "coral", "cornsilk", "cyan", "firebrick")
  private val nations = Array("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val epoch = java.time.LocalDate.of(1992, 1, 1)

  private def date(r: SplittableRandom): String = epoch.plusDays(r.nextInt(2400).toLong).toString
  private def word(r: SplittableRandom): String = words(r.nextInt(words.length))
  private def name(prefix: String, k: Long): String = f"$prefix%s${"x" * (1 + (k % 7).toInt)}%s"

  final case class Sizes(lineitem: Int, orders: Int, customer: Int, part: Int, supplier: Int)
  val full = Sizes(lineitem = 10000, orders = 4000, customer = 1000, part = 1000, supplier = 100)
  val smoke = Sizes(lineitem = 600, orders = 150, customer = 40, part = 40, supplier = 10)

  def lineitem(seed: Long, s: Sizes): Table = {
    val r = new SplittableRandom(seed * 31 + 1)
    val rows = (0 until s.lineitem).map { i =>
      val q = 1L + r.nextInt(50)
      Array[Any]((i / 4 + 1).toLong, 1L + r.nextInt(s.part), 1L + r.nextInt(s.supplier),
        (i % 4 + 1).toLong, q * 100, q * (90000L + r.nextInt(10000000)) / 100,
        r.nextInt(11).toLong, r.nextInt(9).toLong, flags(r.nextInt(3)), statuses(r.nextInt(2)),
        date(r))
    }
    Table("lineitem", Seq(Col("l_orderkey", IntK), Col("l_partkey", IntK), Col("l_suppkey", IntK),
      Col("l_linenumber", IntK), Col("l_quantity", Cents), Col("l_extendedprice", Cents),
      Col("l_discount", Cents), Col("l_tax", Cents), Col("l_returnflag", Str),
      Col("l_linestatus", Str), Col("l_shipdate", DateK)), rows)
  }

  def orders(seed: Long, s: Sizes): Table = {
    val r = new SplittableRandom(seed * 31 + 2)
    val rows = (0 until s.orders).map { i =>
      Array[Any]((i + 1).toLong, 1L + r.nextInt(s.customer), statuses(r.nextInt(3)),
        100000L + r.nextInt(40000000), date(r), priorities(r.nextInt(priorities.length)))
    }
    Table("orders", Seq(Col("o_orderkey", IntK), Col("o_custkey", IntK),
      Col("o_orderstatus", Str), Col("o_totalprice", Cents), Col("o_orderdate", DateK),
      Col("o_orderpriority", Str)), rows)
  }

  def customer(seed: Long, s: Sizes): Table = {
    val r = new SplittableRandom(seed * 31 + 3)
    val rows = (0 until s.customer).map { i =>
      val k = (i + 1).toLong
      Array[Any](k, name("Customer", k) + word(r), r.nextInt(25).toLong,
        r.nextInt(1100000).toLong - 100000L, segments(r.nextInt(segments.length)))
    }
    Table("customer", Seq(Col("c_custkey", IntK), Col("c_name", Str), Col("c_nationkey", IntK),
      Col("c_acctbal", Cents), Col("c_mktsegment", Str)), rows)
  }

  def part(seed: Long, s: Sizes): Table = {
    val r = new SplittableRandom(seed * 31 + 4)
    val rows = (0 until s.part).map { i =>
      Array[Any]((i + 1).toLong, s"${word(r)} ${word(r)}", s"Brand${"x" * (1 + r.nextInt(5))}",
        word(r).toUpperCase, (1 + r.nextInt(50)).toLong, 90000L + r.nextInt(110000))
    }
    Table("part", Seq(Col("p_partkey", IntK), Col("p_name", Str), Col("p_brand", Str),
      Col("p_type", Str), Col("p_size", IntK), Col("p_retailprice", Cents)), rows)
  }

  def supplier(seed: Long, s: Sizes): Table = {
    val r = new SplittableRandom(seed * 31 + 5)
    val rows = (0 until s.supplier).map { i =>
      val k = (i + 1).toLong
      Array[Any](k, name("Supplier", k), r.nextInt(25).toLong, r.nextInt(1100000).toLong - 100000L)
    }
    Table("supplier", Seq(Col("s_suppkey", IntK), Col("s_name", Str), Col("s_nationkey", IntK),
      Col("s_acctbal", Cents)), rows)
  }

  val nation: Table = Table("nation",
    Seq(Col("n_nationkey", IntK), Col("n_name", Str), Col("n_regionkey", IntK)),
    nations.indices.map(i => Array[Any](i.toLong, nations(i), (i % 5).toLong)))

  val region: Table = Table("region", Seq(Col("r_regionkey", IntK), Col("r_name", Str)),
    regions.indices.map(i => Array[Any](i.toLong, regions(i))))

  // --------------------------------------------------------------- writers

  def compressed(path: Path): OutputStream = {
    val raw = new BufferedOutputStream(Files.newOutputStream(path), 1 << 16)
    val n = path.getFileName.toString
    if (n.endsWith(".gz")) new GzipCompressorOutputStream(raw)
    else if (n.endsWith(".bz2")) new BZip2CompressorOutputStream(raw)
    else if (n.endsWith(".xz")) new XZCompressorOutputStream(raw, 3)
    else if (n.endsWith(".zst")) new ZstdCompressorOutputStream(raw)
    else raw
  }

  private def withWriter(path: Path)(f: Writer => Unit): Unit = {
    val w = new OutputStreamWriter(compressed(path), UTF_8)
    try f(w) finally w.close()
  }

  def writeDelimited(t: Table, path: Path, sep: Char): Unit = withWriter(path) { w =>
    w.write(t.cols.map(_.name).mkString(sep.toString)); w.write('\n')
    t.rows.foreach { r =>
      w.write(t.cols.indices.map(i => text(r(i), t.cols(i).kind)).mkString(sep.toString))
      w.write('\n')
    }
  }

  def writeLtsv(t: Table, path: Path): Unit = withWriter(path) { w =>
    t.rows.foreach { r =>
      w.write(t.cols.indices.map(i => s"${t.cols(i).name}:${text(r(i), t.cols(i).kind)}").mkString("\t"))
      w.write('\n')
    }
  }

  def writeJsonl(t: Table, path: Path): Unit = withWriter(path) { w =>
    t.rows.foreach { r =>
      w.write(t.cols.indices.map { i =>
        val v = text(r(i), t.cols(i).kind)
        val json = t.cols(i).kind match { case IntK | Cents => v; case _ => "\"" + v + "\"" }
        s""""${t.cols(i).name}":$json"""
      }.mkString("{", ",", "}"))
      w.write('\n')
    }
  }

  /** Minimal one-sheet workbook: numbers as `<v>` cells, text as inline strings. */
  def writeXlsx(t: Table, path: Path): Unit = {
    val zip = new ZipOutputStream(new BufferedOutputStream(Files.newOutputStream(path)), UTF_8)
    // a fixed entry time keeps the file's bytes a function of the seed
    def open(name: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(315532800000L)
      zip.putNextEntry(e)
    }
    def entry(name: String, body: String): Unit = {
      open(name); zip.write(body.getBytes(UTF_8)); zip.closeEntry()
    }
    val hdr = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    entry("[Content_Types].xml", hdr +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>""")
    entry("_rels/.rels", hdr +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    entry("xl/workbook.xml", hdr +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels", hdr +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    open("xl/worksheets/sheet1.xml")
    val w = new OutputStreamWriter(zip, UTF_8)
    w.write(hdr + """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    def str(s: String) = s"""<c t="inlineStr"><is><t>$s</t></is></c>"""
    w.write(t.cols.map(c => str(c.name)).mkString("<row>", "", "</row>"))
    t.rows.foreach { r =>
      w.write(t.cols.indices.map { i =>
        val v = text(r(i), t.cols(i).kind)
        t.cols(i).kind match { case IntK | Cents => s"<c><v>$v</v></c>"; case _ => str(v) }
      }.mkString("<row>", "", "</row>"))
    }
    w.write("</sheetData></worksheet>")
    w.flush()
    zip.closeEntry()
    zip.close()
  }

  def sparkType(k: Kind): DataType = k match {
    case IntK => LongType
    case Cents => DoubleType
    case Str => StringType
    case DateK => TimestampType
  }

  def sparkValue(v: Any, k: Kind): Any = k match {
    case Cents => v.asInstanceOf[Long] / 100.0
    case DateK => java.sql.Timestamp.valueOf(v.toString + " 00:00:00")
    case _ => v
  }

  /** One parquet file, written by Spark's parquet writer. */
  def writeParquet(spark: SparkSession, t: Table, path: Path): Unit = {
    val schema = StructType(t.cols.map(c => StructField(c.name, sparkType(c.kind))))
    val rows = t.rows.map(r => Row.fromSeq(t.cols.indices.map(i => sparkValue(r(i), t.cols(i).kind))))
    val tmp = path.resolveSibling(".tmp-" + path.getFileName)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, path, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }
}
