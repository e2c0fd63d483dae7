package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.session.{FileCollector, GraftSession}
import graft.sinks.{Dump, DumpOptions}
import graft.sources.{Compression, CsvSource, TypeInference, XlsxSource}

/** filesql's own job: open one file (discover, decompress, parse, infer),
  * run a full-scan aggregate over it, and dump a table to each sink
  * format. A pass opens all ten inputs once and dumps the parquet-backed
  * lineitem table once per sink format, in a seeded order. */
final class IngestDump(a: Args, spark: SparkSession) extends Workload {
  private val sizes = if (a.smoke) Data.smoke else Data.full
  private val lineitem = Data.lineitem(a.seed, sizes)
  // the parquet input, also the table every dump writes: twice the rows,
  // so a dump's own work outweighs the per-job fixed cost
  private val bigLineitem = Data.lineitem(a.seed, sizes.copy(lineitem = 2 * sizes.lineitem))
  private val orders = Data.orders(a.seed, sizes)
  private val customer = Data.customer(a.seed, sizes)

  /** (format label, file name, table) */
  private val files: Seq[(String, String, Data.Table)] = Seq(
    ("csv", "lineitem_csv.csv", lineitem),
    ("csv_gz", "lineitem_gz.csv.gz", lineitem),
    ("csv_bz2", "lineitem_bz2.csv.bz2", lineitem),
    ("csv_xz", "lineitem_xz.csv.xz", lineitem),
    ("csv_zst", "lineitem_zst.csv.zst", lineitem),
    ("tsv", "orders_tsv.tsv", orders),
    ("ltsv", "orders_ltsv.ltsv", orders),
    ("jsonl", "orders_jsonl.jsonl", orders),
    ("xlsx", "customer_xlsx.xlsx", customer),
    ("parquet", "lineitem_parquet.parquet", bigLineitem))

  private val dir: Path = Inputs.prepare(a, "ingest_dump") { d =>
    Inputs.parallel(files) { case (fmt, name, t) =>
      val p = d.resolve(name)
      fmt match {
        case "tsv" => Data.writeDelimited(t, p, '\t')
        case "ltsv" => Data.writeLtsv(t, p)
        case "jsonl" => Data.writeJsonl(t, p)
        case "xlsx" => Data.writeXlsx(t, p)
        case "parquet" => Data.writeParquet(spark, t, p)
        case _ => Data.writeDelimited(t, p, ',')
      }
    }
  }
  Inputs.manifest(dir, files.map { case (_, n, t) => n -> t.rows.length }, dir)

  private def expected(t: Data.Table): Seq[Long] = {
    val e = Data.expected(t)
    if (a.wrongExpected) (e.head + 1) +: e.tail else e
  }

  private def compare(got: Row, want: Seq[Long]): Option[String] = {
    val g = want.indices.map(i => if (got.isNullAt(i)) Long.MinValue else got.getLong(i))
    if (g == want) None else Some(s"checksums ${g.mkString(",")} != expected ${want.mkString(",")}")
  }

  private val dumpDir = a.work.resolve("dump")
  private var dumpTable: DataFrame = _
  private val dumpBytes = mutable.Map.empty[String, Long]
  // replayed open breakdown and the real open time, summed over traced opens
  private val replayOpen = mutable.ArrayBuffer.empty[Double]
  private val realOpen = mutable.ArrayBuffer.empty[Double]

  def setupOnce(s: SparkSession): Unit = {
    val gs = GraftSession.open(s.newSession(), dir.resolve("lineitem_parquet.parquet").toString)
    gs.sql("SELECT count(*) FROM sqlite_master").collect()
    gs.close()
  }

  def start(s: SparkSession): Unit = {
    val gs = GraftSession.open(s.newSession(), dir.resolve("lineitem_parquet.parquet").toString)
    dumpTable = gs.table(gs.tableNames.head)
  }

  def pass(n: Int): Seq[Op] = {
    val r = new java.util.Random(a.seed * 1000 + n)
    val reads = files.map { case (fmt, name, t) => readOp(fmt, dir.resolve(name), t) }
    val writes = Layers.sinkFormats.map(writeOp)
    val all = new java.util.ArrayList[Op]()
    (reads ++ writes).foreach(all.add)
    java.util.Collections.shuffle(all, r)
    scala.jdk.CollectionConverters.ListHasAsScala(all).asScala.toSeq
  }

  private def readOp(fmt: String, path: Path, t: Data.Table): Op = Op(fmt, write = false, () => {
    val t0 = System.nanoTime()
    val gs = Trace.span("session.open")(GraftSession.open(spark, path.toString))
    val openS = (System.nanoTime() - t0) / 1e9
    val name = gs.tableNames.head
    val df = Trace.span("session.sql_call")(gs.sql(Data.checksumSql(t, name)))
    val row = Trace.span("session.collect")(df.collect().head)
    () => {
      gs.close()
      if (Trace.on) replay(fmt, path, openS)
      compare(row, expected(t))
    }
  })

  private def writeOp(fmt: String): Op = Op(fmt, write = true, () => {
    val (format, codec) = fmt match {
      case "csv_zst" => ("csv", Some(Compression.Zstd))
      case other => (other, None)
    }
    val opts = DumpOptions(format = format, compression = codec)
    Trace.span("sinks.write")(Dump.writeTable(dumpTable, "lineitem_dump", dumpDir.toString, opts))
    () => {
      val p = dumpDir.resolve(s"lineitem_dump${opts.extension}")
      dumpBytes(fmt) = Files.size(p)
      val row = Reread.checksum(spark, p, fmt, bigLineitem)
      Files.delete(p)
      compare(row, expected(bigLineitem))
    }
  })

  /** Replay the public calls that `GraftSession.open` makes for one file,
    * each in its own span, then scan the raw and the typed table. */
  private def replay(fmt: String, path: Path, openS: Double): Unit = {
    val p = path.toString
    val noScan: Double = Trace.span(s"replay.$fmt") {
      val (found, collectS) = Main.time(Trace.span("sources.collect")(FileCollector.collect(Seq(p))))
      fmt match {
        case f if f.startsWith("csv") || f == "tsv" =>
          val delim = if (f == "tsv") "\t" else ","
          val t0 = System.nanoTime()
          val readable = Trace.span("sources.decompress")(Compression.sparkReadablePath(p))
          Trace.span("sources.header")(CsvSource.readHeader(p, delim.charAt(0)))
          val ml = Trace.span("sources.newline_scan")(CsvSource.detectQuotedNewlines(spark, readable))
          val raw = Trace.span("sources.raw_read")(spark.read.option("header", "true")
            .option("sep", delim).option("quote", "\"").option("escape", "\"")
            .option("multiLine", ml.toString).option("inferSchema", "false")
            .csv(readable).na.fill(""))
          val inferred = Trace.span("sources.infer")(TypeInference.inferForDataFrame(raw))
          val typed = Trace.span("sources.apply_types")(TypeInference.applyTypes(raw, inferred))
          val open = collectS + (System.nanoTime() - t0) / 1e9
          Trace.span("sources.raw_scan")(noop(raw))
          Trace.span("sources.typed_scan")(noop(typed))
          open
        case f =>
          // the xlsx parse is timed on its own; the read below repeats it
          if (f == "xlsx") Trace.span("sources.xlsx_parse")(XlsxSource.parseWorkbook(p))
          val (df, readS) = Main.time(Trace.span("sources.read")(
            FileCollector.read(spark, found.head, inferTypes = true).head._2))
          Trace.span("sources.typed_scan")(noop(df))
          collectS + readS
      }
    }
    replayOpen += noScan
    realOpen += openS
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    val spans = Trace.all
    val opens = traced.count(!_.op.write).max(1)
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    Seq("collect", "header", "newline_scan", "decompress", "infer", "xlsx_parse", "raw_scan",
      "typed_scan").foreach(s => m(s"sources.${s}_s") = total(s"sources.$s") / opens)
    val csvOpens = traced.count(s => !s.op.write && (s.op.cls.startsWith("csv") || s.op.cls == "tsv"))
    Seq("header", "newline_scan", "raw_scan").foreach(s =>
      m(s"sources.${s}_s") = total(s"sources.$s") / csvOpens.max(1))
    val rowsOf = files.map { case (f, _, t) => f -> t.rows.length.toDouble }.toMap
    def p50(cls: String, write: Boolean) =
      Main.median(traced.filter(s => s.op.cls == cls && s.op.write == write).map(_.seconds))
    Layers.sourceFormats.foreach { f =>
      val t = p50(f, write = false); if (t > 0) m(s"sources.$f.rows_per_s") = rowsOf(f) / t
    }
    Layers.sinkFormats.foreach { f =>
      val t = p50(f, write = true)
      if (t > 0) m(s"sinks.$f.rows_per_s") = bigLineitem.rows.length / t
      dumpBytes.get(f).foreach(b => m(s"sinks.bytes_per_row.$f") = b.toDouble / bigLineitem.rows.length)
    }
    m("session.open_s") = total("session.open") / opens
    m("session.sql_call_s") = total("session.sql_call") / opens
    val reads = traced.filter(!_.op.write)
    m("session.plan_s") = reads.map(_.counters.getOrElse("plan_s", 0.0)).sum / opens
    m("session.exec_s") = reads.map(_.counters.getOrElse("exec_s", 0.0)).sum / opens
    if (realOpen.nonEmpty) m("bench.span_coverage") = replayOpen.sum / realOpen.sum
    m.toMap
  }
}

/** Re-reads a dumped file without the program's sources and computes the
  * same checksums: Spark's csv/json/parquet readers, commons-compress for
  * zstd, Spark's `str_to_map` for LTSV and a small StAX reader for XLSX. */
object Reread {
  def checksum(spark: SparkSession, p: Path, fmt: String, t: Data.Table): Row = {
    val df: DataFrame = fmt match {
      case "csv" => spark.read.option("header", "true").csv(p.toString)
      case "tsv" => spark.read.option("header", "true").option("sep", "\t").csv(p.toString)
      case "csv_zst" =>
        val plain = p.resolveSibling("reread.csv")
        val in = new org.apache.commons.compress.compressors.zstandard.ZstdCompressorInputStream(
          new java.io.BufferedInputStream(Files.newInputStream(p)))
        try Files.copy(in, plain, java.nio.file.StandardCopyOption.REPLACE_EXISTING) finally in.close()
        val d = spark.read.option("header", "true").csv(plain.toString).localCheckpoint()
        Files.delete(plain)
        d
      case "jsonl" => spark.read.json(p.toString)
      case "parquet" => spark.read.parquet(p.toString)
      case "ltsv" =>
        val m = spark.read.text(p.toString).select(expr("str_to_map(value, '\\t', ':')").as("m"))
        m.select(t.cols.map(c => col("m").getItem(c.name).as(c.name)): _*)
      case "xlsx" =>
        val rows = xlsxRows(p)
        val schema = StructType(rows.head.map(StructField(_, StringType)))
        spark.createDataFrame(spark.sparkContext.parallelize(rows.tail.map(Row.fromSeq(_)), 4), schema)
    }
    df.createOrReplaceTempView("reread")
    spark.sql(Data.checksumSql(t, "reread")).collect().head
  }

  /** Cell text of every row of the first sheet (inline or numeric cells). */
  def xlsxRows(p: Path): Seq[Seq[String]] = {
    val zip = new java.util.zip.ZipFile(p.toFile)
    try {
      val in = zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml"))
      val r = javax.xml.stream.XMLInputFactory.newInstance().createXMLStreamReader(in, "UTF-8")
      val rows = mutable.ArrayBuffer.empty[Seq[String]]
      var row = mutable.ArrayBuffer.empty[String]
      val text = new StringBuilder
      var inValue = false
      while (r.hasNext) {
        r.next() match {
          case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => row = mutable.ArrayBuffer.empty[String]
              case "c" => text.clear()
              case "v" | "t" => inValue = true
              case _ =>
            }
          case javax.xml.stream.XMLStreamConstants.CHARACTERS if inValue => text ++= r.getText
          case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" | "t" => inValue = false
              case "c" => row += text.result()
              case "row" => rows += row.toSeq
              case _ =>
            }
          case _ =>
        }
      }
      rows.toSeq
    } finally zip.close()
  }

}
