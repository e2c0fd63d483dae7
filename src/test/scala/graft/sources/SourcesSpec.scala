package graft.sources

import java.nio.file.Files

import graft.{DuplicateColumnError, SparkSpec}
import org.apache.spark.sql.types._

/** Format-source specs over generated fixtures (FIXTURES.md). */
class SourcesSpec extends SparkSpec {

  private val sampleCsv =
    """id,name,age,email
      |1,Alice,30,alice@example.com
      |2,Bob,25,bob@example.com
      |3,Carol,35,carol@example.com
      |""".stripMargin

  test("CSV: header, inference (INTEGER/TEXT), values") {
    val dir = tmpDir("csv")
    val p = writeFile(dir, "sample.csv", sampleCsv)
    val df = CsvSource.readCsv(spark, p)
    assert(df.schema("id").dataType == LongType)
    assert(df.schema("name").dataType == StringType)
    assert(df.schema("age").dataType == LongType)
    assert(df.count() == 3)
    assert(df.filter("age > 25").count() == 2)
  }

  test("CSV: RFC-4180 quoted fields with embedded delimiter and doubled quotes") {
    val dir = tmpDir("csvq")
    val p = writeFile(dir, "q.csv",
      "id,note\n1,\"hello, world\"\n2,\"say \"\"hi\"\"\"\n")
    val df = CsvSource.readCsv(spark, p)
    val notes = df.orderBy("id").collect().map(_.getString(1)).toSeq
    assert(notes == Seq("hello, world", "say \"hi\""))
  }

  test("CSV: a leading UTF-8 BOM is not part of the first column name; row one still reads") {
    val dir = tmpDir("csvbom")
    val p = writeFile(dir, "bom.csv", "\uFEFFid,name\n1,a\n2,b\n")
    assert(CsvSource.readHeader(p, ',') == Seq("id", "name"))
    for (ml <- Seq(None, Some(true))) {
      val df = CsvSource.readCsv(spark, p, multiLine = ml)
      assert(df.columns.toSeq == Seq("id", "name"), s"multiLine $ml")
      assert(df.schema("id").dataType == LongType, s"multiLine $ml")
      assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a"), (2L, "b")), s"multiLine $ml")
    }
  }

  test("CSV: duplicate column names rejected") {
    val dir = tmpDir("csvdup")
    val p = writeFile(dir, "duplicate_columns.csv", "id,name,id,email\n1,a,2,b\n")
    intercept[DuplicateColumnError](CsvSource.readCsv(spark, p))
  }

  test("CSV: datetime column inferred and cast to timestamp") {
    val dir = tmpDir("csvdt")
    val p = writeFile(dir, "t.csv",
      "id,created_at\n1,2023-01-01 10:00:00\n2,2023-06-15 12:30:45\n")
    val df = CsvSource.readCsv(spark, p)
    assert(df.schema("created_at").dataType == TimestampType)
    assert(df.filter("created_at >= '2023-06-01'").count() == 1)
  }

  test("CSV: an empty cell in an ISO datetime column reads as NULL, not a cast error") {
    val dir = tmpDir("csvdtnull")
    val p = writeFile(dir, "t.csv", "id,d\n1,2024-01-01\n2,\n3,2024-01-03\n")
    val df = CsvSource.readCsv(spark, p)
    assert(df.schema("d").dataType == TimestampType)
    assert(df.filter("d IS NULL").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("CSV: mixed int/real column becomes REAL; empty cells become NULL") {
    val dir = tmpDir("csvreal")
    val p = writeFile(dir, "r.csv", "id,score\n1,10\n2,9.5\n3,\n")
    val df = CsvSource.readCsv(spark, p)
    assert(df.schema("score").dataType == DoubleType)
    assert(df.filter("score IS NULL").count() == 1)
  }

  test("TSV: tab-delimited parse + inference") {
    val dir = tmpDir("tsv")
    val p = writeFile(dir, "products.tsv",
      "id\tname\tprice\n1\tWidget\t100\n2\tGadget\t250\n3\tDoohickey\t75\n")
    val df = CsvSource.readTsv(spark, p)
    assert(df.schema("price").dataType == LongType)
    assert(df.count() == 3)
  }

  test("LTSV: union of keys, missing keys empty, sorted columns") {
    val dir = tmpDir("ltsv")
    val p = writeFile(dir, "logs.ltsv",
      "time:2024-01-01T10:00:00Z\tlevel:info\tmessage:started\n" +
        "time:2024-01-01T10:05:00Z\tlevel:warn\tmessage:high load\textra:x\n")
    val df = LtsvSource.read(spark, p)
    assert(df.columns.toSeq == Seq("extra", "level", "message", "time"))
    assert(df.schema("time").dataType == TimestampType)
    // first row has no "extra" key → "" → NULL is not expected for TEXT: stays ""
    assert(df.filter("extra = ''").count() == 1)
  }

  test("LTSV: values containing colons survive") {
    val dir = tmpDir("ltsvc")
    val p = writeFile(dir, "l.ltsv", "url:http://x/y:8080\tcode:200\n")
    val df = LtsvSource.read(spark, p)
    assert(df.select("url").head().getString(0) == "http://x/y:8080")
  }

  test("compression matrix: gz/bz2/xz/zst CSV round-trip reads") {
    val dir = tmpDir("comp")
    for (codec <- Compression.All) {
      val p = dir.resolve(s"sample.csv${codec.ext}")
      val out = Compression.openWrite(p.toString)
      out.write(sampleCsv.getBytes("UTF-8")); out.close()
      val df = CsvSource.readCsv(spark, p.toString)
      assert(df.count() == 3, s"codec ${codec.ext}")
      assert(df.schema("age").dataType == LongType, s"codec ${codec.ext}")
    }
  }

  test("XLSX: write → read round trip, sheet naming, short-row padding") {
    val dir = tmpDir("xlsx")
    val p = dir.resolve("book.xlsx")
    val out = Files.newOutputStream(p)
    XlsxSource.write(out, "Sheet One", Seq("id", "name", "val"),
      Iterator(Seq("1", "a", "10"), Seq("2", "b <&> \"q\"", "20"), Seq("3", "c", "30")))
    out.close()
    val sheets = XlsxSource.readAllSheets(spark, p.toString)
    assert(sheets.map(_._1) == Seq("book_Sheet_One"))
    val df = sheets.head._2
    assert(df.columns.toSeq == Seq("id", "name", "val"))
    assert(df.schema("id").dataType == LongType)
    assert(df.count() == 3)
    assert(df.filter("name = 'b <&> \"q\"'").count() == 1) // XML escaping round-trips
  }

  test("XLSX: explicit cell references with gaps pad intermediate cells") {
    // hand-built sheet XML: row with cells at A and C (B missing)
    val dir = tmpDir("xlsxgap")
    val p = dir.resolve("gap.xlsx")
    val out = Files.newOutputStream(p)
    val zip = new java.util.zip.ZipOutputStream(out)
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c><c r="C1" t="inlineStr"><is><t>c</t></is></c></row>
        |<row><c r="A2"><v>1</v></c><c r="C2"><v>3</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.finish(); out.close()
    val rows = XlsxSource.parseWorkbook(p.toString)
    assert(rows.head._2 == Seq(Seq("a", "b", "c"), Seq("1", "", "3")))
  }

  test("XLSX: gzip-compressed workbook loads") {
    val dir = tmpDir("xlsxgz")
    val raw = dir.resolve("book.xlsx")
    val out = Files.newOutputStream(raw)
    XlsxSource.write(out, "S", Seq("id"), Iterator(Seq("1"), Seq("2")))
    out.close()
    val gz = dir.resolve("book2.xlsx.gz")
    val gzOut = Compression.openWrite(gz.toString)
    gzOut.write(Files.readAllBytes(raw)); gzOut.close()
    val df = XlsxSource.readFirstSheet(spark, gz.toString)
    assert(df.count() == 2)
  }

  test("CSV: quoted fields with embedded newlines auto-detect multiLine (round trip)") {
    val dir = tmpDir("csvml")
    val p = writeFile(dir, "notes.csv",
      "id,note\n1,\"line one\nline two\"\n2,plain\n")
    val df = CsvSource.readCsv(spark, p)
    assert(df.count() == 2, "embedded newline must not split the record")
    assert(df.filter("id = 1").head().getString(1) == "line one\nline two")
    // detection itself: quoted-newline file yes, plain file no
    assert(CsvSource.detectQuotedNewlines(spark, p))
    val plain = writeFile(dir, "plain.csv", "a,b\n\"x\",\"y\"\n1,2\n")
    assert(!CsvSource.detectQuotedNewlines(spark, plain))
    // explicit override skips detection and multiLine parsing
    assert(CsvSource.readCsv(spark, p, multiLine = Some(false)).count() == 3)
    // the session builder can opt out of the detection scan too
    val s = graft.session.GraftSession.builder()
      .addPath(p)
      .withCsvMultiLine(Some(false))
      .open(spark)
    assert(s.sql("SELECT COUNT(*) FROM notes").head().getLong(0) == 3)
    s.close()
  }

  test("CSV: dump → reopen round-trips embedded newlines losslessly") {
    val dir = tmpDir("csvmlrt")
    writeFile(dir, "t.csv", "id,note\n1,\"a\nb\"\n")
    val s = graft.session.GraftSession.open(spark, dir.toString)
    val out = tmpDir("csvmlrtout")
    s.dump(out.toString)
    s.close()
    val s2 = graft.session.GraftSession.open(spark, out.resolve("t.csv").toString)
    assert(s2.sql("SELECT note FROM t WHERE id = 1").head().getString(0) == "a\nb")
    s2.close()
  }

  test("LTSV: duplicated key on one line is last-wins, not a crash") {
    val dir = tmpDir("ltsvdup")
    val p = writeFile(dir, "d.ltsv", "a:1\tb:x\ta:2\na:9\tb:y\n")
    val df = LtsvSource.read(spark, p.toString)
    assert(df.schema("a").dataType.typeName == "long")
    assert(df.select("a").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 9L))
  }

  test("LTSV: knownKeys override skips discovery, absent keys yield ''") {
    val dir = tmpDir("ltsvkeys")
    val p = writeFile(dir, "k.ltsv", "a:1\tb:x\na:2\n")
    val df = LtsvSource.read(spark, p.toString, inferTypes = false,
      knownKeys = Some(Seq("a", "b", "c")))
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    val rows = df.orderBy("a").collect()
    assert(rows.map(_.getString(2)).toSeq == Seq("", "")) // c never present
    assert(rows(1).getString(1) == "") // b missing on line 2
  }

  test("XLSX: inline rich-text cells concatenate ALL runs like shared strings") {
    val dir = tmpDir("xlsxrich")
    val p = dir.resolve("rich.xlsx")
    val out = Files.newOutputStream(p)
    val zip = new java.util.zip.ZipOutputStream(out)
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row><c r="A1" t="inlineStr"><is><r><t>foo </t></r><r><t>bar</t></r></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zip.finish(); out.close()
    val rows = XlsxSource.parseWorkbook(p.toString)
    assert(rows.head._2 == Seq(Seq("foo bar")))
  }

  test("LTSV: empty values — '' in TEXT columns, NULL after numeric casts") {
    val dir = tmpDir("ltsvempty")
    val p = writeFile(dir, "x.ltsv", "a:1\tc:x\na:\tc:\n")
    val df = LtsvSource.read(spark, p.toString)
    assert(df.schema("a").dataType.typeName == "long")
    assert(df.filter("a IS NULL").count() == 1) // numeric column: empty → NULL
    assert(df.schema("c").dataType.typeName == "string")
    assert(df.filter("c = ''").count() == 1) // TEXT column: empty stays ''
  }

  test("stratified sampling is deterministic and representative above 3000 values") {
    import TypeInference._
    // first 2500 ints, middle 2500 floats, last 2500 ints ⇒ REAL only if
    // the middle section is sampled
    val values = ((0 until 2500).map(_.toString) ++
      (0 until 2500).map(i => (i + 0.5).toString) ++
      (0 until 2500).map(_.toString)).toIndexedSeq
    assert(inferType(values) == RealType)
    assert(sampleValues(values) == sampleValues(values))
  }

  test("JSONL: typed round-trip through the sink — numbers/bools native, nulls omitted, escapes") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField}
    val dir = tmpDir("jsonl")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType),
      StructField("flag", BooleanType), StructField("note", StringType),
      StructField("tags", ArrayType(StringType))))
    val rows = Seq(
      Row(1L, 0.5, true, "plain", Seq("a", "b")),
      Row(2L, -3.25, false, "quote \" slash \\ tab\tnl\n", Seq.empty[String]),
      Row(3L, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row)), schema)
    graft.sinks.Dump.writeTable(df, "t", dir.toString,
      graft.sinks.DumpOptions("jsonl"))
    val back = JsonlSource.read(spark, dir.resolve("t.jsonl").toString)
    assert(back.schema("id").dataType == LongType)
    assert(back.schema("score").dataType == DoubleType)
    assert(back.schema("flag").dataType == BooleanType)
    assert(back.schema("tags").dataType == ArrayType(StringType))
    val r2 = back.filter("id = 2").collect().head
    assert(r2.getAs[String]("note") == "quote \" slash \\ tab\tnl\n")
    assert(r2.getAs[Double]("score") == -3.25)
    // omitted null fields come back as NULL
    val r3 = back.filter("id = 3").collect().head
    assert(r3.isNullAt(r3.fieldIndex("score")) && r3.isNullAt(r3.fieldIndex("note")))
    assert(back.count() == 3)
  }

  test("ORC: typed single-file round-trip through the sink; session scan; compression rejected") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField}
    val dir = tmpDir("orc")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("small", IntegerType),
      StructField("score", DoubleType), StructField("note", StringType),
      StructField("blob", BinaryType)))
    val rows = Seq(
      Row(1L, 7, 0.5, "plain", Array[Byte](1, 2, 0xff.toByte)),
      Row(2L, null, -3.25, "unicode é✓", null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row)), schema)
    graft.sinks.Dump.writeTable(df, "t", dir.toString, graft.sinks.DumpOptions("orc"))
    val path = dir.resolve("t.orc")
    assert(java.nio.file.Files.isRegularFile(path)) // ONE file, not a part dir
    val back = spark.read.orc(path.toString)
    assert(back.schema("id").dataType == LongType)
    assert(back.schema("small").dataType == IntegerType)
    assert(back.schema("score").dataType == DoubleType)
    assert(back.schema("blob").dataType == BinaryType)
    val r1 = back.filter("id = 1").collect().head
    assert(r1.getAs[Array[Byte]]("blob").toSeq == Seq[Byte](1, 2, 0xff.toByte))
    val r2 = back.filter("id = 2").collect().head
    assert(r2.getAs[String]("note") == "unicode é✓" && r2.isNullAt(r2.fieldIndex("small")))
    // directory session scan picks the .orc file up as a table
    val sess = graft.session.GraftSession.open(spark, dir.toString)
    try assert(sess.sql("SELECT COUNT(*) AS n FROM t").collect().head.getLong(0) == 2L)
    finally sess.close()
    // external compression is rejected like parquet (internal codec owns it)
    intercept[IllegalArgumentException] {
      graft.sinks.DumpOptions("orc", Some(graft.sources.Compression.Gzip))
    }
  }

  test("JSONL: a column that is null in EVERY row survives the round trip") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField}
    val dir = tmpDir("jsonlallnull")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("gone", IntegerType)))
    val rows = Seq(Row(1L, null), Row(2L, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => r: Row)), schema)
    graft.sinks.Dump.writeTable(df, "t", dir.toString, graft.sinks.DumpOptions("jsonl"))
    val back = JsonlSource.read(spark, dir.resolve("t.jsonl").toString)
    // the column would otherwise never appear in the file and vanish on
    // read-back; explicit nulls keep it present (string-typed — inference
    // cannot recover a type it never sees, documented limitation)
    assert(back.columns.contains("gone"))
    assert(back.collect().forall(r => r.isNullAt(r.fieldIndex("gone"))))
  }

  test("JSONL: non-finite doubles round-trip TYPED (unquoted NaN/Infinity tokens)") {
    import spark.implicits._
    val dir = tmpDir("jsonlnan")
    val df = Seq((1L, Double.NaN), (2L, Double.PositiveInfinity),
      (3L, Double.NegativeInfinity), (4L, 1.5)).toDF("id", "v")
    graft.sinks.Dump.writeTable(df, "t", dir.toString, graft.sinks.DumpOptions("jsonl"))
    val back = JsonlSource.read(spark, dir.resolve("t.jsonl").toString)
    // the column stays DOUBLE — Spark's own writer would quote "NaN" and
    // degrade it to string under inference
    assert(back.schema("v").dataType == DoubleType)
    val got = back.orderBy("id").collect().map(_.getDouble(1))
    assert(got(0).isNaN && got(1).isPosInfinity && got(2).isNegInfinity && got(3) == 1.5)
  }

  test("JSONL: gz-compressed round-trip and FAILFAST vs lenient on malformed lines") {
    val dir = tmpDir("jsonlgz")
    // compressed write via the extension-keyed codec chain
    val gz = dir.resolve("d.jsonl.gz")
    val out = Compression.openWrite(gz.toString)
    out.write("{\"id\":1,\"v\":\"x\"}\n{\"id\":2,\"v\":\"y\"}\n".getBytes("UTF-8"))
    out.close()
    val df = JsonlSource.read(spark, gz.toString)
    assert(df.count() == 2 && df.schema("id").dataType == LongType)
    // malformed middle line: strict read dies, lenient read surfaces it
    val bad = writeFile(dir, "bad.jsonl",
      "{\"id\":1}\nnot json at all\n{\"id\":3}\n")
    intercept[Exception] { JsonlSource.read(spark, bad).collect() }
    // cache first: Spark refuses to answer queries touching ONLY the
    // corrupt-record column straight off raw files
    val lenient = JsonlSource.read(spark, bad, lenient = true).cache()
    try {
      assert(lenient.filter("_corrupt_record IS NOT NULL").count() == 1)
      assert(lenient.filter("id IS NOT NULL").count() == 2)
    } finally lenient.unpersist()
  }

  test("JSONL: directory session scan picks up .jsonl tables") {
    val dir = tmpDir("jsonlsess")
    writeFile(dir, "users.jsonl",
      "{\"id\":1,\"name\":\"a\"}\n{\"id\":2,\"name\":\"b\"}\n")
    writeFile(dir, "events.csv", "id,user_id\n10,1\n11,1\n12,2\n")
    val sess = graft.session.GraftSession.open(spark, dir.toString)
    try {
      val got = sess.sql(
        """SELECT u.name, COUNT(*) AS n FROM events e JOIN users u ON e.user_id = u.id
          |GROUP BY u.name ORDER BY u.name""".stripMargin).collect()
      assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 2L), ("b", 1L)))
    } finally sess.close()
  }

  test("file collection: uncompressed beats compressed duplicate") {
    val dir = tmpDir("dedup")
    writeFile(dir, "users.csv", "id,name\n1,a\n")
    val gz = dir.resolve("users.csv.gz")
    val out = Compression.openWrite(gz.toString)
    out.write("id,name\n1,a\n2,b\n".getBytes("UTF-8")); out.close()
    val files = graft.session.FileCollector.collect(Seq(dir.toString))
    assert(files.map(_.path) == Seq(dir.resolve("users.csv").toString))
  }
}
