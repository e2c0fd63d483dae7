package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.{DuplicateColumnError, SparkSpec}
import TypeInference.{MaxSampleSize, inferForDataFrame, inferForRows}

/** The text sources take their header and inference sample from one
  * driver-side read of the file head. Each case here checks that this
  * sample, the column names and the inferred types equal what Spark's
  * own readers produce: Spark's CSV reader with `header=true` and
  * `inferSchema=false` (the all-string frame with `na.fill("")`), and the
  * LTSV and XLSX all-string frames, each inferred through
  * [[TypeInference.inferForDataFrame]]. The typed tables must then agree
  * cell for cell. The scans a single-split open runs on the driver — the
  * quoted-newline test and the LTSV key union — must equal their Spark
  * twins on every file here. */
class HeadSampleParitySpec extends SparkSpec {

  private def caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis

  private def write(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    val out = Compression.openWrite(p.toString)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    p.toString
  }

  /** `parts`, each compressed as its own member / stream / frame with the
    * codec of `name`'s extension, concatenated into one file. */
  private def writeMembers(dir: Path, name: String, parts: Seq[String]): String = {
    val codec = Compression.forPath(name).get
    val members = parts.map { part =>
      val buf = new ByteArrayOutputStream
      val out = codec.wrapWrite(buf)
      try out.write(part.getBytes("UTF-8")) finally out.close()
      buf.toByteArray
    }
    Files.write(dir.resolve(name), Array.concat(members: _*)).toString
  }

  private def sameTable(now: DataFrame, before: DataFrame): Unit = {
    assert(now.schema == before.schema)
    assert(now.collect().toSeq == before.collect().toSeq)
  }

  private def assertDriverScanParity(path: String): Unit = {
    val readable = Compression.sparkReadablePath(path)
    assert(CsvSource.detectQuotedNewlines(readable) == CsvSource.detectQuotedNewlines(spark, readable), path)
    assert(LtsvSource.scanLocal(readable)._1 == LtsvSource.sparkKeys(LtsvSource.parse(spark, readable)), path)
  }

  private def assertCsvParity(path: String, delim: String = ","): Unit = {
    assertDriverScanParity(path)
    val readable = Compression.sparkReadablePath(path)
    val ml = CsvSource.detectQuotedNewlines(spark, readable)
    val spark0 = spark.read.option("header", "true").option("sep", delim)
      .option("quote", "\"").option("escape", "\"").option("multiLine", ml.toString)
      .option("inferSchema", "false").csv(readable).na.fill("")
    val head = CsvSource.readRecords(readable, delim.charAt(0), 1 + MaxSampleSize, ml)
    val names = CsvSource.safeHeader(head.head, caseSensitive)
    assert(names == spark0.columns.toSeq, path)
    val sample = head.drop(1).map(_.padTo(names.size, "").take(names.size))
    assert(sample == spark0.head(MaxSampleSize).toSeq.map(_.toSeq.map(_.toString)), path)
    val inferred = inferForDataFrame(spark0)
    assert(inferForRows(names, head.drop(1)) == inferred, path)
    sameTable(CsvSource.read(spark, path, delim, inferTypes = true, multiLine = None),
      TypeInference.applyTypes(spark0, inferred))
  }

  private def assertLtsvParity(path: String): Unit = {
    assertDriverScanParity(path)
    val readable = Compression.sparkReadablePath(path)
    val keys = LtsvSource.sparkKeys(LtsvSource.parse(spark, readable))
    val spark0 = LtsvSource.read(spark, path, inferTypes = false, knownKeys = Some(keys))
    val sample = LtsvSource.headRows(readable, keys)
    assert(sample == spark0.head(MaxSampleSize).toSeq.map(_.toSeq.map(_.toString)), path)
    assert(LtsvSource.scanLocal(readable)._2 == sample, path)
    val inferred = inferForDataFrame(spark0)
    assert(inferForRows(keys, sample) == inferred, path)
    sameTable(LtsvSource.read(spark, path), TypeInference.applyTypes(spark0, inferred))
  }

  private def assertXlsxParity(path: String): Unit = {
    val rows = XlsxSource.parseWorkbook(path).head._2
    val spark0 = XlsxSource.readFirstSheet(spark, path, inferTypes = false)
    val inferred = inferForDataFrame(spark0)
    assert(inferForRows(rows.head.map(_.trim), rows.tail.take(MaxSampleSize)) == inferred, path)
    sameTable(XlsxSource.readFirstSheet(spark, path), TypeInference.applyTypes(spark0, inferred))
  }

  private def xlsx(dir: Path, name: String, header: Seq[String], rows: Seq[Seq[String]]): String = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    val out = Files.newOutputStream(p)
    try XlsxSource.write(out, "Sheet1", header, rows.iterator) finally out.close()
    p.toString
  }

  /** 1000 integer rows, then 200 text rows: only the first 1000 decide. */
  private val late = (1 to 1200).map(i => if (i <= 1000) i.toString else s"x$i")

  test("CSV: quoted delimiters and doubled quotes") {
    val dir = tmpDir("par-quote")
    assertCsvParity(write(dir, "q.csv",
      "id,note,n\n1,\"hello, world\",1\n2,\"say \"\"hi\"\"\",2\n3,\"\",3\n4,ab\"c,4\n"))
  }

  test("CSV: embedded newlines in quoted fields (multiLine)") {
    val dir = tmpDir("par-ml")
    val p = write(dir, "ml.csv",
      "id,note,n\n1,\"line one\nline two\",1.5\n2,plain,2\n3,\"a,\n\"\"b\"\"\",3\n")
    assert(CsvSource.detectQuotedNewlines(spark, p))
    assertCsvParity(p)
  }

  test("CSV: CRLF line endings, plain and inside a quoted field") {
    val dir = tmpDir("par-crlf")
    assertCsvParity(write(dir, "crlf.csv", "id,name,v\r\n1,a,1.5\r\n2,b,2\r\n3,c,\r\n"))
    assertCsvParity(write(dir, "crlfml.csv", "id,name,v\r\n1,\"a\r\nb\",1\r\n2,c,2\r\n"))
  }

  test("CSV: blank and whitespace-only lines, before the header and between rows") {
    val dir = tmpDir("par-blank")
    assertCsvParity(write(dir, "b.csv", "\n  \n\nid,v\n\n1,2\n   \n3,4\n\n"))
    assertCsvParity(write(dir, "b.tsv", "\nid\tv\n1\t2\n\t\t\n3\t4\n"), "\t")
    assertCsvParity(write(dir, "bml.csv", "\nid,v\n\n1,\"x\ny\"\n\n3,4\n"))
  }

  test("CSV: short rows and long rows") {
    val dir = tmpDir("par-ragged")
    assertCsvParity(write(dir, "r.csv", "a,b,c\n1,2\n3,4,5,6\n7,8,9\n10\n"))
  }

  test("CSV: an empty header cell is named _c<i>") {
    val dir = tmpDir("par-emptyhdr")
    val p = write(dir, "e.csv", "id,,v\n1,x,2\n2,y,3\n")
    assertCsvParity(p)
    assert(CsvSource.readCsv(spark, p).columns.toSeq == Seq("id", "_c1", "v"))
  }

  test("CSV: header A,a gets Spark's case-insensitive duplicate suffixes") {
    val dir = tmpDir("par-case")
    val p = write(dir, "c.csv", "A,a\n1,x\n2,y\n")
    assertCsvParity(p)
    assert(CsvSource.readCsv(spark, p).columns.toSeq == Seq("A0", "a1"))
    assert(CsvSource.safeHeader(Seq("A", "a", ""), caseSensitive = true) == Seq("A", "a", "_c2"))
  }

  test("over 1000 rows: a type change after row 1000 is outside the sample") {
    val dir = tmpDir("par-late")
    val csv = write(dir, "late.csv", late.zipWithIndex.map { case (v, i) => s"$i,$v" }
      .mkString("id,v\n", "\n", "\n"))
    assertCsvParity(csv)
    assert(CsvSource.readCsv(spark, csv).schema("v").dataType.typeName == "long")
    assertLtsvParity(write(dir, "late.ltsv", late.zipWithIndex.map { case (v, i) =>
      s"id:$i\tv:$v" }.mkString("", "\n", "\n")))
    assertXlsxParity(xlsx(dir, "late.xlsx", Seq("id", "v"),
      late.zipWithIndex.map { case (v, i) => Seq(i.toString, v) }))
  }

  test("LTSV: blank lines, absent keys, last-wins keys, colons in values, BOM") {
    val dir = tmpDir("par-ltsv")
    assertLtsvParity(write(dir, "l.ltsv",
      "\uFEFFa:1\tb:x\n\n   \na:2\ta:3\turl:http://h:80\nb:\tc\n"))
  }

  test("driver newline scan and LTSV key union equal their Spark twins") {
    val dir = tmpDir("par-driver")
    val contents = Seq(
      "lf" -> "id,v\n1,\"a\nb\"\n2,c\n",
      "crlf" -> "id,v\r\n1,\"a\r\nb\"\r\n2,c\r\n",
      "cr" -> "id,v\r1,\"a\rb\"\r2,c\r",
      "cr-plain" -> "id,v\r1,a\r2,c\r",
      "bom" -> "\uFEFF\"id\",v\n1,2\n",
      "odd-last" -> "id,v\n1,2\n3,\"x",
      "unquoted-quote" -> "id,v\n1,ab\"c\n2,d\n",
      "blanks" -> "\n  \n\nid,v\n\n1,2\n   \n\t\n3,4",
      "ltsv-crlf" -> "a:1\tb:x\r\n\r\nb:2\tc:3\r\n",
      "ltsv-cr" -> "a:1\tb:x\r\rb:2\tc:3\r",
      "ltsv-bom" -> "\uFEFFa:1\tb:2\n",
      "ltsv-edges" -> "a:1\t\nb:2\tnocolon\n  \n\t\nc:\td:4:5")
    for ((name, content) <- contents; ext <- "" +: Compression.All.map(_.ext))
      assertDriverScanParity(write(dir, s"$name.txt$ext", content))
    // the answers themselves, not only their agreement
    val byName = contents.toMap
    assert(CsvSource.detectQuotedNewlines(write(dir, "odd.csv", byName("odd-last"))))
    assert(!CsvSource.detectQuotedNewlines(write(dir, "crp.csv", byName("cr-plain"))))
    assert(LtsvSource.scanLocal(write(dir, "e.ltsv", byName("ltsv-edges")))._1 ==
      Seq("", "a", "b", "c", "d", "nocolon"))
  }

  test("concatenated gz/bz2/xz/zst files: the driver scans read every member") {
    val dir = tmpDir("par-members")
    // the quoted newline and the extra LTSV key sit only in the second member
    val csv = Seq("id,v\n1,a\n", "2,\"x\ny\"\n3,z\n")
    val ltsv = Seq("a:1\tb:x\n", "a:2\tc:3\n")
    for (ext <- Compression.All.map(_.ext)) {
      val csvPath = writeMembers(dir, s"m.csv$ext", csv)
      assert(CsvSource.detectQuotedNewlines(Compression.sparkReadablePath(csvPath)), csvPath)
      assertCsvParity(csvPath)
      assert(CsvSource.readCsv(spark, csvPath, inferTypes = false).collect().toSeq.map(_.toSeq) ==
        Seq(Seq("1", "a"), Seq("2", "x\ny"), Seq("3", "z")), csvPath)
      val ltsvPath = writeMembers(dir, s"m.ltsv$ext", ltsv)
      assertLtsvParity(ltsvPath)
      assert(LtsvSource.read(spark, ltsvPath, inferTypes = false).collect().toSeq.map(_.toSeq) ==
        Seq(Seq("1", "x", ""), Seq("2", "", "3")), ltsvPath)
    }
  }

  test("XLSX: short rows, long rows, padded header names") {
    val dir = tmpDir("par-xlsx")
    assertXlsxParity(xlsx(dir, "x.xlsx", Seq(" id", "v ", "d"),
      Seq(Seq("1", "2.5"), Seq("2", "3", "2024-01-01", "extra"), Seq("3", "", "2024-01-02"))))
  }

  test("every FIXTURES.md CSV/TSV/LTSV/XLSX fixture") {
    val dir = tmpDir("par-fixtures")
    val sample = "id,name,age,email\n1,Alice,30,alice@example.com\n2,Bob,25,bob@example.com\n" +
      "3,Carol,35,carol@example.com\n"
    val users = "id,name,role\n1,alice,admin\n2,bob,user\n3,carol,user\n"
    val products = "id\tname\tprice\n1\tWidget\t100\n2\tGadget\t250\n3\tDoohickey\t75\n"
    val logs = "time:2024-01-01T10:00:00Z\tlevel:info\tmessage:started\n" +
      "time:2024-01-01T10:05:00Z\tlevel:warn\tmessage:high load\n" +
      "time:2024-01-01T10:10:00Z\tlevel:error\tmessage:failed: disk\n"
    val csvs = Seq(
      "sample.csv" -> sample, "subdir/sample.csv" -> sample, "sample.csv.gz" -> sample,
      "users.csv" -> users, "users.csv.zst" -> users,
      "users2.csv" -> "id,username,role\n1,alice1,admin\n2,bob2,user\n3,carol3,guest\n",
      "sample2.csv" -> "id,category,value\n1,a,10\n2,b,20\n3,a,30\n",
      "embed_test/users.csv" -> "id,name,email\n1,Alice,a@example.com\n2,Bob,b@example.com\n",
      "embed_test/products.csv" -> "product_id,product_name,price\n1,Laptop,999.99\n2,Mouse,19.99\n",
      "company/user.csv" -> ("id,name,email,age,department_id\n1,Sato,sato@example.com,36.0,1\n" +
        "2,Suzuki,suzuki@example.com,,2\n3,Tanaka,tanaka@example.com,45.0,\n"),
      "company/department.csv" -> "id,name,location\n1,Engineering,Tokyo\n2,Sales,Osaka\n3,HR,\n",
      "company/orders.csv" -> ("id,user_id,amount,status,created_at\n" +
        "1,1,1500.5,shipped,2023-01-01 00:00:00\n2,1,299.99,,2023-02-15 09:30:00\n" +
        "3,2,75.25,delivered,2023-03-20 14:00:00\n"),
      "company/address.csv" -> "id,user_id,address,postal_code\n1,1,Tokyo 1-2,708-8199\n2,2,,123-4567\n",
      "company/salary.csv" -> "id,user_id,base_salary,bonus\n1,1,650000,120000.5\n2,2,480000,\n",
      "company/project.csv" -> "id,name,department_id,budget\n1,Apollo,1,\n2,Hermes,2,\n",
      "company/user_project.csv" -> "id,user_id,project_id,role\n1,1,1,manager\n2,2,1,\n3,3,2,tester\n",
      "company/attendance.csv" -> "id,user_id,date,status\n1,1,2023-01-01,present\n2,2,2023-01-02,\n",
      "company/performance.csv" -> "id,user_id,year,rating\n1,1,2023,4.5\n2,2,2023,3.0\n",
      "company/training.csv" -> "id,title,department_id,duration_days\n1,Safety,1,2\n2,Sales 101,2,5\n",
      "company/user_training.csv" -> "id,user_id,training_id,completed\n1,1,1,true\n2,2,2,\n",
      "company/benefits.csv" -> "id,user_id,health_insurance,pension_plan\n1,1,True,False\n2,2,False,True\n")
    csvs.foreach { case (name, content) => assertCsvParity(write(dir, name, content)) }
    val tsvs = Seq(
      "products.tsv" -> products, "products.tsv.bz2" -> products,
      "sample3.tsv" -> "id\tcategory\tvalue\n1\ta\t10\n2\tb\t20\n",
      "embed_test/orders.tsv" -> "order_id\tuser_id\tproduct_id\tquantity\n1\t1\t1\t2\n2\t2\t2\t1\n")
    tsvs.foreach { case (name, content) => assertCsvParity(write(dir, name, content), "\t") }
    assertLtsvParity(write(dir, "logs.ltsv", logs))
    assertLtsvParity(write(dir, "logs.ltsv.xz", logs))
    assertXlsxParity(xlsx(dir, "excel/sample.xlsx", Seq("id", "name", "score"),
      Seq(Seq("1", "Alice", "90.5"), Seq("2", "Bob"), Seq("3", "Carol", "77"))))
    val dup = write(dir, "duplicate_columns.csv", "id,name,id,email\n1,a,2,b\n")
    intercept[DuplicateColumnError](CsvSource.readCsv(spark, dup))
  }
}
