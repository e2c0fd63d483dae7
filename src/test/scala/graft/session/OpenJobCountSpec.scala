package graft.session

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.{CsvSource, LtsvSource, XlsxSource}

/** Opening a text file reads its header and inference sample on the
  * driver, so the Spark jobs an open launches are fixed per format and
  * independent of the host. A file Spark would read in one split
  * ([[graft.sources.Compression.singleSplit]]) is opened with no job at
  * all: the CSV/TSV quoted-newline scan and the LTSV key union run on the
  * driver. Above that bound they run as Spark jobs again — the newline
  * scan, and the LTSV distinct-keys pass (its shuffle stage and its
  * result stage). An XLSX open launches none. */
class OpenJobCountSpec extends SparkSpec {

  private def openJobs(builder: GraftSession.Builder): Int = {
    var s: GraftSession = null
    val n = jobsDuring { s = builder.open(spark) }
    s.close()
    n
  }

  /** Runs `body` with Spark's split bounds at `bytes`, restoring both. */
  private def withSplitBound[A](bytes: Long)(body: => A): A =
    withConf(Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
      .map(_ -> bytes.toString): _*)(body)

  test("a newline-free single-split CSV or TSV open launches no job") {
    val dir = tmpDir("jobs-csv")
    val p = writeFile(dir, "t.csv", "id,name,v\n1,a,1.5\n2,b,2\n")
    assert(openJobs(GraftSession.builder().addPath(p)) == 0)
    assert(openJobs(GraftSession.builder().addPath(p).withCsvMultiLine(Some(false))) == 0)
    val tsv = writeFile(dir, "t.tsv", "id\tname\n1\ta\n")
    assert(openJobs(GraftSession.builder().addPath(tsv)) == 0)
  }

  test("a single-split LTSV open launches no job; inference adds none") {
    val dir = tmpDir("jobs-ltsv")
    val p = writeFile(dir, "t.ltsv", "id:1\tname:a\nid:2\tname:b\textra:x\n")
    assert(jobsDuring(LtsvSource.read(spark, p, inferTypes = false)) == 0)
    assert(openJobs(GraftSession.builder().addPath(p)) == 0)
    assert(jobsDuring(LtsvSource.read(spark, p, knownKeys = Some(Seq("extra", "id", "name")))) == 0)
  }

  test("above the single-split bound the scans run as Spark jobs") {
    val dir = tmpDir("jobs-split")
    // the quoted newline sits in the first split, so the scan's first job finds it
    val csv = writeFile(dir, "t.csv", "id,note\n1,\"a\nb\"\n2,c\n3,d\n4,e\n5,f\n")
    val ltsv = writeFile(dir, "t.ltsv", "id:1\tname:a\nid:2\tname:b\nid:3\textra:x\nid:4\n")
    val bound = 16L
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(csv)) > bound)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(ltsv)) > bound)
    val csvLocal = CsvSource.readCsv(spark, csv).collect().toSeq
    val ltsvLocal = LtsvSource.read(spark, ltsv)
    val ltsvRows = ltsvLocal.collect().toSeq
    withSplitBound(bound) {
      var t: DataFrame = null
      assert(jobsDuring { t = CsvSource.readCsv(spark, csv) } == 1)
      assert(t.collect().toSeq == csvLocal)
      assert(jobsDuring { t = LtsvSource.read(spark, ltsv) } >= 1)
      assert(t.schema == ltsvLocal.schema)
      assert(t.collect().toSeq == ltsvRows)
      val plain = writeFile(dir, "p.csv", "id,name,v\n1,a,1.5\n2,b,2\n")
      assert(jobsDuring(CsvSource.readCsv(spark, plain)) >= 1)
    }
  }

  test("an XLSX open launches no job") {
    val dir = tmpDir("jobs-xlsx")
    val p = dir.resolve("t.xlsx")
    val out = java.nio.file.Files.newOutputStream(p)
    try XlsxSource.write(out, "S", Seq("id", "name"), Iterator(Seq("1", "a"), Seq("2", "b")))
    finally out.close()
    assert(openJobs(GraftSession.builder().addPath(p.toString)) == 0)
  }
}
