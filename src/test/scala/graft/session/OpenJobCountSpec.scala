package graft.session

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.sources.{LtsvSource, XlsxSource}

/** Opening a text file reads its header and inference sample on the
  * driver, so the Spark jobs an open launches are fixed per format and
  * independent of the host: a CSV/TSV open runs only the quoted-newline
  * scan (none when multiLine is given), an LTSV open only its
  * distinct-keys pass (its shuffle stage and its result stage), and an
  * XLSX open none. */
class OpenJobCountSpec extends SparkSpec {

  /** Jobs launched on this thread by `body`, counted by a SparkListener.
    * A marked sentinel job closes the window: listener events arrive in
    * order, so once it is seen every earlier job start has been too. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"open-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val closed = Promise[Unit]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group).foreach { p =>
          if (p.getProperty("graft.test.sentinel") == "1") closed.trySuccess(())
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "open job count")
    try {
      body
      sc.setLocalProperty("graft.test.sentinel", "1")
      sc.parallelize(Seq(1), 1).count()
      Await.result(closed.future, 60.seconds)
      jobs.get
    } finally {
      sc.setLocalProperty("graft.test.sentinel", null)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def openJobs(builder: GraftSession.Builder): Int = {
    var s: GraftSession = null
    val n = jobsDuring { s = builder.open(spark) }
    s.close()
    n
  }

  test("a newline-free CSV open launches one job, the newline scan; none with multiLine given") {
    val dir = tmpDir("jobs-csv")
    val p = writeFile(dir, "t.csv", "id,name,v\n1,a,1.5\n2,b,2\n")
    assert(openJobs(GraftSession.builder().addPath(p)) == 1)
    assert(openJobs(GraftSession.builder().addPath(p).withCsvMultiLine(Some(false))) == 0)
    val tsv = writeFile(dir, "t.tsv", "id\tname\n1\ta\n")
    assert(openJobs(GraftSession.builder().addPath(tsv)) == 1)
  }

  test("an LTSV open launches only the distinct-keys pass; inference adds no job") {
    val dir = tmpDir("jobs-ltsv")
    val p = writeFile(dir, "t.ltsv", "id:1\tname:a\nid:2\tname:b\textra:x\n")
    val keysPass = jobsDuring(LtsvSource.read(spark, p, inferTypes = false))
    assert(keysPass >= 1)
    assert(openJobs(GraftSession.builder().addPath(p)) == keysPass)
    assert(jobsDuring(LtsvSource.read(spark, p, knownKeys = Some(Seq("extra", "id", "name")))) == 0)
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
