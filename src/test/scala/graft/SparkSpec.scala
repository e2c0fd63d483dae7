package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): java.nio.file.Path =
    // recursive shutdown-hook cleanup: deleteOnExit leaks non-empty dirs
    graft.Paths.scratchDir(prefix)

  def writeFile(dir: java.nio.file.Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }

  /** Jobs launched on this thread by `body`, counted by a SparkListener. */
  def jobsDuring(body: => Unit): Int = jobStagesDuring(body).length

  /** The jobs launched on this thread by `body`, each as its stages,
    * recorded by a SparkListener. */
  def jobStagesDuring(body: => Unit): Seq[Seq[StageInfo]] = {
    val sc = spark.sparkContext
    val group = s"counted-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[Seq[StageInfo]]()
    sc.setJobGroup(group, "counted jobs")
    listenDuring(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos)
    })(try body finally sc.clearJobGroup())
    jobs.asScala.toSeq
  }

  /** Runs `body` with `listener` registered, and returns once the
    * listener has seen every event of the jobs `body` launched, on any
    * thread. A marked sentinel job closes the window: listener events
    * arrive in order, so once its start is seen every earlier event has
    * been too. */
  def listenDuring(listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val closed = Promise[Unit]()
    val sentinel = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.sentinel") == "1"))
          closed.trySuccess(())
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(sentinel)
    try {
      body
      sc.setLocalProperty("graft.test.sentinel", "1")
      sc.parallelize(Seq(1), 1).count()
      Await.result(closed.future, 60.seconds)
    } finally {
      sc.setLocalProperty("graft.test.sentinel", null)
      sc.removeSparkListener(sentinel)
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` with the given session confs set, restoring each after. */
  def withConf[A](confs: (String, String)*)(body: => A): A = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
}
