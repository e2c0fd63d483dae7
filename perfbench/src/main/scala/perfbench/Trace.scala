package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters for the traced run. Spans are held in memory and
  * written out once at exit; each records its operation id, its own id,
  * its parent's id (0 = root), a name and start/end nanos. Listener
  * counters only count while `on` is set, and the listener bus is
  * drained at operation boundaries so every event lands in the operation
  * that caused it. */
object Trace {
  @volatile var on = false

  final case class Span(op: Long, id: Int, parent: Int, name: String, t0: Long, t1: Long) {
    def seconds: Double = (t1 - t0) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var opId = 0L

  def beginOp(): Long = { opId += 1; opId }

  /** Time `f` as a child of the innermost open span; a no-op when off. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(opId, id, parent, name, t0, t1)
      }
    }

  def all: Seq[Span] = spans.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"op":${s.op},"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.t0},"end_ns":${s.t1}}""" += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.result().getBytes("UTF-8"))
  }

  /** Engine counters from Spark's public listener interfaces. */
  final class Counters {
    val jobs, stages, tasks, taskMs, gcMs, shuffleWrite, spill, inputBytes = new AtomicLong
    val planMs, execNs = new AtomicLong
    val batches = new AtomicLong
    val batchMs = mutable.ArrayBuffer.empty[Long]
    val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

    def snapshot: Map[String, Double] = Map(
      "spark.jobs" -> jobs.get.toDouble, "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble, "spark.task_s" -> taskMs.get / 1e3,
      "spark.gc_s" -> gcMs.get / 1e3, "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spark.spill_bytes" -> spill.get.toDouble, "spark.input_bytes" -> inputBytes.get.toDouble,
      "plan_s" -> planMs.get / 1e3, "exec_s" -> execNs.get / 1e9)

    private val engine = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (on) stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }

    private val queryListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (on) {
          planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
          execNs.addAndGet(durationNs)
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    private val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (on) batchMs.synchronized {
          val d = e.progress.durationMs
          batches.incrementAndGet()
          Option(d.get("triggerExecution")).foreach(v => batchMs += v.longValue)
          Seq("addBatch", "queryPlanning", "walCommit").foreach { k =>
            Option(d.get(k)).foreach(v => phaseMs(k) += v.longValue)
          }
        }
    }

    def attach(spark: SparkSession): Unit = {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    }
  }

  /** Wait until Spark's listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
