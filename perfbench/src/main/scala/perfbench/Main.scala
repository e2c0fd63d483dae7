package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation. `run` does the timed work and returns the check,
  * which runs off the clock and yields an error message on a wrong answer. */
final case class Op(cls: String, write: Boolean, run: () => () => Option[String])

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, root: Path, smoke: Boolean, wrongExpected: Boolean)

/** A workload: set-up repeated for `setup_s`, the state the timed loop
  * uses, and one pass of its operation mix (every class appears once). */
trait Workload {
  def setupOnce(spark: SparkSession): Unit
  def start(spark: SparkSession): Unit
  def pass(n: Int): Seq[Op]
  /** Per-layer metrics this workload fills in from its traced passes. */
  def layerMetrics(traced: Seq[Sample]): Map[String, Double]
}

final case class Sample(op: Op, seconds: Double, traced: Boolean, counters: Map[String, Double])

object Main {
  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(m.getOrElse("root", ".")).toAbsolutePath.normalize
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("work")).toAbsolutePath.normalize, root,
      m.getOrElse("scale", "full") == "smoke", m.getOrElse("wrong-expected", "0") == "1")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Sum over op classes of each class's median latency: the time of one
    * pass of the mix, robust to a stray slow sample. */
  def passTime(samples: Seq[Sample], write: Boolean): Double =
    samples.filter(_.op.write == write).groupBy(_.op.cls).values
      .map(ss => median(ss.map(_.seconds))).sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkReady = (System.currentTimeMillis() - startMs) / 1e3

    val counters = new Trace.Counters
    if (a.trace) counters.attach(spark)
    val calib0 = if (a.trace) calib(spark) else 0.0

    val (workload, inputsS) = time(a.workload match {
      case "ingest_dump" => new IngestDump(a, spark)
      case "sql_session" => new SqlSession(a, spark)
      case "pipeline_gates" => new PipelineGates(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    })
    log(f"inputs ready in $inputsS%.2f s")

    var attempted = 0
    var failed = 0
    def runOp(op: Op, traced: Boolean): Option[Sample] = {
      attempted += 1
      Trace.beginOp()
      val before = if (traced) { Trace.drain(spark); counters.snapshot } else Map.empty[String, Double]
      try {
        val (check, s) = time(Trace.span(s"op.${op.cls}")(op.run()))
        val after = if (traced) { Trace.drain(spark); counters.snapshot } else Map.empty[String, Double]
        check() match {
          case Some(err) => failed += 1; log(s"WRONG ${op.cls}: $err"); None
          case None => Some(Sample(op, s, traced,
            after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }))
        }
      } catch {
        case e: Throwable =>
          failed += 1
          log(s"FAILED ${op.cls}: $e")
          None
      }
    }

    // set-up, repeated; the median is setup_s
    val setups = (1 to 3).map(_ => time(workload.setupOnce(spark))._2)
    workload.start(spark)
    val (_, warmS) = time(workload.pass(0).foreach(runOp(_, traced = false)))
    val firstOpS = (System.currentTimeMillis() - startMs) / 1e3 - inputsS

    // the timed loop: whole passes until the time is up; in the traced run
    // odd passes are traced and even ones are not, which gives the overhead,
    // so a traced run makes at least two passes
    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    var n = 1
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || n == 1 || (a.trace && n == 2)) {
      val traced = a.trace && n % 2 == 1
      // late listener events of the previous pass must not count in this one
      if (a.trace) Trace.drain(spark)
      Trace.on = traced
      workload.pass(n).foreach(op => runOp(op, traced).foreach(samples += _))
      Trace.on = false
      n += 1
    }
    log(f"${n - 1} passes, ${samples.size} ops in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    samples.groupBy(s => (s.op.write, s.op.cls)).toSeq.sortBy(_._1).foreach { case ((w, c), ss) =>
      log(f"${if (w) "write" else "read"}%-5s $c%-28s n=${ss.size}%3d p50=${median(ss.map(_.seconds).toSeq)}%.4f s")
    }

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (median(setups), "s")
      metrics("read_s") = (passTime(samples.toSeq, write = false), "s")
      metrics("write_s") = (passTime(samples.toSeq, write = true), "s")
    } else {
      val traced = samples.filter(_.traced).toSeq
      val untraced = samples.filterNot(_.traced).toSeq
      val layer = mutable.LinkedHashMap.empty[String, Double]
      Layers.all.foreach(k => layer(k) = 0.0)
      val perOp = traced.size.max(1).toDouble
      Layers.engine.foreach(k => layer(k) = traced.map(_.counters.getOrElse(k, 0.0)).sum / perOp)
      layer ++= workload.layerMetrics(traced)
      val tracedPasses = n / 2
      val batches = counters.batches.get.toDouble
      layer("streaming.batches") = batches / tracedPasses
      if (batches > 0) {
        layer("streaming.batch_p50_s") = median(counters.batchMs.toSeq.map(_ / 1e3))
        Seq("addBatch", "queryPlanning", "walCommit").foreach(k =>
          layer(s"streaming.${k}_s") = counters.phaseMs(k) / 1e3 / batches)
      }
      layer("host.calib_s") = (calib0 + calib(spark)) / 2
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      layer("jvm.peak_heap_mb") = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      System.gc()
      layer("jvm.heap_after_gc_mb") = heap.map(_.getUsage.getUsed).sum / 1048576.0
      layer("bench.inputs_s") = inputsS
      layer("bench.process_start_s") = sparkReady
      layer("bench.warmup_s") = warmS
      layer("bench.first_op_s") = firstOpS
      val base = passTime(untraced, false) + passTime(untraced, true)
      layer("bench.trace_overhead") =
        if (base > 0) (passTime(traced, false) + passTime(traced, true)) / base else 0.0
      Layers.all.foreach(k => metrics(k) = (layer(k), Layers.unit(k)))
      Trace.write(a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
    }

    val body = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }

  /** Host speed probe, the same as graft.Bench's: one untimed run, then
    * the median of three. */
  def calib(spark: SparkSession): Double = {
    def probe() = spark.range(50000000L).selectExpr("bit_xor(xxhash64(id))").collect()
    val was = Trace.on
    Trace.on = false
    probe()
    try median(Seq.fill(3)(time(probe())._2)) finally Trace.on = was
  }
}
