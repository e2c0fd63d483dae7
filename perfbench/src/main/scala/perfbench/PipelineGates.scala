package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.session.GraftSession

/** Two fixed pipeline gates through `SparkEntry.queries` (an n-gram
  * decontamination screen and a streaming Bloom-index admission screen),
  * over the fixed tables in `perfbench/data`. The seed only orders the
  * gates in each pass, so every output can be pinned by hash in
  * `perfbench/pins.txt`. */
final class PipelineGates(a: Args) extends Workload {
  private val dataset = if (a.smoke) "sf0.001" else "sf0.01"
  private val dir: Path = a.root.resolve("perfbench/data").resolve(dataset)
  private val writes = Set("e15_streaming_bloom_screen")
  private val pins: Map[String, String] = {
    val f = a.root.resolve("perfbench/pins.txt")
    if (!Files.exists(f)) Map.empty
    else scala.io.Source.fromFile(f.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).collect { case Array(k, v) => k -> v }.toMap
  }
  Inputs.manifest(dir, Seq("documents", "embeddings", "events").map { t =>
    s"$t.parquet" -> org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve(s"$t.parquet").toString),
        new org.apache.hadoop.conf.Configuration())).getRecordCount.toInt
  }, a.work.resolve(s"inputs/pipeline_gates-$dataset"))

  def setupOnce(s: SparkSession): Unit = {
    val g = GraftSession.open(s.newSession(),
      Seq("documents", "embeddings").map(t => dir.resolve(s"$t.parquet").toString): _*)
    g.sql("SELECT count(*) FROM sqlite_master").collect()
    g.close()
  }

  private var spark: SparkSession = _
  def start(s: SparkSession): Unit = spark = s

  def pass(n: Int): Seq[Op] =
    new scala.util.Random(a.seed * 1000 + n).shuffle(Layers.gates).map { g =>
      Op(g, writes(g), () => {
        val rows = Trace.span(s"queries.$g")(graft.SparkEntry.queries(g)(spark, dir.toString).collect())
        () => {
          val got = s"${rows.length}:${PipelineGates.digest(rows.toSeq.map(_.toString))}"
          val key = s"$dataset/$g"
          pins.get(key) match {
            case Some(want) if want == got && !a.wrongExpected => None
            case other => Some(s"$key $got, pinned ${other.getOrElse("nothing")}")
          }
        }
      })
    }

  def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    Layers.gates.foreach(g =>
      m(s"queries.${g}_s") = Main.median(traced.filter(_.op.cls == g).map(_.seconds)))
    m.toMap
  }
}

object PipelineGates {
  /** Order-independent digest of a result: SHA-256 over its sorted rows. */
  def digest(rows: Seq[String]): String =
    MessageDigest.getInstance("SHA-256").digest(rows.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
