package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Re-derives `pins.txt`: runs the gates of `pipeline_gates` on one
  * fixed dataset, prints their pin lines, and writes each output as
  * parquet plus `oracle_sql.json`, the layout `tools/check.py` compares
  * against the DuckDB oracles.
  *
  * Usage (classpath from .bench_build/perfbench-work/classpath.txt):
  *   java ... perfbench.PinCheck perfbench/data/sf0.01 <out-dir>
  *   python3 tools/check.py perfbench/data/sf0.01 <out-dir> */
object PinCheck {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = SparkSession.builder().master("local[4]").appName("perfbench-pins")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val dataset = Paths.get(dir).getFileName.toString
    val oracles = Layers.gates.map { g =>
      val (rows, s) = Main.time(graft.SparkEntry.queries(g)(spark, dir).collect())
      graft.SparkEntry.queries(g)(spark.newSession(), dir).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$g")
      println(f"$dataset/$g ${rows.length}:${PipelineGates.digest(rows.toSeq.map(_.toString))}   # $s%.2f s")
      val sql = graft.SparkEntry.oracleSql(g).replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n")
      s""""$g": "$sql""""
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), oracles.mkString("{", ",\n", "}\n"))
    spark.stop()
  }
}
