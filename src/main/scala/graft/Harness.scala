package graft

import org.apache.spark.sql.SparkSession

/** The session the harness entry points (Bench, Verify, PlanCheck,
  * ScaleProbe) run on. */
object Harness {
  /** `local[cpus]` with `shufflePartitions` shuffle partitions, UTC, no
    * UI, and AQE allowed to re-partition CACHED plans. Spark 4.1 defaults
    * `canChangeCachedPlanOutputPartitioning` to false (for partitioning
    * compatibility only), so every .persist()/.cache() in a query path
    * would materialize its exchanges at the RAW shuffle width — at
    * cpus=32 that was 32 near-empty tasks per cached exchange (e19: 231
    * tasks/36 s summed task time → 32 tasks/3 s; t20: 121 → 24 tasks —
    * one-JVM A/B). Scale-neutral: results are partition-count
    * independent, and a cluster deployment wants coalesced cached plans
    * for the same reason. */
  def session(cpus: Int, shufflePartitions: Int, app: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
