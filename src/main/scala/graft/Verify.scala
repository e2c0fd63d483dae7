package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.Files
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE may re-partition cached plans (see Bench.scala: without this
      // every .persist() materializes at raw shuffle width)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // comma-separated subset for fast local iteration (the driver never
    // sets it); check.py only compares dirs that exist, so a scoped run
    // composes with a fresh outDir
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        // fail loudly on typos AND on an empty/whitespace-only value:
        // either would leave an empty outDir that check.py passes
        // vacuously
        require(names.nonEmpty,
          "SPARK_GRAFT_VERIFY_ONLY is set but names no queries")
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // Per-gate progress trail (round-11 postmortem: the driver's
    // CORRECTNESS_r11.json came back literally `{}` with no way to tell
    // where its run died — Verify itself was green in 295 s when re-run).
    // Output dirs are already written incrementally per gate; the stderr
    // line with cumulative seconds makes any future driver-side kill
    // diagnosable from the log tail.
    //
    // Round-13: gates run CONCURRENTLY from a small worker pool (guide
    // §2.6 — actions are only sequential because the driver calls them
    // sequentially). The streaming/screen gates spend most of their wall
    // in driver-side micro-batch machinery with the executors idle, so
    // overlapping 3-4 independent gates back-fills that idle capacity;
    // one-box measurement: 196 gates 250 s sequential → ~110 s at 4
    // workers, identical outputs. Each worker runs its gate on its OWN
    // `spark.newSession()` clone: session state that gates mutate —
    // shuffle-partition scoping, nanosAsLong/NTZ conf, temp views,
    // memory-sink tables, registered kernels — is per-session, so clones
    // cannot interfere; the shared SparkContext schedules all jobs FIFO.
    // Every gate's computation is independent and partition-count
    // invariant (decimal sums / banding contracts), so outputs are
    // bit-identical to the sequential run. SPARK_GRAFT_VERIFY_WORKERS=1
    // restores strictly sequential execution.
    val workers = sys.env.get("SPARK_GRAFT_VERIFY_WORKERS").map(_.toInt)
      .getOrElse(math.min(4, math.max(1, cpus.toInt / 2)))
    require(workers >= 1, s"SPARK_GRAFT_VERIFY_WORKERS=$workers must be >= 1")
    val t0 = System.nanoTime()
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    try {
      val futures = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val q0 = System.nanoTime()
            try fn(spark.newSession(), sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              failed.add(name)
              // a previous run's output must not pass for this one's
              Paths.rmTree(new java.io.File(s"$outDir/$name"))
            }
            val n = done.incrementAndGet()
            System.err.println(f"[verify] $n%3d/${selected.size} $name ${(System.nanoTime() - q0) / 1e9}%.1fs (cumulative ${(System.nanoTime() - t0) / 1e9}%.1fs)")
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (!failed.isEmpty) {
      val names = failed.toArray(Array.empty[String]).sorted
      System.err.println(s"[verify] ${names.length} of ${selected.size} gates failed: ${names.mkString(", ")}")
      sys.exit(1)
    }
  }
}
