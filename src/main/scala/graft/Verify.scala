package graft
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.queries.Gate

/** Driver-run correctness dump: each SparkEntry.gates result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Harness.session(cpus, cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
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
        val unknown = names.diff(SparkEntry.gates.map(_.name).toSet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.gates: ${unknown.mkString(", ")}")
        SparkEntry.gates.filter(g => names(g.name))
      case None => SparkEntry.gates
    }
    val workers = sys.env.get("SPARK_GRAFT_VERIFY_WORKERS").map(_.toInt)
      .getOrElse(math.min(4, math.max(1, cpus / 2)))
    require(workers >= 1, s"SPARK_GRAFT_VERIFY_WORKERS=$workers must be >= 1")
    val failed = run(spark, selected, sfDir, outDir, workers)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in hand-written oracle SQL would otherwise make the
    // checker's json.load fail and silently zero every oracle compare.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // every oracle, whatever subset ran: check.py reads a missing oracle
    // as rows-only, so a scoped run must not shrink this file
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.length} of ${selected.size} gates failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Runs each gate and writes its rows to `outDir/<name>` as parquet;
    * returns the names of the gates that failed, sorted. A failed gate's
    * output dir is deleted, so a previous run's output cannot pass for
    * this one's.
    *
    * Per-gate progress trail (round-11 postmortem: the driver's
    * CORRECTNESS_r11.json came back literally `{}` with no way to tell
    * where its run died — Verify itself was green in 295 s when re-run).
    * Output dirs are written incrementally per gate; the stderr line with
    * cumulative seconds makes any future driver-side kill diagnosable
    * from the log tail.
    *
    * Round-13: gates run CONCURRENTLY from a pool of `workers` threads
    * (guide §2.6 — actions are only sequential because the driver calls
    * them sequentially). The streaming/screen gates spend most of their
    * wall in driver-side micro-batch machinery with the executors idle,
    * so overlapping 3-4 independent gates back-fills that idle capacity;
    * one-box measurement: 196 gates 250 s sequential → ~110 s at 4
    * workers, identical outputs. Each worker runs its gate on its OWN
    * `spark.newSession()` clone: session state that gates mutate —
    * shuffle-partition scoping, nanosAsLong/NTZ conf, temp views,
    * memory-sink tables, registered kernels — is per-session, so clones
    * cannot interfere; the shared SparkContext schedules all jobs FIFO.
    * Every gate's computation is independent and partition-count
    * invariant (decimal sums / banding contracts), so outputs are
    * bit-identical to the sequential run. `workers = 1`
    * (SPARK_GRAFT_VERIFY_WORKERS=1) runs strictly sequentially. */
  def run(spark: SparkSession, gates: Seq[Gate], sfDir: String, outDir: String,
      workers: Int): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    try {
      val futures = gates.sortBy(_.name).map { gate =>
        val name = gate.name
        pool.submit(new Runnable {
          override def run(): Unit = {
            val q0 = System.nanoTime()
            try gate.run(spark.newSession(), sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
              failed.add(name)
              // a previous run's output must not pass for this one's
              Paths.rmTree(new java.io.File(s"$outDir/$name"))
            }
            val n = done.incrementAndGet()
            System.err.println(f"[verify] $n%3d/${gates.size} $name ${(System.nanoTime() - q0) / 1e9}%.1fs (cumulative ${(System.nanoTime() - t0) / 1e9}%.1fs)")
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    failed.toArray(Array.empty[String]).toSeq.sorted
  }
}
