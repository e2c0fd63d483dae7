package graft

/** Tiny filesystem helpers shared by harness code (gate index caches,
  * scale probes) — NOT part of the engine surface. */
object Paths {
  /** Recursively delete a directory tree. Best-effort: per-entry delete
    * failures are ignored (the callers clean up temp state). */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }

  /** Root under which [[scratchDir]] allocates: `SPARK_GRAFT_SCRATCH`
    * when set; else `/dev/shm` when present and writable; else
    * `java.io.tmpdir`. Scratch state here is ephemeral per-process
    * (streaming checkpoints/WALs, gate index builds, stream feeds) —
    * exactly what a RAM-backed tmp is for, and the streaming gates'
    * checkpoint+state-store I/O measured ~10% of their wall on ext4
    * /tmp (r12 one-JVM A/B: e09/e12/e14/e15 each 0.3–0.5 s faster on
    * tmpfs). Parameterised so a deployment with big scratch artifacts
    * or small RAM pins it back to disk. */
  private[graft] def scratchRoot: java.nio.file.Path = {
    val pick = sys.env.get("SPARK_GRAFT_SCRATCH").map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) Some(shm) else None
      }
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(pick)
    pick
  }

  /** One directory per JVM under `root`, created on first use and removed
    * RECURSIVELY by a single shutdown hook. Every scratch dir is
    * allocated inside it, so a JVM registers one hook per root however
    * many dirs it allocates (every screen gate, memory-sink stream and
    * spec allocates one or more). The common `deleteOnExit()` idiom
    * would silently leak non-empty directories (`File.delete` only
    * removes empty ones). */
  private def jvmDir(root: java.nio.file.Path): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(root, "graft-jvm-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(dir.toFile)))
    dir
  }

  private lazy val jvmScratch: java.nio.file.Path = jvmDir(scratchRoot)

  private lazy val jvmDiskScratch: java.nio.file.Path =
    jvmDir(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))

  /** Fresh temp directory under [[scratchRoot]], removed with the rest
    * of this JVM's scratch at exit. Every scratch dir that accumulates
    * written data (parquet indexes, exports, stream feeds) uses this. */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(jvmScratch, prefix)

  /** [[scratchDir]] pinned to `java.io.tmpdir` (disk) regardless of the
    * shm policy — for GB-scale artifacts (ScaleProbe's 6M-row index
    * builds) where a RAM-backed root would compete with the JVM for
    * memory and an OOM-killed run would strand gigabytes in tmpfs. */
  def diskScratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(jvmDiskScratch, prefix)
}
