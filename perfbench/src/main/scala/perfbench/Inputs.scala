package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Generated inputs, cached per workload, scale and seed under the work
  * directory. Only the few most recent seeds are kept. */
object Inputs {
  def prepare(a: Args, workload: String)(gen: Path => Unit): Path = {
    val base = a.work.resolve("inputs")
    val d = base.resolve(s"$workload-${if (a.smoke) "smoke" else "full"}-${a.seed}")
    if (!Files.exists(d.resolve(".done"))) {
      if (Files.exists(d)) rmTree(d)
      Files.createDirectories(d)
      gen(d)
      Files.createFile(d.resolve(".done"))
      val old = Files.list(base).iterator.asScala
        .filter(p => p.getFileName.toString.startsWith(workload + "-") && p != d)
        .toSeq.sortBy(p => Files.getLastModifiedTime(p).toMillis)
      old.dropRight(2).foreach(rmTree)
    }
    d
  }

  /** Run `f` over `xs` on a few threads and wait for all of them. */
  def parallel[T](xs: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  def sha256(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString

  /** Rows, bytes and SHA-256 of each input file in `d`, to stderr and to
    * `out/manifest.json`. */
  def manifest(d: Path, files: Seq[(String, Int)], out: Path): Unit = {
    val entries = files.map { case (name, rows) =>
      val p = d.resolve(name)
      System.err.println(f"[perfbench] input $name%-28s rows=$rows%8d bytes=${Files.size(p)}%10d")
      s""""$name": {"rows": $rows, "bytes": ${Files.size(p)}, "sha256": "${sha256(p)}"}"""
    }
    Files.createDirectories(out)
    Files.write(out.resolve("manifest.json"), entries.mkString("{", ", ", "}\n").getBytes("UTF-8"))
  }
}
