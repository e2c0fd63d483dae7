package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.commons.compress.compressors.bzip2.{BZip2CompressorInputStream, BZip2CompressorOutputStream}
import org.apache.commons.compress.compressors.gzip.{GzipCompressorInputStream, GzipCompressorOutputStream}
import org.apache.commons.compress.compressors.xz.{XZCompressorInputStream, XZCompressorOutputStream}
import org.apache.commons.compress.compressors.zstandard.{ZstdCompressorInputStream, ZstdCompressorOutputStream}
import org.apache.spark.sql.SparkSession

/** Transparent compression support keyed on file extension, matching the
  * reference's codec matrix (`compression.go:32-208`, `stream.go:76-108`):
  * gz / bz2 / xz / zst on read; gz / bz2 / xz / zst on write (the reference
  * rejects bz2 writes, `compression.go:82-84` — we support it, a superset).
  *
  * Scale note: Spark/Hadoop natively stream-decodes `.gz` and `.bz2` text
  * sources (bz2 even splittably), so those paths stay fully distributed.
  * `.xz`/`.zst` single files have no Hadoop codec here, and a single
  * compressed file is a single input split anyway — we stream-decompress
  * to a session-scoped temp file once and let Spark read that (same I/O
  * volume; at 100 TB one ships data as parquet/orc, not xz text — this
  * path exists for format parity).
  */
object Compression {

  sealed trait Codec {
    def ext: String
    /** Decodes every member / stream / frame of a concatenated file
      * (`cat a.gz b.gz`, pigz, pbzip2, `gzip >>`), as Hadoop's codecs and
      * the command-line tools do — not only the first. */
    def wrapRead(in: InputStream): InputStream
    def wrapWrite(out: OutputStream): OutputStream
    /** Hadoop decodes this extension natively inside Spark text/csv reads. */
    def sparkNative: Boolean
  }

  case object Gzip extends Codec {
    val ext = ".gz"; val sparkNative = true
    def wrapRead(in: InputStream) = new GzipCompressorInputStream(in, true)
    def wrapWrite(out: OutputStream) = new GzipCompressorOutputStream(out)
  }
  case object Bzip2 extends Codec {
    val ext = ".bz2"; val sparkNative = true
    def wrapRead(in: InputStream) = new BZip2CompressorInputStream(in, true)
    def wrapWrite(out: OutputStream) = new BZip2CompressorOutputStream(out)
  }
  case object Xz extends Codec {
    val ext = ".xz"; val sparkNative = false
    def wrapRead(in: InputStream) = new XZCompressorInputStream(in, true)
    def wrapWrite(out: OutputStream) = new XZCompressorOutputStream(out)
  }
  case object Zstd extends Codec {
    val ext = ".zst"; val sparkNative = false
    def wrapRead(in: InputStream) = new ZstdCompressorInputStream(in)
    def wrapWrite(out: OutputStream) = new ZstdCompressorOutputStream(out)
  }

  val All: Seq[Codec] = Seq(Gzip, Bzip2, Xz, Zstd)
  val ByExtension: Map[String, Codec] = All.map(c => c.ext -> c).toMap

  def forPath(path: String): Option[Codec] =
    All.find(c => path.endsWith(c.ext))

  /** Strip one compression extension, if present. */
  def stripExt(path: String): String =
    forPath(path).map(c => path.dropRight(c.ext.length)).getOrElse(path)

  /** Path Spark should read: unchanged for uncompressed or Hadoop-native
    * codecs; otherwise decompressed once into a temp file that keeps the
    * inner extension (e.g. `data.csv.zst` → `…/data.csv`). */
  def sparkReadablePath(path: String): String = forPath(path) match {
    case None => path
    case Some(c) if c.sparkNative => path
    case Some(c) =>
      val inner = stripExt(Paths.get(path).getFileName.toString)
      val dir = graft.Paths.scratchDir("graft-decomp-")
      val target = dir.resolve(inner)
      val in = c.wrapRead(new BufferedInputStream(Files.newInputStream(Paths.get(path))))
      try Files.copy(in, target, StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      target.toFile.deleteOnExit()
      target.toString
  }

  /** Would Spark read `readable` (a path from [[sparkReadablePath]]) in
    * one input split? True for gzip, which Hadoop cannot split, and for a
    * file no larger than `min(maxPartitionBytes, openCostInBytes)`: Spark
    * splits at `FilePartition.maxSplitBytes = min(maxPartitionBytes,
    * max(openCostInBytes, bytesPerCore))`, never below that bound. Plan-free
    * (no Spark planning, no job). A source uses it only to decide where a
    * whole-file scan runs — the driver when Spark's scan would be one task
    * anyway — never what the scan answers. */
  def singleSplit(spark: SparkSession, readable: String): Boolean = {
    val conf = spark.sessionState.conf
    forPath(readable).contains(Gzip) ||
      Files.size(Paths.get(readable)) <= math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
  }

  /** Open a local file for reading with transparent decompression. */
  def openRead(path: String): InputStream = {
    val raw = new BufferedInputStream(Files.newInputStream(Paths.get(path)))
    forPath(path).map(_.wrapRead(raw)).getOrElse(raw)
  }

  /** Open a local file for writing with transparent compression. */
  def openWrite(path: String): OutputStream = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val raw = new BufferedOutputStream(Files.newOutputStream(p))
    forPath(path).map(_.wrapWrite(raw)).getOrElse(raw)
  }
}
