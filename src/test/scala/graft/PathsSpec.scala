package graft

import org.scalatest.funsuite.AnyFunSuite

class PathsSpec extends AnyFunSuite {
  test("scratch dirs are siblings under one per-JVM directory inside the scratch root") {
    val a = Paths.scratchDir("paths-a-")
    val b = Paths.scratchDir("paths-b-")
    assert(a != b && java.nio.file.Files.isDirectory(a) && java.nio.file.Files.isDirectory(b))
    assert(a.getParent == b.getParent)
    assert(a.getParent.getParent == Paths.scratchRoot)
    val c = Paths.diskScratchDir("paths-c-")
    val d = Paths.diskScratchDir("paths-d-")
    assert(c.getParent == d.getParent)
    assert(c.getParent.getParent == java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
  }
}
