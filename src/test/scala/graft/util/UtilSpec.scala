package graft.util

import org.scalatest.funsuite.AnyFunSuite

class UtilSpec extends AnyFunSuite {

  test("IndexSidecar: round-trips props + matrix, rejects wrong kind") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sidecar-test").toString
    val m = Array(Array(1.5, -2.25, 0.1), Array(3.0, 4.0, 1e-17))
    IndexSidecar.write(dir, "ivf",
      Map("centroids" -> IndexSidecar.encodeMatrix(m), "lloydIters" -> "2"))
    val back = IndexSidecar.read(dir, "ivf")
    assert(back("kind") === "ivf" && back("lloydIters") === "2")
    val m2 = IndexSidecar.decodeMatrix(back("centroids"))
    assert(m2.length === m.length)
    m.zip(m2).foreach { case (a, b) => assert(a.sameElements(b)) }
    // a MinHash reader pointed at this IVF index must fail loudly
    val e = intercept[IllegalArgumentException](IndexSidecar.read(dir, "minhash"))
    assert(e.getMessage.contains("kind=ivf"))
    // newlines in values would corrupt the key=value format
    intercept[IllegalArgumentException](
      IndexSidecar.write(dir, "x", Map("a" -> "b\nc")))
    graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("processScopedTmpDir: exists, pid-scoped, stable within the JVM") {
    val a = Fs.processScopedTmpDir("graft-scoped-test")
    val b = Fs.processScopedTmpDir("graft-scoped-test")
    assert(java.nio.file.Files.isDirectory(a))
    // same name -> same dir within one process (the write-once-reuse cache
    // contract); the pid suffix is what isolates concurrent processes
    assert(a === b)
    assert(a.getFileName.toString ===
      s"graft-scoped-test-p${ProcessHandle.current().pid()}")
    // reuse must tolerate the dir already existing with content
    java.nio.file.Files.writeString(a.resolve("marker"), "x")
    val c = Fs.processScopedTmpDir("graft-scoped-test")
    assert(java.nio.file.Files.exists(c.resolve("marker")))
  }
}
