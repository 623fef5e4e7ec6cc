package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The write-once fixture memo the streaming registry queries share:
  * a fixture directory exists only once its write completed. */
class ScratchSpec extends AnyFunSuite {

  test("Scratch.memo: a write that throws midway leaves no directory " +
      "behind, and the next call writes the full fixture") {
    val parent = Files.createTempDirectory("scratch_memo")
    val dir = parent.resolve("fixture").toString
    def entries(p: java.nio.file.Path): Long = {
      val l = Files.list(p)
      try l.count() finally l.close()
    }
    def fill(p: String, n: Int): Unit = {
      Files.createDirectories(Paths.get(p))
      (0 until n).foreach(i => Files.write(Paths.get(p, s"part-$i"), Array(i.toByte)))
    }
    val boom = intercept[RuntimeException] {
      Scratch.memo(dir) { p => fill(p, 2); throw new RuntimeException("interrupted") }
    }
    assert(boom.getMessage == "interrupted")
    assert(!Files.exists(Paths.get(dir)), "a partial fixture must not be published")
    assert(entries(parent) == 0, "the partial copy must be deleted")

    Scratch.memo(dir)(p => fill(p, 3))
    assert(entries(Paths.get(dir)) == 3)
    // complete now: later calls trust it and never write again
    Scratch.memo(dir)(_ => fail("a complete fixture must not be rewritten"))
    assert(entries(parent) == 1)
  }
}
