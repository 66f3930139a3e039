package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard: every compute-once cache goes through [[Memo]], so
  * `Memo.scala` is the only file in the main sources that reports to
  * [[CacheProbe]]. A hand-rolled registry wiring the probe itself fails
  * here — route it through a `Memo` instead. */
class CacheProbeCallersSpec extends AnyFunSuite {

  test("CacheProbe.record is called only from Memo") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val call = """CacheProbe\s*\.\s*record\b""".r
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    val callers = files.filter(p => call.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => root.relativize(p).toString).sorted
    assert(callers == List("graft/sources/Memo.scala"))
  }
}
