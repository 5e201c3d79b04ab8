package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every Scala source stays text: a raw control byte makes git diff the
  * file as binary, so string literals spell control characters as
  * unicode escapes. */
class SourceHygieneSpec extends AnyFunSuite {

  test("no Scala source under src holds a control byte other than tab, LF or CR") {
    val walk = Files.walk(Paths.get("src"))
    val sources: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally walk.close()
    assert(sources.nonEmpty)
    val bad = for {
      p <- sources
      (line, n) <- new String(Files.readAllBytes(p), "ISO-8859-1").split("\n", -1).zipWithIndex
      if line.exists(c => c < 0x20 && c != '\t' && c != '\r')
    } yield s"$p:${n + 1}"
    assert(bad.isEmpty, bad.mkString("raw control bytes at ", ", ", ""))
  }
}
