package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every pin in the library goes through [[graft.operators.Caches]]: a raw
  * `.persist(`, `.cache()` or `.unpersist(` anywhere else in `src/main`
  * would pin a frame `Caches.release()` cannot see, or unpin one graft
  * did not pin.
  */
class PinSiteSpec extends AnyFunSuite {

  test("src/main pins and unpins frames only through Caches") {
    val root = Paths.get("src/main/scala")
    val raw = """(?<!\bCaches)\.(persist|unpersist)\(|\.cache\(\)""".r
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Paths.get("operators/Caches.scala")))
      .toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      if raw.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: $t"
    assert(hits.isEmpty, s"pin outside Caches:\n${hits.mkString("\n")}")
  }
}
