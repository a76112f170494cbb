package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every pin in the library goes through [[graft.operators.Caches]]: a raw
  * `.persist(`, `.cache()` or `.unpersist(` anywhere else in `src/main`
  * would pin a frame `Caches.release()` cannot see, or unpin one graft
  * did not pin. Likewise every route decision is recorded through
  * [[graft.operators.Route]]: no `var last…Route`, and no `graft.route.`
  * property written anywhere else.
  */
class PinSiteSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** Code lines (comment lines skipped) of `src/main` outside `owner`
    * that match `pattern`, as `file:line: text`.
    */
  private def hits(pattern: scala.util.matching.Regex, owner: String): Seq[String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.endsWith(Paths.get(owner)))
      .toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      t = line.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      if pattern.findFirstIn(line).isDefined
    } yield s"${root.relativize(f)}:${i + 1}: $t"
  }

  test("src/main pins and unpins frames only through Caches") {
    val raw = hits("""(?<!\bCaches)\.(persist|unpersist)\(|\.cache\(\)""".r, "operators/Caches.scala")
    assert(raw.isEmpty, s"pin outside Caches:\n${raw.mkString("\n")}")
  }

  test("src/main records route decisions only through Route") {
    val raw = hits("""\bvar\s+last\w*Route\b|graft\.route\.""".r, "operators/Route.scala")
    assert(raw.isEmpty, s"route record outside Route:\n${raw.mkString("\n")}")
  }
}
