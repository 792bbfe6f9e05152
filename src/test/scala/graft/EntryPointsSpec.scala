package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `def main` under `src/main/scala` is a documented entry point:
  * the object declaring it must appear as `runMain <fully.qualified>`
  * in README's *Running* block, so an unlisted probe or one-off main
  * cannot land silently. Measurement lives in `perfbench/`.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val MainDecl = """(?m)^\s*def main\(""".r
  private val ObjectDecl = """(?m)^object (\w+)""".r
  private val PackageDecl = """(?m)^package ([\w.]+)""".r

  /** Fully qualified names of the top-level objects declaring a main. */
  private def mains: Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no ${root.toAbsolutePath}: run from the repo root")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val src = Files.readString(f)
      val pkg = PackageDecl.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objects = ObjectDecl.findAllMatchIn(src).toSeq
      MainDecl.findAllMatchIn(src).map { m =>
        val owner = objects.takeWhile(_.start < m.start).lastOption
          .getOrElse(fail(s"$f: def main outside a top-level object"))
        pkg + owner.group(1)
      }
    }.distinct.sorted
  }

  private def runningBlock: String = {
    val readme = Files.readString(Paths.get("README.md"))
    val at = readme.indexOf("\n## Running")
    assert(at >= 0, "README has no ## Running section")
    val end = readme.indexOf("\n## ", at + 1)
    readme.substring(at, if (end < 0) readme.length else end)
  }

  test("every main under src/main is named in README's Running block") {
    val all = mains
    assert(all.contains("graft.Verify") && all.contains("graft.Bench"), all.toString)
    val block = runningBlock
    val unlisted = all.filterNot { m =>
      ("runMain " + Pattern.quote(m) + "(?![\\w.])").r.findFirstIn(block).isDefined
    }
    assert(unlisted.isEmpty,
      s"mains missing from README ## Running (list them, or delete the main): ${unlisted.mkString(", ")}")
  }
}
