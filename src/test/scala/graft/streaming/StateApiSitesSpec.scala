package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark's keyed-state API is called from two places only:
  * `StatefulOps.keyedState`, which drives every processing-time
  * operator, and the event-time near-dup operator, whose watermark
  * timeout needs its own call. A state-policy change or a
  * `transformWithState` migration therefore stays a one-site edit.
  */
class StateApiSitesSpec extends AnyFunSuite {

  private val Call = """\.flatMapGroupsWithState\b""".r

  test("flatMapGroupsWithState is called at most twice under src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no ${root.toAbsolutePath}: run from the repo root")
    val sites = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if Call.findFirstIn(line).isDefined => s"$f:${i + 1}"
        }
      }
    assert(sites.size <= 2,
      s"${sites.size} flatMapGroupsWithState call sites (route new keyed state through " +
        s"StatefulOps.keyedState): ${sites.sorted.mkString(", ")}")
  }
}
