package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps every keyed-state streaming twin on the two shared folds of
  * [[StreamAssembly]], `closeOnWatermark` and `emitInOrder`: no other main
  * code calls flatMapGroupsWithState, and no keyed state runs without a
  * timeout (a NoTimeout fold applies rows older than the watermark). */
class StatefulFoldGuardSpec extends AnyFunSuite {

  // the repo root is the working directory of `sbt test`
  private val root = Paths.get(sys.props("user.dir"))
  private val defName = """\bdef\s+(\w+)""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** (file, nearest enclosing def) of each non-comment line under
    * src/main/scala that contains `needle`. */
  private def hits(needle: String): Seq[(String, String)] = {
    val dir = root.resolve("src/main/scala")
    assert(Files.isDirectory(dir), s"missing $dir")
    val walk = Files.walk(dir)
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
      finally walk.close()
    files.flatMap { f =>
      val code = Files.readAllLines(f).asScala.toVector.filterNot(isComment)
      code.indices.filter(i => code(i).contains(needle)).map { i =>
        val enclosing = code.take(i + 1).reverseIterator
          .flatMap(defName.findFirstMatchIn(_)).nextOption().fold("")(_.group(1))
        (root.relativize(f).toString, enclosing)
      }
    }
  }

  test("flatMapGroupsWithState is called only inside the two shared folds") {
    val sa = "src/main/scala/graft/streaming/StreamAssembly.scala"
    val got = hits(".flatMapGroupsWithState[")
    assert(got == Seq(sa -> "closeOnWatermark", sa -> "emitInOrder"), got)
  }

  test("no keyed state runs without a timeout") {
    val got = hits("GroupStateTimeout.NoTimeout")
    assert(got.isEmpty, got)
  }
}
