package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.Assertions._

/** Scans the repo's Scala sources for the source guards: which non-comment
  * lines contain a needle, and under which declaration each one sits. */
object SourceScan {

  // the repo root is the working directory of `sbt test`
  val root: Path = Paths.get(sys.props("user.dir"))

  /** The nearest preceding `def` — the enclosing method of a line. */
  val enclosingDef: Regex = """\bdef\s+(\w+)""".r

  /** The nearest preceding member of an object (a `def`, `val` or `object`
    * declared at two-space indent) — names a line inside a member `val`. */
  val enclosingMember: Regex =
    """^  (?:\w+(?:\[\w+\])?\s+)*(?:def|val|object)\s+(\w+)""".r

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** (file relative to the root, name matched by `enclosing` on the
    * nearest preceding line) of each non-comment line under `dirs` that
    * contains `needle`, in file then line order. */
  def hits(needle: String, dirs: Seq[String] = Seq("src/main/scala"),
      enclosing: Regex = enclosingDef): Seq[(String, String)] =
    dirs.map(root.resolve).flatMap { dir =>
      assert(Files.isDirectory(dir), s"missing $dir")
      val walk = Files.walk(dir)
      val files =
        try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
        finally walk.close()
      files.flatMap { f =>
        val code = Files.readAllLines(f).asScala.toVector.filterNot(isComment)
        code.indices.filter(i => code(i).contains(needle)).map { i =>
          val name = code.take(i + 1).reverseIterator
            .flatMap(enclosing.findFirstMatchIn(_)).nextOption().fold("")(_.group(1))
          (root.relativize(f).toString, name)
        }
      }
    }
}
