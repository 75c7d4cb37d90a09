package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Keeps the operator library on its one memo store and its one temp-dir
  * registry (both in `ops/package.scala`): no other main code keeps a weak
  * map, creates a temp dir or registers an exit hook of its own. */
class MemoGuardSpec extends AnyFunSuite {

  private val pkg = "src/main/scala/graft/ops/package.scala"

  private def members(needle: String): Seq[(String, String)] =
    SourceScan.hits(needle, enclosing = SourceScan.enclosingMember)

  test("weak maps live only in the memo store and materialize's marker set") {
    val got = members("new java.util.WeakHashMap")
    assert(got.toSet == Set(pkg -> "materializedFrames", pkg -> "memos") &&
      got.size == 2, got)
  }

  test("temp dirs are created and removed only by tempDir's registry") {
    val created = members("createTempDirectory")
    assert(created == Seq(pkg -> "tempDir"), created)
    val hooks = members("addShutdownHook")
    assert(hooks == Seq(pkg -> "tempDirs"), hooks)
  }
}
