package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Keeps the operator library on its one memo store and its one temp-dir
  * registry (both in `ops/package.scala`): no other main code keeps a weak
  * map or registers an exit hook of its own, and no main or spec code
  * creates a temp dir of its own. */
class MemoGuardSpec extends AnyFunSuite {

  private val pkg = "src/main/scala/graft/ops/package.scala"

  private def members(needle: String,
      dirs: Seq[String] = Seq("src/main/scala")): Seq[(String, String)] =
    SourceScan.hits(needle, dirs, SourceScan.enclosingMember)

  test("weak maps live only in the memo store and materialize's marker set") {
    val got = members("new java.util.WeakHashMap")
    assert(got.toSet == Set(pkg -> "materializedFrames", pkg -> "memos") &&
      got.size == 2, got)
  }

  test("temp dirs are created and removed only by tempDir's registry") {
    // the specs too: a dir they create themselves outlives the run
    val created = members("createTemp" + "Directory", Seq("src/main/scala", "src/test/scala"))
    assert(created == Seq(pkg -> "tempDir"), created)
    val hooks = members("addShutdownHook")
    assert(hooks == Seq(pkg -> "tempDirs"), hooks)
  }
}
