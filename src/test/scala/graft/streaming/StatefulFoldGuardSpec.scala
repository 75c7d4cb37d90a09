package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan

/** Keeps every keyed-state streaming twin on the two shared folds of
  * [[StreamAssembly]], `closeOnWatermark` and `emitInOrder`: no other main
  * code calls flatMapGroupsWithState, and no keyed state runs without a
  * timeout (a NoTimeout fold applies rows older than the watermark). */
class StatefulFoldGuardSpec extends AnyFunSuite {

  test("flatMapGroupsWithState is called only inside the two shared folds") {
    val sa = "src/main/scala/graft/streaming/StreamAssembly.scala"
    val got = SourceScan.hits(".flatMapGroupsWithState[")
    assert(got == Seq(sa -> "closeOnWatermark", sa -> "emitInOrder"), got)
  }

  test("no keyed state runs without a timeout") {
    val got = SourceScan.hits("GroupStateTimeout.NoTimeout")
    assert(got.isEmpty, got)
  }
}
