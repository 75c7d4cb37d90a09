package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the bench report's size budget. The driver captures only the
  * last ~2000 characters of stdout, SHARED with sbt's trailing output:
  * rounds 1-3 overflowed with the full-precision line; round 4 fit the
  * 1908-char budget but an unbudgeted ~250-char sbt GC `[warn]` line after
  * `[success]` still ate the head. The report is now a compact line that
  * reserves 600 chars for the trailer (observed worst case ~330) and packs
  * only the slowest queries; this spec drives the pure builder with the
  * REAL query roster and pathological values to pin that invariant. */
class BenchReportSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val budget = 1400 // 2000-char capture minus 600-char trailer

  test("compact line fits the budget for every value profile") {
    val profiles = Seq(
      names.map(_ -> 0.123),                         // all fast
      names.map(_ -> 9.94),                          // widest sub-10s slot
      names.map(_ -> 171.3),                         // degraded-host uniform
      names.map(_ -> 12345.6),                       // pathological: fmtQ caps at 999
      names.zipWithIndex.map { case (n, i) => n -> (if (i % 3 == 0) -1.0 else 4.2) }
    )
    profiles.foreach { rs =>
      val failed = rs.collect { case (n, t) if t < 0 => n }
      val line = Bench.report(rs, failed, "sf0.1")
      assert(line.length <= budget,
        s"report is ${line.length} chars > $budget with ${names.length} queries")
      assert(line.startsWith("{\"metric\":\"total\""), "anchor head intact")
      assert(line.endsWith("\"sf\":\"sf0.1\"}"), "envelope tail intact")
      // failed queries appear ONLY in the failed array, never as map values
      assert(!line.contains("-1"), "no negative durations on the line")
    }
  }

  test("failed queries are named in failed[] and absent from the map") {
    val rs = Seq("ok" -> 1.5, "boom" -> -1.0)
    val line = Bench.report(rs, Seq("boom"), "sf0.1")
    assert(line.contains(""""failed":["boom"]"""))
    assert(!line.contains(""""boom":-"""))
    val full = Bench.fullJson(rs, Seq("boom"), "sf0.1")
    assert(full.contains(""""failed":["boom"]"""))
    assert(!full.contains(""""boom":-"""))
  }

  test("slowest queries are the ones kept, worst-first") {
    val rs = names.zipWithIndex.map { case (n, i) => n -> (i + 1) * 0.1 }
    val line = Bench.report(rs, Nil, "sf0.1")
    val slowest = rs.maxBy(_._2)._1
    assert(line.contains(s""""$slowest":"""), "the slowest query must survive packing")
    // qcount always reports the full roster even when the map is partial
    assert(line.contains(s""""qcount":${names.length}"""))
  }

  test("values >= 1000s cannot widen a slot past 3 chars") {
    val line = Bench.report(Seq("huge" -> 123456.789), Nil, "sf0.1")
    assert(line.contains("\"huge\":999"))
  }

  test("full detail json carries every query at full precision") {
    val rs = names.map(_ -> 1.234)
    val full = Bench.fullJson(rs, Nil, "sf0.1")
    names.foreach(n => assert(full.contains(s""""$n":1.234""")))
    assert(full.contains("\"failed\":[]"))
  }

  test("cpus stamps both artifacts and stays inside the line budget") {
    // the scaling contract must be readable off the artifact itself
    // (r15 verdict item 2): an 8-core and a 32-core run differ in-band
    val rs = names.map(_ -> 9.94) // widest sub-10s slot, worst packing case
    val line = Bench.report(rs, Nil, "sf0.1", cpus = 8)
    assert(line.contains(""""cpus":8"""))
    assert(line.length <= budget)
    assert(line.endsWith("\"sf\":\"sf0.1\"}"))
    // cpus = 0 (unknown) omits the field — old artifacts stay comparable
    assert(!Bench.report(rs, Nil, "sf0.1").contains("cpus"))
    val full = Bench.fullJson(Seq("a" -> 1.0), Nil, "sf0.1", cpus = 32)
    assert(full.contains(""""cpus":32"""))
  }

  test("full detail json stamps per-query construction time when provided") {
    // r15 verdict item 2: a flat 8-vs-32-core ratio must be attributable
    // in-band — "constr" is the driver-side construction span (Catalyst +
    // eager materializes), (total - constr) the action. ADDITIVE: absent
    // when not provided, so old artifacts parse identically.
    val rs = Seq("a" -> 1.0, "b" -> 2.5)
    val full = Bench.fullJson(rs, Nil, "sf0.1",
      constr = Seq("b" -> 1.75, "a" -> 0.25))
    assert(full.contains(""""constr":{"a":0.250,"b":1.750}"""))
    assert(full.contains(""""queries":{"a":1.000,"b":2.500}"""))
    assert(!Bench.fullJson(rs, Nil, "sf0.1").contains("constr"))
  }

  test("construction time comes from the pass of the min total") {
    // pass 2 has the min total; pass 3 the min construction. Taking each
    // min on its own would report 0.2 s construction beside a 2.0 s total
    // whose own pass spent 1.5 s constructing.
    val perPass = Seq((3.0, 0.5, true), (2.0, 1.5, true), (4.0, 0.2, true))
    val (total, constr) = Bench.minPass(perPass)
    assert(total == 2.0 && constr == 1.5)
    assert(total - constr == 0.5, "action must be the same pass's remainder")
  }

  test("full detail json stamps load averages and per-pass times") {
    val rs = Seq("a" -> 1.0, "b" -> 2.5)
    val passTimes = Seq(Seq("a" -> 1.2, "b" -> 2.5), Seq("a" -> 1.0, "b" -> 9.9))
    val full = Bench.fullJson(rs, Nil, "sf0.1", 0.25, 1.75, passTimes)
    assert(full.contains(""""load_start":0.250"""))
    assert(full.contains(""""load_end":1.750"""))
    // pass-major: a weather spike (b's 9.9 in pass 2) is visible even
    // though the reported min stays 2.5
    assert(full.contains(""""passes":[{"a":1.200,"b":2.500},{"a":1.000,"b":9.900}]"""))
    // the reported values stay the per-query mins
    assert(full.contains(""""queries":{"a":1.000,"b":2.500}"""))
  }
}
