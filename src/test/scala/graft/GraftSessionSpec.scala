package graft

/** The session factory's env parsers, and the guard that keeps it the only
  * session builder: every main and spec session must come from
  * [[GraftSession.local]], and specs must run under the confs Bench times. */
class GraftSessionSpec extends SparkSpec {

  test("SPARK_GRAFT_CONF: entries split on ';', a value keeps its '='") {
    assert(GraftSession.parseConf(Some("a=b;c=d=e")) == Seq("a" -> "b", "c" -> "d=e"))
    assert(GraftSession.parseConf(Some(" a = b ;")) == Seq("a" -> "b"))
    assert(GraftSession.parseConf(None).isEmpty)
    assert(GraftSession.parseConf(Some("")).isEmpty)
  }

  test("SPARK_GRAFT_CONF: an empty or bare entry throws, naming the entry") {
    val empty = intercept[RuntimeException](GraftSession.parseConf(Some("a=b;;c=d")))
    assert(empty.getMessage.contains("entry: ''"), empty.getMessage)
    val bare = intercept[RuntimeException](GraftSession.parseConf(Some("a")))
    assert(bare.getMessage.contains("entry: 'a'"), bare.getMessage)
    val noKey = intercept[RuntimeException](GraftSession.parseConf(Some("=v")))
    assert(noKey.getMessage.contains("entry: '=v'"), noKey.getMessage)
  }

  test("SPARK_GRAFT_ONLY: names are trimmed, unset keeps every query") {
    val keep = GraftSession.only(Some(" q1 , q2"))
    assert(keep("q1") && keep("q2") && !keep("q3") && !keep(" q1"))
    val all = GraftSession.only(None)
    assert(SparkEntry.queries.keys.forall(all))
  }

  test("GraftSession holds the only SparkSession builder call under src/") {
    val needle = "SparkSession" + ".builder("
    val hits = SourceScan.hits(needle, Seq("src/main/scala", "src/test/scala")).map(_._1)
    assert(hits == Seq("src/main/scala/graft/GraftSession.scala"), hits)
  }

  test("spec sessions run under every conf Bench's session sets") {
    GraftSession.confs(4).foreach { case (k, v) =>
      assert(SparkSpec.session.conf.get(k) == v, k)
    }
  }
}
