package graft

/** The session factory's env parsers, and the guards that keep it the only
  * session builder and the only place extensions are installed: every main
  * and spec session must come from [[GraftSession.local]], specs must run
  * under the confs Bench times, and SQL functions reach a session only
  * through [[graft.functions.GraftExtensions]]. */
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

  test("GraftExtensions is the one way SQL functions reach a session") {
    val temp = SourceScan.hits("createOrReplaceTempFunction")
    assert(temp.isEmpty, temp)
    val ext = SourceScan.hits("with" + "Extensions", Seq("src/main/scala", "src/test/scala"))
      .map(_._1)
    assert(ext == Seq("src/main/scala/graft/GraftSession.scala"), ext)
  }

  test("the spec session resolves every GraftExtensions SQL name") {
    def one(q: String) = spark.sql(q).head
    assert(one("SELECT poly_hash('spark')").getLong(0) ==
      "spark".getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L))
    assert(one("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))").getDouble(0) == 11.0)
    assert(one("SELECT size(shingle_hashes('a b c d e'))").getInt(0) == 2)
    // a 16-char doc is one window: its only boundary is its end
    assert(one("SELECT cdc_boundaries('aaaaaaaaaaaaaaaa')").getSeq[Int](0).forall(_ == 16))
    assert(one(
      """SELECT q_sketch_values(q_merge_agg(sk), array(0.5D))
         FROM (SELECT q_sketch_agg(CAST(id AS DOUBLE), 1000) AS sk FROM range(1, 4))""")
      .getSeq[Double](0) == Seq(2.0))
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT dot_product(array(1.0d))").collect())
  }
}
