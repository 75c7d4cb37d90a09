package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Bucketed co-located join: pay the shuffle at write time, then joins on
  * the bucket key plan with zero Exchange — the storage-level scale lever
  * for repeatedly-joined fact tables. */
class BucketingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("same-bucketed tables join with no shuffle and correct results") {
    val wh = tempDir("graft_wh")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '$wh'")
    val li = table(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val ord = table(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "bucketdb.l_b", buckets = 8, key = "l_orderkey")
    Bucketing.writeBucketed(ord, "bucketdb.o_b", buckets = 8, key = "o_orderkey")

    // force the merge path: broadcast would hide the co-location story on
    // this tiny corpus
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = Bucketing.coLocatedJoin(spark, "bucketdb.l_b", "bucketdb.o_b",
        "l_orderkey", "o_orderkey")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")

      // same answer as the plain (shuffling) join
      val expected = li.join(ord, li("l_orderkey") === ord("o_orderkey")).count()
      assert(j.count() == expected && expected > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("co-sorted single-file buckets merge-join with no Exchange AND no Sort") {
    val j = Bucketing.joinBucketedSortedPlan(spark, dir)
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"),
      s"co-located join must not shuffle:\n$p")
    // the full payoff: one sorted file per bucket means the merge trusts
    // the on-disk order — no SortExec anywhere under the join
    assert(!p.contains("Sort ["),
      s"co-SORTED buckets must not re-sort:\n$p")
    // and the plan is not a lie: the join result matches the plain join
    val want = table(spark, dir, "lineitem")
      .join(table(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(j.count() == want && want > 0)
  }

  test("bucketed tables write once: a repeat join reads, never rewrites") {
    val dir = "/root/testdata/sf0.001"
    val r1 = Bucketing.joinBucketed(spark, dir).collect().toSeq
    def norm(p: String) =
      if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    val files = spark.table("graft_bktq.orders_by_cust").inputFiles
      .map(norm) ++
      spark.table("graft_bktq.customer_by_key").inputFiles.map(norm)
    assert(files.nonEmpty)
    val before = files.map(f => f -> new java.io.File(f).lastModified()).toMap
    // pay-the-shuffle-once contract: the second call must plan over the
    // SAME files (same paths, same mtimes) and still agree on the result
    val r2 = Bucketing.joinBucketed(spark, dir).collect().toSeq
    assert(r2 == r1)
    before.foreach { case (f, m) =>
      val now = new java.io.File(f)
      assert(now.exists && now.lastModified() == m,
        s"repeat join rewrote bucketed file $f")
    }
  }
}
