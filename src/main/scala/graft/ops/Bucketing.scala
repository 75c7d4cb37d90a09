package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed (pre-partitioned) storage for co-located joins — the 100 TB
  * pattern for join keys that are hit repeatedly: pay the shuffle once at
  * write time (`bucketBy` on the join key), then every subsequent join on
  * that key reads both sides already hash-partitioned and sort-ready, and
  * Catalyst plans a sort-merge join with NO Exchange on either side
  * (asserted in BucketingSpec).
  *
  * The reference's analog is its time-partitioned storage + composite
  * serving index (liq-stream `writer_csv.py:17-19`, `writer_pg.py:38-57`)
  * — storage organized so reads skip work; bucketing extends that from
  * point lookups to whole-join co-location. */
object Bucketing {

  /** Write `df` as a bucketed catalog table (`db.table`), bucketed and
    * sorted by `key` into `buckets` files per partition. Both sides of a
    * co-located join must use the same bucket count and key. */
  def writeBucketed(df: DataFrame, fqTable: String, buckets: Int,
      key: String, sortKeys: Seq[String] = Nil): Unit = {
    val keys = if (sortKeys.isEmpty) Seq(key) else sortKeys
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(fqTable)
  }

  /** Bucketed tables are the PAY-THE-SHUFFLE-ONCE artifact — rewriting
    * them before every co-located join would cancel the pattern's whole
    * premise. Tracks which source dir each table was last written from
    * (JVM-wide, same discipline as [[graft.ops.stagedFixture]]) and skips
    * the write when the catalog already holds that build; a different dir
    * (or a fresh catalog) rewrites. */
  private val writtenFrom =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[ops] def ensureBucketed(spark: SparkSession, dir: String,
      fqTable: String)(write: => Unit): Unit =
    if (writtenFrom.get(fqTable) != dir || !spark.catalog.tableExists(fqTable)) {
      write
      writtenFrom.put(fqTable, dir): Unit
    }

  /** Join two same-bucketed tables on their bucket key. With matching
    * bucket specs the plan contains no shuffle — each task zips bucket i
    * of both sides. */
  def coLocatedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }

  /** End-to-end bucketed join as an oracle-checked query: write orders and
    * customer bucketed on custkey into a temp-located catalog database,
    * join co-located, aggregate. The result must equal the plain shuffling
    * join (the oracle computes it directly from the source tables) — what
    * changes is WHERE the shuffle happens: once at write time, never at
    * read time (BucketingSpec asserts the zero-Exchange plan). */
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    // dir created only on first need — IF NOT EXISTS ignores LOCATION on
    // later calls, so creating unconditionally would leave an unused temp
    // dir per invocation (the dedupIncremental rationale)
    if (!spark.catalog.databaseExists("graft_bktq")) {
      val wh = tempDir("graft_bktq")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bktq LOCATION '$wh'")
    }
    ensureBucketed(spark, dir, "graft_bktq.orders_by_cust") {
      writeBucketed(table(spark, dir, "orders").select("o_custkey", "o_totalprice"),
        "graft_bktq.orders_by_cust", buckets = 8, key = "o_custkey")
    }
    ensureBucketed(spark, dir, "graft_bktq.customer_by_key") {
      writeBucketed(table(spark, dir, "customer").select("c_custkey", "c_mktsegment"),
        "graft_bktq.customer_by_key", buckets = 8, key = "c_custkey")
    }
    coLocatedJoin(spark, "graft_bktq.orders_by_cust", "graft_bktq.customer_by_key",
        "o_custkey", "c_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), sumMoney(col("o_totalprice")).as("sum_price"))
      .orderBy("c_mktsegment")
  }

  /** The co-located AND co-SORTED join — bucketing's full payoff: with
    * both sides bucketed and `sortBy`'d on the join key and ONE file per
    * bucket, the sort-merge join needs neither an Exchange NOR a Sort —
    * each task streams bucket i of both sides already ordered, so the
    * join is a pure merge (zero shuffle, zero sort memory, no spill
    * path). The one-file-per-bucket condition is load-bearing: Spark only
    * trusts the on-disk order when a bucket is a single file (several
    * sorted files would need a merge), which is why the write
    * `repartition`s on the bucket key first — the same hash both
    * `repartition` and `bucketBy` use, so each task owns exactly one
    * bucket. The fact sides here (lineitem⋈orders) are what the pattern
    * is FOR at 100 TB: two fact tables too big to broadcast, joined
    * repeatedly on the same key — the `merge` hint pins the plan away
    * from the broadcast Catalyst would pick at fixture scale (at
    * production scale neither side fits; the hint models that), and
    * BucketingSpec asserts the zero-Exchange/zero-Sort plan. */
  def joinBucketedSorted(spark: SparkSession, dir: String): DataFrame =
    joinBucketedSortedPlan(spark, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sumMoney(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")

  /** Conf-pinned child session for [[joinBucketedSortedPlan]] via the
    * shared [[graft.ops.childSession]] cache: Spark 3+ stopped CLAIMING
    * bucket sort order by default because writers can leave several files
    * per bucket (whose interleaving would make the claim wrong —
    * SPARK-28632); the legacy conf restores the claim, and this query
    * makes it TRUE by construction with the one-file-per-bucket
    * repartition. The broadcast threshold is disabled because both sides
    * are fact tables at scale — the co-sorted merge is the plan under
    * test. The child shares the parent's catalog (SharedState), so the
    * bucketed tables written below are visible. */
  private def orderedSession(spark: SparkSession): SparkSession =
    childSession(spark, Map(
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))

  /** The bare co-sorted join (no final orderBy) — split out so the spec
    * can assert the plan has no Exchange and no Sort below the join. */
  private[graft] def joinBucketedSortedPlan(spark: SparkSession,
      dir: String): DataFrame = {
    if (!spark.catalog.databaseExists("graft_bkts")) {
      val wh = tempDir("graft_bkts")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkts LOCATION '$wh'")
    }
    ensureBucketed(spark, dir, "graft_bkts.lineitem_by_order") {
      writeBucketed(
        table(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
          .repartition(8, col("l_orderkey")),
        "graft_bkts.lineitem_by_order", buckets = 8, key = "l_orderkey")
    }
    ensureBucketed(spark, dir, "graft_bkts.orders_by_key") {
      writeBucketed(
        table(spark, dir, "orders").select("o_orderkey", "o_orderpriority")
          .repartition(8, col("o_orderkey")),
      "graft_bkts.orders_by_key", buckets = 8, key = "o_orderkey")
    }
    val s = orderedSession(spark)
    // the overwrite above ran in the PARENT session — it invalidates the
    // parent's relation cache, not the child's; a cached child listing
    // would point at the previous write's deleted files
    s.catalog.refreshTable("graft_bkts.lineitem_by_order")
    s.catalog.refreshTable("graft_bkts.orders_by_key")
    val l = s.table("graft_bkts.lineitem_by_order")
    val r = s.table("graft_bkts.orders_by_key")
    l.hint("merge").join(r, l("l_orderkey") === r("o_orderkey"))
  }

  val oracles: Map[String, String] = Map(
    "join_bkt_sorted" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the bucketed round-trip must be lossless: aggregate the SOURCE tables
    "join_bkt" ->
      """SELECT c_mktsegment, count(*) AS cnt,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_bkt" -> joinBucketed _,
    "join_bkt_sorted" -> joinBucketedSorted _,
  )
}
