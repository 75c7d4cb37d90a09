package graft.ops

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Timestamp physical-type drift guard. Round 5 proved the test-data
  * generator can silently change `events.ts`'s parquet physical type
  * between rounds (nanos-as-long → timestamp[us] no-tz = TIMESTAMP_NTZ),
  * and the two queries that consumed the raw type broke at ANALYSIS time —
  * a whole round's correctness signal lost to one schema drift. A real
  * user's parquet is as likely to carry either annotation.
  *
  * This spec runs EVERY registered query against the same sf0.001 corpus
  * with `events.ts` rewritten in both physical shapes (LTZ-annotated and
  * NTZ) and requires each to construct — DataFrame construction is eager
  * analysis in Spark, so a `table()` normalization gap surfaces here as
  * one red test naming the query and mode, not as a lost round. NOTE:
  * for the sink-shaped ops (pq_days, sink_*, jsonl, scan_evolve,
  * join_bkt, dedup_incr) construction also EXECUTES their writes — this
  * is accepted: at sf0.001 the cost is seconds, and it makes the check
  * strictly stronger than analysis for exactly the ops whose failure
  * mode is execution-time (a ts-typed partitionBy column). Results
  * must also AGREE across modes for the events-reading queries (the
  * NTZ→LTZ cast is value-identical under the pinned UTC session): a pair
  * of representative ts-consuming queries (candles packs unix_micros into
  * an ordering key; win_daily buckets through window()) is hash-compared
  * across the two fixture modes. */
class TsDriftSpec extends SparkSpec {

  private val base = "/root/testdata/sf0.001"

  /** A fixture dir = symlinks to every real sf0.001 table + events.parquet
    * rewritten with `ts` in the requested physical type. */
  private def fixture(mode: String): String = {
    val dir = tempDir(s"ts_drift_$mode")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Files.createSymbolicLink(
        Paths.get(s"$dir/$t.parquet"), Paths.get(s"$base/$t.parquet"))
    }
    val tsType = if (mode == "ntz") TimestampNTZType else TimestampType
    table(spark, base, "events")
      .withColumn("ts", col("ts").cast(tsType))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val ntzDir = fixture("ntz")
  private lazy val ltzDir = fixture("ltz")

  test("every registered query analyzes against NTZ and LTZ events") {
    // sanity: the two fixtures really carry distinct physical types (a
    // future Spark default flip would silently make this spec vacuous)
    assert(spark.read.parquet(s"$ntzDir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(s"$ltzDir/events.parquet")
      .schema("ts").dataType == TimestampType)
    for (dir <- Seq(ntzDir, ltzDir); (name, fn) <- SparkEntry.queries) {
      val mode = if (dir == ntzDir) "ntz" else "ltz"
      withClue(s"$name [$mode]: ") {
        // construction = eager analysis; .analyzed just pins the intent
        fn(spark, dir).queryExecution.analyzed
      }
    }
  }

  test("ts-consuming results are identical across NTZ and LTZ inputs") {
    for (q <- Seq("candles", "win_daily")) {
      val a = SparkEntry.queries(q)(spark, ntzDir).collect().toSeq
      val b = SparkEntry.queries(q)(spark, ltzDir).collect().toSeq
      assert(a == b, s"$q diverged between NTZ and LTZ events")
      assert(a.nonEmpty, s"$q returned no rows - comparison is vacuous")
    }
  }
}
