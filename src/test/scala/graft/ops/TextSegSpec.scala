package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** invidx_seg's scale contract: per-reducer posting state is bounded at the
  * segment width B BY CONSTRUCTION, even for a stopword that appears in
  * every document — the skew that makes the canonical single-row-per-token
  * index concentrate one reducer at 100 TB. */
class TextSegSpec extends SparkSpec {

  private def withFixture(nDocs: Int)(f: String => Unit): Unit = {
    val dir = tempDir("graft-seg")
    import spark.implicits._
    // every doc contains the stopword "the"; doc<i> makes each doc's
    // vocab otherwise unique so token frequencies span 1..nDocs
    (0 until nDocs).map(i => (i.toLong, s"the unique$i token"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    f(dir)
  }

  test("stopword postings are bounded at B per segment row") {
    withFixture(1000) { dir =>
      val seg = TextOps.invIndexSeg(spark, dir)
      val b = TextOps.invIdxSegSize
      // the bound that kills the skew: NO aggregation state anywhere holds
      // more than B doc_ids, no matter how hot the token
      assert(seg.agg(max("seg_df")).head.getLong(0) <= b)
      // the 1000-doc stopword spread across exactly ceil(1000/B) segments
      val theSegs = seg.filter(col("token") === "the").count()
      assert(theSegs == (1000 + b - 1) / b,
        s"'the' should shard into ${(1000 + b - 1) / b} segments, got $theSegs")
      // sharding loses nothing: per-token segment counts sum to the
      // canonical index's df for every token
      val fromSeg = seg.groupBy("token").agg(sum("seg_df").as("df2"))
      val bad = TextOps.invIndex(spark, dir)
        .join(fromSeg, "token")
        .filter(col("df") =!= col("df2")).count()
      assert(bad == 0, "segmented dfs disagree with the canonical index")
    }
  }

  test("chunksCdc fails loudly on non-ASCII text instead of mis-tiling") {
    // CdcBoundaries emits byte offsets; substr/length count chars. On
    // multibyte text the two disagree and chunks would silently hash wrong
    // slices — the guard must throw instead.
    val dir = tempDir("graft-mb")
    import spark.implicits._
    Seq((1L, "x" * 40 + "é" + "y" * 40))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      TextOps.chunksCdc(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("non-ASCII")),
      s"expected the ASCII-guard raise_error, got: $e")
  }
}
