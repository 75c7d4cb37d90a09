package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.SparkSpec

/** Specs for the Karp-Rabin cdc_boundaries expression: the incremental
  * rolling hash must equal a naive per-window refold byte-for-byte, and
  * edits must only perturb boundaries locally — the property that makes
  * content-defined chunking worth its cost over fixed strides. */
class CdcBoundariesSpec extends SparkSpec with TableDrivenPropertyChecks {

  private val M = 1000000007L
  private val W = 16
  private val Mask = 64

  /** Reference: refold every window from scratch. */
  private def naive(s: String, w: Int = W, mask: Int = Mask): Seq[Int] = {
    val b = s.getBytes("UTF-8")
    (w to b.length).filter { p =>
      var acc = 0L
      var i = p - w
      while (i < p) { acc = (acc * 31 + (b(i) & 0xff)) % M; i += 1 }
      acc % mask == 0
    }
  }

  private def fused(texts: Seq[String]): Seq[Seq[Int]] = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .select(col("id"), CdcBoundaries(col("text")).as("bs"))
      .orderBy("id").collect()
      .map(_.getSeq[Int](1).toSeq).toSeq
  }

  test("incremental hash == naive per-window refold on the real corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    assert(docs.nonEmpty)
    val got = fused(docs)
    var boundaries = 0
    docs.zip(got).foreach { case (t, bs) =>
      assert(bs == naive(t), s"diverged on doc of length ${t.length}")
      boundaries += bs.size
    }
    assert(boundaries > 0, "corpus produced no cut points at all")
  }

  test("deterministic pseudo-random byte streams, incl. sub-window docs") {
    // xorshift-ish generator — deterministic, no java.util.Random seed drift
    def gen(n: Int, seed: Long): String = {
      var x = seed
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        sb.append((32 + (Math.floorMod(x, 95L)).toInt).toChar) // printable ASCII
      }
      sb.toString
    }
    val texts = Seq(gen(0, 7), gen(5, 11), gen(15, 13), gen(16, 17),
      gen(17, 19), gen(300, 23), gen(4096, 29))
    fused(texts).zip(texts).foreach { case (bs, t) =>
      assert(bs == naive(t))
      if (t.length < W) assert(bs.isEmpty, "sub-window doc must have no cuts")
    }
  }

  test("edit locality: a point edit never moves boundaries a window away") {
    val base = {
      var x = 99L
      val sb = new StringBuilder
      (0 until 2000).foreach { _ =>
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        sb.append((32 + Math.floorMod(x, 95L).toInt).toChar)
      }
      sb.toString
    }
    val editAt = 1000
    val edited = base.substring(0, editAt) + "#" + base.substring(editAt + 1)
    val Seq(b0, b1) = fused(Seq(base, edited))
    // boundaries strictly before the edit, and strictly after the last
    // window containing it, are untouched — only [editAt+1, editAt+W] may
    // flip. Fixed-stride chunking has no such guarantee after insertions.
    assert(b0.filter(_ <= editAt) == b1.filter(_ <= editAt))
    assert(b0.filter(_ > editAt + W) == b1.filter(_ > editAt + W))
  }

  // SQL-surface resolution via GraftExtensions is asserted alongside the
  // other injected functions in GraftSessionSpec.
}
