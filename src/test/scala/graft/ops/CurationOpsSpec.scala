package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Specs for the corpus-preparation additions: weighted domain mixing,
  * benchmark decontamination, PII scrubbing, repetition scoring, and the
  * exact-moment statistical aggregates. Semantics are pinned on a tiny
  * hand-built corpus (written as a documents.parquet so the ops run their
  * real scan path); corpus-level invariants run on sf0.001.
  */
class CurationOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Write rows as <tmp>/documents.parquet and return the tmp dir. */
  private def miniCorpus(rows: Seq[(Long, String, String, String, Long)]): String = {
    import spark.implicits._
    val tmp = tempDir("graft-docs-")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("mix: exact floor copies, hash-selected fractional copy") {
    val out = Curation.sampleWeighted(spark, dir)
      .groupBy("doc_id", "source").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    val w = Curation.mixWeights.toMap
    out.foreach { case (_, src, copies) =>
      val permille = w.getOrElse(src, Curation.mixDefault)
      val base = permille / 1000
      // every emitted doc carries floor(w) or floor(w)+1 replicas
      assert(copies == base || copies == base + 1,
        s"$src: $copies copies for weight $permille")
    }
    // sources with w >= 1000 keep EVERY document (never downsampled away)
    val docs = graft.ops.table(spark, dir, "documents")
      .select("doc_id", "source").collect()
    val emitted = out.map(_._1).toSet
    docs.foreach { r =>
      if (w.getOrElse(r.getString(1), Curation.mixDefault) >= 1000)
        assert(emitted.contains(r.getLong(0)))
    }
    // deterministic: a second run emits the identical multiset
    val again = Curation.sampleWeighted(spark, dir)
      .groupBy("doc_id", "source").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("decon: flags 8-gram overlap with the benchmark slice only") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val overlap8 = "XX " + bench.split(" ").take(8).mkString(" ") + " YY"
    val clean = "one two three four five six seven eight nine ten"
    val short6 = "alpha beta gamma delta epsilon zeta" // <8 tokens: no shingle
    val tmp = miniCorpus(Seq(
      (0L, bench, "en", "src0", bench.length.toLong), // doc_id%97==0: benchmark
      (1L, overlap8, "en", "src0", overlap8.length.toLong),
      (2L, clean, "en", "src0", clean.length.toLong),
      (3L, short6, "en", "src0", short6.length.toLong)))
    val rows = Curation.textDecontam(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(!rows.contains(0L)) // the benchmark doc is not a training row
    assert(rows(1L) == ((1L, true))) // shares exactly one 8-gram
    assert(rows(2L) == ((0L, false)))
    assert(rows(3L) == ((0L, false))) // sub-width doc cannot collide
  }

  test("curate_contam: permille share hand-checked, total contamination scores 1000") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 10 tokens → 3 distinct 8-grams, ALL in the benchmark: 1000 permille
    val total = bench
    // 2 leading fresh tokens then the benchmark's first 8: 3 shingles,
    // exactly 1 contaminated → 333 permille, under the 10% flag? no: over
    val partial = "XX YY " + bench.split(" ").take(8).mkString(" ")
    val clean = "one two three four five six seven eight nine ten"
    val short6 = "alpha beta gamma delta epsilon zeta"
    val tmp = miniCorpus(Seq(
      (0L, bench, "en", "src0", bench.length.toLong), // benchmark slice
      (1L, total, "en", "src0", total.length.toLong),
      (2L, partial, "en", "src0", partial.length.toLong),
      (3L, clean, "en", "src0", clean.length.toLong),
      (4L, short6, "en", "src0", short6.length.toLong)))
    val rows = Curation.curateContam(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(!rows.contains(0L), "the benchmark doc is not a training row")
    assert(rows(1L) == ((3L, 3L, 1000L, true)), s"full copy: ${rows(1L)}")
    assert(rows(2L) == ((3L, 1L, 333L, true)), s"1-of-3 shingles: ${rows(2L)}")
    assert(rows(3L) == ((3L, 0L, 0L, false)))
    assert(rows(4L) == ((0L, 0L, 0L, false)), "sub-width doc audits as clean")
  }

  test("text_pii: plants are counted and scrubbed, clean docs untouched") {
    val out = TextOps.textPii(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.nonEmpty)
    out.foreach { case (id, emails, phones, _) =>
      if (id % 10 == 0) assert(emails == 1 && phones == 0, s"doc $id")
      else if (id % 10 == 5) assert(emails == 0 && phones == 1, s"doc $id")
      else assert(emails == 0 && phones == 0, s"doc $id")
    }
    // scrubbing really removes the planted tokens: a clean doc's md5 equals
    // md5(text) (scrub is identity), a planted doc's differs from the
    // planted form but no longer matches the email/phone regexes
    import org.apache.spark.sql.functions._
    val docs = graft.ops.table(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, _, _, m) =>
      if (id % 10 != 0 && id % 10 != 5) assert(m == docs(id))
      else assert(m != docs(id)) // "<EMAIL>"/"<PHONE>" marker appended
    }
  }

  test("text_rep: hand-checked bigram repetition on a planted template doc") {
    val tmp = miniCorpus(Seq(
      // bigrams: "a b" x3, "b a" x2 -> n=5, top=3, ratio 0.6
      (1L, "a b a b a b", "en", "src0", 11L),
      (2L, "u v w x y", "en", "src0", 9L), // all bigrams distinct
      (3L, "solo", "en", "src0", 4L))) // <2 tokens: excluded
    val rows = TextOps.textRep(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows(1L) == ((5L, 3L, 0.6)))
    assert(rows(2L) == ((4L, 1L, 0.25)))
    assert(!rows.contains(3L))
  }

  test("agg_stats: exact-moment results agree with Spark's builtin aggregates") {
    import org.apache.spark.sql.functions._
    val ours = Relational.aggStats(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val ref = graft.ops.table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(avg("l_quantity").as("m"), var_samp("l_quantity").as("v"),
        stddev_samp("l_quantity").as("s"),
        corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(ours.keySet == ref.keySet && ours.nonEmpty)
    // aggStats rounds to 6 dp (cross-engine ulp absorption), so allow the
    // half-step 5e-7 absolute plus float-path slack relative to the builtin
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    ours.foreach { case (k, r) =>
      assert(close(r.getDouble(2), ref(k).getDouble(1)), s"mean $k")
      assert(close(r.getDouble(3), ref(k).getDouble(2)), s"var $k")
      assert(close(r.getDouble(4), ref(k).getDouble(3)), s"std $k")
      assert(close(r.getDouble(5), ref(k).getDouble(4)), s"corr $k")
    }
  }

  test("pack_seq: packs tile each shard's token stream exactly, no gaps or overlaps") {
    // re-derive the packing sequentially per shard: every document must
    // start in the pack its running offset implies, span exactly the packs
    // its token range covers, and leave the running offset where the next
    // document picks up — i.e. the concat-and-chunk semantics hold shard by
    // shard regardless of how Spark partitioned the window
    val rows = Curation.packSequences(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (shard, docs) =>
      var running = 0L
      docs.sortBy(_._1).foreach { case (docId, _, nTok, packFirst, nSpan) =>
        assert(packFirst == running / 256,
          s"doc $docId in shard $shard starts in pack $packFirst, offset says ${running / 256}")
        assert(nSpan == (running + nTok - 1) / 256 - running / 256 + 1,
          s"doc $docId span mismatch")
        assert(nSpan >= 1)
        running += nTok
      }
    }
  }

  test("split_hash: splits are exhaustive, disjoint, and growth-stable") {
    // the aggregate must account for every document exactly once
    val total = Curation.splitHash(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("docs")).head().getLong(0)
    assert(total == table(spark, dir, "documents").count(),
      "split assignment lost or double-counted documents")
    // growth stability: the split of a document is a pure function of its
    // id — recomputing on a SUBSET must give every surviving doc the same
    // split (rand()-based splitting fails exactly this)
    import org.apache.spark.sql.functions._
    val h = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit("#split"))), 1, 8), 16, 10).cast("long") % 1000L
    val full = table(spark, dir, "documents").select(col("doc_id"), h.as("b"))
    val sub = table(spark, dir, "documents").filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), h.as("b"))
    val joined = full.as("f").join(sub.as("s"), "doc_id")
      .filter(col("f.b") =!= col("s.b")).count()
    assert(joined == 0L, "hash split unstable under corpus change")
  }

  test("winsorize: bounds are data values, clip counts honest, sum bounded") {
    import org.apache.spark.sql.functions._
    val rows = Curation.winsorize(spark, dir).collect()
    assert(rows.nonEmpty)
    val raw = table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    rows.foreach { r =>
      val (flag, n, nLo, nHi, lo, hi, sumW) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))
      val vs = raw(flag)
      assert(n == vs.length)
      // discrete quantiles ARE elements of the group
      assert(vs.contains(lo) && vs.contains(hi), s"$flag bounds not data values")
      // clip counts match the bounds' definition exactly
      assert(nLo == vs.count(_ < lo) && nHi == vs.count(_ > hi),
        s"$flag clip counts wrong")
      // ~5% in each tail (discrete quantile: at most p*n strictly below)
      assert(nLo <= math.ceil(0.05 * n) && nHi <= math.ceil(0.05 * n),
        s"$flag tails too fat: $nLo / $nHi of $n")
      // winsorized sum equals the brute-force clamp
      val brute = BigDecimal(vs.map(v => math.min(math.max(v, lo), hi)
        ).map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP))
        .sum.toString).toDouble
      assert(math.abs(brute - sumW) < 1e-6, s"$flag sum $sumW != brute $brute")
    }
  }

  test("mix_temperature: sqrt-temperature weights flatten the source mix") {
    val rows = Curation.mixTemperature(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, w, pm) =>
      assert(w == math.floor(math.sqrt(n.toDouble)).toLong,
        s"$src weight $w != floor(sqrt($n))")
      assert(pm >= 0 && pm <= 1000, s"$src share_pm $pm out of range")
    }
    // permille shares sum to ~1000 (floor division loses < |sources|)
    val pmSum = rows.map(_._4).sum
    assert(pmSum > 1000 - rows.length && pmSum <= 1000,
      s"share_pm sum $pmSum outside (${1000 - rows.length}, 1000]")
    // temperature flattens: max/min weight ratio strictly below the raw
    // count ratio whenever the corpus is actually imbalanced
    val ns = rows.map(_._2); val ws = rows.map(_._3)
    if (ns.max > ns.min)
      assert(ws.max.toDouble / ws.min < ns.max.toDouble / ns.min,
        "sqrt weights must compress the spread")
  }

  test("curate_gate: cells partition the corpus, labels from the fixed vocabulary") {
    import org.apache.spark.sql.functions._
    val rows = Curation.curateGate(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).sum ==
      graft.ops.table(spark, dir, "documents").count(),
      "reason cells must partition the corpus")
    val legal = Set("too_short", "low_stopword", "long_tokens")
    rows.foreach { case (reasons, n, chars) =>
      assert(n > 0 && chars > 0)
      if (reasons != "pass")
        reasons.split("\\+").foreach(r =>
          assert(legal(r), s"unknown reason label '$r'"))
    }
    assert(rows.exists(_._1 == "pass"), "gate must pass something")
    assert(rows.exists(_._1 != "pass"), "gate must reject something")
  }

  test("sample_upsample: factors hit targets, the largest source is untouched") {
    val rows = Curation.sampleUpsample(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val maxN = rows.map(_._2).max
    rows.foreach { case (src, n, fPm, copies, achieved) =>
      assert(fPm == maxN * 1000 / n, s"$src factor wrong")
      assert(copies >= n, s"$src upsampling must never shrink: $copies < $n")
      // whole part is exact; the hash-gated fractional part is within
      // one per-doc unit of target in permille terms
      assert(math.abs(achieved - fPm) <= math.max(50L, 2000L / n),
        s"$src achieved $achieved vs target $fPm")
      if (n == maxN)
        assert(fPm == 1000L && copies == n, s"largest source must be 1x: $src")
    }
  }

  test("abc_class: cumulative cuts respected, classes ordered by revenue") {
    val rows = Relational.abcClass(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    val tot = rows.map(_._2).sum
    def mass(c: String) = rows.filter(_._4 == c).map(_._2).sum
    assert(mass("A") * 1000 <= tot * 800, "A mass exceeds the 80% cut")
    assert((mass("A") + mass("B")) * 1000 <= tot * 950, "A+B exceeds 95%")
    assert(rows.count(_._4 == "A") > 0 && rows.count(_._4 == "C") > 0)
    // every A supplier out-earns every B, every B out-earns every C
    val minA = rows.filter(_._4 == "A").map(_._2).min
    val bs = rows.filter(_._4 == "B").map(_._2)
    val maxB = if (bs.nonEmpty) bs.max else Long.MinValue
    val maxC = rows.filter(_._4 == "C").map(_._2).max
    assert(minA >= maxB && (bs.isEmpty || bs.min >= maxC),
      "class revenue ordering violated")
  }

  test("shard_balance: serpentine LPT keeps shard token mass within 5% of mean") {
    import org.apache.spark.sql.functions._
    val rows = Curation.shardBalance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 8, s"expected 8 shards, got ${rows.length}")
    val total = rows.map(_._3).sum
    val docs = table(spark, dir, "documents").count()
    assert(rows.map(_._2).sum == docs, "shards must partition the corpus")
    val mean = total.toDouble / rows.length
    rows.foreach { case (sh, _, sum) =>
      assert(math.abs(sum - mean) <= mean * 0.05,
        s"shard $sh mass $sum strays >5% from mean $mean")
    }
  }
}
