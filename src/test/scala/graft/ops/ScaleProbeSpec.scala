package graft.ops
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** 10x scale probe: replicate the sf0.1 corpus 10x with distinct doc_ids
  * and run the minhash pipeline. The replication makes every cross-replica
  * pair an exact duplicate — the dup-heavy adversarial corpus (5000 docs x
  * C(10,2) = 225k cross-copy candidate pairs vs 274 at 1x) — so this is
  * the banding's stress case, not just a bigger input: the LSH join must
  * absorb a 800x candidate blowup without an all-pairs stage. Asserts
  * correctness properties only (counts), logs the timing ratio (measured:
  * 10x data -> ~2x minhash wall clock on local[32]; the cluster loop scales
  * with the edge count, ~6x at 800x edges). */
class ScaleProbeSpec extends SparkSpec {
  test("probe: dedup_minhash at 1x vs 10x documents") {
    val dir = "/root/testdata/sf0.1"
    val docs = table(spark, dir, "documents")
    val n = docs.count()
    val out = tempDir("scale10")
    (0 until 10).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    // warm
    DedupOps.dedupMinhash(spark, dir).count()
    val (c1, t1) = time(DedupOps.dedupMinhash(spark, dir).count())
    val (c10, t10) = time(DedupOps.dedupMinhash(spark, out).count())
    info(f"1x: $n docs, $c1 pairs, $t1%.2fs; 10x: ${n * 10} docs, $c10 pairs, $t10%.2fs, ratio ${t10 / t1}%.1fx")
    val (cc1, tc1) = time(Extended.dedupClusters(spark, dir).count())
    val (cc10, tc10) = time(Extended.dedupClusters(spark, out).count())
    info(f"clusters 1x: $cc1 rows $tc1%.2fs; 10x: $cc10 rows $tc10%.2fs, ratio ${tc10 / tc1}%.1fx")
    assert(c10 >= c1 * 10) // every replica contributes its pair set

    // inverted index under 10x: the vocab is FIXED (replicas add documents,
    // not tokens), so rows stay at vocab size while every posting list
    // grows 10x — the stopword-postings regime the invidx scaladoc warns
    // about, in miniature. The build must stay hash-aggregated (no sort of
    // the exploded token stream) and wall clock must scale with the
    // posting volume, not quadratically.
    val (v1, ti1) = time(TextOps.invIndex(spark, dir).count())
    val (v10, ti10) = time(TextOps.invIndex(spark, out).count())
    info(f"invidx 1x: $v1 tokens $ti1%.2fs; 10x: $v10 tokens $ti10%.2fs, ratio ${ti10 / ti1}%.1fx")
    assert(v10 == v1, "replication must not invent vocabulary")
  }

  test("probe: sequential CUSUM at 10k vs 100k events — closed-form onsets, near-linear cost") {
    // sustained 2x level shift after the 64-event training prefix: the
    // detector must fire EXACTLY once per type (onset-only semantics), at
    // the 13th shifted event (sp grows Sref/2 per step, h = 6*Sref), no
    // matter how long the series runs — the flood-control property AT
    // scale, plus the cost stays window-linear.
    def series(n: Int, types: Int) =
      spark.range(n.toLong * types).select(
        concat(lit("t"), col("id") % types).as("event_type"),
        col("id").as("event_id"),
        timestamp_millis(lit(1700000000000L) + expr(s"id div $types") * 1000L)
          .as("ts"),
        when(expr(s"id div $types") < 64, 100.0).otherwise(200.0).as("value"))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    graft.streaming.StreamAssembly.cusumAgg(series(1000, 4)).count() // warm
    val (r1, t1) = time(
      graft.streaming.StreamAssembly.cusumAgg(series(10000, 4)).collect())
    val (r10, t10) = time(
      graft.streaming.StreamAssembly.cusumAgg(series(100000, 4)).collect())
    info(f"cusum 40k rows: $t1%.2fs; 400k rows: $t10%.2fs, ratio ${t10 / t1}%.1fx")
    Seq(r1, r10).foreach { rows =>
      assert(rows.length == 4, s"one onset per type, ever: ${rows.length}")
      rows.foreach { r =>
        val k = r.getString(0).drop(1).toLong
        assert(r.getLong(1) == 76L * 4 + k, s"onset at the 13th shifted event: $r")
        assert(r.getString(2) == "up" && r.getLong(3) == 83L, s"$r")
      }
    }
  }

  test("probe: random walks on a 200k-vertex ring — closed-form walks at 10x vertices") {
    import spark.implicits._
    def ring(v: Long) =
      spark.range(v).select(col("id").as("a"), ((col("id") + 1) % v).as("b"))
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def simulate(start: Long, v: Long): String = {
      var cur = start
      val sb = new StringBuilder(start.toString)
      for (t <- 1 to GraphOps.walkSteps) {
        val ns = Seq((cur - 1 + v) % v, (cur + 1) % v).sorted
        val r = (((cur * 1000003L + t * 7919L + 12345L) % 1000000007L)
          % ns.size).toInt
        cur = ns(r)
        sb.append('-').append(cur)
      }
      sb.toString
    }
    GraphOps.walksOf(ring(1000), GraphOps.walkSteps).count() // warm
    val (c1, t1) = time(GraphOps.walksOf(ring(20000), GraphOps.walkSteps).count())
    val (c10, t10) = time(GraphOps.walksOf(ring(200000), GraphOps.walkSteps).count())
    info(f"walks 20k: $t1%.2fs; 200k: $t10%.2fs, ratio ${t10 / t1}%.1fx")
    assert(c1 == 20000L && c10 == 200000L, "one walk per vertex at both scales")
    // spot-check hash determinism against the independent ring simulation
    val v = 200000L
    val sample = GraphOps.walksOf(ring(v), GraphOps.walkSteps)
      .filter(col("start").isin(0L, 99999L, 199999L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    sample.foreach { case (s, w) =>
      assert(w == simulate(s, v), s"walk from $s: $w vs ${simulate(s, v)}")
    }
  }

  test("probe: exact reach under 10x disjoint user replication multiplies exactly") {
    val dir = "/root/testdata/sf0.1"
    val ev = table(spark, dir, "events").select("user_id", "ts")
    val ev10 = (0 until 10).map(i =>
      ev.withColumn("user_id", col("user_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
    val r1 = graft.streaming.StreamAssembly.reachAgg(ev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r10 = graft.streaming.StreamAssembly.reachAgg(ev10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.nonEmpty && r10.keySet == r1.keySet)
    // disjoint replicas: every hour's exact reach is exactly 10x — the
    // dedup grain neither merges across replicas nor double-counts within
    r1.foreach { case (h, n) =>
      assert(r10(h) == 10L * n, s"hour $h: ${r10(h)} != 10*$n")
    }
  }

  test("probe: join_salt spreads a synthetic hot key at the REDUCER grain") {
    // adversarial skew fixture: one supplier carries HALF the fact rows —
    // the BTCUSDT-half-the-feed shape joinSalted's scaladoc names. The
    // probe measures actual hash-partition row counts (the reducer grain
    // the shuffled-hash join uses), not just plan shape: unsalted, the hot
    // key pins its whole volume in one partition; salted, no partition may
    // hold more than ~1/salts of it.
    val out = tempDir("scale_salt")
    val n = 200000L
    val hotKey = 7L
    val fact = spark.range(n).select(
      col("id").as("l_orderkey"),
      when(col("id") % 2 === 0, hotKey)
        .otherwise(pmod(col("id"), lit(100L))).as("l_suppkey"),
      (col("id") % 1000L).cast("double").as("l_extendedprice"))
    fact.write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    spark.range(100).select(col("id").as("s_suppkey"),
        concat(lit("sup"), format_string("%03d", col("id"))).as("s_name"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // semantics preserved under skew: salted result == plain-join result
    val salted = Relational.joinSalted(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = table(spark, out, "lineitem")
      .join(table(spark, out, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain, "salting changed the join result")
    // reducer-level spread, measured: partition row counts under the two
    // join keys' hash partitioning (32 = the session shuffle parallelism
    // a real run would use; 4 in specs — the ratio argument is identical)
    def maxPart(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(spark_partition_id().as("p")).count()
        .agg(max("count")).head().getLong(0)
    val withSalt = table(spark, out, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(8L)))
    val hotCnt = n / 2
    val unsaltedMax = maxPart(withSalt.repartition(32, col("l_suppkey")))
    val saltedMax = maxPart(withSalt.repartition(32, col("l_suppkey"), col("salt")))
    info(s"hot=$hotCnt rows; max partition unsalted=$unsaltedMax salted=$saltedMax")
    assert(unsaltedMax >= hotCnt, "fixture lost its skew - probe is vacuous")
    // the hot key's 1/8-size salt groups themselves hash into partitions,
    // so a partition can legitimately catch 2-3 of the 8 (balls-in-bins;
    // measured: 2 here → ~31k). The scale claim is that NO partition holds
    // the hot key's full volume any more — bound at half, which any
    // collision profile short of 4-of-8-in-one-bin satisfies.
    assert(saltedMax <= hotCnt / 2,
      s"salted max partition $saltedMax did not spread the hot key")
    assert(saltedMax * 2 <= unsaltedMax,
      s"salting won less than 2x ($unsaltedMax -> $saltedMax)")
  }

  test("probe: candles at 1x vs 10x events — identical candles, 10x volume") {
    // replicating every event 10x (distinct event_ids, same ts/value) must
    // keep the candle SET identical — same windows, same OHLC values (ties
    // in the open/close ordering all carry the same value) — while cnt and
    // volume scale exactly 10x (volume sums in DECIMAL, so 10x is exact,
    // not approximate). Wall clock must scale ~linearly: the aggregate is
    // hash-based with map-side combine over (event_type, window) — a sort
    // anywhere would show super-linear growth here.
    val dir = "/root/testdata/sf0.1"
    val ev = table(spark, dir, "events")
    val out = tempDir("scale10c")
    (0 until 10).map(i => ev.withColumn("event_id", col("event_id") + lit(i * 100000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    TimeWindows.candles(spark, dir).count() // warm
    val (c1, t1) = time(TimeWindows.candles(spark, dir).collect())
    val (c10, t10) = time(TimeWindows.candles(spark, out).collect())
    info(f"candles 1x: ${c1.length} rows $t1%.2fs; 10x: ${c10.length} rows $t10%.2fs, ratio ${t10 / t1}%.1fx")
    assert(c10.length == c1.length, "replication must not invent candles")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1))
    val base = c1.map(r => key(r) -> r).toMap
    c10.foreach { r =>
      val b = base(key(r))
      assert(r.getDouble(2) == b.getDouble(2) && r.getDouble(3) == b.getDouble(3) &&
        r.getDouble(4) == b.getDouble(4) && r.getDouble(5) == b.getDouble(5),
        s"OHLC diverged for ${key(r)}")
      assert(r.getLong(6) == 10 * b.getLong(6), s"cnt not 10x for ${key(r)}")
      // the DECIMAL sum is exactly 10x; the two double CASTS of it may
      // differ in the last ulp, hence relative (not exact) compare
      assert(math.abs(r.getDouble(7) - 10 * b.getDouble(7)) <= 1e-9 * math.abs(r.getDouble(7)),
        s"volume not 10x for ${key(r)}")
    }
  }

  test("probe: join_bloom MEASURABLY prunes the probe side before the shuffle") {
    // the runtime bloom filter's scale claim, measured with the actual
    // shuffle-write metrics rather than asserted from the plan: ~20% of
    // sf0.1 lineitem rows match a >400k order, so the injected
    // might_contain must stop most of the other 80% from ever being
    // shuffled (bloom FPP adds a few percent back). AQE off so the
    // executed plan is a plain walkable tree; child sessions keep the
    // shared spec session's confs untouched.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = "/root/testdata/sf0.1"
    def shuffledProbeRows(bloom: Boolean): Long = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", bloom.toString)
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = table(s, dir, "lineitem")
      val sel = table(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
      val df = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
      df.collect()
      df.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
        .filter(_.collectLeaves().exists {
          case f: FileSourceScanExec => f.toString.contains("lineitem")
          case _ => false
        })
        .map(_.metrics("shuffleRecordsWritten").value).sum
    }
    val pruned = shuffledProbeRows(bloom = true)
    val full = shuffledProbeRows(bloom = false)
    info(s"probe-side shuffled records: bloom=$pruned plain=$full " +
      f"(${100.0 * pruned / full}%.1f%% of the unfiltered shuffle)")
    assert(full >= 500000, s"fixture lost its volume ($full) - probe is vacuous")
    assert(pruned <= full / 2,
      s"bloom filter failed to prune the probe-side shuffle: $pruned vs $full")
  }

  test("probe: streaming candles at 10x — stream output equals the batch plan's") {
    // batch/stream candle parity, measured at the batch probe's scale: the
    // SAME 10x-replicated events flow once through the batch plan and once
    // through the watermarked streaming twin (shared candleAggs
    // expressions), and the emitted candle sets must be IDENTICAL. A
    // far-future sentinel event advances the watermark past every real
    // hour so append mode closes all of them; all files land in one
    // micro-batch (watermark still epoch-0 while data arrives), so nothing
    // is late-dropped and the comparison is exact, not watermark-lucky.
    import spark.implicits._
    val dir = "/root/testdata/sf0.1"
    val ev = table(spark, dir, "events")
      .select("event_id", "ts", "event_type", "value")
    val out = tempDir("scale10s")
    (0 until 10).map(i => ev.withColumn("event_id", col("event_id") + lit(i * 100000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
    val far = new java.sql.Timestamp(maxTs.getTime + 24L * 3600 * 1000)
    Seq((999999999999L, far, "zz", 1.0))
      .toDF("event_id", "ts", "event_type", "value")
      .write.mode("append").parquet(s"$out/events.parquet")
    val schema = spark.read.parquet(s"$out/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$out/events.parquet")
    val t0 = System.nanoTime()
    val q = TimeWindows.candlesStream(stream).writeStream
      .format("memory").queryName("candles_scale10").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val tStream = (System.nanoTime() - t0) / 1e9
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") =!= "zz").collect().map(_.toSeq).toSet
    val streamed = rows(spark.table("candles_scale10"))
    val (batch, tBatch) = {
      val b0 = System.nanoTime()
      val r = rows(TimeWindows.candles(spark, out))
      (r, (System.nanoTime() - b0) / 1e9)
    }
    info(f"10x candles: batch ${batch.size} rows $tBatch%.2fs; stream ${streamed.size} rows $tStream%.2fs")
    assert(streamed.nonEmpty, "no candles emitted - watermark never closed")
    assert(streamed == batch,
      s"stream/batch candle sets diverged: stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("probe: q-sketch state follows the GK bound past the exact regime, estimate inside the rank error") {
    // The production knob agg_q_merge's exact regime trades away: at
    // accuracy=100 over 100k rows (1000x past the exact bound), the
    // serialized summary must follow GK's O((1/ε)·log(εn)) sample bound —
    // sub-linear in data volume, the property that keeps per-group state
    // sketch-sized at 100 TB — and the query must stay inside GK's
    // guaranteed rank error n/accuracy. (Measured here: ~1.6k samples for
    // 100k rows — a 61x state reduction vs the exact buffer.)
    import graft.functions.QuantileSketch
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val n = 100000
    val acc = 100L
    // adversarial order: a (733k mod n) walk, values 0..n-1 exactly once
    val rows = (0 until n).map(i => ((i.toLong * 733) % n).toDouble).toDF("v")
      .repartition(8)
    val sk = rows.agg(QuantileSketch.sketch(col("v"), acc).as("sk"))
      .select(col("sk")).head.getAs[Array[Byte]](0)
    // wire format: 8 (relErr) + 8 (count) + 4 (n) + 24/sample
    val samples = (sk.length - 20) / 24
    // (1/ε)·log2(εn) with 2x slack: 100 · log2(1000) · 2 = 2000
    val bound = 2 * acc * (64 - java.lang.Long.numberOfLeadingZeros(n / acc))
    assert(samples <= bound,
      s"sketch carries $samples samples at accuracy $acc (GK bound $bound)")
    assert(samples * 50 <= n,
      s"sketch state $samples not meaningfully below the $n-row exact buffer")
    val q = rows.agg(QuantileSketch.sketch(col("v"), acc).as("sk"))
      .select(QuantileSketch.values(col("sk"), Seq(0.5, 0.99)).as("q"))
      .head.getSeq[Double](0)
    // values are the permutation of 0..n-1, so value == its rank - 1:
    // |value - p*n| <= n/acc (+1 slack for the rank convention)
    Seq(0.5, 0.99).zip(q).foreach { case (p, v) =>
      assert(math.abs(v - p * n) <= n / acc + 1,
        s"p=$p estimate $v outside the guaranteed rank error ${n / acc}")
    }
  }

  test("probe: centrality on a 500-ring — closed-form symmetric scores at 20x vertices") {
    // a directed n-ring has CLOSED-FORM hop-bounded centralities (σ = 1
    // everywhere): with hops = 4 every vertex reaches exactly 4 others at
    // d = 1..4 (harmonic = 10⁶ + 5·10⁵ + 333333 + 25·10⁴ = 2083333) and
    // brokers exactly Σ_{k=2..4}(k−1) = 6 pair-masses (6·10⁶ ppm). At
    // n = 500 this is 20× the nation-graph vertex count with a pair
    // table bounded by n·hops, so the probe checks BOTH the structure
    // (every vertex identical — any asymmetry is an arithmetic bug) and
    // that cost scales with reachable pairs, never all-pairs.
    import spark.implicits._
    val n = 500L
    val ring = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val (cl, tc) = time(GraphOps.closenessOf(ring, GraphOps.betwHops).collect())
    assert(cl.length == n)
    assert(cl.forall(r => r.getLong(1) == 4L && r.getLong(2) == 2083333L),
      s"ring closeness must be uniform: ${cl.take(3).mkString(";")}")
    val (bt, tb) = time(GraphOps.betweennessOf(ring, GraphOps.betwHops).collect())
    assert(bt.length == n)
    assert(bt.forall(_.getLong(1) == 6000000L),
      s"ring betweenness must be uniform 6e6 ppm: ${bt.take(3).mkString(";")}")
    info(f"500-ring: closeness $tc%.2fs, betweenness $tb%.2fs")
  }

  test("probe: kmeans at 1x vs 10x embeddings — replication-invariant centroids") {
    // replicating every vector 10x (seeds stay replica-0's vec_id < 8)
    // multiplies each cluster's quantized element sums AND its count by
    // exactly 10, so the means — and therefore the pass-2 centroids and
    // every assignment — must be BIT-IDENTICAL to the 1x run. This is the
    // partition-order-independence argument made measurable: a bigger
    // corpus changes the work, not the geometry. Wall clock must scale
    // ~linearly (broadcast assign + K*dims-cell aggregate, no pairwise
    // stage).
    val dir = "/root/testdata/sf0.1"
    val emb = table(spark, dir, "embeddings")
    val out = tempDir("scale10v")
    (0 until 10).map(i => emb.withColumn("vec_id", col("vec_id") + lit(i * 1000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    VectorOps.simKmeans(spark, dir).count() // warm
    val (r1, t1) = time(VectorOps.simKmeans(spark, dir).collect())
    val (r10, t10) = time(VectorOps.simKmeans(spark, out).collect())
    info(f"kmeans 1x: ${r1.length} rows $t1%.2fs; 10x: ${r10.length} rows $t10%.2fs, ratio ${t10 / t1}%.1fx")
    assert(r10.length == r1.length * 10)
    val base = r1.map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    r10.foreach { r =>
      val orig = r.getLong(0) % 1000000L
      assert(base(orig) == ((r.getLong(1), r.getDouble(2))),
        s"replica of vec $orig diverged: ${base(orig)} vs (${r.getLong(1)}, ${r.getDouble(2)})")
    }
  }
}
