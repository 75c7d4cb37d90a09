package graft.ops

import graft.SparkSpec

/** Specs for the LLM-data-pipeline operators: multimodal decode plumbing and
  * cross-method dedup consistency on the sf0.001 corpus. */
class LlmOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("mm_imgdup: banded candidates equal brute-force Hamming pairs; bands are lossless") {
    val d = "/root/testdata/sf0.01"
    val hs = Multimodal.mmImageHashes(spark, d).collect()
    assert(hs.length > 100)
    def ham(a: Multimodal.AHashRow, b: Multimodal.AHashRow): Int =
      java.lang.Long.bitCount(a.hash_hi ^ b.hash_hi) +
        java.lang.Long.bitCount(a.hash_lo ^ b.hash_lo)
    // brute force over the collected fingerprints (cheap at spec scale;
    // the production path never does this — that is what the bands prove)
    val brute = (for {
      i <- hs.indices; j <- (i + 1) until hs.length
      if ham(hs(i), hs(j)) <= 3
    } yield {
      val (x, y) = (hs(i).media_id, hs(j).media_id)
      (math.min(x, y), math.max(x, y))
    }).toSet
    val banded = Multimodal.imageNearDupPairs(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banding lost or invented pairs: banded=${banded.size} brute=${brute.size}")
    // fingerprints must discriminate: not all equal, not all distinct bits
    assert(hs.map(h => (h.hash_hi, h.hash_lo)).distinct.length > 1)
  }

  test("multimodal: binary payload plumbing + batched partition-local decode") {
    val media = Multimodal.mediaFromDocuments(spark, dir)
    val decoded = Multimodal.decodeAll(media, batchSize = 7).collect()
    assert(decoded.length == media.count())
    // deterministic: same payload -> same features
    val again = Multimodal.decodeAll(Multimodal.mediaFromDocuments(spark, dir)).collect()
    assert(decoded.sortBy(_.media_id).toSeq == again.sortBy(_.media_id).toSeq)
    assert(decoded.forall(_.n_bytes > 0))
    // the decoder sniffs the container, never the kind tag: every kind is
    // recovered from magic bytes and agrees with the id-mod-3 assignment
    assert(decoded.forall(d => d.kind == ((d.media_id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video" })))
    // images: parsed PPM header dims within the synthesis ranges, 1 frame
    val imgs = decoded.filter(_.kind == "image")
    assert(imgs.nonEmpty && imgs.forall(d =>
      d.width >= 4 && d.width <= 19 && d.height >= 3 && d.height <= 14 &&
        d.n_frames == 1 && d.sample_rate == 0 && d.n_samples == 0))
    // audio: RIFF chunk walk recovers rate and sample count
    val auds = decoded.filter(_.kind == "audio")
    assert(auds.nonEmpty && auds.forall(d =>
      d.sample_rate == 8000 && d.n_samples >= 50 && d.n_samples <= 549 &&
        d.width == 0 && d.height == 0))
    // video: frame markers counted, dims from the stream header
    val vids = decoded.filter(_.kind == "video")
    assert(vids.nonEmpty && vids.forall(d =>
      d.n_frames >= 2 && d.n_frames <= 9 && d.width >= 4 && d.width <= 11))
    // container sizes are exactly header + content (no trailing slack)
    assert(imgs.forall(d =>
      d.n_bytes == 9 + d.width.toString.length + d.height.toString.length
        + 3L * d.width * d.height))
    assert(auds.forall(d => d.n_bytes == 44 + 2L * d.n_samples))
    assert(vids.forall(d =>
      d.n_bytes == 33 + d.width.toString.length + d.height.toString.length
        + d.n_frames * (6L + 3L * d.width * d.height)))
  }

  test("multimodal codec: encode/decode round-trips hand-built containers") {
    import Multimodal.{Codec, MediaRow}
    // PPM: exact header parse incl. multi-digit dims
    val px = Array.tabulate[Byte](12 * 5 * 3)(i => (i % 251).toByte)
    val ppm = Codec.decode(MediaRow(1L, "image", Codec.encodePpm(12, 5, px), "t"))
    assert(ppm.width == 12 && ppm.height == 5 && ppm.n_frames == 1)
    // WAV: canonical header, data size recovers the sample count
    val pcm = Array.tabulate[Byte](2 * 123)(i => (i * 7 % 256).toByte)
    val wav = Codec.decode(MediaRow(2L, "audio", Codec.encodeWav(44100, pcm), "t"))
    assert(wav.sample_rate == 44100 && wav.n_samples == 123)
    // Y4M: frame markers counted, not derived from metadata
    val frames = Array.tabulate[Byte](3 * 4 * 2 * 3)(i => (i % 17).toByte)
    val y4m = Codec.decode(MediaRow(3L, "video", Codec.encodeY4m(4, 2, 3, frames), "t"))
    assert(y4m.width == 4 && y4m.height == 2 && y4m.n_frames == 3)
    // corrupting the WAV data-chunk length surfaces as a different decode
    val wavBytes = Codec.encodeWav(8000, pcm)
    wavBytes(40) = (wavBytes(40) - 2).toByte // shrink data size by 2
    val short = Codec.decode(MediaRow(4L, "audio", wavBytes, "t"))
    assert(short.n_samples == 122)
    // sample-value decode: signed little-endian int16, including negatives
    // (the synthesized ASCII corpus only yields positive samples, so the
    // sign extension path needs hand-built bytes)
    val vals = Array[Int](0, 1, -1, 32767, -32768, 256, -257)
    val data = vals.flatMap(v => Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    assert(Codec.wavSamples(Codec.encodeWav(8000, data)).toSeq == vals.toSeq)
  }

  test("dedup methods agree on high-similarity pairs") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jacDf = DedupOps.dedupNgramJaccard(spark, dir)
    val jacHigh = pairs(jacDf.filter(org.apache.spark.sql.functions.col("jaccard") >= 0.9))
    val mh = pairs(DedupOps.dedupMinhash(spark, dir))
    val sh = pairs(DedupOps.dedupSimhash(spark, dir))
    assert(jacHigh.nonEmpty)           // the corpus has planted near-dups
    // MinHash 4x2 bands: per-pair hit rate 1-(1-J^2)^4 ≈ 99.98% at J=0.9.
    assert(jacHigh.subsetOf(mh))
    // SimHash is noisier on short docs (few shingles -> high-variance bits):
    // observed hamming 0-5 on J~0.97 pairs, so hamming<=3 recovers most but
    // not all — assert majority recall, which is the method's contract.
    val recall = jacHigh.count(sh.contains).toDouble / jacHigh.size
    assert(recall >= 0.6, s"simhash recall $recall")
  }

  test("vec_pca: a collapsed space scores lambda1_share ~1 on its dominant axis") {
    import spark.implicits._
    // 200 vectors concentrated on axis 7 (1-based): +-1 there, tiny
    // deterministic jitter elsewhere — the representation-degeneration
    // shape the audit exists to flag
    val rows = (0 until 200).map { i =>
      val e = Array.tabulate(64) { d =>
        if (d == 6) (if (i % 2 == 0) 1.0f else -1.0f)
        else ((i * 13 + d * 7) % 11 - 5) / 1000.0f
      }
      (i.toLong, e, i % 4)
    }
    val dir = tempDir("pca_spec")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = VectorOps.vecPca(spark, dir).collect().head
    assert(r.getLong(0) == 200L && r.getInt(1) == 64)
    assert(r.getInt(3) == 7, s"dominant axis must be 7: $r")
    assert(r.getDouble(2) > 0.95,
      s"a collapsed space concentrates ~all variance on one axis: $r")
    // repeat run is bit-identical (quantized sums + literal injection,
    // no RNG, no partition-order dependence)
    assert(VectorOps.vecPca(spark, dir).collect().head == r)
  }

  test("vec_drift: planted centroid shift and anisotropy read out exactly") {
    import spark.implicits._
    // label 0: old (even vec_id) = unit on axis 1; new (odd) = same plus
    // 0.3 on axis 2 — a pure planted centroid shift, zero within-version
    // variance (degenerate strata report NULL shares)
    // label 1: +-1 on axis 5 alternating within BOTH versions — centroids
    // cancel (shift 0) while all variance sits on one axis (share ~1,
    // identical across versions so delta is exactly 0)
    val rows =
      (0 until 40).map { i =>
        val e = Array.tabulate(64) { d =>
          if (d == 0) 1.0f
          else if (d == 1 && i % 2 == 1) 0.3f
          else 0.0f
        }
        (i.toLong, e, 0)
      } ++ (0 until 40).map { i =>
        val e = Array.tabulate(64) { d =>
          if (d == 4) (if ((i / 2) % 2 == 0) 1.0f else -1.0f) else 0.0f
        }
        ((40 + i).toLong, e, 1)
      }
    val dir = tempDir("vdrift_spec")
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = VectorOps.vecDrift(spark, dir).collect()
    assert(got.length == 2)
    val l0 = got(0)
    assert(l0.getInt(0) == 0 && l0.getLong(1) == 20L && l0.getLong(2) == 20L)
    assert(l0.getDouble(3) == 0.3, s"planted shift must read 0.3: $l0")
    assert(l0.isNullAt(4) && l0.isNullAt(5) && l0.isNullAt(6),
      s"zero-variance strata must report NULL shares: $l0")
    val l1 = got(1)
    assert(l1.getInt(0) == 1 && l1.getDouble(3) == 0.0,
      s"cancelling +-1 centroids must shift 0: $l1")
    assert(math.abs(l1.getDouble(4) - 1.0) < 0.01 &&
      math.abs(l1.getDouble(5) - 1.0) < 0.01,
      s"single-axis strata concentrate ~all variance: $l1")
    assert(l1.getDouble(6) == 0.0,
      s"identical versions must delta exactly 0: $l1")
    // repeat run is bit-identical (quantized integer sums, no RNG)
    assert(VectorOps.vecDrift(spark, dir).collect().toSeq == got.toSeq)
  }

  test("vector ops: top-k is self-consistent and bounded") {
    val topk = VectorOps.simTopk(spark, dir).collect()
    assert(topk.nonEmpty)
    val byQuery = topk.groupBy(_.getLong(0))
    assert(byQuery.forall(_._2.length <= 10))
    byQuery.values.foreach { rows =>
      val scores = rows.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(scores == scores.sorted.reverse)  // descending by rank
    }
  }

  test("sim_ann_topk: LSH-banded ANN recalls >= 0.9 of the exact top-10") {
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(VectorOps.simTopk(spark, dir))
    val ann = hits(VectorOps.simAnnTopk(spark, dir))
    assert(exact.nonEmpty)
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.9, s"ANN recall $recall vs exact top-10")
  }

  test("sim_mips: augmented-LSH MIPS recalls the brute-force inner-product top-10") {
    import org.apache.spark.sql.functions._
    val emb = table(spark, dir, "embeddings")
    // brute-force MIPS baseline: score = (1 + id % 5) * dot(q, e)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val brute = emb.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        ((col("vec_id") % 5 + lit(1)).cast("double") *
          VectorOps.dot(col("qv"), col("embedding"))).as("ip"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("ip").desc, col("vec_id"))))
      .filter(col("rk") <= 10)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(brute)
    val mips = hits(VectorOps.simMips(spark, dir))
    assert(exact.nonEmpty)
    // the MIPS top-10 tail is the hard regime: a high-magnitude item can
    // rank on norm with weak ALIGNMENT, so its augmented cosine (q.x / M)
    // is small and shallow probes miss it — same probe-depth tradeoff the
    // sim_ann_topk knob test measures. Deep probing holds 0.9; the
    // registered default must stay a usable 0.7+ and never beat deeper.
    val r42 = exact.count(mips.contains).toDouble / exact.size
    val mips81 = hits(VectorOps.simMips(spark, dir, bands = 8, bitsPerBand = 1))
    val r81 = exact.count(mips81.contains).toDouble / exact.size
    info(s"MIPS recalls: 4x2=$r42 8x1=$r81")
    assert(r81 >= 0.9, s"deep-probe MIPS recall $r81 vs brute-force top-10")
    assert(r42 >= 0.7 && r81 >= r42, s"probe-depth ordering broken: $r42 / $r81")
    // magnitude must actually matter: the MIPS top-10 differs from the
    // plain cosine top-10 (else the augmentation proved nothing)
    val cosine = hits(VectorOps.simTopk(spark, dir))
    assert(mips != cosine,
      "MIPS results identical to cosine - magnitudes did not reorder")
  }

  test("ANN probe-depth knob: recall >= 0.9 at sf0.1, deeper probes recall more") {
    val big = "/root/testdata/sf0.1" // 5000 vectors — the scale the driver benches
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(VectorOps.simTopk(spark, big))
    assert(exact.nonEmpty)
    def recall(bands: Int, bits: Int) = {
      val ann = hits(VectorOps.simAnnTopk(spark, big, bands, bits))
      exact.count(ann.contains).toDouble / exact.size
    }
    // The tradeoff the knob exposes (measured: 8x1=0.98, 8x2=0.86, 4x2=0.76,
    // 2x4=0.12): sf0.1's exact top-10 tail has weak cosines (~0.6 bit-
    // agreement), so holding 0.9 recall against it needs deep probing —
    // 8 bands of 1 bit probes any sign-agreeing pair. The shallow defaults
    // are the near-dup regime (p >= 0.9 agreement, the 100 TB dedup use
    // case), where the sf0.001 planted-pair test holds >= 0.9 above.
    val r42 = recall(4, 2)
    val r82 = recall(8, 2)
    val r81 = recall(8, 1)
    val r24 = recall(2, 4)
    info(s"recalls at sf0.1: 8x1=$r81 8x2=$r82 4x2=$r42 2x4=$r24")
    assert(r81 >= 0.9, s"deepest probe must hold 0.9 at sf0.1, got $r81")
    // nested candidate pools give deterministic monotonicity: a 4-bit band
    // match implies its 2-bit halves match implies single bits match
    // (2x4 within 4x2 within 8x1), and 8x2's first 4 bands are 4x2's bands
    assert(r24 <= r42 && r42 <= r81, s"low-8-bit ordering violated: $r24 $r42 $r81")
    assert(r42 <= r82, s"wider signature must not lose candidates: $r42 vs $r82")
  }

  test("dedup_vec: keep-list is consistent with banded cosine pairs") {
    import org.apache.spark.sql.functions.col
    val rows = VectorOps.dedupEmbedding(spark, dir).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(2)))
    // full coverage: one row per corpus vector
    assert(rows.length == table(spark, dir, "embeddings").count())
    // keep == no smaller near-dup; dup_of always points at a smaller id
    rows.foreach { case (id, dupOf, keep) =>
      assert(keep == dupOf.isEmpty)
      dupOf.foreach(d => assert(d < id, s"dup_of $d not smaller than $id"))
    }
    // threshold 0.4 on this corpus must mark some vectors as near-dups while
    // keeping the majority (the space has no planted twins, max cos ~ 0.51)
    val dups = rows.count(!_._3)
    assert(dups > 0 && dups < rows.length / 2, s"$dups dups of ${rows.length}")
    // every flagged dup must really have cosine >= 0.4 with its dup_of target
    val emb = table(spark, dir, "embeddings").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    rows.foreach { case (id, dupOf, _) =>
      dupOf.foreach { d =>
        val c = math.floor(cos(emb(id), emb(d)) * 1e5 + 0.5) / 1e5
        assert(c >= 0.4, s"pair ($d,$id) kept with cosine $c < 0.4")
      }
    }
  }

  test("sim_ivf: probing all cells equals exact; recall grows with nprobe") {
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(VectorOps.simTopk(spark, dir))
    assert(exact.nonEmpty)
    // the corpus has 10 cells: nprobe=10 searches everything, so the IVF
    // result must EQUAL the exact brute-force top-10 (same scores, same
    // deterministic tiebreaks)
    val full = hits(VectorOps.simIvfTopk(spark, dir, nprobe = 10))
    assert(full == exact, "full-probe IVF must reduce to the exact search")
    // fewer probes search fewer cells: recall is monotone in nprobe
    // (candidate pools are nested by the deterministic probe ranking)
    def recall(np: Int) = {
      val h = hits(VectorOps.simIvfTopk(spark, dir, nprobe = np))
      exact.count(h.contains).toDouble / exact.size
    }
    val r1 = recall(1); val r3 = recall(3)
    info(s"IVF recall: nprobe=1 $r1, nprobe=3 $r3, nprobe=10 1.0")
    assert(r1 <= r3 + 1e-9 && r3 <= 1.0)
    assert(r3 > 0, "probing 3 of 10 cells must recover some of the top-10")
  }

  test("vec_q8: reconstruction error bounded by scale/2, full coverage") {
    val rows = VectorOps.vecQuantize(spark, dir).collect()
    assert(rows.length == table(spark, dir, "embeddings").count())
    rows.foreach { r =>
      val scale = r.getDouble(2)
      val maxErr = r.getDouble(4)
      // max-abs scaling: every reconstructed component is within half a
      // quantization step (the round-half-up guarantee); scale > 0 because
      // the corpus vectors are unit-norm (never all-zero)
      assert(scale > 0, s"vec ${r.getLong(0)} has zero scale")
      // 1e-6 covers the 6-decimal reporting rounding of both columns
      // (max_err can round up while scale rounds down)
      assert(maxErr <= scale / 2 + 1e-6,
        s"vec ${r.getLong(0)}: err $maxErr exceeds ${scale / 2}")
    }
  }

  test("dedup_clusters: components are consistent with the verified pairs") {
    import org.apache.spark.sql.functions.col
    val pairs = Extended.dedupVerifyEditdist(spark, dir)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Extended.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // every verified pair lands in one cluster
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) split across clusters")
    }
    // cluster_id is the member minimum; exactly that member is kept
    clusters.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
      assert(members.collect { case (id, (_, true)) => id }.toSeq == Seq(cid))
    }
    // docs in no pair keep themselves
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.filterNot(c => paired(c._1)).foreach { case (id, (cid, keep)) =>
      assert(cid == id && keep)
    }
  }

  test("clusterLabels: pointer doubling converges in O(log diameter) rounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a 128-node path graph has diameter 127: linear propagation would need
    // ~127 rounds; doubling must land it well inside 15
    val n = 128L
    val fwd = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val labels = Extended.clusterLabels(edges, maxRounds = 15).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n && labels.values.forall(_ == 0L))
    // refusing to return half-propagated labels: 1 round cannot finish the
    // chain, and the loop must throw rather than exit silently
    intercept[IllegalArgumentException] {
      Extended.clusterLabels(edges, maxRounds = 1)
    }
  }

  test("dedup_clusters: label lineage is truncated from the LSH+verify chain") {
    // the final plan must touch parquet exactly once (the documents labeling
    // join); the label side must be materialized blocks (localCheckpoint),
    // not a lazy plan chaining through every propagation round back to the
    // minhash/levenshtein pipeline
    val plan = Extended.dedupClusters(spark, dir).queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllMatchIn(plan).size == 1, s"expected 1 scan:\n$plan")
    assert(!plan.toLowerCase.contains("levenshtein"), "verify stage leaked into the label plan")
    assert(plan.contains("Scan ExistingRDD"), "labels are not checkpoint-backed")
  }

  test("approx_distinct stays in its exact regime (no HLL register collisions)") {
    // agg_approx's oracle is an EXACT count(DISTINCT): valid only
    // while every per-group cardinality is small enough that HLL++ linear
    // counting is collision-free. Assert approx == exact on the corpus the
    // driver checks, so a corpus change surfaces here, not as a silent
    // oracle mismatch.
    import org.apache.spark.sql.functions.{approx_count_distinct, col, count_distinct}
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val bad = table(spark, d, "events")
        .groupBy("user_id")
        .agg(approx_count_distinct(col("event_type")).as("a"),
          count_distinct(col("event_type")).as("e"))
        .filter(col("a") =!= col("e")).count()
      assert(bad == 0, s"HLL register collision in $d breaks the exact oracle")
    }
  }

  test("dedup_incr is consistent with the full-batch minhash pair set") {
    // the incremental split (new batch vs stored index) must find exactly
    // the full run's candidate pairs that involve at least one new doc —
    // incremental processing may not lose or invent duplicates. Mapping:
    // an incremental hit (a=new, b=partner) is the unordered pair
    // (min, max); a full-run pair (a<b) involves a new doc iff either end
    // is % 5 == 0.
    val dir = "/root/testdata/sf0.01"
    val full = DedupOps.dedupMinhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }
      .toSet
    val incrRows = DedupOps.dedupIncremental(spark, dir).collect()
    // recover the pair set by re-deriving each new doc's partners from the
    // full run and checking counts + min; then check coverage both ways
    val byNew = full.toSeq
      .flatMap { case (a, b) =>
        Seq(a, b).filter(_ % 5 == 0).map { n => n -> Seq(a, b).filter(_ != n).head }
      }
      // a both-new pair contributes only to its LATER member (earlier wins)
      .filter { case (n, p) => p % 5 != 0 || p < n }
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
    assert(incrRows.map(_.getLong(0)).toSet == byNew.keySet,
      "incremental run found a different set of dup'd new docs")
    incrRows.foreach { r =>
      val partners = byNew(r.getLong(0))
      assert(r.getLong(1) == partners.size && r.getLong(2) == partners.min,
        s"doc ${r.getLong(0)}: n_dup/dup_of disagree with the full run")
    }
  }

  test("approx_percentile stays in its exact regime (sketch == percentile_disc)") {
    // agg_percentile_approx's oracle is DuckDB's EXACT quantile_disc: valid
    // only while every group's row count n keeps the GK rank error
    // n/accuracy under half a rank, where the sketch returns exactly the
    // element at rank ceil(p*n) — percentile_disc semantics. Assert BOTH
    // halves on the corpora the driver checks: the count headroom, and
    // sketch == exact percentile_disc, so corpus growth surfaces here
    // rather than as a silent oracle mismatch.
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val maxN = table(spark, d, "lineitem")
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .agg(org.apache.spark.sql.functions.max("n")).head.getLong(0)
      assert(maxN < Extended.pctlAccuracy / 2,
        s"group of $maxN rows in $d exceeds the exact-regime bound " +
          s"${Extended.pctlAccuracy / 2} - the quantile_disc oracle is no longer exact")
      val exact = table(spark, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)").as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)").as("p90"))
      val bad = Extended.aggPercentileApprox(spark, d).as("a")
        .join(exact.as("e"), "l_returnflag")
        .filter(col("a.p25") =!= col("e.p25") || col("a.p50") =!= col("e.p50") ||
          col("a.p90") =!= col("e.p90"))
        .count()
      assert(bad == 0, s"approx_percentile left its exact regime in $d")
    }
  }

  test("q-sketch mergeability: union of per-part sketches == one-shot sketch") {
    // The law agg_q_merge rests on: for ANY partitioning of the input,
    // merging the per-part GK summaries answers every percentile exactly
    // like a single summary over the whole input (in the exact regime, both
    // equal the element at rank ceil(p*n)). Checked on a synthetic frame
    // whose values and 7-way split are adversarially shuffled, across a
    // percentile grid that hits integer and fractional ranks.
    import graft.functions.QuantileSketch
    import org.apache.spark.sql.functions.{col, count, lit, max}
    import spark.implicits._
    val ps = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    val n = 1003 // prime-ish: p*n is non-integer for most of the grid
    val rows = (0 until n)
      .map(i => ((i * 733) % n, ((i * 733) % n * 2.5 - 17.0), i % 7))
      .toDF("i", "v", "part")
    val merged = rows
      .groupBy("part")
      .agg(QuantileSketch.sketch(col("v"), Extended.pctlAccuracy).as("sk"))
      .agg(QuantileSketch.merge(col("sk")).as("sk"))
      .select(QuantileSketch.values(col("sk"), ps).as("q"))
      .head.getSeq[Double](0)
    val oneShot = rows
      .agg(QuantileSketch.sketch(col("v"), Extended.pctlAccuracy).as("sk"))
      .select(QuantileSketch.values(col("sk"), ps).as("q"))
      .head.getSeq[Double](0)
    assert(merged == oneShot, "merged sketch diverged from one-shot sketch")
    // exact-regime identity: both equal the rank-ceil(p*n) element
    val sorted = (0 until n).map(i => i * 2.5 - 17.0)
    val expected = ps.map(p => sorted(math.ceil(p * n).toInt - 1))
    assert(merged == expected, "sketch left its exact regime on 1003 rows")
    // and the corpus the driver checks stays inside the regime bound
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val maxN = table(spark, d, "events")
        .groupBy(org.apache.spark.sql.functions
          .date_trunc("week", col("ts")))
        .agg(count(lit(1)).as("c")).agg(max("c")).head.getLong(0)
      assert(maxN < Extended.pctlAccuracy / 2,
        s"weekly group of $maxN rows in $d exceeds the exact-regime bound")
    }
  }

  test("q-sketch bytes survive a parquet round-trip: store daily, merge weekly later") {
    // the STORE half of agg_q_merge's story: the binary sketch column is
    // written to parquet (the nightly job), read back in a later session
    // (the dashboard query), and merged — the percentiles must equal the
    // ones computed directly from raw, or the stored grain is useless
    import graft.functions.QuantileSketch
    import org.apache.spark.sql.functions.{col, date_trunc, expr}
    val dir = "/root/testdata/sf0.01"
    val out = tempDir("graft_qstore")
    val ev = table(spark, dir, "events")
    ev.groupBy(date_trunc("week", col("ts")).as("wk"),
        date_trunc("day", col("ts")).as("day"))
      .agg(QuantileSketch.sketch(col("value"), Extended.pctlAccuracy).as("sk"))
      .write.mode("overwrite").parquet(out)
    val merged = spark.read.parquet(out)
      .groupBy("wk")
      .agg(QuantileSketch.merge(col("sk")).as("sk"))
      .select(col("wk"), QuantileSketch.values(col("sk"), Seq(0.5, 0.99)).as("q"))
      .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
    val direct = ev.groupBy(date_trunc("week", col("ts")).as("wk"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("p99"))
      .collect().map(r => r.get(0) -> Seq(r.getDouble(1), r.getDouble(2))).toMap
    assert(merged.keySet == direct.keySet && merged.nonEmpty)
    merged.foreach { case (wk, q) =>
      assert(q == direct(wk), s"stored-sketch merge diverged for week $wk")
    }
  }

  test("documents corpus is ASCII — the polyhash byte/char fold equivalence holds") {
    // PolyHash folds UTF-8 bytes; the DuckDB oracles fold per-character
    // codepoints. They agree exactly when every document is ASCII, which
    // every dedup_* and mm_decode oracle depends on. Checked at all three
    // scale factors the driver uses.
    import org.apache.spark.sql.functions.{col, length, octet_length}
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .foreach { d =>
        val nonAscii = table(spark, d, "documents")
          .filter(octet_length(col("text")) =!= length(col("text"))).count()
        assert(nonAscii == 0, s"non-ASCII documents in $d would desync the oracles")
      }
  }

  test("text_entropy: closed-form values on known distributions") {
    // uniform over 2^k symbols → exactly k bits; single symbol → 0 bits;
    // quantization (1e-6 log grid, 4 dp round) must not perturb exact cases
    val fix = tempDir("entropy_fix")
    import spark.implicits._
    Seq(
      (1L, "aaaaaaaa"),                 // 0 bits
      (2L, "abababab"),                 // 1 bit
      (3L, "abcdabcdabcdabcd"),         // 2 bits
      (4L, "abcdefgh"))                 // 3 bits
      .toDF("doc_id", "text")
      .write.parquet(s"$fix/documents.parquet")
    val got = TextOps.textEntropy(spark, fix)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 3.0), got.toString)
  }

  test("text_jsd: zero on identical sources, closed-form on disjoint ones") {
    import spark.implicits._
    // same distribution in both sources -> JSD vs corpus = 0
    val fixSame = tempDir("jsd_same")
    Seq((1L, "x y z", "a"), (2L, "x y z", "b"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$fixSame/documents.parquet")
    val same = TextOps.textJsd(spark, fixSame).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(same.keySet == Set("a", "b"))
    same.values.foreach(v => assert(math.abs(v) <= 2e-5, s"nonzero JSD: $same"))
    // two equal-mass DISJOINT uniform vocabularies: each source vs the
    // corpus mixture has the closed form 3/4·log2(4/3) + 1/4·log2(4) − 1/2
    // = 0.311278... bits, independent of vocabulary size
    val fixDisj = tempDir("jsd_disj")
    Seq((1L, (1 to 10).map(i => s"a$i").mkString(" "), "a"),
        (2L, (1 to 10).map(i => s"b$i").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$fixDisj/documents.parquet")
    val disj = TextOps.textJsd(spark, fixDisj).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val want = 0.75 * (math.log(4.0 / 3.0) / math.log(2.0)) + 0.25 * 2.0 - 0.5
    disj.values.foreach(v =>
      assert(math.abs(v - want) <= 1e-3, s"JSD $v != closed form $want"))
    // the real corpus: every source bounded 0 <= jsd <= 1 (log2 units),
    // allowing the 1e-6 quantization grid's slack at the bottom
    val real = TextOps.textJsd(spark, dir).collect().map(_.getDouble(2))
    assert(real.nonEmpty)
    real.foreach(v => assert(v >= -1e-4 && v <= 1.0, s"JSD out of range: $v"))
  }

  test("sim_ann_filtered: label honored; beats post-filtering the unfiltered list") {
    import org.apache.spark.sql.functions._
    val labels = graft.ops.table(spark, dir, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val filtered = VectorOps.simAnnFiltered(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(filtered.nonEmpty)
    filtered.foreach { case (q, lbl, v) =>
      assert(lbl == labels(q), s"query $q label mismatch")
      assert(labels(v) == labels(q), s"result $v violates query $q's predicate")
    }
    // filter-aware routing returns at least as many same-label hits per
    // query as post-filtering the unfiltered top-10 (the recall-collapse
    // argument in the scaladoc)
    val post = VectorOps.simAnnTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, vs) =>
        q -> vs.count { case (_, v) => labels(v) == labels(q) } }
    val filt = filtered.groupBy(_._1).map { case (q, vs) => q -> vs.size }
    post.foreach { case (q, n) =>
      assert(filt.getOrElse(q, 0) >= n,
        s"query $q: filtered returned ${filt.getOrElse(q, 0)} < post-filter $n")
    }
  }

  test("bm25: distributed scores replay the brute-force integer formula") {
    import org.apache.spark.sql.functions._
    val docs = graft.ops.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split(" ").filter(_.nonEmpty).toSeq).toMap
    val n = docs.size.toLong
    val t = docs.valuesIterator.map(_.size.toLong).sum
    def qlog2(x: Long) = math.floor(
      math.log(x.toDouble) / math.log(2.0) * 1e6 + 0.5).toLong
    val dfs = TextOps.bm25Terms.map(term =>
      docs.valuesIterator.count(_.contains(term)).toLong)
    val expect = docs.toSeq.flatMap { case (id, toks) =>
      val dl = toks.size.toLong
      val tfs = TextOps.bm25Terms.map(term => toks.count(_ == term).toLong)
      if (tfs.forall(_ == 0)) None
      else {
        val ku = 300000L + 900000L * dl * n / t
        val score = tfs.zip(dfs).map { case (tf, df) =>
          (qlog2(2 * n + 1) - qlog2(2 * df + 1)) *
            (tf * 2200000L * 1000000L / (tf * 1000000L + ku)) / 1000000L
        }.sum
        Some((id, dl, score))
      }
    }.sortBy { case (id, _, s) => (-s, id) }.take(20)
    val got = TextOps.bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, s"\ngot    $got\nexpect $expect")
    // saturation sanity: scores positive (non-negative idf variant)
    assert(got.forall(_._3 > 0L))
  }

  test("tok_encode: greedy longest-match segmentation, byte fallback, corpus replay") {
    import spark.implicits._
    // hand cases against the shipped piece table: whole-word 4-piece hit,
    // 4+2 split, 4+1+3 split, 3-piece word, pure byte fallback
    val cases = Seq(
      "part" -> 1L,     // 'part' ∈ P4
      "window" -> 2L,   // wind|ow
      "filter" -> 2L,   // filt|er
      "orderkey" -> 3L, // orde|r|key (greedy: no piece at 'rkey')
      "the" -> 1L,      // ∈ P3
      "stream" -> 2L,   // stre|am
      "zzz" -> 3L,      // byte fallback, one piece per char
      "x" -> 1L)
    import org.apache.spark.sql.functions.col
    val got = cases.map(_._1).toDF("w")
      .select(col("w"), TextOps.pieceCount(col("w")).as("p"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    cases.foreach { case (w, p) =>
      assert(got(w) == p, s"'$w' segmented into ${got(w)} pieces, want $p")
    }
    // corpus replay: the distributed per-doc totals equal a driver-side
    // greedy walk over the same whitespace tokens
    val dir = "/root/testdata/sf0.001"
    val p4 = TextOps.encPieces(4).toSet
    val p3 = TextOps.encPieces(3).toSet
    val p2 = TextOps.encPieces(2).toSet
    def pieces(w: String): Long = {
      var pos = 0; var n = 0L
      while (pos < w.length) {
        val bl =
          if (pos + 4 <= w.length && p4(w.substring(pos, pos + 4))) 4
          else if (pos + 3 <= w.length && p3(w.substring(pos, pos + 3))) 3
          else if (pos + 2 <= w.length && p2(w.substring(pos, pos + 2))) 2
          else 1
        pos += bl; n += 1
      }
      n
    }
    val expect = graft.ops.table(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map { r =>
        val toks = r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty)
        (r.getLong(0), toks.length.toLong, toks.map(pieces).sum)
      }.sortBy(_._1).toSeq
    val out = TextOps.tokEncode(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == expect, "distributed encode diverged from the driver replay")
    // the vocabulary actually bites: pieces/token must sit strictly
    // between 1 (everything a known word) and the all-fallback bound
    val ratio = out.map(_._3).sum.toDouble / out.map(_._2).sum
    assert(ratio > 1.0 && ratio < 4.0, s"suspicious compression ratio $ratio")
  }

  test("sim_rrf: fused scores recompute from the legs' ranks; both-leg docs carry both") {
    val dir = "/root/testdata/sf0.01"
    val rows = VectorOps.simRrf(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    var prev = Long.MaxValue
    rows.foreach { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val vec = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(lex.nonEmpty || vec.nonEmpty, s"doc from neither leg: $r")
      assert(lex.forall(x => x >= 1 && x <= 20), s"lex rank range: $r")
      assert(vec.forall(x => x >= 1 && x <= 10), s"vec rank range: $r")
      val want = lex.map(x => 1000000000L / (60 + x)).getOrElse(0L) +
        vec.map(x => 1000000000L / (60 + x)).getOrElse(0L)
      assert(r.getLong(3) == want, s"fused score must recompute: $r")
      assert(r.getLong(3) <= prev, s"output must be score-ordered: $r")
      prev = r.getLong(3)
    }
  }
}
