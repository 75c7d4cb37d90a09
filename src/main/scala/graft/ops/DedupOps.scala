package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection over `documents` — the dedup family a
  * training-data pipeline needs: exact (content hash), n-gram Jaccard,
  * MinHash+LSH banding, SimHash+Hamming banding.
  *
  * Everything is arithmetic-only Catalyst expressions (no library hashers),
  * so the DuckDB oracles can re-derive identical signatures: the shared
  * primitive is a 31-multiplier polynomial rolling hash over shingle
  * characters, mod 1e9+7 — expressible as a fold in both engines.
  *
  * Scale notes (100 TB): the LSH paths never compare all pairs — candidates
  * come from equality joins on band signatures (shuffle keyed by band), the
  * classic shingle→minhash→band→bucket-join layout. The Jaccard op joins on
  * shared shingles (keyed shuffle, skew-prone on stopword shingles — salting
  * or a document-frequency cap handles that; shingles here are 4-grams, rare
  * enough). Only the final verify step touches candidate pairs.
  */
object DedupOps {

  private val M = 1000000007L

  /** Polynomial rolling hash of a string: fold(acc*31 + byte) mod 1e9+7 —
    * deterministic, arithmetic-only, identical in DuckDB SQL (which folds
    * ascii(char); same values for the ASCII corpus). Backed by the native
    * codegen'd [[graft.functions.PolyHash]] expression; the equivalent
    * built-in composition `aggregate(split(s,""), …)` is interpreted
    * per-character and allocates a UTF8String per step. */
  def polyHash(c: Column): Column = graft.functions.PolyHash(c)

  /** Per-document distinct 4-gram shingle IDs as `sh: array<long>`: the
    * fused codegen'd [[graft.functions.ShingleHashes]] expression — one
    * pass over the text, no shingle strings ever built (downstream keys
    * are BIGINTs), bit-identical to the five-stage interpreted chain it
    * replaces (split → filter → transform(poly_hash) → combine →
    * array_distinct; that chain's Catalyst traps — no CSE across
    * interpreted lambdas, pushdown re-inlining multi-referenced aliases —
    * are documented at graft.ops.pinned).
    *
    * [[pinned]] still wraps the expression: predicate pushdown would
    * otherwise substitute the alias into the pushed `size(sh) > 0` filter
    * and compute the array twice per row (once in the scan filter, once in
    * the projection). The `size > 0` filter is equivalent to the previous
    * `size(th) >= 4` pre-filter — fewer than 4 tokens yields an empty
    * array. Same hash formulas in the oracle. */
  def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        pinned(graft.functions.ShingleHashes(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)

  /** [[shingleArrays]] exploded to (doc_id, h) rows for shingle-keyed joins. */
  def hashedShingles(spark: SparkSession, dir: String): DataFrame =
    shingleArrays(spark, dir).select(col("doc_id"), explode(col("sh")).as("h"))

  private[ops] val duckToks = "list_filter(string_split(lower(text),' '), t -> t <> '')"
  private[ops] val duckTokenHash = // fold with 0 prepended as the init accumulator
    """list_reduce(list_concat([0::BIGINT], list_transform(range(1, length(t)+1),
        i -> ascii(t[i:i]))), (acc, c) -> (acc*31 + c) % 1000000007)"""
  private val duckShingleHashes = // same combine as shingleHashes
    s"""list_distinct(list_transform(range(1, greatest(len(th)-2, 1)),
        i -> (((th[i]*31 + th[i+1]) % 1000000007 * 31 + th[i+2]) % 1000000007 * 31
              + th[i+3]) % 1000000007))"""

  // ── exact dedup ──────────────────────────────────────────────────────────

  /** Exact content dedup: hash-groupBy on md5(text) — one keyed shuffle of
    * (hash, id), never the text itself at scale. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy("content_hash")

  // ── n-gram Jaccard ───────────────────────────────────────────────────────

  /** Max document frequency for a shingle to participate in the Jaccard
    * join: corpus-common shingles (the "stopword shingles" of a shared
    * vocabulary) create quadratic bucket blowup in the equality join — the
    * classic dedup-join skew. Capping df keeps every bucket O(cap²) while
    * near-dup signal lives in rare shingles anyway. Mirrored in the oracle. */
  val jaccardDfCap = 20

  /** Near-dup pairs by exact Jaccard over 4-gram shingle sets, found via a
    * shared-shingle equality join (no cross product): J = |A∩B| / (|A|+|B|-|A∩B|)
    * computed over the df-capped shingle sets. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // materialized ONCE: the exploded shingle stream feeds the heavy-hitter
    // aggregate AND the anti-join probe side — without the checkpoint the
    // tokenize+hash subtree plans twice (plan-probed; AQE's broadcast
    // conversion defeats exchange reuse), i.e. two full corpus passes
    val exAll = hashedShingles(spark, dir).withColumnRenamed("h", "s")
      .materialized
    // document-frequency cap via a HEAVY-HITTER anti-join: aggregate the
    // over-cap shingles (map-side combine on (s, count)) into an exclusion
    // list, so the cap applies with no sort anywhere. This replaces a
    // count-over-window formulation whose WindowExec sorted the entire
    // exploded shingle stream by s — at 100 TB that sort dominates. No
    // static broadcast hint: on real corpora the heavy list is tiny
    // (stopword shingles) and AQE converts the anti-join to a broadcast
    // from its runtime size, but it is not BOUNDED — an adversarial corpus
    // could push it past broadcast size, where the keyed-shuffle anti-join
    // is the correct fallback and a forced hint would OOM the build side.
    val heavy = exAll.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > jaccardDfCap)
      .select("s")
    // also materialized: referenced three times (sizes + both self-join
    // sides), each of which would otherwise replay the anti-join
    val ex = exAll.join(heavy, Seq("s"), "left_anti")
      .select("doc_id", "s")
      .materialized
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = ex.as("x").join(ex.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("sa"), col("a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"),
        roundD(col("common").cast(DoubleType) /
          (col("sa.n") + col("sb.n") - col("common")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("a", "b")
  }

  // ── MinHash + LSH ────────────────────────────────────────────────────────

  /** 8 permutation constants (a, b) for h_j(x) = (a_j*x + b_j) mod 2^31-1. */
  private val perms = Seq(
    (1299721L, 99991L), (1299827L, 44497L), (1300021L, 86243L), (1300033L, 13466917L),
    (1300109L, 32452843L), (1300151L, 15485863L), (1300187L, 49979687L), (1300201L, 67867967L))
  private val prime = 2147483647L

  /** (doc_id, band, sig) LSH band rows for a shingled documents frame —
    * the signature index an incremental pipeline stores between runs. The
    * signature stage is materialized once: every consumer (self-join
    * sides, old/new splits) would otherwise re-plan the whole
    * tokenize+signature subtree (plan-probed: 2 scans; AQE's broadcast
    * conversion defeats exchange reuse). */
  private def minhashBands(docs: DataFrame): DataFrame =
    bandRows(docs
      .select(col("doc_id"),
        pinned(graft.functions.MinHashSig(col("sh"), perms, prime)).as("ms"))
      .materialized)

  /** (doc_id, ms) signature rows → exploded (doc_id, band, sig) band rows.
    * Pure map-side expressions (no materialization, no shuffle), so the
    * same banding runs over a STREAMING frame — [[dedupStreamProbe]] —
    * where localCheckpoint is unavailable and each row is consumed once
    * anyway. */
  private def bandRows(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(array(
      (0 until 4).map { bi =>
        struct(lit(bi).as("band"),
          concat_ws(",", element_at(col("ms"), 2 * bi + 1),
            element_at(col("ms"), 2 * bi + 2)).as("sig"))
      }: _*)).as("bnd"))
      .select(col("doc_id"), col("bnd.band").as("band"), col("bnd.sig").as("sig"))

  /** MinHash signatures (8 permutations) per doc, banded 4×2; candidate
    * pairs = docs sharing any band. Signatures come from the codegen'd
    * [[graft.functions.MinHashSig]] — all permutations in one array pass,
    * replacing 8 interpreted array_min(transform) folds — a pure map-side
    * stage with NO explode and NO groupBy shuffle; the only shuffle in the
    * whole op is the (band_id, band_sig) bucket join. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(shingleArrays(spark, dir))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
      .orderBy("a", "b")
  }

  /** Incremental near-dup detection — the daily-growth shape of a 100 TB
    * corpus: a NEW batch of documents (modeled as the doc_id % 5 == 0
    * slice) is deduped against the EXISTING corpus without re-shingling
    * it, by probing the corpus's STORED (band, sig, doc_id) index. The
    * index is an actual catalog table BUCKETED on the probe key
    * (band, sig): maintenance pays the index shuffle once at write time,
    * so the daily probe job's ONLY Exchange is on the delta side — the
    * bucketed scan arrives at the join already hash-partitioned
    * (PlanSpec locks zero shuffle between the stored scan and its join).
    * New docs are also checked against EARLIER new docs (doc_id order
    * within the batch), so an all-new duplicate group keeps exactly one
    * representative. Emits, per new doc with any candidate, the
    * distinct-partner count and the minimum matching partner — the
    * keep-list complement an ingest pipeline drops before appending.
    *
    * Scale shape: signatures are computed ONCE for the increment (and in
    * production read from storage for the old side); both probe joins key
    * on (band, sig); nothing ever compares all pairs. 8 buckets at
    * fixture scale — a real corpus sizes the bucket count so one bucket's
    * postings fit a task (thousands at 100 TB), and appends each day's
    * survivors to the same bucket spec so tomorrow's probe stays
    * co-located. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    // the stored index: bucketed on BOTH probe-key columns — (band, sig)
    // covers the join's clustering requirement exactly, and sig carries
    // the cardinality (band alone has 4 values: bucketing on it would
    // concentrate a quarter of the corpus per reducer).
    // The warehouse dir is created only when the database doesn't exist
    // yet: CREATE DATABASE IF NOT EXISTS ignores LOCATION on later calls,
    // so an unconditional tempDir would leave one unused dir per
    // invocation while the data kept landing in the first one.
    if (!spark.catalog.databaseExists("graft_incr")) {
      val wh = tempDir("graft_incr_wh")
      spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_incr LOCATION '$wh'")
    }
    // Build the stored index ONCE per (JVM, dir) — the
    // [[Bucketing.ensureBucketed]] discipline: rewriting the
    // pay-the-shuffle-once artifact before every probe would cancel the
    // pattern's whole premise (and this op's own cost model already says
    // so: "maintenance pays the index shuffle once at write time"). The
    // old-corpus slice is shingled+signed only inside the build; the
    // recurring per-construction cost is exactly the documented daily
    // job — sign the INCREMENT, probe the stored index. A different dir
    // (or a fresh catalog) rewrites; content is deterministic in dir.
    Bucketing.ensureBucketed(spark, dir, "graft_incr.band_idx") {
      minhashBands(shingleArrays(spark, dir).filter(col("doc_id") % 5L =!= 0L))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "band", "sig").sortBy("band", "sig")
        .saveAsTable("graft_incr.band_idx")
    }
    val oldIdx = spark.table("graft_incr.band_idx")
    // signatures are computed for the INCREMENT only (the doc_id filter
    // sits under the shingle scan, so the corpus read is pruned to the
    // arriving slice): per-pass work is sign-the-delta + probe, never a
    // full-corpus re-sign — filter-before-sign commutes with the band
    // projection because both are keyed by doc_id
    val fresh = minhashBands(shingleArrays(spark, dir)
      .filter(col("doc_id") % 5L === 0L))
    val vsOld = fresh.as("x").join(oldIdx.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val vsNew = fresh.as("x").join(fresh.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") > col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    vsOld.unionByName(vsNew).distinct()
      .groupBy(col("a").as("doc_id"))
      .agg(count(lit(1)).as("n_dup"), min(col("b")).as("dup_of"))
      .orderBy("doc_id")
  }

  /** STREAMING incremental dedup — the ONLINE ingest filter: a document
    * stream (doc_id, text) is shingled, signed, and banded with pure
    * map-side expressions (the same [[bandRows]] pipeline the batch index
    * build uses — batch/stream share one expression set), then probed
    * against the STORED band index via a stream-static LEFT SEMI join.
    * The output stream is the doc_ids that near-duplicate the existing
    * corpus — the drop decision an ingest pipeline applies BEFORE a
    * document ever lands in the corpus, closing the loop with
    * [[dedupIncremental]] (the nightly batch form over the same stored
    * index).
    *
    * State shape: the banding is stateless; the semi join re-probes the
    * static index per micro-batch (in production the bucketed table, so
    * the probe is a co-located lookup); the only streaming state is the
    * final `dropDuplicates` collapsing a doc's ≤4 band matches — i.e. it
    * grows with FLAGGED docs only, the set an ingest pipeline must
    * remember anyway. For bounded retention swap in
    * `dropDuplicatesWithinWatermark` keyed on the ingest timestamp
    * (machinery proven in graft.streaming.StreamAssembly). */
  def dedupStreamProbe(docs: DataFrame, storedIdx: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
        pinned(graft.functions.ShingleHashes(col("text"))).as("sh"))
      .filter(size(col("sh")) > 0)
    val sigs = sh.select(col("doc_id"),
      pinned(graft.functions.MinHashSig(col("sh"), perms, prime)).as("ms"))
    bandRows(sigs)
      .join(storedIdx, Seq("band", "sig"), "left_semi")
      .select("doc_id")
      .dropDuplicates("doc_id")
  }

  /** The stored band index of the existing-corpus slice (doc_id % 5 != 0)
    * as a static frame — the spec-level stand-in for the bucketed table
    * [[dedupIncremental]] maintains; materialized, so the stream-static
    * join probes its blocks instead of replaying the corpus scan per
    * micro-batch. */
  private[graft] def bandIndexOldSlice(spark: SparkSession, dir: String): DataFrame =
    minhashBands(shingleArrays(spark, dir)).filter(col("doc_id") % 5L =!= 0L)

  /** Batch twin of [[dedupStreamProbe]]'s expected output for a given
    * corpus split — used by the parity spec; exercises the identical index
    * but an INDEPENDENT formulation (inner join + distinct, not semi). */
  private[graft] def streamProbeExpected(spark: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(shingleArrays(spark, dir))
    val oldIdx = bands.filter(col("doc_id") % 5L =!= 0L)
    bands.filter(col("doc_id") % 5L === 0L).as("x")
      .join(oldIdx.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.doc_id").as("doc_id")).distinct()
  }

  /** Minimum matched-alignment run (in 8-gram windows) for
    * [[dedupSubstring]]: 9 consecutive matching windows ⇔ a 16-token
    * exact overlap. Set-similarity misses this case — two long documents
    * sharing one verbatim paragraph have low Jaccard but are exactly the
    * "copied passage" training-data dedup must catch. */
  val substrMinRun = 9

  /** Substring-overlap dedup — the exact-token-run detector (the
    * published training-data dedup pipelines pair a suffix-array pass
    * with set-similarity for exactly this): find document pairs sharing a
    * VERBATIM run of ≥ 16 tokens, reported as the longest overlap.
    *
    * Shape: each document emits position-stamped 8-gram window hashes
    * (one map-side pass; the window fold is 8 exact integer steps over
    * the token-hash array — no window strings built); candidate matches
    * come from an equality join on the window hash (8-grams are rare, the
    * [[Curation.decontamWidth]] rationale, so the join has no stopword
    * skew); a shared run shows up as consecutive positions at ONE
    * alignment d = pos_a - pos_b, recovered with the classic islands
    * trick (pos − row_number per (a,b,d) is constant within a run). The
    * per-(a,b,d) windows are bounded by the shorter document, so the
    * island window never concentrates a reducer. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val th = transform(TextOps.tokens(col("text")), t => graft.functions.PolyHash(t))
    // materialized: both sides of the self-join derive from this frame
    // (the minhashBands rationale)
    val grams = table(spark, dir, "documents")
      .select(col("doc_id"), pinned(th).as("th"))
      .filter(size(col("th")) >= 8)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("th")) - 7),
          i => (1 until 8).foldLeft(element_at(col("th"), i)) {
            (acc, k) => (acc * 31 + element_at(col("th"), i + lit(k))) % M
          })).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
      .materialized
    val m = grams.as("x").join(grams.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.pos").as("pa"), (col("x.pos") - col("y.pos")).as("d"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a", "b", "d").orderBy("pa")
    m.withColumn("island", col("pa") - row_number().over(w))
      .groupBy("a", "b", "d", "island").agg(count(lit(1)).as("run"))
      .groupBy("a", "b").agg((max("run") + 7L).as("max_overlap"))
      .filter(col("max_overlap") >= substrMinRun + 7L)
      .orderBy("a", "b")
  }

  // ── SimHash ──────────────────────────────────────────────────────────────

  /** 28-bit SimHash from shingle hashes (the polyhash spans ~30 bits): bit
    * j set when the ±1 votes of (h >> j) & 1 sum positive. Pairs within
    * Hamming distance 3 are found by 7-bit band equality (pigeonhole: ≤3
    * flipped bits leave ≥1 of 4 bands intact), then verified with
    * bit_count — banding again, never all-pairs. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // per-row single-pass signature via the codegen'd SimHashBits (all 28
    // vote counters in one array walk, replacing 28 interpreted aggregate
    // folds): map-side, no explode/shuffle
    // materialized once — same both-sides-of-the-self-join rationale as
    // the minhash signatures above
    val sims = shingleArrays(spark, dir)
      .select(col("doc_id"),
        pinned(graft.functions.SimHashBits(col("sh"), 28)).as("simhash"))
      .materialized
    val bands = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(bi =>
        struct(lit(bi).as("band"),
          shiftright(col("simhash"), bi * 7).bitwiseAND(127).as("sig"))): _*)).as("bnd"))
      .select(col("doc_id"), col("simhash"),
        col("bnd.band").as("band"), col("bnd.sig").as("sig"))
    // the hamming predicate lives INSIDE the join so candidates are filtered
    // as they stream out of the bucket join — shared-vocab corpora cluster
    // heavily per band, and a distinct() over raw candidates would dominate
    // the query (measured 35s -> ~1s at sf0.1)
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id") &&
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))) <= 3)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast(LongType)
          .as("hamming"))
      .distinct()
      .orderBy("a", "b")
  }

  /** CROSS-MODAL duplicate scoring — the precision move for multimodal
    * corpora: every TEXT near-dup candidate pair (MinHash bands) carries
    * the IMAGE modality's verdict as a feature — the aHash Hamming
    * distance between the two docs' derived images and an agree flag
    * (≤ 3), NULL when either doc has no image (doc_id % 3 ≠ 0 in the
    * media mapping). Downstream curation thresholds on the fused signal:
    * text-only candidates false-positive on shared boilerplate, and a
    * second modality agreeing multiplies the error rates down. Shape:
    * candidates come from the banded generator ([[dedupMinhash]] — bucket
    * joins, never all-pairs) and the image hashes attach by two
    * (candidate-id)-keyed equi joins — fingerprints ship only for
    * candidate docs, never the corpus. */
  def dedupMultiModal(spark: SparkSession, dir: String): DataFrame = {
    // materialized: referenced by BOTH candidate-keyed joins — without it
    // the media-synthesis + decode + aHash subtree plans twice (the
    // dedupNgramJaccard multi-consumer rationale)
    val ah = Multimodal.mmImageHashes(spark, dir).toDF().materialized
    val ham = (bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
      bit_count(col("a_lo").bitwiseXOR(col("b_lo")))).cast(LongType)
    dedupMinhash(spark, dir)
      .join(ah.select(col("media_id").as("a"), col("hash_hi").as("a_hi"),
        col("hash_lo").as("a_lo")), Seq("a"), "left")
      .join(ah.select(col("media_id").as("b"), col("hash_hi").as("b_hi"),
        col("hash_lo").as("b_lo")), Seq("b"), "left")
      .select(col("a"), col("b"), ham.as("img_hamming"),
        when(ham <= 3L, 1).when(ham.isNotNull, 0)
          .cast(IntegerType).as("img_agree"))
      .orderBy("a", "b")
  }

  // ── oracles ──────────────────────────────────────────────────────────────

  private val duckSigs = {
    val mins = perms.zipWithIndex.map { case ((a, b), j) =>
      s"min((h*$a + $b) % $prime) AS m$j"
    }.mkString(", ")
    s"""toks AS (SELECT doc_id, $duckToks AS toks FROM documents),
      th AS (SELECT doc_id, list_transform(toks, t -> $duckTokenHash) AS th FROM toks),
      sh AS (SELECT doc_id, $duckShingleHashes AS sh FROM th WHERE len(th) >= 4),
        hashed AS (SELECT doc_id, unnest(sh) AS h FROM sh),
        sigs AS (SELECT doc_id, ${mins} FROM hashed GROUP BY doc_id)"""
  }

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS cnt, min(doc_id) AS keep_doc_id
         FROM documents GROUP BY 1 ORDER BY content_hash""",
    "dedup_jac" -> s"""
      WITH toks AS (SELECT doc_id, $duckToks AS toks FROM documents),
      th AS (SELECT doc_id, list_transform(toks, t -> $duckTokenHash) AS th FROM toks),
      sh AS (SELECT doc_id, $duckShingleHashes AS sh FROM th WHERE len(th) >= 4),
      exall AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      rare AS (SELECT s FROM exall GROUP BY s HAVING count(*) <= $jaccardDfCap),
      ex AS (SELECT doc_id, exall.s AS s FROM exall JOIN rare ON exall.s = rare.s),
      sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
      common AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
                 FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
                 GROUP BY 1, 2)
      SELECT a, b, floor(common::DOUBLE / (sa.n + sb.n - common) * 1e4 + 0.5) / 1e4 AS jaccard
      FROM common JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id
      WHERE floor(common::DOUBLE / (sa.n + sb.n - common) * 1e4 + 0.5) / 1e4 >= 0.5
      ORDER BY a, b""",
    "dedup_minhash" -> s"""
      WITH $duckSigs
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id AND
           ((x.m0=y.m0 AND x.m1=y.m1) OR (x.m2=y.m2 AND x.m3=y.m3) OR
            (x.m4=y.m4 AND x.m5=y.m5) OR (x.m6=y.m6 AND x.m7=y.m7))
      ORDER BY a, b""",
    // both modality constructions verbatim: MinHash-band candidates LEFT
    // JOIN the direct aHash fingerprints (nulls where a doc has no image)
    "dedup_multi" -> s"""
      WITH $duckSigs,
      mh AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id AND
             ((x.m0=y.m0 AND x.m1=y.m1) OR (x.m2=y.m2 AND x.m3=y.m3) OR
              (x.m4=y.m4 AND x.m5=y.m5) OR (x.m6=y.m6 AND x.m7=y.m7))),
      ${Multimodal.duckAHashCtes}
      SELECT mh.a AS a, mh.b AS b,
             CAST(bit_count(xor(x.hash_hi, y.hash_hi)) +
                  bit_count(xor(x.hash_lo, y.hash_lo)) AS BIGINT)
               AS img_hamming,
             CASE WHEN x.media_id IS NULL OR y.media_id IS NULL THEN NULL
                  WHEN bit_count(xor(x.hash_hi, y.hash_hi)) +
                       bit_count(xor(x.hash_lo, y.hash_lo)) <= 3 THEN 1
                  ELSE 0 END AS img_agree
      FROM mh LEFT JOIN ahashes x ON mh.a = x.media_id
              LEFT JOIN ahashes y ON mh.b = y.media_id
      ORDER BY mh.a, mh.b""",
    "dedup_substr" -> s"""
      WITH toks AS (SELECT doc_id, $duckToks AS toks FROM documents),
      th AS (SELECT doc_id, list_transform(toks, t -> $duckTokenHash) AS th FROM toks),
      g AS (SELECT doc_id, i AS pos,
                   list_reduce(th[i::INT:i::INT+7], (a, b) -> (a*31 + b) % $M) AS h
            FROM th, unnest(range(1, len(th) - 6)) AS r(i)
            WHERE len(th) >= 8),
      m AS (SELECT x.doc_id AS a, y.doc_id AS b, x.pos AS pa, x.pos - y.pos AS d
            FROM g x JOIN g y ON x.h = y.h AND x.doc_id < y.doc_id),
      isl AS (SELECT a, b, d,
                     pa - row_number() OVER (PARTITION BY a, b, d ORDER BY pa) AS island
              FROM m),
      runs AS (SELECT a, b, count(*) AS run FROM isl GROUP BY a, b, d, island)
      SELECT a, b, max(run) + 7 AS max_overlap
      FROM runs GROUP BY a, b HAVING max(run) + 7 >= ${substrMinRun + 7}
      ORDER BY a, b""",
    "dedup_incr" -> s"""
      WITH $duckSigs,
      cand AS (
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM sigs x JOIN sigs y ON
             x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0 AND
             ((x.m0=y.m0 AND x.m1=y.m1) OR (x.m2=y.m2 AND x.m3=y.m3) OR
              (x.m4=y.m4 AND x.m5=y.m5) OR (x.m6=y.m6 AND x.m7=y.m7))
        UNION
        SELECT x.doc_id AS a, y.doc_id AS b
        FROM sigs x JOIN sigs y ON
             x.doc_id % 5 = 0 AND y.doc_id % 5 = 0 AND x.doc_id > y.doc_id AND
             ((x.m0=y.m0 AND x.m1=y.m1) OR (x.m2=y.m2 AND x.m3=y.m3) OR
              (x.m4=y.m4 AND x.m5=y.m5) OR (x.m6=y.m6 AND x.m7=y.m7)))
      SELECT a AS doc_id, count(*) AS n_dup, min(b) AS dup_of
      FROM cand GROUP BY a ORDER BY doc_id""",
    "dedup_simhash" -> {
      val votes = (0 until 28)
        .map(j => s"sum(((h >> $j) & 1) * 2 - 1) AS v$j").mkString(", ")
      val bits = (0 until 28)
        .map(j => s"CASE WHEN v$j > 0 THEN ${1L << j}::BIGINT ELSE 0 END").mkString(" + ")
      s"""
      WITH toks AS (SELECT doc_id, $duckToks AS toks FROM documents),
      th AS (SELECT doc_id, list_transform(toks, t -> $duckTokenHash) AS th FROM toks),
      sh AS (SELECT doc_id, $duckShingleHashes AS sh FROM th WHERE len(th) >= 4),
      hashed AS (SELECT doc_id, unnest(sh) AS h FROM sh),
      votes AS (SELECT doc_id, ${votes} FROM hashed GROUP BY doc_id),
      sims AS (SELECT doc_id, $bits AS simhash FROM votes)
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
             bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
      FROM sims x JOIN sims y ON x.doc_id < y.doc_id AND
           (((x.simhash >> 0) & 127) = ((y.simhash >> 0) & 127) OR
            ((x.simhash >> 7) & 127) = ((y.simhash >> 7) & 127) OR
            ((x.simhash >> 14) & 127) = ((y.simhash >> 14) & 127) OR
            ((x.simhash >> 21) & 127) = ((y.simhash >> 21) & 127))
      WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
      ORDER BY a, b"""
    },
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact _,
    "dedup_jac" -> dedupNgramJaccard _,
    "dedup_minhash" -> dedupMinhash _,
    "dedup_incr" -> dedupIncremental _,
    "dedup_substr" -> dedupSubstring _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_multi" -> dedupMultiModal _,
  )
}
