package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (language ID, quality scoring, token counting, document
  * fingerprinting). All pure Catalyst expressions (split/transform/aggregate/
  * regexp), no UDFs, so they stay inside whole-stage codegen and scale
  * per-partition with zero shuffle until the final aggregate.
  */
object TextOps {

  /** Whitespace tokens, lowercased, empties dropped. */
  def tokens(c: Column): Column =
    filter(split(lower(c), " "), t => t =!= "")

  private[graft] val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")

  /** Token frequency: explode → count — the classic map-side-combine
    * aggregation; top-20 with deterministic tiebreak. */
  def textTokenizeCount(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)

  /** n_tokens as a column over a text column — shared by [[textQuality]]
    * and the fused curation scan ([[Curation.curateCorpus]]). */
  def nTokensCol(c: Column): Column = size(tokens(c)).cast(LongType)

  /** stopword_ratio as a column over a text column (rounded exactly as
    * textQuality reports it). */
  def stopwordRatioCol(c: Column): Column = {
    val toks = tokens(c)
    roundD(size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
      .cast(DoubleType) / size(toks), 4)
  }

  /** Quality signals per document: token counts, distinct ratio, stopword
    * ratio, mean token length — the length/punct/stopword heuristics used to
    * filter web scrape before training. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val stopHits = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    val charSum = aggregate(transform(toks, t => length(t)), lit(0),
      (acc, x) => acc + x)
    table(spark, dir, "documents")
      .select(
        col("doc_id"),
        nTok.cast(LongType).as("n_tokens"),
        size(array_distinct(toks)).cast(LongType).as("n_distinct"),
        roundD(stopHits.cast(DoubleType) / nTok, 4).as("stopword_ratio"),
        roundD(charSum.cast(DoubleType) / nTok, 2).as("mean_token_len"))
      .orderBy("doc_id")
  }

  /** Heuristic language ID: stopword-hit scoring per candidate language —
    * the n-gram/stopword trick used when no classifier is available. The
    * synthetic corpus is English-shaped, so the score is what's exercised. */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val enHits = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    val score = roundD(enHits.cast(DoubleType) / size(toks), 4)
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"), score.as("en_score"),
        when(score >= 0.05, "en").otherwise("und").as("predicted"))
      .orderBy("doc_id")
  }

  /** CODE-VS-PROSE DETECTION — the curation filter every mixed web/code
    * corpus runs beside [[textLangid]] (route code to the code pipeline,
    * keep prose quality rules off stack traces): per document, integer
    * permille signals — code-symbol density (`{};()=<>[]`), lines ending
    * in `;`/`{`/`}`, indented lines, programming-keyword hits — blended
    * into one thresholdable score. All counts come from the regex subset
    * both engines implement identically (character classes, `\\b`, no
    * lookaround — the [[textTokenCount]] precedent), and every ratio is
    * an integer `div` — nothing floats, so the flag is bit-stable at any
    * scale. The synthetic corpus is pure prose, so the interesting
    * positives live in the spec ([[codeSignalsOf]] over real snippets);
    * the oracle exercises the full signal arithmetic end to end. */
  def textCode(spark: SparkSession, dir: String): DataFrame =
    codeSignalsOf(table(spark, dir, "documents").select("doc_id", "text"))
      .orderBy("doc_id")

  /** TOKENIZER-FERTILITY PROFILE — chars-per-token by language, the
    * budget-planning readout beside [[textTokenCount]]: a fixed token
    * budget buys different text volumes per language (the multilingual-
    * pretraining fertility problem), and a sudden per-language shift
    * flags a tokenizer or normalization regression between corpus
    * versions. Per lang: docs, whitespace tokens, characters, and
    * chars-per-token in exact permille (integer `div` — the bit-stable
    * convention). One scan, map-side-combined |langs|-key aggregate. */
  def tokFertility(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("lang"), length(col("text")).cast(LongType).as("nc"),
        size(tokens(col("text"))).cast(LongType).as("nt"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
        sum("nc").as("n_chars"))
      .withColumn("chars_per_tok_pm",
        expr("n_chars * 1000 div n_tokens"))
      .orderBy("lang")


  /** The signal machinery over any (doc_id, text) frame — split out so
    * the spec can drive real code snippets (a Scala body scores as code,
    * a prose paragraph does not). */
  private[graft] def codeSignalsOf(docs: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    val nChars = greatest(length(col("text")), lit(1)).cast(LongType)
    val symN = size(regexp_extract_all(col("text"),
      lit("[{}();=<>\\[\\]]"), lit(0))).cast(LongType)
    val lines = split(col("text"), "\n")
    val nLines = greatest(size(lines), lit(1)).cast(LongType)
    val eolN = size(filter(lines, l => l.rlike("[;{}]\\s*$"))).cast(LongType)
    val indentN = size(filter(lines, l => l.rlike("^(\t|  )"))).cast(LongType)
    val kwN = size(regexp_extract_all(lowered,
      lit("\\b(return|import|class|void|function|println|lambda|struct|elif|const)\\b"),
      lit(0))).cast(LongType)
    docs
      .select(col("doc_id"), nChars.as("n_chars"), symN.as("sym_n"),
        nLines.as("n_lines"), eolN.as("eol_n"), indentN.as("indent_n"),
        kwN.as("kw_hits"))
      .withColumn("sym_pm", expr("sym_n * 1000 div n_chars"))
      .withColumn("eol_pm", expr("eol_n * 1000 div n_lines"))
      .withColumn("indent_pm", expr("indent_n * 1000 div n_lines"))
      .withColumn("score_pm",
        least(lit(1000L), col("sym_pm") * 2 + col("eol_pm") +
          col("indent_pm") + least(col("kw_hits"), lit(10L)) * 30))
      .select(col("doc_id"), col("sym_pm"), col("eol_pm"), col("indent_pm"),
        col("kw_hits"), col("score_pm"),
        (col("score_pm") >= 300L).cast("int").as("is_code"))
  }

  /** Token counting two ways: whitespace split vs a BPE-ish regex over
    * word/number/punctuation pieces — the cheap token estimator for budget
    * accounting. */
  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast(LongType).as("re_tokens"))
      .orderBy("doc_id")

  /** TF-IDF keyword extraction: top-3 tokens per document by
    * tf x (N / df) — the corpus-statistics feature extractor a training
    * pipeline uses for topic tagging and quality signals.
    *
    * The idf factor is the LINEAR N/df, not log(N/df): Spark's and
    * DuckDB's libm log implementations can differ in the last ulp, which
    * the hash compare would surface as flaky mismatches at rounding
    * boundaries; tf*N/df stays exact integer arithmetic until one final
    * double division evaluated identically by both engines. (log is
    * monotone in N/df, so single-token ranking is unaffected; the blend
    * across tf weights rare terms more aggressively than the log form.)
    *
    * Scale shape: explode → map-side-combined (doc, token) counts,
    * materialized ONCE (localCheckpoint — plan-probed: without it the tf
    * subtree plans twice, i.e. two full corpus tokenize passes, because
    * exchange reuse can't fire once AQE converts one branch to a
    * broadcast); df is a token-keyed aggregate of the materialized frame
    * joined back on token — NOT a count-over-window, whose WindowExec
    * would sort the entire (doc, token) stream by token (the same trap the
    * Jaccard df-cap hit in round 2). N arrives as a broadcast one-row
    * frame; the per-doc top-3 window is bounded map-side by Spark 4's
    * WindowGroupLimit before the doc_id shuffle. On a multi-executor
    * cluster swap localCheckpoint for persist-to-disk/checkpoint — the
    * same trade documented at [[Extended.clusterLabels]]. */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .materialized
    // df stays a map-side-combined aggregate + join over the tf
    // CHECKPOINT (not a token-partitioned window: the hottest token's
    // full posting list in one window buffer is the straggler shape at
    // corpus scale, while the partial aggregate ships one row per
    // (partition, token) — examined and kept in r16)
    val dfCounts = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val withDf = tf.join(dfCounts, "token")
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    withDf.crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        ((col("tf") * col("n")).cast(DoubleType) / col("df").cast(DoubleType))
          .as("score"))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= 3)
      .orderBy("doc_id", "rk")
  }

  /** Unigram-LM cross-entropy scoring (the CCNet-style quality filter):
    * train a unigram model on the corpus itself, score every document by
    * its mean -log2 p(token) — "bits per token". Fluent text built from
    * common tokens scores low; rare-token noise scores high; the score is
    * the classic keep/drop signal next to [[textQuality]]'s ratios.
    *
    * Cross-engine float parity: per-token log-probs are QUANTIZED ONCE on
    * the vocab frame — `qlog = floor(log2(ctf)·1e6 + 0.5)` — so every
    * downstream step (tf·qlog products, per-doc sums, the n_tokens
    * division) is exact integer arithmetic until one final double
    * division. Summing raw double logs per occurrence would be
    * partition-order-dependent and ulp-sensitive across engines.
    * Round-to-nearest (not plain floor) is load-bearing: at ctf = 2^k the
    * true log2 is EXACTLY an integer, and the two engines' log2 land on
    * opposite sides of it (libm log2(8)=3.0 exactly; log(8)/log(2) can be
    * 2.999…96) — a plain floor splits there on every power-of-two count,
    * while +0.5 puts both a half-unit away from the cut. The remaining
    * boundaries (log2 of a non-power-of-two within 1e-10 of a half-unit)
    * are measure-zero irrationals, one test per DISTINCT count value.
    *
    * Scale shape: tokenize once into the (doc, token, tf) aggregate
    * (localCheckpoint — same two-consumer replan trap as [[textTfidf]]);
    * the scoring join is the pre-aggregated (doc,token) grain against the
    * token-grain vocab — broadcast here, a shuffled-hash join keyed on
    * token at web scale where both sides are already aggregates (skew is
    * bounded by distinct docs per token, not token occurrences). */
  def textPpl(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .materialized
    val vocab = tf.groupBy("token").agg(sum("tf").as("ctf"))
      .withColumn("qlog_ctf",
        floor(log2(col("ctf").cast(DoubleType)) * 1e6 + 0.5).cast(LongType))
    val total = tf.agg(sum(col("tf")).as("n"))
      .withColumn("qlog_n",
        floor(log2(col("n").cast(DoubleType)) * 1e6 + 0.5).cast(LongType))
    tf.join(broadcast(vocab), "token")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum(col("tf")).cast(LongType).as("n_tokens"),
        roundD(
          (max(col("qlog_n")) * sum(col("tf")) -
            sum(col("tf") * col("qlog_ctf"))).cast(DoubleType) /
            (sum(col("tf")).cast(DoubleType) * 1e6), 4)
          .as("bits_per_token"))
      .orderBy("doc_id")
  }

  /** Character-level Shannon entropy per document — "bits per char", the
    * gibberish / compressed-junk quality signal (natural English sits
    * ≈4.1 bits over its char distribution; base64 blobs and random bytes
    * push toward log2(alphabet), repeated filler collapses toward 0).
    * Complements [[textQuality]]'s ratio heuristics and [[textPpl]]'s
    * corpus-LM score with a corpus-independent per-doc measure.
    *
    * Parity: the [[textPpl]] quantized-log2 technique verbatim — log2 is
    * taken only on INTEGER character counts, rounded once onto the 1e-6
    * grid, so H = (n·qlog(n) − Σ c·qlog(c)) / (n·1e6) is exact integer
    * arithmetic (|terms| ≤ n·qlog(n) < 2^40 at any document size the
    * corpus holds) until one final division. Power-of-two counts land
    * exactly on the grid in both engines (the +0.5 rationale there).
    *
    * Scale shape: char explode is map-side and immediately partial-
    * aggregated; the shuffled grain is (doc, char) ≤ docs × alphabet —
    * bounded by construction, no skew (keyed by doc_id). Characters ride
    * as their integer code points (ascii), not 1-char strings — a
    * fixed-width grouping key hashes and shuffles cheaper than a string
    * at this row volume. */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .filter(length(col("text")) > 0)
      // split("") is codegen'd and builds the char array in one pass —
      // an interpreted transform(sequence, i -> substr) costs a lambda
      // dispatch per character (measured ~2x the whole query). The empty
      // trailing element split emits is dropped by STRING emptiness, not
      // by ascii==0 — a real NUL character also has ascii 0 and must stay
      // a counted symbol (the oracle's per-position walk counts it)
      .select(col("doc_id"),
        explode(split(col("text"), "")).as("c0"))
      .filter(col("c0") =!= "")
      .select(col("doc_id"), ascii(col("c0")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .withColumn("qlog_c",
        floor(log2(col("c").cast(DoubleType)) * 1e6 + 0.5).cast(LongType))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"), sum(col("c") * col("qlog_c")).as("s"))
      .withColumn("qlog_n",
        floor(log2(col("n").cast(DoubleType)) * 1e6 + 0.5).cast(LongType))
      .select(col("doc_id"), col("n").cast(LongType).as("n_chars"),
        roundD((col("n") * col("qlog_n") - col("s")).cast(DoubleType) /
          (col("n").cast(DoubleType) * 1e6), 4).as("entropy_bits"))
      .orderBy("doc_id")

  /** Email / phone regexes for [[textPii]] — kept to syntax Java regex and
    * RE2 (DuckDB) interpret identically: character classes, bounded
    * quantifiers, \b word boundaries; no backrefs or lookaround. */
  private val emailRe = "[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\b555-[0-9]{4}\\b"

  /** PII detection + redaction: count and mask emails and phone numbers.
    * The synthetic corpus carries no PII, so the query first PLANTS
    * deterministic tokens (an email on doc_id % 10 == 0, a phone on
    * doc_id % 10 == 5 — both derived from doc_id, so the oracle plants the
    * identical bytes); the product is the scrub expressions, which run
    * unchanged on a real corpus. Pure per-row regexp work — map-side, no
    * shuffle, stays in whole-stage codegen; the scrubbed text is reported
    * as md5 so the compare never ships full documents. */
  def textPii(spark: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 10L === 0L,
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast(StringType), lit("@example.com")))
      .when(col("doc_id") % 10L === 5L,
        concat(col("text"), lit(" call 555-"),
          lpad((col("doc_id") % 10000L).cast(StringType), 4, "0")))
      .otherwise(col("text"))
    val scrubbed = regexp_replace(
      regexp_replace(planted, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
    table(spark, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(planted, lit(emailRe), lit(0)))
          .cast(LongType).as("n_emails"),
        size(regexp_extract_all(planted, lit(phoneRe), lit(0)))
          .cast(LongType).as("n_phones"),
        md5(scrubbed).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** Within-document repetition: the fraction of bigrams occupied by the
    * single most frequent bigram — the cheap boilerplate/template signal
    * (quality-filter pipelines threshold on exactly this family of
    * duplicate-n-gram fractions). Shape: bigrams explode off the token
    * array (adjacent-pair zip, no self-join), then two keyed aggregations
    * with map-side combine; nothing ever sorts the corpus. */
  def textRep(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
    table(spark, dir, "documents")
      .filter(size(toks) >= 2)
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), max("c").as("top_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("top_cnt"),
        roundD(col("top_cnt").cast(DoubleType) / col("n_bigrams"), 4)
          .as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Content fingerprint: md5 over the sorted distinct token set — an
    * order-insensitive document signature for exact-content dedup across
    * formatting variants. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(
        col("doc_id"),
        md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
          .as("fingerprint"))
      .orderBy("doc_id")

  /** Sliding-window document chunking — the context-window splitter every
    * RAG / long-document training pipeline runs before embedding: 200-char
    * chunks advancing by 150 (50-char overlap so no sentence is lost at a
    * boundary). `sequence(0, len-1, stride)` + explode is pure map-side
    * codegen — chunking N docs costs one scan, zero shuffles (the only
    * exchange in the plan is the final presentation sort; PlanSpec locks
    * this). Chunks are reported as md5 + length, not text, so the result
    * stays small while still hash-pinning every chunk's exact bytes. */
  def textChunks(spark: SparkSession, dir: String): DataFrame = {
    val len = length(col("text"))
    table(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), greatest(len - 1, lit(0)), lit(150))).as("s"))
      .select(col("doc_id"),
        (col("s").cast(LongType) / 150).cast(LongType).as("chunk_id"),
        length(col("text").substr(col("s") + 1, lit(200))).cast(LongType)
          .as("chunk_len"),
        md5(col("text").substr(col("s") + 1, lit(200)).cast(BinaryType))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Content-defined chunking — the dedup-grade splitter next to the
    * fixed-stride [[textChunks]]: cut points come from a Karp-Rabin rolling
    * hash ([[graft.functions.CdcBoundaries]], window 16, hash ≡ 0 mod 64 →
    * ~64-byte expected chunks), so an edit perturbs only the chunk it
    * touches while every later chunk keeps its identity — the property
    * chunk-level dedup at 100 TB depends on and fixed strides lack.
    *
    * Shape: the boundary scan is one codegen'd O(n) pass per document,
    * map-side; chunk assembly is array arithmetic over the boundary list;
    * nothing shuffles before the presentation sort. Chunks are reported as
    * (len, md5) so the compare pins exact bytes without shipping text. The
    * document's end is always the final boundary (appended unless the hash
    * already cut there), so chunks tile the document exactly. */
  def chunksCdc(spark: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    val bs = graft.functions.CdcBoundaries(txt)
    val bounds = when(array_contains(bs, length(txt)), bs)
      .otherwise(concat(bs, array(length(txt))))
    // CdcBoundaries emits BYTE offsets while substr/length below count
    // CHARS; the two agree only on single-byte text. The corpus is ASCII,
    // but that assumption is enforced, not assumed: a multibyte document
    // fails loudly here instead of silently mis-tiling and hashing wrong
    // slices. (octet_length == char_length ⇔ every char is one byte.)
    val asciiGuarded = when(octet_length(txt) === length(txt), txt)
      .otherwise(raise_error(concat(
        lit("chunksCdc: non-ASCII text in doc_id="),
        col("doc_id").cast(StringType))).cast(StringType))
    table(spark, dir, "documents")
      .select(col("doc_id"), asciiGuarded.as("text"), bounds.as("bounds"))
      .select(col("doc_id"), txt, col("bounds"),
        posexplode(col("bounds")).as(Seq("bi", "e")))
      .select(col("doc_id"), (col("bi") + 1).cast(LongType).as("chunk_idx"),
        when(col("bi") === 0, lit(0))
          .otherwise(element_at(col("bounds"), col("bi"))).as("s"),
        col("e"), txt)
      .select(col("doc_id"), col("chunk_idx"),
        (col("e") - col("s")).cast(LongType).as("chunk_len"),
        md5(txt.substr(col("s") + 1, col("e") - col("s")).cast(BinaryType))
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Bigram collocation mining by lift — the phrase detector (word2vec-style
    * "new_york" merging, quality-signal n-gram stats) over the corpus.
    * lift = N * c(ab) / (c(a) * c(b)) stays in exact integer arithmetic
    * until one final double division (same rationale as [[textTfidf]]'s
    * linear idf: libm log differs across engines in the last ulp; lift is
    * monotone with PMI for ranking). Shapes: bigrams explode map-side from
    * the token array (no self-join of the token stream!), counts are
    * map-side-combined keyed aggregates, and the two unigram lookups plus
    * the one-row N frame all broadcast at vocab scale (drop the hints and
    * let the lookups shuffle on token if the vocab ever outgrows the
    * driver) — the corpus is touched exactly twice (unigram pass + bigram
    * pass), never sorted. The unigram count frame is materialized ONCE
    * (localCheckpoint, the [[textTfidf]] pattern): it feeds three
    * consumers (w1 lookup, w2 lookup, N), and without the materialization
    * each consumer re-plans its own full corpus tokenize pass — explain
    * showed four scans where two suffice. */
  def textColloc(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(tokens(col("text")).as("t"))
    val uni = docs.select(explode(col("t")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .materialized
    val n = uni.agg(sum("c").cast(LongType).as("n"))
    val big = docs
      .select(explode(transform(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        (x, i) => struct(x.as("w1"), element_at(col("t"), i + lit(2)).as("w2"))))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    big
      .join(broadcast(uni.select(col("token").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("token").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_ab"),
        roundD((col("n") * col("c_ab")).cast(DoubleType) /
          (col("c1") * col("c2")).cast(DoubleType), 4).as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** READABILITY scoring — Flesch reading ease from integer text
    * statistics: word count (the shared [[tokens]] split), sentence count
    * (terminal-punctuation runs, floored at 1), and syllables
    * approximated as vowel-group runs (`[aeiouy]+` — the standard
    * heuristic; spaces break groups, so one regex pass over the whole
    * text counts per-word groups correctly). The quality-filter family's
    * readability axis next to [[textQuality]]'s length/stopword axes —
    * published pipelines band corpora by exactly this score. All three
    * counts are INTEGERS from regex passes both engines implement
    * identically (character classes only — no dialect-divergent syntax),
    * so the one float formula runs on identical inputs. Map-side only;
    * the output sort is the lone shuffle. */
  def textReadability(spark: SparkSession, dir: String): DataFrame = {
    val words = greatest(size(tokens(col("text"))), lit(1))
      .cast(LongType)
    val syll = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0))).cast(LongType)
    val sents = greatest(size(regexp_extract_all(col("text"),
      lit("[.!?]+"), lit(0))), lit(1)).cast(LongType)
    table(spark, dir, "documents")
      .select(col("doc_id"), words.as("words"), syll.as("syllables"),
        sents.as("sentences"),
        roundD(lit(206.835) -
          lit(1.015) * (words.cast(DoubleType) / sents.cast(DoubleType)) -
          lit(84.6) * (syll.cast(DoubleType) / words.cast(DoubleType)), 4)
          .as("flesch"))
      .orderBy("doc_id")
  }

  /** Interpolated KNESER-NEY bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999's benchmark winner) — the LM-training statistic
    * beyond [[textColloc]]'s lift and [[textPpl]]'s unigram model:
    * absolute discounting of the bigram count, with the stolen mass
    * backing off to the CONTINUATION unigram (how many distinct contexts
    * a word follows — why "francisco" scores low despite high raw count).
    *
    *   P(w|v) = max(c(v,w)−d, 0)/c(v) + d·N₁₊(v,·)/c(v) · N₁₊(·,w)/N₁₊(·,·)
    *
    * Every statistic is a keyed integer aggregate off ONE materialized
    * bigram-count pass: c(v) and N₁₊(v,·) are the left margin (sum +
    * row-count of the same groupBy), N₁₊(·,w) the right margin, N₁₊(·,·)
    * a one-row frame. The formula is float but both engines evaluate the
    * IDENTICAL expression tree on identical integers (d = 0.75 is exactly
    * representable), then 6-dp round. */
  def lmKneserNey(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(tokens(col("text")).as("t"))
    val big = docs
      .select(explode(transform(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        (x, i) => struct(x.as("v"), element_at(col("t"), i + lit(2)).as("w"))))
        .as("bg"))
      .select(col("bg.v").as("v"), col("bg.w").as("w"))
      .groupBy("v", "w").agg(count(lit(1)).as("c_vw"))
      .materialized
    val left = big.groupBy("v")
      .agg(sum("c_vw").cast(LongType).as("c_v"), count(lit(1)).as("n1_v"))
    val cont = big.groupBy("w").agg(count(lit(1)).as("n1_w"))
    val n1all = big.agg(count(lit(1)).as("n1_all"))
    big.join(broadcast(left), "v")
      .join(broadcast(cont), "w")
      .crossJoin(broadcast(n1all))
      .select(col("v"), col("w"), col("c_vw"), col("c_v"),
        roundD(
          greatest(col("c_vw").cast(DoubleType) - lit(0.75), lit(0.0)) /
            col("c_v").cast(DoubleType) +
            lit(0.75) * col("n1_v").cast(DoubleType) /
              col("c_v").cast(DoubleType) *
              (col("n1_w").cast(DoubleType) / col("n1_all").cast(DoubleType)),
          6).as("p_kn"))
      .orderBy(col("c_vw").desc, col("v"), col("w"))
      .limit(20)
  }

  /** BPE merge-pair counting — the inner loop of tokenizer training: count
    * every adjacent character pair across all token occurrences and rank
    * the merge candidates (the top pair is what a BPE trainer would merge
    * next). A 100 TB tokenizer-training run is exactly this query iterated:
    * explode is map-side, the pair count is a map-side-combined aggregate
    * over a tiny key space (≤ alphabet²), and the top-20 is a bounded
    * take — per iteration the corpus is scanned once and the shuffle
    * carries only (pair, count) partials. */
  def textBpe(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .filter(length(col("token")) >= 2)
      .select(col("token"), explode(sequence(lit(1), length(col("token")) - 1)).as("i"))
      .select(col("token").substr(col("i"), lit(2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  /** Inverted-index construction: token → sorted posting list of documents,
    * reported as (df, md5-of-postings) so the oracle pins the exact list
    * without shipping it. The (token, doc_id) distinct and the keyed
    * aggregate are the index-build shuffle; `sort_array` orders each
    * posting list deterministically INSIDE its reducer (no global sort).
    * At 100 TB the skew trap is stopword postings (one token = billions of
    * doc_ids in one reducer): production sharding splits the posting key
    * into (token, doc_id div B) segment rows — same plan shape, bounded
    * reducers — and delta-encodes each segment ([[invIndexSeg]] is that
    * registered form); this canonical single-row-per-token form is the
    * small-vocab baseline. */
  def invIndex(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"), col("doc_id"))
      .distinct()
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))), _.cast(StringType)))
          .cast(BinaryType)).as("postings_md5"))
      .orderBy("token")

  /** Posting-segment width for [[invIndexSeg]]: each (token, seg) row holds
    * at most this many doc_ids, because seg = doc_id div B admits only B
    * distinct doc_ids — the bound holds by construction for ANY token
    * frequency, which is the whole point. */
  val invIdxSegSize = 100L

  /** Segment-sharded inverted index — the production form of [[invIndex]]'s
    * documented stopword-skew fix: the posting key is (token, doc_id div B)
    * so a token appearing in EVERY document ("the" at 100 TB: billions of
    * postings) spreads across doc-range segments instead of concentrating
    * one reducer, and per-reducer list state is bounded at B by
    * construction. Same plan shape as the canonical form (distinct +
    * keyed aggregate); a reader walks a token's segments in seg order,
    * which is also ascending-doc_id order — so segment-local sorted lists
    * concatenate into the global posting list (delta-encoding per segment
    * drops in here in a real deployment). TextSegSpec asserts the bound on
    * a stopword-heavy fixture. */
  def invIndexSeg(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"), col("doc_id"))
      .distinct()
      .groupBy(col("token"), expr(s"doc_id div $invIdxSegSize").as("seg"))
      .agg(count(lit(1)).as("seg_df"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(col("doc_id"))), _.cast(StringType)))
          .cast(BinaryType)).as("postings_md5"))
      .orderBy("token", "seg")

  /** VOCABULARY BUILD — the tokenizer-adjacent artifact next to [[bpe]]:
    * a (token → stable id) dictionary with a frequency floor, ids
    * assigned by (freq desc, token) rank so re-runs and corpus growth
    * keep ids stable for unchanged heads. The global rank uses the
    * distributed decomposition (the shard_balance move): per-FREQUENCY
    * token counts collapse to a driver-folded offset table (bounded by
    * |distinct surviving frequencies| — heavy-tailed corpora keep this
    * tiny once the floor applies), and each token's id = its frequency's
    * offset + its row_number within the frequency partition. No global
    * sort; every window partitions on freq. */
  def vocabBuild(spark: SparkSession, dir: String,
      minFreq: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val counts = table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .materialized
    val freqCounts = counts.groupBy("freq").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (f, _) => -f }
    var running = 0L
    val offsets = freqCounts.map { case (f, c) =>
      val off = running; running += c; (f, off)
    }.toSeq.toDF("freq", "off")
    val wi = Window.partitionBy("freq").orderBy("token")
    counts.join(broadcast(offsets), "freq")
      .select(col("token"), col("freq"),
        (col("off") + row_number().over(wi)).as("id"))
      .orderBy("id")
  }

  /** Piece table of the SHIPPED subword tokenizer [[tokEncode]] applies —
    * grouped by piece length for the greedy longest-match walk. A
    * production tokenizer's vocabulary/merge table is a pretrained MODEL
    * ARTIFACT distributed with the pipeline, not derived from the corpus
    * being encoded, so it is a literal here (the VectorOps `weight(i,j)`
    * convention: the same constants generate the Spark expression and the
    * DuckDB CASE arms, one source of truth). */
  private[graft] val encPieces: Map[Int, Seq[String]] = Map(
    4 -> Seq("batc", "colu", "fast", "filt", "grou", "hash", "join", "line",
      "merg", "orde", "part", "quer", "scan", "slow", "sort", "spar", "stre",
      "tabl", "valu", "vect", "wind"),
    3 -> Seq("agg", "eam", "ery", "ine", "key", "row", "the", "umn"),
    2 -> Seq("am", "ch", "er", "mn", "ow", "or", "ry", "ta", "ue", "up"))

  /** Greedy longest-match piece length at `pos` (0-based) in `w`: try the
    * 4-char pieces, then 3, then 2; any unmatched character is its own
    * piece (the byte-fallback rule every production tokenizer ends with). */
  private def pieceLen(w: Column, pos: Column): Column =
    when(w.substr(pos + lit(1L), lit(4L)).isin(encPieces(4): _*), lit(4L))
      .when(w.substr(pos + lit(1L), lit(3L)).isin(encPieces(3): _*), lit(3L))
      .when(w.substr(pos + lit(1L), lit(2L)).isin(encPieces(2): _*), lit(2L))
      .otherwise(lit(1L))

  /** Subword piece count of one word under the greedy walk. The fold
    * state packs (pos, count) into ONE long (pos·10⁶ + count — word
    * lengths are nowhere near 10⁶), keeping the accumulator homogeneous
    * (Spark's `aggregate` needs one state type); the oracle replays the
    * identical integer walk as a recursive CTE (see the tok_encode
    * oracle's note on why NOT `list_reduce`). The walk runs `length(w)`
    * steps (each advances ≥ 1 char, so it always finishes) and stalls at
    * the end-of-word guard. */
  private[graft] def pieceCount(w: Column): Column = {
    val stepped = aggregate(sequence(lit(1), length(w)), lit(0L), (acc, _) => {
      val pos = floor(acc.cast(DoubleType) / 1e6).cast(LongType)
      val bl = pieceLen(w, pos)
      when(pos >= length(w).cast(LongType), acc)
        .otherwise((pos + bl) * lit(1000000L) + pmod(acc, lit(1000000L)) + lit(1L))
    })
    pmod(stepped, lit(1000000L))
  }

  /** TOKENIZER APPLY — encode the corpus against the shipped subword
    * vocabulary ([[encPieces]]) and report per-document token-economy
    * stats: whitespace-token count, subword-piece count, and
    * pieces-per-token (the compression ratio that decides context-window
    * cost and is the standard "is this tokenizer a fit for this corpus"
    * diagnostic). Completes the tokenizer family: [[textBpe]] counts the
    * merge candidates TRAINING would take, [[vocabBuild]] assigns ids —
    * this is the APPLY step every training-data pipeline actually runs
    * per document.
    *
    * Scale shape — encode the VOCABULARY, not the corpus: the greedy
    * walk runs once per DISTINCT word (a Zipf-bounded frame, tiny next
    * to the token stream at 100 TB), and per-document totals come from
    * joining the per-(doc, word) count frame — built in the same single
    * tokenize pass — against the |vocab|-row encoded frame (broadcast).
    * Per-token work never multiplies by word length; the fold itself is
    * one codegen-friendly higher-order aggregate, no UDF. */
  def tokEncode(spark: SparkSession, dir: String): DataFrame = {
    val perDocWord = materialize(table(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c")))
    val encoded = perDocWord.select("w").distinct()
      .select(col("w"), pieceCount(col("w")).as("p"))
    perDocWord.join(broadcast(encoded), "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * col("p")).as("n_pieces"))
      .select(col("doc_id"), col("n_tokens"), col("n_pieces"),
        roundD(col("n_pieces").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("pieces_per_token"))
      .orderBy("doc_id")
  }

  /** Comparison vocabulary size for [[textJsd]] — the corpus top-50 plus
    * an `<other>` bucket, so the divergence runs over a BOUNDED symbol
    * set regardless of corpus vocabulary. */
  val jsdVocab = 50

  /** JENSEN–SHANNON SOURCE DRIFT — per document source, the JS divergence
    * (bits) between its unigram distribution and the corpus-wide one:
    * the symmetric, bounded [0,1] "did this feed change register"
    * monitor, completing the information-theoretic family next to
    * [[textEntropy]] (within-doc) and `ppl` (cross-entropy vs the
    * corpus LM). JSD(P‖Q) = H((P+Q)/2) − (H(P)+H(Q))/2.
    *
    * Exactness: with equal mixture weights, the midpoint's probability
    * masses share the common denominator D = 2·n_p·n_q, so its numerators
    * u_i = c_i·n_q + q_i·n_p are exact BIGINTs, and all three entropies
    * take the same closed form H = (N·qlog(N) − Σ u·qlog(u)) / (N·10⁶)
    * over integer counts — the [[textPpl]] quantized-log2 convention, so
    * both engines land bit-identically; u·qlog(u) products sum in
    * DECIMAL(38,0) (they brush 2⁶³ at scale). The final H arithmetic is
    * one identical double tree, rounded 6 dp.
    *
    * Scale shape: one tokenize pass into the (source, token) count frame;
    * the top-50 vocabulary folds out of it (bounded driver collect, the
    * Misra-Gries-candidate convention) and everything after runs on
    * ≤51 symbols per source — drift cost is O(sources·vocab), however
    * large the corpus. */
  /** Quantized log2 on the 1e−6 grid — the shared closed-form-entropy
    * convention of [[textPpl]]/[[textJsd]]/[[textEntropyDrift]] (one
    * definition; the oracle SQL mirrors it verbatim). */
  private def qlog2(c: Column): Column =
    floor(log2(c.cast(DoubleType)) * 1e6 + 0.5).cast(LongType)

  /** The STORED bounded symbol profile [[textJsd]] and
    * [[textEntropyDrift]] both run on: (source, sym, c) where sym is one
    * of the corpus-wide top-[[jsdVocab]] tokens or `<other>`. Staged once
    * per (JVM, dataset dir) ([[graft.ops.stagedFixture]] `jsd_symbols`) —
    * the one tokenize pass over the corpus AND the one bounded driver
    * collect of the top-token list (the Misra-Gries-candidate convention)
    * are paid at stage time; every consumer reads the ≤ sources·51-row
    * store. Factored here because the two monitors MUST agree on the
    * symbol set by construction, not by parallel re-derivation. */
  private def symbolProfile(spark: SparkSession, dir: String): DataFrame = {
    val p = stagedFixture("jsd_symbols", dir) { path =>
      val tokCounts = materialize(
        table(spark, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).as("c")))
      val top = tokCounts.groupBy("token").agg(sum("c").as("ct"))
        .orderBy(col("ct").desc, col("token")).limit(jsdVocab)
        .select("token").collect().map(_.getString(0)).toSeq
      tokCounts
        .select(col("source"),
          when(col("token").isin(top: _*), col("token"))
            .otherwise(lit("<other>")).as("sym"),
          col("c"))
        .groupBy("source", "sym").agg(sum("c").cast(LongType).as("c"))
        .write.mode("overwrite").parquet(s"$path/sym")
    }
    spark.read.parquet(s"$p/sym")
  }

  def textJsd(spark: SparkSession, dir: String): DataFrame = {
    val sym = symbolProfile(spark, dir)
    val corpus = sym.groupBy("sym").agg(sum("c").cast(LongType).as("q"))
    val srcN = sym.groupBy("source").agg(sum("c").cast(LongType).as("np"))
    val nqF = corpus.agg(sum("q").cast(LongType).as("nq"),
      sum((col("q") * qlog2(col("q"))).cast(DecimalType(38, 0))).as("sum_q"))
    val grid = srcN.crossJoin(broadcast(corpus)).crossJoin(broadcast(nqF))
      .join(sym, Seq("source", "sym"), "left")
      .select(col("source"), col("np"), col("nq"), col("sum_q"),
        col("q"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("u", col("c") * col("nq") + col("q") * col("np"))
    val per = grid.groupBy("source", "np", "nq", "sum_q")
      .agg(
        sum(when(col("c") > 0L, (col("c") * qlog2(col("c")))
          .cast(DecimalType(38, 0))).otherwise(lit(0L).cast(DecimalType(38, 0))))
          .as("sum_c"),
        sum((col("u").cast(DecimalType(38, 0)) * qlog2(col("u"))))
          .as("sum_u"))
    val npd = col("np").cast(DoubleType)
    val nqd = col("nq").cast(DoubleType)
    val dd = lit(2.0) * npd * nqd
    val hp = (npd * qlog2(col("np")).cast(DoubleType) -
      col("sum_c").cast(DoubleType)) / (npd * 1e6)
    val hq = (nqd * qlog2(col("nq")).cast(DoubleType) -
      col("sum_q").cast(DoubleType)) / (nqd * 1e6)
    val hm = (dd * qlog2(lit(2L) * col("np") * col("nq")).cast(DoubleType) -
      col("sum_u").cast(DoubleType)) / (dd * 1e6)
    per.select(col("source"), col("np").as("n_tokens"),
        roundD(hm - (hp + hq) / 2.0, 6).as("jsd_bits"))
      .orderBy("source")
  }

  /** SHANNON SOURCE-ENTROPY DRIFT — per document source, the unigram
    * entropy (bits) of its token mix over the same bounded
    * [[jsdVocab]]+`<other>` symbol set [[textJsd]] compares on, SIGNED
    * against the corpus-wide entropy: drift = H_source − H_corpus. The
    * directional companion to JSD's magnitude-only divergence — a
    * templated/boilerplate feed shows NEGATIVE drift (mass concentrates)
    * long before its JSD crosses an alarm threshold, while vocabulary
    * contamination shows POSITIVE drift; the sign is the triage bit the
    * curation gate acts on.
    *
    * Exactness: both entropies take [[textJsd]]'s closed form
    * H = (N·qlog2(N) − Σ c·qlog2(c)) / (N·10⁶) over exact integer counts
    * on the 1e−6 log grid; c·qlog2(c) products sum in DECIMAL(38,0)
    * (the text_jsd moment convention), and only the final H/drift
    * arithmetic is one identical double tree, rounded 6 dp.
    *
    * Scale shape: one tokenize pass into the (source, token) count
    * frame; the top-50 vocabulary folds out of it (bounded driver
    * collect, the Misra-Gries-candidate convention); everything after is
    * O(sources·vocab) with the one-row corpus moments broadcast. */
  def textEntropyDrift(spark: SparkSession, dir: String): DataFrame = {
    val sym = symbolProfile(spark, dir)
    val nqF = sym.groupBy("sym").agg(sum("c").cast(LongType).as("q"))
      .agg(sum("q").cast(LongType).as("nq"),
        sum((col("q") * qlog2(col("q"))).cast(DecimalType(38, 0))).as("sum_q"))
    val per = sym.groupBy("source")
      .agg(sum("c").cast(LongType).as("np"),
        sum((col("c") * qlog2(col("c"))).cast(DecimalType(38, 0))).as("sum_c"))
    val npd = col("np").cast(DoubleType)
    val nqd = col("nq").cast(DoubleType)
    val hp = (npd * qlog2(col("np")).cast(DoubleType) -
      col("sum_c").cast(DoubleType)) / (npd * 1e6)
    val hq = (nqd * qlog2(col("nq")).cast(DoubleType) -
      col("sum_q").cast(DoubleType)) / (nqd * 1e6)
    per.crossJoin(broadcast(nqF)) // one-row corpus moments: bounded fold
      .select(col("source"), col("np").as("n_tokens"),
        roundD(hp, 6).as("h_bits"),
        roundD(hp - hq, 6).as("drift_bits"))
      .orderBy("source")
  }

  /** LEXICAL DIVERSITY PROFILE — type/token ratio and hapax share per
    * source: the vocabulary-richness quality axis next to
    * [[textEntropy]] (mass concentration) and [[textZipf]] (rank
    * structure) — templated or machine-generated feeds crater the TTR
    * long before their entropy moves. One tokenize pass into the
    * (source, token) count frame, then a single per-source rollup —
    * exact integers, permille via `div`. */
  def textTtr(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum("c").as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"),
        expr("n_types * 1000 div n_tokens").as("ttr_pm"),
        expr("n_hapax * 1000 div n_types").as("hapax_pm"))
      .orderBy("source")

  private[graft] val oovVocabTop = 1000

  /** OOV RATE per source — the share of token MASS falling outside the
    * top-[[oovVocabTop]] corpus vocabulary, in integer permille: the
    * tokenizer-coverage audit a training pipeline runs per source before
    * mixing (a source full of out-of-vocabulary mass is code, another
    * language, or junk — and will fragment into long byte-level encodings;
    * [[tokFertility]] measures that cost after encoding, this predicts it
    * before). Deterministic vocabulary: (freq desc, token) TakeOrdered —
    * the [[textZipf]] ranking convention.
    *
    * Scale shape: one tokenize pass into a (source, token) count frame
    * (map-side combined — token mass never re-shuffles per occurrence);
    * the global vocab derives from THAT frame (|source|·|type| rows, not
    * the corpus), broadcasts back as a left-anti membership, and the
    * per-source rollup is a |sources|-key aggregate. All integers. */
  def tokOov(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val vocab = c.groupBy("token").agg(sum("c").as("g"))
      .orderBy(col("g").desc, col("token")).limit(oovVocabTop)
      .select("token")
    val oov = c.join(broadcast(vocab), Seq("token"), "left_anti")
      .groupBy("source").agg(sum("c").as("n_oov"))
    c.groupBy("source").agg(sum("c").as("n_tokens"))
      .join(oov, Seq("source"), "left")
      .select(col("source"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_pm", expr("n_oov * 1000 div n_tokens"))
      .orderBy("source")
  }

  /** TERM BURSTINESS — the Fano factor (variance-to-mean ratio of the
    * PER-DOCUMENT count, zero-count documents included) for the top-20
    * corpus terms: ≈1 means Poisson scatter (function words — 'the'
    * lands everywhere evenly), ≫1 means the term CLUMPS into few
    * documents (topical/boilerplate mass — Church & Gale's burstiness,
    * the signal a dedup/quality pipeline reads to separate template
    * spam from genuinely topical vocabulary next to [[textZipf]]'s
    * rank-curve view). Exact arithmetic: with N docs, tf = Σc and
    * Σc² integer, Fano = (E[x²]−μ²)/μ reduces to the ONE integer ratio
    * (N·Σc² − tf²)/(N·tf) — a single double division on exact int64
    * operands, 6 dp, identical both engines.
    *
    * Scale shape: one tokenize pass into a (token, doc) count (the
    * corpus-sized work, map-side combined), one token-keyed moment
    * aggregate, TakeOrdered top-20 (freq desc, token tiebreak); N rides
    * a one-row broadcast count frame cross-joined onto the 20 survivors
    * INSIDE the plan (mirroring the oracle's count CTE) — one lazy,
    * optimizer-visible plan, no separate construction-time count job. */
  def textBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    val nd = docs.agg(count(lit(1)).as("nd"))
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("c"))
    perDoc.groupBy("token")
      .agg(sum("c").as("tf"), count(lit(1)).as("df"),
        sum(col("c") * col("c")).as("sc2"))
      .orderBy(col("tf").desc, col("token")).limit(20)
      .crossJoin(broadcast(nd))
      .select(col("token"), col("tf"), col("df"),
        roundD((col("nd") * col("sc2") - col("tf") * col("tf"))
          .cast(org.apache.spark.sql.types.DoubleType) /
          (col("nd") * col("tf"))
            .cast(org.apache.spark.sql.types.DoubleType), 6).as("fano"))
      .orderBy(col("tf").desc, col("token"))
  }

  /** ZIPF SLOPE — how natural is the corpus' token frequency curve?
    * Natural language follows freq ∝ rank^(−s) with s ≈ 1; heavily
    * templated/boilerplate or synthetic text bends the curve, so the
    * fitted log-log slope is a one-number corpus-quality signal next to
    * [[textEntropy]] (which sees the same pathology only at the unigram
    * mass level, not its rank structure). Least-squares fit of
    * qlog2(freq) on qlog2(rank) over the top-[[zipfTop]] tokens,
    * deterministic (freq desc, token) ranking.
    *
    * Scale shape: one tokenize pass into the token count frame (the
    * corpus-sized work), TakeOrdered top-K, then the fit runs on K rows:
    * ranks come from one sorted-array posexplode (bounded collect_list —
    * no global window), the moment sums are exact integers on the 1e−6
    * log grid, and only the final slope/intercept are doubles (identical
    * IEEE tree both engines, 6 dp). */
  def textZipf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val top = table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(zipfTop)
    val ranked = top
      .agg(sort_array(collect_list(struct((-col("freq")).as("nf"),
        col("token"), col("freq")))).as("a"))
      .select(posexplode(col("a")).as(Seq("i", "s")))
      .select((col("i") + 1).cast(LongType).as("r"), col("s.freq").as("freq"))
    val m = ranked
      .select(qlog2(col("r")).as("x"), qlog2(col("freq")).as("y"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val (nd, sx, sy, sxy, sxx) =
      (col("n").cast(DoubleType), col("sx").cast(DoubleType),
        col("sy").cast(DoubleType), col("sxy").cast(DoubleType),
        col("sxx").cast(DoubleType))
    val slope = (nd * sxy - sx * sy) / nullif(nd * sxx - sx * sx, lit(0.0))
    m.select(col("n").as("n_tokens"),
      roundD(slope, 6).as("zipf_slope"),
      roundD((sy - slope * sx) / nd / 1e6, 6).as("intercept_log2"))
  }

  /** Fit depth for [[textZipf]] — fixed, so both engines rank and fit the
    * identical head of the frequency curve. */
  val zipfTop = 100

  /** TEXTRANK KEYWORD EXTRACTION — corpus keywords as the PageRank of the
    * word CO-OCCURRENCE graph (Mihalcea & Tarau, EMNLP'04): an undirected
    * edge for every adjacent content-word pair (stopwords and self-pairs
    * dropped), ranked by [[GraphOps.pageRankOf]]'s quantized power
    * iteration — the identical integer-exact contribution sums already
    * proven on the nation graph, here over STRING vertices. Top-15 by
    * (rounded rank, token).
    *
    * Scale shape: one tokenize pass builds the bigram stream (array
    * transform, no window/self-join); the graph then contracts to its
    * DISTINCT edge set — vocabulary², not corpus-sized — so the three
    * rank iterations cost |edges| per round with the |V|-row rank frame
    * broadcast, and corpus volume only affects the one distinct. The
    * composition is the point: any graph op in the catalog runs on any
    * relationally-derived edge frame. */
  def textKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents").select(tokens(col("text")).as("t"))
    val pairs = docs
      .select(explode(transform(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        (x, i) => struct(x.as("a"), element_at(col("t"), i + lit(2)).as("b"))))
        .as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
      .filter(col("a") =!= col("b") &&
        !col("a").isin(stopwords: _*) && !col("b").isin(stopwords: _*))
    // Built PER CONSTRUCTION — NOT memoized across constructions (r15
    // verdict item 3): the co-occurrence graph is single-consumer — the
    // "repeated subframes" rationale behind the [[memo]] store doesn't
    // apply, and a cross-pass memo would let bench passes 2-3 skip the
    // corpus tokenize that is this query's real recurring work. The
    // tokenize pays ONE distinct on the canonical (lo, hi) pair set
    // (materialized, so the corpus is read once); the symmetric edge
    // view is a lazy two-way projection over it — already duplicate-free
    // because lo < hi, so the former distinct over the DOUBLED stream is
    // gone (§2.3: half the rows through that exchange) — and
    // [[GraphOps.pageRankOf]]'s own entry materialize makes it physical
    // off the checkpoint, never re-running the tokenize.
    val cp = materialize(
      pairs.select(least(col("a"), col("b")).as("lo"),
          greatest(col("a"), col("b")).as("hi"))
        .distinct())
    val edges = cp.select(col("lo").as("src"), col("hi").as("dst"))
      .unionByName(cp.select(col("hi").as("src"), col("lo").as("dst")))
    GraphOps.pageRankOf(edges)
      .select(col("id").as("token"), roundD(col("pr"), 8).as("pr"))
      .orderBy(col("pr").desc, col("token"))
      .limit(15)
  }

  /** Query terms for [[invIndexQuery]] — fixed, so both engines evaluate
    * the identical boolean expression. */
  val invQueryAnd = Seq("data", "spark")
  val invQueryNot = "slow"

  /** Query terms for [[bm25]] — fixed, disjunctive (standard BM25 OR
    * semantics: any matching term contributes). */
  val bm25Terms = Seq("data", "spark", "fast")

  /** BM25 RANKED RETRIEVAL — the relevance scorer boolean retrieval
    * ([[invIndexQuery]]) lacks and tf·idf ([[textTfidf]]) only
    * approximates: per (doc, term), tf saturation `tf·(k1+1)/(tf+K)` with
    * length normalization `K = k1·(1−b+b·dl/avgdl)` (k1 = 1.2, b = 0.75 —
    * the standard constants as exact rationals), weighted by idf and
    * summed; top-20 docs.
    *
    * Cross-engine exactness, no float in any comparison: K, the
    * saturation ratio, and every product run in integer MICRO-units with
    * `div` (k1+1 = 2 200 000 µ; K = 300 000 µ + (900 000·dl·N) div T —
    * the b/avgdl fold), and idf uses the established quantized-log2
    * convention ([[textPpl]]'s qlog: round-to-nearest on the 1e-6 grid
    * is safe at power-of-two boundaries): idf_µ = qlog2(2N+1) −
    * qlog2(2df+1) — the non-negative `log(N/df)` family (the raw
    * Robertson odds go negative past df > N/2, the classic BM25 wart
    * Lucene also clamps away). The score is a deterministic BIGINT.
    *
    * Plan at 100 TB: ONE tokenize pass; per-doc tf for the (few, fixed)
    * query terms are conditional counts inside the SAME aggregate that
    * computes dl — no per-term scan, no join, shuffle ∝ docs; the corpus
    * constants (N, T, df per term) are one more tiny aggregate broadcast
    * back; top-20 is TakeOrdered, never a global sort. Against a stored
    * [[invIndexSeg]] index the tf frame is a per-term postings lookup
    * instead of the tokenize pass — same downstream arithmetic. */
  /** The bm25 DuckDB twin — ONE text, used standalone AND as the lexical
    * leg of [[graft.ops.VectorOps]]'s sim_rrf fusion (the topkOracle
    * shared-text convention: a second copy could silently drift). */
  private[graft] val bm25OracleSql: String = {
    val tfSel = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"count(*) FILTER (WHERE token = '$t') AS tf$i" }.mkString(", ")
    val dfSel = bm25Terms.indices.map(i =>
      s"count(*) FILTER (WHERE tf$i > 0) AS df$i").mkString(", ")
    def qlog2(x: String) =
      s"CAST(floor(log2(CAST($x AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    val contribs = bm25Terms.indices.map { i =>
      s"((${qlog2("2 * n + 1")} - ${qlog2(s"2 * df$i + 1")}) * " +
        s"((tf$i * CAST(2200000 AS BIGINT) * 1000000) " +
        s"// (tf$i * 1000000 + ku))) // 1000000"
    }.mkString("(", " + ", ")")
    s"""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS token
        FROM documents),
      per AS (SELECT doc_id, count(*) AS dl, $tfSel FROM toks GROUP BY 1),
      g AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS t, $dfSel
            FROM per),
      s AS (SELECT per.*, g.*,
                   CAST(300000 AS BIGINT) + ((900000 * dl * n) // t) AS ku
            FROM per, g
            WHERE ${bm25Terms.indices.map(i => s"tf$i > 0").mkString(" OR ")})
      SELECT doc_id, dl, $contribs AS score_micro
      FROM s ORDER BY score_micro DESC, doc_id LIMIT 20"""
  }

  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      count(when(col("token") === t, 1)).as(s"tf$i") }
    val per = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val dfCols = bm25Terms.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val gCols = sum("dl").cast(LongType).as("t") +: dfCols
    val g = per.agg(count(lit(1)).as("n"), gCols: _*)
    def qlog2(x: String) =
      s"cast(floor(log2(cast($x as double)) * 1e6 + 0.5) as bigint)"
    val contribs = bm25Terms.indices.map { i =>
      s"""((${qlog2("2 * n + 1")} - ${qlog2(s"2 * df$i + 1")}) *
          ((tf$i * cast(2200000 as bigint) * 1000000)
           div (tf$i * 1000000 + ku))) div 1000000"""
    }
    per.crossJoin(broadcast(g))
      .filter(bm25Terms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .withColumn("ku",
        expr("cast(300000 as bigint) + ((900000 * dl * n) div t)"))
      .withColumn("score_micro", expr(contribs.mkString("(", " + ", ")")))
      .select(col("doc_id"), col("dl"), col("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(20)
  }

  /** BOOLEAN RETRIEVAL over the inverted index — the read side of
    * [[invIndex]]/[[invIndexSeg]] (an index nobody queries is a write-only
    * artifact): docs matching `data AND spark AND NOT slow`, ranked by the
    * query terms' total term frequency.
    *
    * Evaluation is the classic postings-join form: restrict the
    * (token, doc) frame to the query's terms FIRST — against the stored
    * segment-sharded index this is a point lookup per term, reading only
    * those terms' postings, never the corpus — then AND = a doc_id-keyed
    * count equal to the term count, NOT = an anti-join on the negated
    * term's postings, rank = one aggregate over the same restricted
    * postings. Every stage is an equi-join/groupBy on doc_id; cost scales
    * with the matched postings, not the index. */
  def invIndexQuery(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val td = toks.distinct()
    val hits = td.filter(col("token").isin(invQueryAnd: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === invQueryAnd.size)
    val excluded = td.filter(col("token") === invQueryNot).select("doc_id")
    val tf = toks.filter(col("token").isin(invQueryAnd: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("tf_total"))
    hits.join(excluded, Seq("doc_id"), "left_anti")
      .join(tf, "doc_id")
      .select(col("doc_id"), col("n_terms"), col("tf_total"))
      .orderBy(col("tf_total").desc, col("doc_id"))
  }

  /** Phrase query set for [[invIndexPhrase]] — fixed 2-word phrases (the
    * shipped-artifact convention), including one deliberately absent so
    * the zero frame is exercised. */
  private[graft] val phraseQueries = Seq(
    "table hash", "part filter", "customer join", "graft spark")

  /** PHRASE RETRIEVAL over a POSITIONAL index — the rung above
    * [[invIndexQuery]]'s boolean AND (which cannot distinguish "new york"
    * from "york ... new"): each query phrase matches only where its words
    * are ADJACENT. Evaluation is the classic positional postings join:
    * restrict the (doc, pos, token) frame to the phrase vocabulary FIRST
    * (against a stored positional index this is a point lookup per term —
    * only those terms' postings are ever read, never the corpus), then
    * adjacency = an equi-join of first-word postings against second-word
    * postings on (doc_id, pos+1). Cost scales with the matched postings;
    * the join keys on (doc_id, pos) so co-located postings never
    * broadcast the corpus. Phrases with no hits still report a zero row
    * (the dq_benford literal-frame convention). */
  def invIndexPhrase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w1s = phraseQueries.map(_.split(" ")(0)).distinct
    val w2s = phraseQueries.map(_.split(" ")(1)).distinct
    val pos = table(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val first = pos.filter(col("token").isin(w1s: _*))
      .select(col("doc_id"), col("pos"), col("token").as("w1"))
    val second = pos.filter(col("token").isin(w2s: _*))
      .select(col("doc_id"), (col("pos") - 1).as("pos"),
        col("token").as("w2"))
    val agg = first.join(second, Seq("doc_id", "pos"))
      .select(concat(col("w1"), lit(" "), col("w2")).as("phrase"),
        col("doc_id"))
      .filter(col("phrase").isin(phraseQueries: _*))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
    phraseQueries.toDF("phrase")
      .join(agg, Seq("phrase"), "left")
      .select(col("phrase"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("phrase")
  }

  /** Support denominator for [[freqTopk]]: report every token with
    * frequency strictly above total/k. */
  val freqK = 50L

  /** Heavy hitters with an exactness guarantee — the sketch-then-verify
    * pattern: phase 1 runs Spark's distributed frequent-items sketch
    * (per-partition Misra-Gries summaries merged at the driver — space
    * O(1/support) per partition, one pass, NO global shuffle of the token
    * stream) to get a CANDIDATE set that provably contains every token
    * with frequency > total/k (the sketch can over-report, never
    * under-report); phase 2 exactly counts ONLY the candidates (the
    * filter prunes the explode output to a handful of tokens before the
    * aggregate) and keeps the true heavy hitters. The result is EXACT —
    * the sketch only decides what gets the expensive exact pass — which
    * is why a plain GROUP BY/HAVING oracle can check it. At 100 TB this
    * is the vocabulary-pruning / hot-key-detection move: a full token
    * groupBy shuffles billions of distinct keys, the sketch pass shuffles
    * nothing and the verify pass shuffles only candidate rows. */
  def freqTopk(spark: SparkSession, dir: String): DataFrame = {
    val toks = table(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
    // the sketch pass: candidates ⊇ all tokens with freq > total * support
    val candidates = toks.stat.freqItems(Seq("tok"), 1.0 / freqK)
      .head().getSeq[String](0)
    // the corpus token total rides a one-row broadcast frame inside the
    // verify pass's plan (the text_burstiness convention — benign 1-row
    // BNLJ, PlanAudit-allowlisted) instead of a separate driver-side
    // toks.count() action (§5): one fewer Spark job per construction,
    // identical integer comparison.
    val total = toks.agg(count(lit(1)).as("total"))
    toks.filter(col("tok").isin(candidates: _*))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .join(broadcast(total))
      .filter(col("cnt") * freqK > col("total"))
      .select(col("tok"), col("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  private[graft] val stopList = stopwords.map(s => s"'$s'").mkString("(", ",", ")")

  private def encInList(n: Int): String =
    encPieces(n).map(p => s"'$p'").mkString("(", ",", ")")

  val oracles: Map[String, String] = Map(
    // same adjacency semantics via the list-subscript bigram walk, same
    // literal phrase frame with zero rows
    "invidx_phrase" -> {
      val phList = phraseQueries.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents),
      hits AS (
        SELECT doc_id,
               t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS phrase
        FROM toks, unnest(range(1, len(t))) AS r(i)),
      agg AS (
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM hits WHERE phrase IN (SELECT unnest($phList))
        GROUP BY 1),
      ph AS (SELECT unnest($phList) AS phrase)
      SELECT ph.phrase,
             CAST(coalesce(n_occurrences, 0) AS BIGINT) AS n_occurrences,
             CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs
      FROM ph LEFT JOIN agg USING (phrase) ORDER BY phrase"""
    },
    // same whitespace tokens, same char counts, same integer permille
    "tok_fertility" -> """
      WITH t AS (SELECT lang, CAST(length(text) AS BIGINT) AS nc,
                        CAST(len(list_filter(string_split(lower(text), ' '),
                                             x -> x <> '')) AS BIGINT) AS nt
                 FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(sum(nc) AS BIGINT) AS n_chars,
             CAST(sum(nc) AS BIGINT) * 1000 // CAST(sum(nt) AS BIGINT)
               AS chars_per_tok_pm
      FROM t GROUP BY lang ORDER BY lang""",
    // the identical greedy walk as a RECURSIVE CTE (the ts_holt oracle
    // convention — one row per live (word, pos) state, recursion depth =
    // pieces per word); piece lists interpolate from the SAME Scala
    // constants as the Spark expression. Deliberately NOT a list_reduce
    // lambda: DuckDB 1.0.0's vectorized lambda evaluation returns wrong
    // piece counts for a subset of rows when run over the full word set
    // (reproducibly 'part'/'scan' → 2, correct when filtered) — an
    // engine bug the recursive form sidesteps.
    "tok_encode" -> s"""
      WITH RECURSIVE perdw AS (
        SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split(lower(text), ' '),
                       t -> t <> '')) AS w
              FROM documents)
        GROUP BY doc_id, w),
      walk AS (
        SELECT w, 0::BIGINT AS pos, 0::BIGINT AS n
        FROM (SELECT DISTINCT w FROM perdw)
        UNION ALL
        SELECT w,
               pos + CASE
                 WHEN substr(w, (pos + 1)::INT, 4) IN ${encInList(4)} THEN 4
                 WHEN substr(w, (pos + 1)::INT, 3) IN ${encInList(3)} THEN 3
                 WHEN substr(w, (pos + 1)::INT, 2) IN ${encInList(2)} THEN 2
                 ELSE 1 END,
               n + 1
        FROM walk WHERE pos < length(w)),
      enc AS (SELECT w, max(n) AS p FROM walk GROUP BY w)
      SELECT doc_id, SUM(c)::BIGINT AS n_tokens,
             SUM(c * p)::BIGINT AS n_pieces,
             floor(SUM(c * p)::DOUBLE / SUM(c)::DOUBLE * 1e6 + 0.5) / 1e6
               AS pieces_per_token
      FROM perdw JOIN enc USING (w)
      GROUP BY doc_id ORDER BY doc_id""",
    // plain exact GROUP BY/HAVING — the sketch must be invisible in the
    // result (it only nominates candidates for the exact pass)
    "freq_topk" ->
      s"""WITH t AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                   x -> x <> '')) AS tok
                     FROM documents),
               n AS (SELECT count(*) AS total FROM t)
          SELECT tok, count(*) AS cnt FROM t, n
          GROUP BY tok, n.total
          HAVING count(*) * $freqK > n.total
          ORDER BY cnt DESC, tok""",
    "chunks" ->
      """WITH e AS (
           SELECT doc_id, text,
                  unnest(range(0, greatest(length(text) - 1, 0) + 1, 150)) AS s
           FROM documents)
         SELECT doc_id, CAST(s AS BIGINT) // 150 AS chunk_id,
                CAST(length(substring(text, CAST(s AS INT) + 1, 200)) AS BIGINT)
                  AS chunk_len,
                md5(substring(text, CAST(s AS INT) + 1, 200)) AS chunk_md5
         FROM e ORDER BY doc_id, chunk_id""",
    // per-window refold of the same acc*31+byte (mod 1e9+7) hash the
    // Karp-Rabin scan maintains incrementally — O(n·w) here is fine for an
    // oracle; ord() = byte on the ASCII-pinned corpus
    "cdc" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
         b0 AS (SELECT doc_id, text, len,
                       list_filter(range(16, len + 1),
                         p -> list_reduce(list_concat([0::BIGINT],
                                list_transform(range(p - 15, p + 1),
                                  i -> ord(substr(text, i::INT, 1))::BIGINT)),
                                (acc, c) -> (acc * 31 + c) % 1000000007) % 64 = 0) AS bs
                FROM d),
         b AS (SELECT doc_id, text,
                      CASE WHEN list_contains(bs, len::BIGINT) THEN bs
                           ELSE list_append(bs, len::BIGINT) END AS bounds
               FROM b0),
         x AS (SELECT doc_id, text, bounds,
                      unnest(range(1, len(bounds) + 1))::INT AS i
               FROM b),
         ch AS (SELECT doc_id, i, text, bounds[i] AS e,
                       CASE WHEN i = 1 THEN 0 ELSE bounds[i - 1] END AS s
                FROM x)
         SELECT doc_id, i::BIGINT AS chunk_idx, (e - s)::BIGINT AS chunk_len,
                md5(substr(text, (s + 1)::INT, (e - s)::INT)) AS chunk_md5
         FROM ch ORDER BY doc_id, chunk_idx""",
    "colloc" ->
      """WITH toks AS (
           SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
           FROM documents),
         uni AS (
           SELECT u AS token, count(*) AS c
           FROM toks, unnest(t) AS un(u) GROUP BY 1),
         n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
         big AS (
           SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2,
                  count(*) AS c_ab
           FROM toks, unnest(range(1, len(t))) AS r(i)
           GROUP BY 1, 2)
         SELECT b.w1, b.w2, b.c_ab,
                floor((CAST(n.n * b.c_ab AS DOUBLE) /
                       CAST(a.c * w.c AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS lift
         FROM big b
         JOIN uni a ON b.w1 = a.token
         JOIN uni w ON b.w2 = w.token
         CROSS JOIN n
         WHERE b.c_ab >= 5
         ORDER BY lift DESC, w1, w2 LIMIT 20""",
    // identical integer counts (same regex classes), identical float tree
    "text_readability" ->
      """SELECT doc_id,
                CAST(greatest(len(list_filter(string_split(lower(text), ' '),
                  x -> x <> '')), 1) AS BIGINT) AS words,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS syllables,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS sentences,
                floor((206.835
                  - 1.015 * (CAST(greatest(len(list_filter(
                      string_split(lower(text), ' '), x -> x <> '')), 1)
                      AS DOUBLE)
                    / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                      AS DOUBLE))
                  - 84.6 * (CAST(len(regexp_extract_all(lower(text),
                      '[aeiouy]+')) AS DOUBLE)
                    / CAST(greatest(len(list_filter(
                      string_split(lower(text), ' '), x -> x <> '')), 1)
                      AS DOUBLE))) * 1e4 + 0.5) / 1e4 AS flesch
         FROM documents ORDER BY doc_id""",
    // the same margins off the same bigram counts; the probability is the
    // identical left-associated float expression, 6-dp rounded
    "lm_kn" ->
      """WITH toks AS (
           SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
           FROM documents),
         big AS (
           SELECT t[CAST(i AS INT)] AS v, t[CAST(i AS INT) + 1] AS w,
                  count(*) AS c_vw
           FROM toks, unnest(range(1, len(t))) AS r(i)
           GROUP BY 1, 2),
         l AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
                      count(*) AS n1_v FROM big GROUP BY 1),
         c AS (SELECT w, count(*) AS n1_w FROM big GROUP BY 1),
         n AS (SELECT count(*) AS n1_all FROM big)
         SELECT b.v, b.w, b.c_vw, l.c_v,
                floor((greatest(CAST(b.c_vw AS DOUBLE) - 0.75, 0.0)
                         / CAST(l.c_v AS DOUBLE)
                       + 0.75 * CAST(l.n1_v AS DOUBLE)
                         / CAST(l.c_v AS DOUBLE)
                         * (CAST(c.n1_w AS DOUBLE) / CAST(n.n1_all AS DOUBLE)))
                      * 1e6 + 0.5) / 1e6 AS p_kn
         FROM big b JOIN l USING (v) JOIN c USING (w) CROSS JOIN n
         ORDER BY b.c_vw DESC, v, w LIMIT 20""",
    "bpe" ->
      """WITH tk AS (
           SELECT unnest(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')) AS token
           FROM documents),
         p AS (
           SELECT substring(token, CAST(i AS INT), 2) AS pair
           FROM tk, unnest(range(1, length(token))) AS r(i)
           WHERE length(token) >= 2)
         SELECT pair, count(*) AS cnt
         FROM p GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20""",
    "invidx" ->
      """WITH td AS (
           SELECT DISTINCT token, doc_id FROM (
             SELECT unnest(list_filter(string_split(lower(text), ' '),
                                       x -> x <> '')) AS token, doc_id
             FROM documents))
         SELECT token, count(*) AS df,
                md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
                  AS postings_md5
         FROM td GROUP BY token ORDER BY token""",
    "invidx_seg" -> s"""
      WITH td AS (
           SELECT DISTINCT token, doc_id FROM (
             SELECT unnest(list_filter(string_split(lower(text), ' '),
                                       x -> x <> '')) AS token, doc_id
             FROM documents))
         SELECT token, doc_id // $invIdxSegSize AS seg, count(*) AS seg_df,
                md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
                  AS postings_md5
         FROM td GROUP BY token, seg ORDER BY token, seg""",
    "vocab_build" -> """
      WITH c AS (
        SELECT token, count(*) AS freq FROM (
          SELECT unnest(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS token
          FROM documents)
        GROUP BY token HAVING count(*) >= 5)
      SELECT token, freq,
             row_number() OVER (ORDER BY freq DESC, token) AS id
      FROM c ORDER BY id""",
    // identical u_i = c·nq + q·np integer masses, identical quantized
    // logs, identical final double tree
    "text_ttr" ->
      """WITH c AS (
           SELECT source,
                  unnest(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')) AS token
           FROM documents),
         tc AS (SELECT source, token, count(*) AS c FROM c GROUP BY 1, 2)
         SELECT source, count(*) AS n_types,
                CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
                count(*) * 1000 // CAST(sum(c) AS BIGINT) AS ttr_pm,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  * 1000 // count(*) AS hapax_pm
         FROM tc GROUP BY 1 ORDER BY source""",
    // identical top-K head, quantized logs, and final double fit tree
    // same (source, token) counts, same deterministic top-1000 vocab
    // (freq desc, token), same integer permille
    "tok_oov" -> s"""
      WITH toks AS (
        SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS token
        FROM documents),
      c AS (SELECT source, token, count(*) AS c FROM toks GROUP BY 1, 2),
      g AS (SELECT token, CAST(sum(c) AS BIGINT) AS g FROM c GROUP BY 1
            ORDER BY g DESC, token LIMIT $oovVocabTop),
      s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN token NOT IN (SELECT token FROM g)
                                 THEN c ELSE 0 END) AS BIGINT) AS n_oov
            FROM c GROUP BY 1)
      SELECT source, n_tokens, n_oov,
             n_oov * 1000 // n_tokens AS oov_pm
      FROM s ORDER BY source""",
    // same (token, doc) counts, same integer Fano reduction
    // (N*sc2 - tf^2) / (N*tf), one double division, 6 dp
    "text_burstiness" -> """
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS token
        FROM documents),
      pd AS (SELECT token, doc_id, count(*) AS c FROM toks GROUP BY 1, 2),
      m AS (SELECT token, CAST(sum(c) AS BIGINT) AS tf,
                   count(*) AS df, CAST(sum(c * c) AS BIGINT) AS sc2
            FROM pd GROUP BY 1
            ORDER BY tf DESC, token LIMIT 20),
      n AS (SELECT count(*) AS nd FROM documents)
      SELECT token, tf, df,
             floor((nd * sc2 - tf * tf)::DOUBLE / (nd * tf)::DOUBLE
                   * 1e6 + 0.5) / 1e6 AS fano
      FROM m, n ORDER BY tf DESC, token""",
    "text_zipf" -> {
      def qlog2(x: String) =
        s"CAST(floor(log2(($x)::DOUBLE) * 1e6 + 0.5) AS BIGINT)"
      s"""
      WITH toks AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS token
        FROM documents),
      f AS (SELECT token, count(*) AS freq FROM toks GROUP BY 1
            ORDER BY freq DESC, token LIMIT $zipfTop),
      r AS (SELECT row_number() OVER (ORDER BY freq DESC, token) AS r, freq
            FROM f),
      q AS (SELECT ${qlog2("r")} AS x, ${qlog2("freq")} AS y FROM r),
      m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM q)
      SELECT n AS n_tokens,
             floor((n::DOUBLE * sxy - sx::DOUBLE * sy)
                   / nullif(n::DOUBLE * sxx - sx::DOUBLE * sx, 0.0)
                   * 1e6 + 0.5) / 1e6 AS zipf_slope,
             floor((sy::DOUBLE - (n::DOUBLE * sxy - sx::DOUBLE * sy)
                     / nullif(n::DOUBLE * sxx - sx::DOUBLE * sx, 0.0)
                     * sx::DOUBLE) / n::DOUBLE / 1e6 * 1e6 + 0.5) / 1e6
               AS intercept_log2
      FROM m"""
    },
    "text_jsd" -> {
      def qlog2(x: String) =
        s"CAST(floor(log2(($x)::DOUBLE) * 1e6 + 0.5) AS BIGINT)"
      s"""
      WITH toks AS (
        SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS token
        FROM documents),
      tc AS MATERIALIZED (SELECT source, token, count(*) AS c
                          FROM toks GROUP BY 1, 2),
      top AS (SELECT token FROM (
                SELECT token, sum(c) AS ct FROM tc GROUP BY 1
                ORDER BY ct DESC, token LIMIT $jsdVocab)),
      sym AS MATERIALIZED (
        SELECT source,
               CASE WHEN token IN (SELECT token FROM top) THEN token
                    ELSE '<other>' END AS sym,
               CAST(sum(c) AS BIGINT) AS c
        FROM tc GROUP BY 1, 2),
      corpus AS (SELECT sym, CAST(sum(c) AS BIGINT) AS q FROM sym GROUP BY 1),
      srcn AS (SELECT source, CAST(sum(c) AS BIGINT) AS np FROM sym GROUP BY 1),
      nqf AS (SELECT CAST(sum(q) AS BIGINT) AS nq,
                     CAST(sum(q * ${qlog2("q")}) AS DECIMAL(38,0)) AS sum_q
              FROM corpus),
      grid AS (
        SELECT s.source, s.np, n.nq, n.sum_q, c2.q, COALESCE(y.c, 0) AS c
        FROM srcn s CROSS JOIN corpus c2 CROSS JOIN nqf n
        LEFT JOIN sym y ON y.source = s.source AND y.sym = c2.sym),
      g2 AS (SELECT *, c * nq + q * np AS u FROM grid),
      per AS (
        SELECT source, np, nq, sum_q,
               CAST(sum(CASE WHEN c > 0
                             THEN CAST(c * ${qlog2("c")} AS DECIMAL(38,0))
                             ELSE 0 END) AS DECIMAL(38,0)) AS sum_c,
               CAST(sum(CAST(u AS DECIMAL(38,0)) * ${qlog2("u")})
                    AS DECIMAL(38,0)) AS sum_u
        FROM g2 GROUP BY 1, 2, 3, 4)
      SELECT source, np AS n_tokens,
             floor((
               (2.0 * np::DOUBLE * nq::DOUBLE
                  * ${qlog2("2 * np * nq")}::DOUBLE - sum_u::DOUBLE)
                 / (2.0 * np::DOUBLE * nq::DOUBLE * 1e6)
               - ((np::DOUBLE * ${qlog2("np")}::DOUBLE - sum_c::DOUBLE)
                    / (np::DOUBLE * 1e6)
                  + (nq::DOUBLE * ${qlog2("nq")}::DOUBLE - sum_q::DOUBLE)
                    / (nq::DOUBLE * 1e6)) / 2.0
             ) * 1e6 + 0.5) / 1e6 AS jsd_bits
      FROM per ORDER BY source"""
    },
    // the text_jsd machinery minus the midpoint: per-source and corpus
    // entropies in the same quantized-log2 closed form, drift = signed
    // difference of the two identical double trees
    "text_entropy_drift" -> {
      def qlog2(x: String) =
        s"CAST(floor(log2(($x)::DOUBLE) * 1e6 + 0.5) AS BIGINT)"
      s"""
      WITH toks AS (
        SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                          x -> x <> '')) AS token
        FROM documents),
      tc AS MATERIALIZED (SELECT source, token, count(*) AS c
                          FROM toks GROUP BY 1, 2),
      top AS (SELECT token FROM (
                SELECT token, sum(c) AS ct FROM tc GROUP BY 1
                ORDER BY ct DESC, token LIMIT $jsdVocab)),
      sym AS MATERIALIZED (
        SELECT source,
               CASE WHEN token IN (SELECT token FROM top) THEN token
                    ELSE '<other>' END AS sym,
               CAST(sum(c) AS BIGINT) AS c
        FROM tc GROUP BY 1, 2),
      corpus AS (SELECT sym, CAST(sum(c) AS BIGINT) AS q FROM sym GROUP BY 1),
      nqf AS (SELECT CAST(sum(q) AS BIGINT) AS nq,
                     CAST(sum(q * ${qlog2("q")}) AS DECIMAL(38,0)) AS sum_q
              FROM corpus),
      per AS (SELECT source, CAST(sum(c) AS BIGINT) AS np,
                     CAST(sum(c * ${qlog2("c")}) AS DECIMAL(38,0)) AS sum_c
              FROM sym GROUP BY 1)
      SELECT source, np AS n_tokens,
             floor(((np::DOUBLE * ${qlog2("np")}::DOUBLE - sum_c::DOUBLE)
                      / (np::DOUBLE * 1e6)) * 1e6 + 0.5) / 1e6 AS h_bits,
             floor(((np::DOUBLE * ${qlog2("np")}::DOUBLE - sum_c::DOUBLE)
                      / (np::DOUBLE * 1e6)
                    - (nq::DOUBLE * ${qlog2("nq")}::DOUBLE - sum_q::DOUBLE)
                      / (nq::DOUBLE * 1e6)) * 1e6 + 0.5) / 1e6
               AS drift_bits
      FROM per CROSS JOIN nqf ORDER BY source"""
    },
    // the graph_pagerank oracle's unrolled quantized iterations, over the
    // adjacent-content-word graph instead of the nation trade graph
    "text_keywords" -> {
      def iter(out: String, p: String) = s"""
      c$out AS (SELECT e.dst AS id,
                       sum(CAST(floor(p.pr / d.deg * 1e12 + 0.5) AS BIGINT)) AS qsum
                FROM e JOIN d USING (src) JOIN $p p ON p.id = e.src
                GROUP BY 1),
      i$out AS (SELECT v.id,
                      ${1.0 - GraphOps.prDamping} + ${GraphOps.prDamping} *
                        (COALESCE(c$out.qsum, 0)::DOUBLE / 1e12) AS pr
               FROM v LEFT JOIN c$out USING (id))"""
      s"""
      WITH toks AS MATERIALIZED (
        SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
        FROM documents),
      pairs AS MATERIALIZED (
        SELECT z.a AS a, z.b AS b FROM (
          SELECT unnest(list_transform(range(1, len(t)),
                        i -> struct_pack(a := t[i], b := t[i+1]))) AS z
          FROM toks)
        WHERE z.a <> z.b
          AND z.a NOT IN $stopList AND z.b NOT IN $stopList),
      e AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM pairs
        UNION
        SELECT b, a FROM pairs),
      v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      i0 AS (SELECT id, 1.0 AS pr FROM v),
      ${iter("1", "i0")},
      ${iter("2", "i1")},
      ${iter("3", "i2")}
      SELECT id AS token, floor(pr * 1e8 + 0.5) / 1e8 AS pr
      FROM i3 ORDER BY pr DESC, token LIMIT 15"""
    },
    // identical integer micro-unit arithmetic; idf via the same quantized
    // log2 both engines compute on identical inputs
    "bm25" -> bm25OracleSql,
    "invidx_query" -> s"""
      WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                             x -> x <> '')) AS token
           FROM documents),
      td AS (SELECT DISTINCT doc_id, token FROM toks),
      hits AS (SELECT doc_id, count(*) AS n_terms FROM td
               WHERE token IN ('data', 'spark')
               GROUP BY doc_id HAVING count(*) = 2),
      ex AS (SELECT DISTINCT doc_id FROM td WHERE token = 'slow'),
      tf AS (SELECT doc_id, count(*) AS tf_total FROM toks
             WHERE token IN ('data', 'spark') GROUP BY doc_id)
      SELECT h.doc_id, h.n_terms, tf.tf_total
      FROM hits h JOIN tf USING (doc_id)
      WHERE h.doc_id NOT IN (SELECT doc_id FROM ex)
      ORDER BY tf_total DESC, h.doc_id""",
    "tok_count" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(list_filter(string_split(lower(text),' '), t -> t <> '')) AS token
               FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 20""",
    "text_quality" -> s"""
      WITH t AS (SELECT doc_id,
                        list_filter(string_split(lower(text),' '), x -> x <> '') AS toks
                 FROM documents)
      SELECT doc_id,
             len(toks)::BIGINT AS n_tokens,
             len(list_distinct(toks))::BIGINT AS n_distinct,
             floor(len(list_filter(toks, x -> x IN $stopList))::DOUBLE / len(toks) * 1e4 + 0.5) / 1e4 AS stopword_ratio,
             floor(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) * 1e2 + 0.5) / 1e2 AS mean_token_len
      FROM t ORDER BY doc_id""",
    // same regex subset (char classes + \b only), same integer div
    // permilles, same capped blend and 300-permille threshold
    "text_code" -> """
      WITH sig AS (
        SELECT doc_id,
               greatest(length(text), 1) AS n_chars,
               len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS sym_n,
               greatest(len(string_split(text, chr(10))), 1) AS n_lines,
               len(list_filter(string_split(text, chr(10)),
                               x -> regexp_matches(x, '[;{}]\s*$'))) AS eol_n,
               len(list_filter(string_split(text, chr(10)),
                               x -> regexp_matches(x, '^(\t|  )')))
                 AS indent_n,
               len(regexp_extract_all(lower(text),
                 '\b(return|import|class|void|function|println|lambda|struct|elif|const)\b'))
                 AS kw_hits
        FROM documents),
      pm AS (
        SELECT doc_id,
               CAST(sym_n * 1000 // n_chars AS BIGINT) AS sym_pm,
               CAST(eol_n * 1000 // n_lines AS BIGINT) AS eol_pm,
               CAST(indent_n * 1000 // n_lines AS BIGINT) AS indent_pm,
               CAST(kw_hits AS BIGINT) AS kw_hits
        FROM sig),
      sc AS (
        SELECT *, least(1000, sym_pm * 2 + eol_pm + indent_pm
                              + least(kw_hits, 10) * 30) AS score_pm
        FROM pm)
      SELECT doc_id, sym_pm, eol_pm, indent_pm, kw_hits, score_pm,
             CAST(score_pm >= 300 AS INTEGER) AS is_code
      FROM sc ORDER BY doc_id""",
    "text_langid" -> s"""
      WITH t AS (SELECT doc_id, lang,
                        list_filter(string_split(lower(text),' '), x -> x <> '') AS toks
                 FROM documents),
      s AS (SELECT doc_id, lang AS labeled_lang,
                   floor(len(list_filter(toks, x -> x IN $stopList))::DOUBLE / len(toks) * 1e4 + 0.5) / 1e4 AS en_score
            FROM t)
      SELECT doc_id, labeled_lang, en_score,
             CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'und' END AS predicted
      FROM s ORDER BY doc_id""",
    "text_token_count" ->
      """SELECT doc_id,
                len(list_filter(string_split(lower(text),' '), t -> t <> ''))::BIGINT AS ws_tokens,
                len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]'))::BIGINT AS re_tokens
         FROM documents ORDER BY doc_id""",
    // DuckDB regexp_replace is first-match-only without the 'g' flag;
    // Spark's always replaces all — the flag keeps them identical.
    "text_pii" -> s"""
      WITH p AS (SELECT doc_id,
        CASE WHEN doc_id % 10 = 0
               THEN text || ' contact user' || doc_id::VARCHAR || '@example.com'
             WHEN doc_id % 10 = 5
               THEN text || ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
             ELSE text END AS t
        FROM documents)
      SELECT doc_id,
             len(regexp_extract_all(t, '$emailRe'))::BIGINT AS n_emails,
             len(regexp_extract_all(t, '$phoneRe'))::BIGINT AS n_phones,
             md5(regexp_replace(regexp_replace(t, '$emailRe', '<EMAIL>', 'g'),
                                '$phoneRe', '<PHONE>', 'g')) AS scrubbed_md5
      FROM p ORDER BY doc_id""",
    "text_rep" ->
      """WITH t AS (SELECT doc_id,
                           list_filter(string_split(lower(text),' '), x -> x <> '') AS toks
                    FROM documents),
         bg AS (SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
         c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
         SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c)::BIGINT AS top_cnt,
                floor(max(c)::DOUBLE / sum(c) * 1e4 + 0.5) / 1e4 AS rep_ratio
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "text_fingerprint" ->
      """SELECT doc_id,
                md5(array_to_string(list_sort(list_distinct(
                      list_filter(string_split(lower(text),' '), t -> t <> ''))), ' ')) AS fingerprint
         FROM documents ORDER BY doc_id""",
    "text_tfidf" ->
      """WITH toks AS (SELECT doc_id,
                              unnest(list_filter(string_split(lower(text),' '), t -> t <> '')) AS token
                       FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         withdf AS (SELECT tf.*, dfc.df FROM tf JOIN dfc USING (token)),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (SELECT doc_id, token,
                           (tf * n.n)::DOUBLE / df::DOUBLE AS score
                    FROM withdf CROSS JOIN n),
         ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, token) AS rk FROM scored)
         SELECT doc_id, token, score, rk FROM ranked WHERE rk <= 3
         ORDER BY doc_id, rk""",
    "ppl" ->
      """WITH toks AS (SELECT doc_id,
                              unnest(list_filter(string_split(lower(text),' '), t -> t <> '')) AS token
                       FROM documents),
         tfc AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
         vocab AS (SELECT token, sum(tf) AS ctf FROM tfc GROUP BY 1),
         qv AS (SELECT token, CAST(floor(log2(ctf::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qlog_ctf
                FROM vocab),
         qn AS (SELECT CAST(floor(log2(sum(tf)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qlog_n
                FROM tfc),
         perdoc AS (SELECT doc_id, sum(t.tf)::BIGINT AS n_tokens,
                           sum(t.tf * v.qlog_ctf)::BIGINT AS s
                    FROM tfc t JOIN qv v USING (token) GROUP BY doc_id)
         SELECT doc_id, n_tokens,
                floor((qn.qlog_n * n_tokens - s)::DOUBLE
                      / (n_tokens::DOUBLE * 1e6) * 1e4 + 0.5) / 1e4 AS bits_per_token
         FROM perdoc CROSS JOIN qn ORDER BY doc_id""",
    // same quantized-log2 grid as ppl, over per-doc char counts
    "text_entropy" ->
      """WITH ch AS (SELECT doc_id,
                            unnest(list_transform(range(1, length(text) + 1),
                              i -> ascii(text[i:i]))) AS ch
                     FROM documents WHERE length(text) > 0),
         cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
         qc AS (SELECT doc_id, c,
                       CAST(floor(log2(c::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS qlog_c
                FROM cc),
         pd AS (SELECT doc_id, sum(c)::BIGINT AS n,
                       sum(c * qlog_c)::BIGINT AS s
                FROM qc GROUP BY doc_id)
         SELECT doc_id, n AS n_chars,
                floor((CAST(floor(log2(n::DOUBLE) * 1e6 + 0.5) AS BIGINT) * n - s)::DOUBLE
                      / (n::DOUBLE * 1e6) * 1e4 + 0.5) / 1e4 AS entropy_bits
         FROM pd ORDER BY doc_id""",
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tok_count" -> textTokenizeCount _,
    "text_quality" -> textQuality _,
    "text_langid" -> textLangid _,
    "text_code" -> textCode _,
    "tok_fertility" -> tokFertility _,
    "invidx_phrase" -> invIndexPhrase _,
    "text_token_count" -> textTokenCount _,
    "text_fingerprint" -> textFingerprint _,
    "text_tfidf" -> textTfidf _,
    "ppl" -> textPpl _,
    "text_entropy" -> textEntropy _,
    "text_pii" -> textPii _,
    "text_rep" -> textRep _,
    "chunks" -> textChunks _,
    "cdc" -> chunksCdc _,
    "colloc" -> textColloc _,
    "lm_kn" -> lmKneserNey _,
    "text_readability" -> textReadability _,
    "bpe" -> textBpe _,
    "invidx" -> invIndex _,
    "invidx_query" -> invIndexQuery _,
    "bm25" -> bm25 _,
    "text_keywords" -> textKeywords _,
    "text_jsd" -> textJsd _,
    "text_entropy_drift" -> textEntropyDrift _,
    "text_zipf" -> textZipf _,
    "text_burstiness" -> textBurstiness _,
    "tok_oov" -> tokOov _,
    "text_ttr" -> textTtr _,
    "vocab_build" -> ((sp, d) => vocabBuild(sp, d)),
    "invidx_seg" -> invIndexSeg _,
    "freq_topk" -> freqTopk _,
    "tok_encode" -> tokEncode _,
  )
}
