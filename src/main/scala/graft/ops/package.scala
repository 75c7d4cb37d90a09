package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for the operator library.
  *
  * Conventions shared by every driver-checked query (see SURVEY.md §5):
  *   - deterministic output: explicit ORDER BY over a unique key set;
  *   - double aggregation goes through DECIMAL(18,2) so the sum is exact and
  *     order-independent across partitions (then cast back to DOUBLE so the
  *     output schema matches DuckDB's);
  *   - timestamps are emitted as formatted UTC strings (micros precision) to
  *     sidestep parquet TIMESTAMP/NTZ physical-type mismatches between engines.
  */
package object ops {

  /** Parquet table loader. Filters/projections composed on top of this reach
    * the scan via Catalyst pushdown (verified with explain: PushedFilters /
    * ReadSchema) — at 100 TB this is what keeps IO proportional to the query,
    * not to the table.
    *
    * `events.ts` has drifted physical type across test-data generations —
    * TIMESTAMP(NANOS) (which Spark reads only as a nanosecond long under
    * spark.sql.legacy.parquet.nanosAsLong, set in Verify/Bench/test
    * sessions), then timestamp[us] with no timezone annotation (which Spark 4
    * reads as TIMESTAMP_NTZ). Both are normalized here to a regular
    * microsecond TIMESTAMP so every downstream consumer (unix_micros,
    * window(), date_format) sees ONE type. The NTZ→LTZ cast is
    * value-identical under the pinned UTC session timezone, and matches what
    * DuckDB yields reading the same file.
    *
    * A lazy relation in the [[memo]] store — the catalog role: each
    * `spark.read.parquet` pays ~60-80 ms of DRIVER-side work (file listing,
    * footer read, relation construction) before any job runs, and the
    * testdata is read-only for the JVM's lifetime (mutating ops stage
    * PRIVATE copies via [[stagedFixture]], never through this path). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    memo(spark, s"table|$dir|$name")(tableFresh(spark, dir, name))

  private def tableFresh(
      spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      // integer `div`, not `/`: ns values exceed 2^53, double division would
      // lose the low microseconds.
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Exact, partition-order-independent sum of a 2-dp double column.
    * Equivalent DuckDB: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def sumMoney(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Timestamp → 'yyyy-MM-dd HH:mm:ss.SSSSSS' UTC string.
    * Equivalent DuckDB: strftime(ts, '%Y-%m-%d %H:%M:%S.%f'). */
  def tsStr(c: Column): Column =
    date_format(c.cast(TimestampType), "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Timestamp → epoch milliseconds. Equivalent DuckDB: epoch_ms(ts). */
  def epochMs(c: Column): Column = unix_millis(c.cast(TimestampType))

  /** Timestamp → epoch seconds (floor). Equivalent DuckDB: epoch_ms(ts)//1000. */
  def epochSec(c: Column): Column = unix_seconds(c.cast(TimestampType))

  /** No-op wrapper that marks an expression nondeterministic (the condition
    * is always true), pinning its alias against predicate-pushdown /
    * CollapseProject substitution so an expensive expression is evaluated
    * exactly once per row. The inequality form is required: Spark 4
    * constant-folds range comparisons like rand() >= -1 using rand's known
    * [0,1) bounds, which would strip the pin. */
  def pinned(c: Column): Column = when(rand(42) =!= lit(-1.0), c)

  /** Materialize an intermediate frame and truncate its lineage — the
    * multi-consumer / iterative-loop pattern (tfidf's unigram pass, the
    * cluster-label rounds, LSH edge sets): without it each consumer
    * re-plans the whole upstream subtree, and loop lineage grows without
    * bound.
    *
    * IDEMPOTENT: a frame this function already materialized (tracked by
    * instance identity — plan-shape sniffing can't distinguish a
    * checkpoint leaf from a bare createDataFrame LogicalRDD) is returned
    * unchanged: there is no lineage left to truncate, and
    * re-checkpointing would only copy the same rows into a second set of
    * blocks — one wasted job per call. This is what lets the
    * [[memo]]'s loop subframes reach the loop ops' unconditional
    * `materialize(input)` entry guards for free.
    *
    * Storage is conf-selected: when `spark.graft.checkpointDir` is set the
    * blocks go to RELIABLE storage via `checkpoint()` (HDFS/S3 on a real
    * cluster — an executor loss recomputes nothing), otherwise
    * `localCheckpoint()` keeps them in executor block storage (right for
    * local[n] test/bench runs, where "executor loss" means the whole JVM
    * died anyway). Both are eager, so the frame is computed exactly once
    * at the call site either way and downstream plans are identical
    * (LogicalRDD) — PlanSpec's zero-rescan locks hold under either mode. */
  private val materializedFrames: java.util.Set[DataFrame] =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[DataFrame, java.lang.Boolean]()))

  def materialize(df: DataFrame): DataFrame = {
    if (materializedFrames.contains(df)) df
    else {
      // In a ONE-partition session (the [[loopSession]] downsizing —
      // i.e. the frame was just measured at metadata scale) checkpoint
      // behind a coalesce(1): the checkpoint node then reports
      // SinglePartition, which satisfies every non-broadcast distribution,
      // so every downstream join/aggregate over the checkpointed frame
      // plans with NO exchange — loop rounds collapse from one stage per
      // shuffle boundary to a single whole-stage-codegen'd task, which is
      // exactly the cost model a metadata-scale loop should have. At any
      // real parallelism this branch is never taken and the checkpoint
      // preserves the frame's true partitioning.
      val d =
        if (df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1")
          df.coalesce(1)
        else df
      val out = d.sparkSession.conf.getOption("spark.graft.checkpointDir") match {
        case Some(cpDir) =>
          val sc = d.sparkSession.sparkContext
          if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(cpDir)
          d.checkpoint()
        case None => d.localCheckpoint()
      }
      materializedFrames.add(out): Unit
      out
    }
  }

  /** Memo of frames DERIVED from a specific (usually memoized) frame
    * instance — vertex sets, degree-joined edge lists, symmetric views,
    * loop-session transplants: a loop subframe owned by the SOURCE frame
    * (a DataFrame does not override equals, so two spec-built inputs never
    * collide, while the stable instances of [[memo]] hit on every later
    * construction). The derived value is materialized, which truncates its
    * lineage (LogicalRDD), so the value holds no reference back to its
    * owner and the entry collects with the source frame. */
  private[graft] def derivedFrame(src: DataFrame, tag: String)(
      build: => DataFrame): DataFrame =
    memo(src, tag) {
      val df = materialize(build)
      // an already-materialized build returns src itself ([[materialize]]
      // is idempotent); storing it would make the weak entry strongly
      // reference its own owner and pin it forever — store its absence
      Option.when(!(df eq src))(df)
    }.getOrElse(src)

  /** Memoized row count of a (materialized) frame — the loop-session
    * sizing probe, owned by the frame like [[derivedFrame]]: the count of
    * an immutable checkpointed frame cannot change, so each instance pays
    * its count job once per JVM instead of once per construction. */
  private[graft] def rowsOf(df: DataFrame): Long = memo(df, "rows")(df.count())

  /** Chainable form of [[materialize]]. */
  implicit class MaterializeSyntax(private val df: DataFrame) {
    def materialized: DataFrame = materialize(df)
  }

  /** Conf-pinned CHILD session, memoized per (parent, overrides) — the
    * shared helper behind [[Relational.joinBloom]] and
    * [[Bucketing.joinBucketedSorted]]: some confs are read at PLANNING
    * time, so a set/restore around construction is undone before the
    * lazy plan materializes — the conf must live in a session that keeps
    * it set. The child copies the parent's runtime confs at creation
    * (static/non-modifiable entries skipped), then applies the overrides.
    * The override set is the key, so two ops' children never collide. */
  private[graft] def childSession(parent: SparkSession,
      overrides: Map[String, String]): SparkSession =
    memo(parent, overrides) {
      val ns = parent.newSession()
      parent.conf.getAll.foreach { case (k, v) =>
        try ns.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
      overrides.foreach { case (k, v) => ns.conf.set(k, v) }
      ns
    }

  /** Session for an ITERATIVE LOOP over a frame whose size was just
    * measured: shuffle partitions sized by the row count (capped at the
    * parent's setting) and AQE dropped when the whole loop frame fits one
    * partition. Rationale: AQE's job is runtime re-planning for sizes you
    * DON'T know — inside a convergence loop the frame was measured one
    * line earlier, so at small sizes its stage-by-stage materialization
    * only adds per-round latency (the dominant cost of the graph loops on
    * test-scale data: ~0.5 s/round of pure scheduling). At cluster scale
    * `rows/rowsPerPartition` exceeds the parent's parallelism, this
    * returns the PARENT session unchanged, and the loops keep full AQE —
    * the adaptation is itself size-gated. Callers move already-
    * materialized frames in with [[transplant]]. */
  private[graft] def loopSession(parent: SparkSession, rows: Long,
      rowsPerPartition: Long = 500000L): SparkSession = {
    val parentParts = parent.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.min(parentParts.toLong,
      rows / rowsPerPartition + 1L).toInt
    if (parts >= parentParts) parent
    else if (parts == 1) childSession(parent, Map(
      // single-partition loop: auto-broadcast OFF as well — with every
      // checkpointed frame reporting SinglePartition ([[materialize]]),
      // a sort-merge/hash join runs exchange-free in the same stage,
      // whereas a broadcast join would reintroduce a per-round driver
      // collect + broadcast exchange for nothing
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    else childSession(parent, Map(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> (parts > 1).toString))
  }

  /** Per-round lineage policy for the iterative loop ops: at CLUSTER
    * scale ([[loopSession]] returned the parent unchanged) every round
    * MATERIALIZES — a lazily chained loop would re-execute earlier rounds
    * inside every broadcast/consumer and lineage would grow with the
    * round count. In the DOWNSIZED loop session the loop frame was just
    * measured at metadata scale, and a materialized round's dominant cost
    * is pure per-action scheduling latency — so rounds whose tree grows
    * LINEARLY (the next round references the previous exactly once) chain
    * lazily, and the loop pays one action at its exit transplant instead
    * of one per round. Callers whose round references its predecessor
    * MORE than once must keep materializing at least every other round —
    * unbounded lazy chaining there would grow the tree geometrically. */
  private[graft] def roundMat(loopSpark: SparkSession, home: SparkSession)(
      df: DataFrame): DataFrame =
    if (loopSpark eq home) materialize(df) else df

  /** Rebind a (small, already-materialized) frame to another session of
    * the same SparkContext, then re-materialize so loop consumers scan
    * cached internal rows instead of re-encoding externals each pass.
    * No-op when the frame is already bound to `to`. Memoized through
    * [[derivedFrame]]: loop sessions are themselves cached per override
    * set ([[childSession]]), so the same (frame, target) pair recurs on
    * every bench pass — the rebind job should run once per JVM, not once
    * per construction. The session-identity guard re-checks the memo hit
    * (an identityHashCode reuse across sessions would otherwise alias). */
  private[graft] def transplant(to: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq to) df
    else {
      val t = derivedFrame(df, s"transplant#${System.identityHashCode(to)}")(
        to.createDataFrame(df.rdd, df.schema))
      if (t.sparkSession eq to) t
      else materialize(to.createDataFrame(df.rdd, df.schema))
    }

  /** Write-once STAGED FIXTURES, keyed by (fixture name, dataset dir) for
    * the whole JVM — the stored-table half of every "maintained index"
    * operator: a production lake does not rebuild its bootstrap snapshot,
    * trained codebooks, or yesterday's component store before every query;
    * it builds them ONCE (offline / by the previous run) and every query
    * reads the stored artifact. This helper is that contract at fixture
    * scale: the first caller pays the physical build (a parquet write into
    * a fresh [[tempDir]]), every later caller — across queries, bench
    * passes, and specs in the same JVM — re-plans lazy reads over the same
    * staged path. Only the PATH is stored (a stored artifact of the
    * [[memo]] store, owned by [[Jvm]]), so the content must be
    * deterministic in `dir` and, once built, read-only (mutating ops stage
    * PRIVATE copies instead). A build MAY stage another fixture — the
    * fixture DAG is real (verified pairs → dup_labels; kmeans → semantic
    * dedup; pq model → codes/ADC tables; see SURVEY §8) and must stay
    * acyclic. */
  private[graft] def stagedFixture(name: String, dir: String)(
      build: String => Unit): String =
    memo(Jvm, s"$name|$dir") {
      val p = tempDir(s"graft_stage_$name")
      build(p)
      p
    }

  /** The strong owner of the JVM-scope entries of [[memo]]. */
  private[ops] object Jvm

  /** The MEMO STORE behind every cached value of the operator library:
    * `memo(owner, key)(build)` returns the value `build` produced for
    * (owner, key), building it on first use. Values are inputs of queries —
    * deterministic functions of a read-only dataset dir — never query
    * results: every query still runs live on top of them. Three policy
    * classes use it, told apart by owner and by whether the build
    * materializes:
    *   - LAZY RELATION — owner the session, build does not materialize
    *     ([[table]], `tradeEdges`, `ccincrStars`, `laneWalks*`): only the
    *     driver-side relation resolution is saved, and every action still
    *     scans the stored files, so plan locks see the store;
    *   - STORED ARTIFACT — owner [[Jvm]], build writes under a [[tempDir]]
    *     and returns its path or a layout of paths ([[stagedFixture]], the
    *     [[Formats]] layouts): built once per JVM, read-only afterwards;
    *     a consumer that mutates one works on a private copy;
    *   - LOOP SUBFRAME — build materializes, owner the session for named
    *     frames (`copurchaseEdges`, `principalLanes`) or the source frame
    *     ([[derivedFrame]], [[rowsOf]]): the lineage-truncated inputs the
    *     iterative loops would otherwise rebuild on every construction.
    * [[childSession]]'s conf-pinned sessions are session-owned as well.
    *
    * Lifetime: owners are held WEAKLY, but an entry whose value references
    * its owner never collects. Every DataFrame pins its SparkSession
    * (`Dataset.sparkSession`, through its QueryExecution), so the
    * session-owned entries live as long as the JVM, and a stopped session
    * that owns DataFrame entries is never collected. Each main and the
    * shared spec session run one session per JVM, so nothing accumulates.
    * Frame-owned values never hold their owner: they are materialized
    * (lineage truncated) or scalars, and [[derivedFrame]] stores no value
    * that IS its owner — so those entries collect with the source frame.
    *
    * Concurrency + REENTRANCY: the owner's map holds one CELL per key,
    * installed by a pure-allocation computeIfAbsent; the build runs under
    * the cell's own monitor, never inside a map lock. So a build MAY
    * resolve other entries (a composed fixture staging its upstream on a
    * cold JVM; a build-inside-computeIfAbsent would throw
    * IllegalStateException("Recursive update") there); only a dependency
    * CYCLE can deadlock. Concurrent first callers of one key serialize on
    * its cell. A failed build kills AND evicts its cell: callers already
    * parked on the dead cell's monitor re-resolve through the map instead
    * of retrying in place, so the retry serializes on the single live
    * replacement cell (never two concurrent builds of one key). */
  private[graft] def memo[V](owner: AnyRef, key: Any)(build: => V): V = {
    val cells = memos.synchronized {
      memos.computeIfAbsent(owner, _ => new ConcurrentHashMap[Any, MemoCell]())
    }
    var out: Option[Any] = None
    while (out.isEmpty) {
      // None: the fetched cell went STALE (another thread's build failed
      // and evicted it) — re-resolve so the retry uses the live cell
      out = cells.computeIfAbsent(key, _ => new MemoCell).resolve(cells, key, build)
    }
    out.get.asInstanceOf[V]
  }

  private val memos =
    new java.util.WeakHashMap[AnyRef, ConcurrentHashMap[Any, MemoCell]]()

  private final class MemoCell {
    private var value: Option[Any] = None
    private var dead = false
    /** The built value, or None when this cell is STALE: its build failed
      * (under another thread) after the caller fetched it from the map. */
    def resolve(cells: ConcurrentHashMap[Any, MemoCell], key: Any,
        build: => Any): Option[Any] = synchronized {
      if (!dead && value.isEmpty) {
        try value = Some(build)
        catch {
          case e: Throwable =>
            dead = true
            cells.remove(key, this): Unit
            throw e
        }
      }
      value
    }
  }

  /** A fresh directory under `java.io.tmpdir`, deleted with its contents
    * at JVM exit — the one place the operator library creates temp dirs:
    * stored artifacts (including those of failed builds), the sink ops'
    * per-call outputs (the write IS the op) and the catalog warehouses all
    * live exactly as long as the run. */
  private[graft] def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(d): Unit
    d.getPath
  }

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d): Unit)))
  }

  /** Round to n decimals in pure double arithmetic: floor(x*10^n + 0.5)/10^n.
    * Spark's round() goes through the decimal STRING representation
    * (BigDecimal.valueOf HALF_UP) while DuckDB rounds the BINARY double —
    * they disagree at boundaries like 4.725. Both engines computing this
    * expression on identical input bits yields identical output bits.
    * Equivalent DuckDB: floor(x * 1e<n> + 0.5) / 1e<n>. */
  def roundD(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p + 0.5) / p
  }
}
