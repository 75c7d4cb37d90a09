package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract of [[graft.ops.stagedFixture]] — the write-once staged-artifact
  * cache every maintained-index op now builds on — plus rerun-idempotence
  * of its heaviest consumers: the bench reports min across interleaved
  * passes, so the SECOND call of each staged-consumer op is what gets
  * measured; these tests pin that the second call returns byte-identical
  * results without rebuilding anything. */
class StagedFixtureSpec extends SparkSpec {

  /** A stored fixture at one owner scope of the [[memo]] store: the
    * (name, dir) → staged path contract below holds at every scope. */
  private type Fixture = (String, String) => (String => Unit) => String

  private def stagedAt(owner: => AnyRef): Fixture = (name, dir) => build =>
    memo(owner, s"$name|$dir") {
      val p = tempDir(s"graft_sfspec_$name")
      build(p)
      p
    }

  private lazy val frameOwner = spark.range(1).toDF()

  private val scopes = Seq[(String, Fixture)](
    "stagedFixture" -> ((name, dir) => build => stagedFixture(name, dir)(build)),
    "memo(session)" -> stagedAt(spark),
    "memo(frame)" -> stagedAt(frameOwner))

  scopes.foreach { case (scope, staged) =>
    test(s"$scope: builds once per (name, dir), caches the path, keys by dir") {
      val n = new AtomicInteger(0)
      def build(dir: String): String = staged("sfspec_probe", dir) { p =>
        n.incrementAndGet()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$p/marker.txt"), dir): Unit
      }
      val p1 = build("dirA")
      val p2 = build("dirA")
      assert(p1 == p2, "same key must return the same staged path")
      assert(n.get() == 1, "the build must run exactly once per key")
      val p3 = build("dirB")
      assert(p3 != p1, "a different dataset dir is a different fixture")
      assert(n.get() == 2)
      // the staged content is what the first build wrote
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$p1/marker.txt")) == "dirA")
    }

    test(s"$scope: a failed build caches nothing; the retry builds fresh") {
      val n = new AtomicInteger(0)
      def attempt(fail: Boolean): String =
        staged("sfspec_fail", "dirF") { p =>
          n.incrementAndGet()
          if (fail) sys.error("staged build failed")
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$p/ok.txt"), "ok"): Unit
        }
      intercept[RuntimeException](attempt(fail = true))
      val p = attempt(fail = false)
      assert(n.get() == 2, "the failure must not have been cached")
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$p/ok.txt")))
    }

    test(s"$scope: a caller parked behind a FAILING build re-resolves, never double-builds") {
      // the stale-cell race: A starts the build (holds the cell monitor), B
      // fetches the SAME cell from the map and parks on its monitor, then
      // A's build fails — the cell dies and is evicted. B must NOT retry
      // inside the dead cell (a fresh caller may have installed a
      // replacement: two concurrent builds of one key); it re-resolves
      // through the map and serializes on the single live cell.
      val builds = new AtomicInteger(0)
      val aBuilding = new java.util.concurrent.CountDownLatch(1)
      def fixture(fail: Boolean): String =
        staged("sfspec_stale", "dirS") { p =>
          builds.incrementAndGet()
          if (fail) {
            aBuilding.countDown()
            Thread.sleep(150) // give B time to park on this cell's monitor
            sys.error("staged build failed under a parked waiter")
          }
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$p/ok.txt"), "ok"): Unit
        }
      val bPath = new java.util.concurrent.atomic.AtomicReference[String]()
      val bErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val b = new Thread(() => {
        try { aBuilding.await(); bPath.set(fixture(fail = false)) }
        catch { case t: Throwable => bErr.set(t) }
      })
      b.start()
      intercept[RuntimeException](fixture(fail = true))
      b.join(20000)
      assert(!b.isAlive && bErr.get() == null, s"B must succeed: ${bErr.get()}")
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"${bPath.get()}/ok.txt")))
      assert(builds.get() == 2, "exactly A's failed build + B's rebuild")
      // and later callers get B's path straight from the live cell
      assert(fixture(fail = true) == bPath.get(), "no third build runs")
      assert(builds.get() == 2)
    }

    test(s"$scope: a build may stage its upstream fixture (nested builds)") {
      // the fixture DAG is real (verified pairs → dup_labels, pq model →
      // codes): a composed fixture's build closure resolves its upstream
      // fixture INSIDE the outer build. Round 10 shipped this exact shape
      // and it threw IllegalStateException("Recursive update") on any
      // fresh JVM where the consumer ran before its producer — builds ran
      // inside ConcurrentHashMap.computeIfAbsent, whose mapping function
      // must not insert other keys. This pins the reentrancy contract.
      val inner = new AtomicInteger(0)
      val outer = new AtomicInteger(0)
      def innerFixture(): String = staged("sfspec_nest_in", "dirN") { q =>
        inner.incrementAndGet()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$q/in.txt"), "upstream"): Unit
      }
      val p = staged("sfspec_nest_out", "dirN") { po =>
        outer.incrementAndGet()
        val pi = innerFixture() // nested: builds the upstream fixture
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$po/out.txt"),
          java.nio.file.Files.readString(
            java.nio.file.Paths.get(s"$pi/in.txt"))): Unit
      }
      assert(outer.get() == 1 && inner.get() == 1,
        "each fixture must build exactly once")
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$p/out.txt")) == "upstream")
      // the upstream fixture staged from inside the build is now shared:
      // a direct caller gets a cache hit, never a rebuild
      innerFixture(): Unit
      assert(inner.get() == 1, "the nested build must have been cached")
    }
  }

  /** A cold dataset dir: symlinks to every sf0.001 table under a fresh
    * path, so every (fixture, dir) key is unstaged — the "first query of
    * the day" state a production cluster is in every morning. */
  private def freshDir(tag: String): String = {
    val dir = tempDir(s"graft_$tag")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet")): Unit
    }
    dir
  }

  test("fixture-order independence: most-dependent consumers run FIRST on a cold dir") {
    // Each of these ops consumes a staged artifact whose build itself
    // depends on other staged/derived state. Running them before ANY
    // upstream producer has staged anything must work and must return
    // exactly what the warmed canonical dir returns — correctness must
    // not be build-order-dependent (the r10 curate_dupweight bug).
    val dir = freshDir("cold_first")
    val canon = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val checks = Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      ("curate_dupweight", Extended.curateDupweight), // dup_labels → verified pairs (nested)
      ("sim_ivfpq", (s, d) => VectorOps.simIvfPq(s, d)), // codes + ADC ← pq model
      ("graph_cc_incr", (s, d) => GraphOps.connectedComponentsIncr(s, d)),
      ("join_incr", (s, d) => Formats.joinIncr(s, d)))
    checks.foreach { case (name, fn) =>
      val cold = rows(fn(spark, dir))
      assert(cold.nonEmpty, s"$name returned no rows on the cold dir")
      assert(cold == rows(fn(spark, canon)),
        s"$name diverges between cold-dir-first and warmed runs")
    }
  }

  test("time travel and vacuum share one physical layout build on a cold dir") {
    // the commit-log layout is a stored artifact: vacuum clones the layout
    // time travel built (plain file copies) instead of building its own.
    // Every layout build writes its base snapshot once, to `<layout>/data`.
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.graftbridge.MicroBatchPlans
    val dir = freshDir("cold_travel")
    val (_, executions) = MicroBatchPlans.executions(spark) {
      Formats.timeTravelPlan(spark, dir)
      Formats.vacuumPlan(spark, dir, 0L)
    }
    val baseWrites = executions.flatMap(_.logical.collect {
      case w: InsertIntoHadoopFsRelationCommand if w.outputPath.getName == "data" =>
        w.outputPath.toString
    }).distinct
    assert(baseWrites.size == 1, s"layout builds: $baseWrites")
  }

  test("every registered query constructs in seeded-SHUFFLED order on a cold dir") {
    // The driver's Verify pass and the bench both run queries in one
    // fixed order, so a build-order-dependent bug can sit green in every
    // artifact (r10: curate_dupweight). This sweep is the ordering
    // blind-spot guard: a cold dir, a seeded shuffle over the whole
    // registry, construction (= eager analysis, and execution for the
    // sink-shaped ops) of each query in that order.
    val dir = freshDir("cold_shuffled")
    val order = new scala.util.Random(0xC0FFEE)
      .shuffle(graft.SparkEntry.queries.toSeq.sortBy(_._1))
    assert(order.size >= 250, "registry unexpectedly small — sweep vacuous")
    order.foreach { case (name, fn) =>
      withClue(s"$name (shuffled order, cold dir): ") {
        fn(spark, dir).queryExecution.analyzed: Unit
      }
    }
  }

  test("agg_incr: a re-run over the shared staged table is idempotent") {
    val dir = "/root/testdata/sf0.01"
    // first call may build the bootstrap AND apply the delta; the second
    // call re-applies the delta onto the same maintained table — the
    // documented idempotent re-run/backfill contract
    val r1 = Formats.aggIncrPlan(spark, dir).result.collect().toSeq
    val p2 = Formats.aggIncrPlan(spark, dir)
    assert(p2.result.collect().toSeq == r1,
      "delta re-apply changed the maintained table")
    // the re-run's historical partitions (captured AFTER the first run)
    // must survive the second delta apply untouched
    p2.baseMtimes.foreach { case (path, mtime) =>
      val f = new java.io.File(path)
      assert(f.exists && f.lastModified() == mtime,
        s"re-run rewrote historical partition file $path")
    }
  }

  test("lakehouse scenarios: second calls over staged v1 are result-identical") {
    val dir = "/root/testdata/sf0.01"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val branch1 = rows(Formats.scanBranch(spark, dir))
    assert(rows(Formats.scanBranch(spark, dir)) == branch1)
    val conflict1 = rows(Formats.commitConflict(spark, dir))
    assert(rows(Formats.commitConflict(spark, dir)) == conflict1)
    val publish1 = rows(Formats.publishAtomic(spark, dir))
    assert(rows(Formats.publishAtomic(spark, dir)) == publish1)
    val mor1 = rows(Formats.deleteMor(spark, dir))
    assert(rows(Formats.deleteMor(spark, dir)) == mor1)
  }

  test("staged consumers scan their stored artifacts, not a rebuild (plan locks)") {
    val dir = "/root/testdata/sf0.001"
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect() // force execution so any lazy staging has happened
      df.queryExecution.executedPlan.toString
    }
    def stagedPath(name: String): String =
      stagedFixture(name, dir)(_ =>
        fail(s"fixture $name must already be staged by the op"))
    // SemDeDup reads the stored kmeans assignment
    val semPlan = planOf(VectorOps.dedupSemantic(spark, dir))
    assert(semPlan.contains(stagedPath("kmeans_assign")),
      "dedup_sem must scan the stored cluster assignment")
    // IVF-PQ reads the stored code table and ADC tables
    val pqPlan = planOf(VectorOps.simIvfPq(spark, dir))
    val pqRoot = stagedPath("pq_model")
    assert(pqPlan.contains(s"$pqRoot/codes") && pqPlan.contains(s"$pqRoot/dt"),
      "sim_ivfpq must scan the stored PQ model")
    // the incremental CC reads the stored base star set
    val ccPlan = planOf(GraphOps.connectedComponentsIncr(spark, dir))
    assert(ccPlan.contains(stagedPath("ccincr_stars")),
      "graph_cc_incr must scan the stored base star set")
    // both centrality queries read the stored walk-power table: the σ
    // hub's materialize folds betweenness's /aw scan out of its FINAL
    // plan (the roster scan survives), so the /aw lock rides closeness
    val btPlan = planOf(GraphOps.betweenness(spark, dir))
    assert(btPlan.contains(s"${stagedPath("lane_walks")}/verts"),
      "graph_betweenness must scan the stored lane-walk roster")
    val clPlan = planOf(GraphOps.closeness(spark, dir))
    assert(clPlan.contains(s"${stagedPath("lane_walks")}/aw") &&
      clPlan.contains(s"${stagedPath("lane_walks")}/verts"),
      "graph_closeness must scan the stored walk powers + roster")
    // the incremental join view reads its stored bootstrap (also asserted
    // in FormatsSpec; repeated here against the staged path directly)
    val jiPlan = planOf(Formats.joinIncr(spark, dir))
    assert(jiPlan.contains(stagedPath("joinincr_view")),
      "join_incr must scan the stored view")
  }

  test("graph queries build and read the stored edge projections") {
    val dir = "/root/testdata/sf0.001"
    GraphOps.pageRank(spark, dir).collect() // a trade-graph consumer
    GraphOps.kCore(spark, dir).collect()    // a co-purchase consumer
    // both projections must now be staged (the probe builder fails if not)
    val tp = stagedFixture("trade_pairs", dir)(_ =>
      fail("trade_pairs must already be staged by the op"))
    val cp = stagedFixture("copurchase_edges", dir)(_ =>
      fail("copurchase_edges must already be staged by the op"))
    // the stored projections carry their documented grains
    val tpDf = spark.read.parquet(tp)
    assert(tpDf.columns.toSeq == Seq("src", "dst", "cnt"))
    assert(tpDf.groupBy("src", "dst").count()
      .filter(col("count") > 1).count() == 0, "pair grain must be unique")
    assert(spark.read.parquet(cp).columns.toSeq == Seq("a", "b"))
    // the edge view PLANS as a scan of the stored table — the fact-table
    // join chain must never re-enter a consumer's plan
    val plan = GraphOps.tradeEdges(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains(tp), "tradeEdges must scan the staged projection")
    assert(!plan.contains("lineitem"),
      "tradeEdges re-derives from the fact tables")
  }

  test("curate_dupweight: reads the stored cluster labels; weights partition clusters") {
    val dir = "/root/testdata/sf0.001"
    val df = Extended.curateDupweight(spark, dir)
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // the label store must now be staged (probe builder fails if absent)
    val p = stagedFixture("dup_labels", dir)(_ =>
      fail("dup_labels must already be staged by the op"))
    assert(df.queryExecution.executedPlan.toString.contains(p),
      "curate_dupweight must scan the stored cluster labels")
    // singletons carry full weight; every cluster's mass sums to ≤ 1e6
    // (floor loss < csize ppm) and > 1e6 - csize
    rows.filter(_._3 == 1L).foreach { r =>
      assert(r._4 == 1000000L, s"singleton down-weighted: $r")
    }
    rows.groupBy(_._2).foreach { case (cid, rs) =>
      val mass = rs.map(_._4).sum
      val n = rs.length
      assert(n.toLong == rs.head._3, s"cluster $cid size column disagrees")
      assert(mass <= 1000000L && mass > 1000000L - n,
        s"cluster $cid mass $mass not normalized")
    }
    // at least one real near-dup cluster exists, or the policy is vacuous
    assert(rows.exists(_._3 > 1L), "no multi-doc cluster in fixture")
  }

  test("graph_cc_incr: the staged base star store serves repeated runs identically") {
    val dir = "/root/testdata/sf0.01"
    val r1 = GraphOps.connectedComponentsIncr(spark, dir).collect().toSeq
    val r2 = GraphOps.connectedComponentsIncr(spark, dir).collect().toSeq
    assert(r1 == r2, "repeated incremental runs must agree")
    assert(r1.nonEmpty, "the delta must merge at least one component")
    // every reported row is a real change: comp_after differs from
    // comp_before (or the vertex is new)
    r1.foreach { row =>
      assert(row.isNullAt(1) || row.getLong(1) != row.getLong(2),
        s"merge report contains an unchanged vertex: $row")
    }
  }
}
