package graft.tools

import org.apache.spark.sql.SparkSession

/** Whole-surface plan audit (dev tool): construct every registered query
  * at sf0.001 and flag scale anti-patterns in the executed plan —
  * SortAggregate (var-width aggregation buffers), CartesianProduct and
  * BroadcastNestedLoopJoin (non-equi candidate generation) — plus
  * GlobalWindow (a Window node with an EMPTY partitionSpec in the
  * optimized logical plan: every row flows through one task, the
  * straggler shape at fact scale; legitimate only over frames already
  * reduced to a dimension-bounded size, with the bound documented at the
  * def site). PlanSpec locks the shapes individually for the load-bearing
  * queries; this sweep catches the NEXT query someone adds without a
  * lock. Known-benign rows are listed with their reason rather than
  * silenced. */
object PlanAudit {

  /** (query, pattern) pairs that are understood and accepted. */
  private val accepted: Set[(String, String)] = Set(
    // one-row bounds/centroid frames joined without keys BY DESIGN:
    ("zorder", "BroadcastNestedLoopJoin"),
    ("zorder_wide", "BroadcastNestedLoopJoin"),
    ("zscore", "BroadcastNestedLoopJoin"),
    ("assoc_rules", "BroadcastNestedLoopJoin"), // one-row basket-N frame
    ("freq_topk", "BroadcastNestedLoopJoin"), // one-row token-total frame
    ("agg_stats", "BroadcastNestedLoopJoin"),
    // one-row wedge frame x one-row triangle frame - 1x1 by design:
    ("graph_clustering", "BroadcastNestedLoopJoin"),
    // one-row (n, nr, nc) total frame x the |types|x7 contingency cells:
    ("dq_assoc", "BroadcastNestedLoopJoin"),
    // |types|-row daily-series frame against itself under ta < tb — both
    // sides metadata scale by construction (the corpus reduces to one
    // array row per type BEFORE the pairing):
    ("ts_dtw", "BroadcastNestedLoopJoin"),
    ("sim_ann_topk", "BroadcastNestedLoopJoin"),
    // broadcast the tiny query/centroid side against every row — the
    // documented brute-force/assignment shape:
    ("sim_topk", "CartesianProduct"), ("sim_topk", "BroadcastNestedLoopJoin"),
    // same 5-row broadcast query side, deliberately scan-x-queries (the
    // prefix pass is the documented corpus-wide scan; the rerank is 30
    // rows/query):
    ("sim_prefix", "BroadcastNestedLoopJoin"),
    // inherits sim_topk's deliberate scan-x-5-broadcast-queries brute
    // force — the recall audit's exact side IS that baseline by contract:
    ("sim_recall", "BroadcastNestedLoopJoin"),
    ("kmeans", "CartesianProduct"), ("kmeans", "BroadcastNestedLoopJoin"),
    ("sim_ivf", "CartesianProduct"), ("sim_ivf", "BroadcastNestedLoopJoin"),
    // same routing shape as sim_ivf (tiny query x cell-representative
    // frame broadcast) + the same bounded frames on the PQ side:
    ("sim_ivfpq", "CartesianProduct"), ("sim_ivfpq", "BroadcastNestedLoopJoin"),
    ("sim_ivfpq", "SortAggregate"),
    ("ppl", "BroadcastNestedLoopJoin"), // one-row total-count frame
    // one-row corpus-max frame + one-row quintile-edge frame BY DESIGN:
    ("rfm", "BroadcastNestedLoopJoin"),
    ("bm25", "BroadcastNestedLoopJoin"), // one-row (N, T, df...) frame
    // inherits bm25's one-row corpus-constants frame through composition:
    ("sim_rrf", "BroadcastNestedLoopJoin"),
    ("text_jsd", "BroadcastNestedLoopJoin"), // one-row nq frame x 51-sym frame
    // one-row corpus-moment frame x |sources| rows BY DESIGN:
    ("text_entropy_drift", "BroadcastNestedLoopJoin"),
    ("graph_degree_dist", "BroadcastNestedLoopJoin"), // one-row total frame
    ("dq_freshness", "BroadcastNestedLoopJoin"), // one-row now frame x 3 rows
    ("abc_class", "BroadcastNestedLoopJoin"), // one-row total frame
    ("sample_upsample", "BroadcastNestedLoopJoin"), // one-row max-n frame
    // per key column: one-row stats frame x one-row top10 frame BY DESIGN
    ("dq_skew", "BroadcastNestedLoopJoin"),
    ("colloc", "BroadcastNestedLoopJoin"), // one-row total-count frame
    ("lm_kn", "BroadcastNestedLoopJoin"), // one-row N1+(.,.) frame
    ("text_tfidf", "BroadcastNestedLoopJoin"), // one-row corpus-N frame
    // centroid-vector assembly: collect_list over the K·dims cell frame
    // (512 rows at K=8, BOUNDED regardless of corpus size) — the sort is
    // of a constant-size frame, not the data:
    ("kmeans", "SortAggregate"),
    ("sim_ivf", "SortAggregate"),
    // same bounded codebook assembly: collect_list over the M·K·S cell
    // frame (512 rows at M=4,K=8,S=16) — the per-vector argmin itself is
    // the packed-long min() in HashAggregate:
    ("vec_pq", "SortAggregate"),
    // one-row corpus-count frame cross-joined onto the 20 survivors (the
    // oracle's count CTE, in-plan):
    ("text_burstiness", "BroadcastNestedLoopJoin"),
    // ---- GlobalWindow: single-partition windows, each over a frame
    // ALREADY REDUCED to a documented dimension-bounded size (the window
    // never sees fact-grain rows; every def site carries the size proof):
    // running share over the aggregated |suppliers| frame — bound is a
    // DIM-TABLE cardinality, the documented dim-table contract at the
    // def site (Relational.abcClass) spells out the two-pass
    // partial-prefix rewrite required before reuse on a fact-grain key:
    ("abc_class", "GlobalWindow"),
    // |sources| rows post-aggregate (the recipe-enforcement frame):
    ("curate_mix", "GlobalWindow"),
    // lag over the |days| daily-count frame:
    ("dq_gaps", "GlobalWindow"),
    // trailing-7-day stats over the |days| daily-count frame:
    ("dq_volume", "GlobalWindow"),
    // row_number over the ≤k-row weighted-sample frame:
    ("sample_weighted", "GlobalWindow"),
    // share over the 5-row depth-bucket aggregate:
    ("session_depth", "GlobalWindow"),
    // rank fusion over the two ≤20-row retrieval lists:
    ("sim_rrf", "GlobalWindow"),
    // return alignment over the |days| daily-close frame:
    ("ta_beta", "GlobalWindow"),
    // share over the ≤168-cell (dow × hour) grid:
    ("win_heatmap", "GlobalWindow"),
  )

  /** Sweep every registered query's executed plan for the anti-pattern
    * list; returns the FLAG lines (known-benign hits are reported via
    * `onKnown`, not returned). Shared by the CLI main and the gating
    * `PlanAuditSpec`, so every `sbt test` re-checks the whole surface. */
  def sweep(spark: SparkSession, dir: String,
      onKnown: String => Unit = _ => ()): Seq[String] = {
    val patterns = Seq("SortAggregate", "CartesianProduct", "BroadcastNestedLoopJoin")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val qe = fn(spark, dir).queryExecution
        val p = qe.executedPlan.toString
        // structural check on the optimized LOGICAL plan (the physical
        // tree hides inside AdaptiveSparkPlanExec's innerChildren, which
        // collect() does not traverse); subqueriesAll covers windows
        // inside scalar/IN subqueries
        val opt = qe.optimizedPlan
        val globalWin = (opt +: opt.subqueriesAll).exists(_.collectFirst {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.nonEmpty)
        val hits =
          patterns.filter(p.contains) ++
            (if (globalWin) Seq("GlobalWindow") else Nil)
        hits.flatMap { pat =>
          if (accepted((name, pat))) { onKnown(s"$name: $pat"); None }
          else Some(s"$name: $pat")
        }
      } catch {
        case e: Throwable => Seq(s"$name: construction failed: ${e.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val flags = sweep(spark, "/root/testdata/sf0.001",
      known => println(s"[audit] ok(known) $known"))
    flags.foreach(f => println(s"[audit] FLAG $f"))
    println(s"[audit] flagged=${flags.size}")
    spark.stop()
  }
}
