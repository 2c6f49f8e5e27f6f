package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Plan-regression gate over EVERY SparkEntry.queries entry (SURVEY §5a
  * made enforceable): no query may plan a CartesianProduct or a
  * BroadcastNestedLoopJoin — except the deliberate scalar-attachment
  * pattern `df.crossJoin(broadcast(globalAgg))`, where one join side
  * collapses to a single row (its subtree contains an aggregate with NO
  * grouping keys). Any other nested-loop shape is a scale bug: its cost
  * is |left|·|right| rows and no partitioning saves it at 100 TB.
  *
  * Plans are audited at sf0.001 — plan SHAPE is scale-independent (the
  * same strategies fire at any SF; only AQE runtime re-planning varies,
  * and the audit reads the pre-execution plan on purpose).
  */
class PlanAuditSpec extends SparkSpec {

  /** A subtree that PRODUCES at most one row no matter the input size —
    * joins against it are broadcast scalar attachment, not quadratic
    * blowup. Decided structurally from the root down (r18 fix: the old
    * "subtree CONTAINS a grouping-free aggregate" containment test was
    * a false positive for any frame whose LINEAGE crossed a scalar —
    * e.g. a groupBy downstream of a cutoff-bounds cross is corpus-sized
    * yet contained the bounds agg): descend through row-non-increasing
    * unary nodes; a grouping-free aggregate caps the side at one row; a
    * join of two single-row sides stays single-row; anything else —
    * including a grouped aggregate — is data-shaped. */
  private def singleRowSide(p: SparkPlan): Boolean = p match {
    case a: HashAggregateExec       => a.groupingExpressions.isEmpty
    case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
    case a: SortAggregateExec       => a.groupingExpressions.isEmpty
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      // ANY join of two ≤1-row sides stays ≤1 row (incl. the
      // BroadcastHashJoin two scalar stats frames compose into)
      singleRowSide(j.left) && singleRowSide(j.right)
    case j: CartesianProductExec =>
      singleRowSide(j.left) && singleRowSide(j.right)
    // row-EXPANDING unary nodes: a generate (explode) or expand above a
    // scalar aggregate — e.g. a date spine exploded from min/max bounds —
    // is data-shaped again, so a nested loop against it must stay audited
    case _: org.apache.spark.sql.execution.GenerateExec => false
    case _: org.apache.spark.sql.execution.ExpandExec   => false
    case u: org.apache.spark.sql.execution.UnaryExecNode =>
      singleRowSide(u.child) // project/filter/exchange/sort/limit-like
    case _ => false
  }

  private def offenders(plan: SparkPlan): Seq[String] = plan.collect {
    case j: BroadcastNestedLoopJoinExec
        if !singleRowSide(j.left) && !singleRowSide(j.right) =>
      s"BroadcastNestedLoopJoin(${j.joinType})"
    case j: CartesianProductExec
        if !singleRowSide(j.left) && !singleRowSide(j.right) =>
      "CartesianProduct"
  }

  /** Queries ALLOWED a fixed number of nested-loop joins, each with a
    * reason the shape is deliberate. Exact counts: one more nested loop
    * than declared is a regression even in an allowlisted query.
    *
    *  - the exact-scoring baselines (`ann_bruteforce`, `ann_pq*`,
    *    `dedup_embedding`) broadcast a BOUNDED side (query subset /
    *    codebook probes) against the corpus — all-pairs scoring IS their
    *    semantics; the approximate family is the scale path.
    *  - `conformal_calibrate` broadcasts qhat: one row by construction
    *    (row_number == k order statistic), which the single-row-aggregate
    *    heuristic cannot see through.
    */
  /**  - `audience_overlap` pair-joins two GROUPED aggregates (one row
    *    per segment) under `type_a < type_b`: both sides are bounded by
    *    segment cardinality, so the nested loop is |segments|² — the
    *    single-row heuristic can't see a grouped-but-tiny side.
    *  - `stump_attribution` broadcasts the WINNING split — a
    *    filter(rank = 1) over the ≤|features|-row best-splits frame,
    *    exactly one row by the rank window's construction — against the
    *    test rows: scalar attachment the aggregate heuristic cannot see
    *    through a filter.
    *  - `kmeans_step` broadcasts the k seed centroids (filter id < k)
    *    against the corpus: the N×k assignment score is the
    *    irreducible cost of a Lloyd pass — bounded by k, not by data.
    *  - `knn_classify` rides [[graft.ann.BruteForceKnn.topK]]'s bounded
    *    query-subset broadcast — the same single nested loop
    *    `ann_bruteforce` is allowed (ann_mutual_knn's copy sits behind
    *    an eager localCheckpoint and never reaches the audited plan).
    *  - `kendall_tau` pair-joins the DOMAIN-bounded value-cell histogram
    *    with itself under a lexicographic `<` — |cells|² is fixed by the
    *    value domains (≤ 51·11 cells) while data grows, the
    *    audience_overlap pattern.
    *  - `shapley_attribution` runs its two lattice joins as bounded
    *    nested loops: the 16-coalition × 16-mask submask probe and the
    *    4-channel × 16-coalition marginal sweep — both sides fixed by
    *    2^|channels|, independent of data volume (the fact is touched
    *    once, upstream, by the per-user mask aggregate behind a
    *    checkpoint).
    *  - `mmr_rerank` operates ENTIRELY on the bounded 20-candidate
    *    re-rank window (service semantics): the 1-row probe relevance
    *    cross and the 20×20 pairwise-similarity inequality join —
    *    window size is a parameter, never the corpus.
    *  - `pass_at_k` crosses the per-user trial table with the |ks|-row
    *    k list (3 rows, a parameter) — the factorial lookups are plain
    *    broadcast equi-joins; only the k expansion is a bounded
    *    nested loop.
    *  - `pinball_loss` crosses the eval diff frame with the 3-row τ
    *    list — the same parameter-bounded expansion. */
  private val allowed: Map[String, Int] = Map(
    "ann_bruteforce" -> 1, "ann_pq" -> 1, "ann_pq_exhaustive" -> 1,
    "dedup_embedding" -> 1, "conformal_calibrate" -> 1,
    "audience_overlap" -> 1, "stump_attribution" -> 1, "kmeans_step" -> 1,
    // round 2's bounded centroid broadcast; round 1 is behind iterate's
    // eager checkpoint and never appears in the audited plan
    "kmeans_step2" -> 1,
    "knn_classify" -> 1, "kendall_tau" -> 1, "shapley_attribution" -> 2,
    "mmr_rerank" -> 2, "pass_at_k" -> 1, "pinball_loss" -> 1,
    // round 14: asha crosses validation with the 16-row config grid
    // (parameter-bounded); cluster_validity crosses points with the
    // k-row mean table and the 1-row global mean; davies_bouldin's
    // k×k scatter pairing is an inequality join of two k-row frames
    "asha_sweep" -> 1, "cluster_validity" -> 2, "davies_bouldin" -> 2,
    // ransac scores the cell table against the ≤16-row local hypothesis
    // frame — the pass_at_k parameter-bounded expansion, and its only
    // nested loop: hypothesis selection is one HypothesisPick aggregate
    // collected locally, with no H-explode
    "ransac_line" -> 1,
    // welch_t pairs the k-row (3 return flags) grouped-stats frame with
    // itself under g1 < g2 — the same dimension-sized inequality join
    // shape as davies_bouldin; k is a column cardinality, never the fact
    "welch_t" -> 1,
    // brier_decomp / cramer_von_mises attach a 1-row totals frame that
    // sits behind a localCheckpoint (reused twice), so the groupless-
    // aggregate heuristic cannot see through it — the conformal /
    // stump_attribution scalar-attachment case
    "brier_decomp" -> 1, "cramer_von_mises" -> 1,
    // jonckheere_trend self-joins its (group × value-domain)-bounded
    // cell histogram under g1 < g2 — the kendall_tau pattern
    "jonckheere_trend" -> 1,
    // nb_classify crosses the vocab with the label-domain classes frame
    // (2 labels) to build the smoothing grid — the audience_overlap
    // grouped-but-tiny case
    "nb_classify" -> 1,
    // path_betweenness crosses the nTerminals-row terminal list with
    // itself under a < to enumerate pairs (4×4 → 6 rows) — a
    // parameter-bounded expansion, never data-shaped; the BFS frontier
    // joins are equi-keyed and sit behind localCheckpoints
    "path_betweenness" -> 1,
    // r17: the TPE density model crosses the 64-row candidate grid with
    // the ≤17-row trial table (grid × grid, the asha_sweep case), and
    // the round-1 trial derivation re-crosses asha's validation pool
    // with its 16-row config grid; round 2 adds nothing — its pool
    // evaluation broadcasts a 1-row proposal (scalar attachment)
    "tpe_sweep" -> 2,
    // r18: the singleRowSide heuristic became STRUCTURAL (root-down ≤1-row
    // proof instead of "subtree contains a scalar agg" containment, which
    // passed any corpus-sized frame whose lineage crossed a cutoff/bounds
    // scalar). The keys below were passing through that hole; each cross
    // is parameter- or calendar-bounded, now explicitly declared:
    //  - ccf_lags crosses the calendar-bounded daily deviation spine with
    //    the 15-row lag list (the pinball_loss parameter expansion)
    "ccf_lags" -> 1,
    //  - forecast_quantiles crosses the per-key ranked residuals with the
    //    3-row τ list (same pattern)
    "forecast_quantiles" -> 1,
    //  - hll_registers crosses the M=64-row register table with its own
    //    scalar estimate frame (M is the sketch parameter; the estimate
    //    side mixes scalar aggs with the 55-row rank lookup, which the
    //    structural walker correctly refuses to call single-row)
    "hll_registers" -> 1,
    //  - ts_cv_splits crosses day offsets (calendar-bounded) with the
    //    k=5-row fold schedule
    "ts_cv_splits" -> 1,
    //  - tpe_forecast: the 16-config grid crossed with the |keys|-row
    //    series table, and the 64-candidate × 16-trial density cross —
    //    tpe_sweep's two grid crosses over the forecast search space
    "tpe_forecast" -> 2,
    //  - tpe_forecast_round2: the round-1 density cross, the 1-row
    //    proposed-α broadcast onto the |keys|-row series table (1-row by
    //    the rank window's construction — the stump_attribution case the
    //    structural walker can't see through a filter), and the round-2
    //    density cross; the trial-building confs cross sits behind the
    //    eager localCheckpoint and never reaches the audited plan
    "tpe_forecast_round2" -> 3,
    //  - tpe_round2's third cross is the same candidate×trial density
    //    cross in its ROUND-1 proposal subplan, previously hidden by the
    //    containment hole (rounds 1 and 2 each score the grid)
    "tpe_round2" -> 3,
    //  - sketch_quantiles_lineitem crosses the ~EpsDen-row-per-group
    //    summary with the 4-row q list (the pinball_loss parameter
    //    expansion)
    "sketch_quantiles_lineitem" -> 1,
    // r19: the walker now refuses row-EXPANDING unary nodes
    // (GenerateExec/ExpandExec) — an explode above a scalar agg is
    // data-shaped again. The keys below were passing through that hole;
    // each side is parameter-bounded, now explicitly declared:
    //  - tpe_pointwise: the 64-candidate × ≤17-trial density cross (the
    //    tpe_sweep case). The trial-building crosses (config×sums prefix,
    //    item-dim × weight grid) sit behind the eager trial-table
    //    localCheckpoint and never reach the audited plan
    "tpe_pointwise" -> 1,
    //  - asha_pointwise: the item-dim × ≤17-row broadcast WEIGHT frame
    //    cross of perUserNdcg (dim-bounded × trial-bounded). Unlike
    //    tpe_pointwise there is no trial-table checkpoint between the
    //    scoring fold and the audited output, so this one cross is
    //    visible; the rung windows add none
    "asha_pointwise" -> 1,
    //  - tpe_pointwise_round2: the round-2 density cross only — t1, t2,
    //    AND the 1-row proposed-ratio train pass all sit behind eager
    //    localCheckpoints (t2's checkpoint hides the train2 cross and the
    //    trial-17 scoring subplan)
    "tpe_pointwise_round2" -> 1,
    //  - vocab_growth: the 10-row decile-checkpoint spine (explode of a
    //    literal 1..10 sequence above the max-doc-id scalar — bounded by
    //    the sequence literal, not the data) non-equi-joined with the
    //    first-occurrence histogram and with the per-doc token counts
    //    (cumulative-decile semantics: each row aggregates a prefix)
    "vocab_growth" -> 2)
  // gbt_stump2 needs no entry: its side tagging (1-row root-split
  // broadcast) is behind an eager localCheckpoint, so the audited
  // level-2 plan starts at the materialized sided frame

  // ONE plan sweep shared by both audits: query construction is not
  // plan-only for several keys (model fits, BPE argmax rounds, bloom
  // builds, eager checkpoints all run at DataFrame construction), so
  // instantiating all ~187 queries once instead of once per test keeps
  // the suite's audit cost flat as audits are added.
  private lazy val plans: Seq[(String, SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.sparkPlan
    }

  test("no query plans a non-scalar nested-loop join or cartesian product") {
    val bad = plans.flatMap { case (name, plan) =>
      val off = offenders(plan)
      if (off.size == allowed.getOrElse(name, 0)) Nil
      else off.map(o => s"$name: $o (allowed ${allowed.getOrElse(name, 0)}, found ${off.size})")
    }
    assert(bad.isEmpty, s"nested-loop plans found:\n${bad.mkString("\n")}")
  }

  test("no query plans a Scala UDF — functions._ / native expressions only") {
    // A ScalaUDF is an interpreted black box: it breaks WholeStageCodegen
    // at its call site and hides the expression from Catalyst (no
    // pushdown, no constant folding through it). SURVEY §4 claims
    // "functions._ over UDFs" — this makes the claim mechanical. The
    // mapPartitions seams (EmbedDocs, BinaryMedia decode) don't appear
    // here: they are RDD transitions, not SQL-plan UDF calls, and carry
    // their own documented justification (per-partition model init).
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val bad = plans.flatMap { case (name, plan) =>
      val hasUdf = plan.collect {
        case p if p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])) => p.nodeName
      }
      hasUdf.map(n => s"$name: ScalaUDF in $n")
    }
    assert(bad.isEmpty, s"ScalaUDF plans found:\n${bad.mkString("\n")}")
  }

  test("scan-predicate queries push their filters into the parquet scan") {
    // queries whose selectivity lives in the WHERE clause: the scan node
    // must advertise non-empty PushedFilters, or every row is read
    // (medallion_gold is NOT here: its version predicate compares
    // literal-derived columns — constant-folded before the scan — and
    // silver materializes through a checkpoint, so no parquet scan with
    // a pushable residual exists in the gold plan by design)
    for (name <- Seq("q6_forecast_revenue", "q19_disjunctive_revenue",
        "q14_promo_revenue", "q12_priority_counts", "q10_returned_customers",
        "q15_top_supplier")) {
      val fmt = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      val pushed = fmt.linesIterator.filter(_.contains("PushedFilters:")).toSeq
      assert(pushed.nonEmpty, s"$name: no PushedFilters line in plan")
      assert(pushed.exists(l => !l.contains("PushedFilters: []")),
        s"$name: every scan has empty PushedFilters:\n${pushed.mkString("\n")}")
    }
  }
}
