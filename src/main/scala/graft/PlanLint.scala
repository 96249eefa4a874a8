package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{Exchange,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan LINTER — the 100 TB design bar as an executable check.
  *
  * `Explain` prints plans for a human; this walks them mechanically and
  * reports the patterns that kill jobs at scale, so every query's plan
  * can be asserted clean in CI instead of spot-read per round:
  *
  *  - `cartesian` / `nested-loop`: a join with no equi-key — quadratic
  *    work; at 100 TB this is the difference between minutes and never.
  *    Exempt when the plan itself bounds a side: a nested-loop join's
  *    build side, or either side of a cartesian product, whose logical
  *    `maxRows` is at most [[MaxBoundedBuildRows]] (a global aggregate
  *    is 1 row, a `Limit` and a `LocalRelation` bound themselves), so the
  *    loop is one streamed pass over the other side.
  *  - `expand`: the multi-distinct Expand — every input row replicated
  *    once per distinct aggregate before the shuffle (the q27/q28 trap).
  *  - `unpushed-filter`: a Filter sitting DIRECTLY on a parquet scan
  *    that pushed nothing, where the predicate is SOURCE-CONVERTIBLE
  *    (comparisons/IN/IS NULL over bare attributes and literals — the
  *    shapes parquet can evaluate against row-group stats). Derived
  *    expressions (`year(cast(..))`, higher-order funcs) can never push
  *    and are NOT flagged; residual filters above a scan that DID push
  *    are fine too.
  *  - `global-window`: a window function with an empty PARTITION BY —
  *    the whole input sorts through ONE task, the q85 scale-killer.
  *  - `no-partial-agg`: a final aggregation whose shuffle input isn't
  *    partially aggregated — the map-side combine is missing, so the
  *    exchange carries raw rows. (Catalyst plans partials by default;
  *    this catches operators/configs that defeat it.)
  *  - `low-cardinality-window`: a window partitioned ONLY by enum-like
  *    columns (the round-6 q160 lesson: PARTITION BY l_returnflag has
  *    cardinality 3 — three tasks own the whole fact table while the
  *    cluster idles). Exempt when the window's input is already
  *    post-aggregation (the q144 "window over an aggregate" principle,
  *    checked mechanically here).
  *  - `exact-percentile`: an EXACT percentile/median aggregate whose
  *    grouping is empty or enum-only over un-reduced input — the
  *    aggregation buffer is a per-group value-count map, so a handful
  *    of groups materialize a fact-sized column in one executor
  *    (OOM at 100×). The scale path is `approx_percentile` cut points
  *    (q96/q99's sketch-twin pattern).
  *
  * The walk descends into AQE wrappers (initial plan — linting runs
  * before execution) and subqueries.
  */
object PlanLint {

  final case class Finding(rule: String, node: String, detail: String) {
    override def toString: String = s"[$rule] $node: $detail"
  }

  /** Enum-like columns of the test schema, the stand-in for catalog NDV
    * stats (which is what a cluster deployment would wire here): a
    * window or percentile partitioned ONLY by these keys concentrates
    * the fact table on a handful of tasks.
    *
    * Hints are matched against each attribute's ORIGIN columns, not its
    * output name: [[originIndex]] follows `Alias` chains (every
    * `withColumnRenamed`/`as` is an Alias in some Project) down to the
    * leaf relations, so `withColumnRenamed("lang", "x")` still resolves
    * to `lang` and is flagged, while a high-cardinality key aliased TO a
    * hinted name resolves to its real origin and is not. A derived
    * expression over only-enum origins (e.g. `concat(l_returnflag,
    * l_linestatus)`) is itself enum-like and flagged too. Attributes
    * whose lineage cannot be resolved (literal-derived, reused-exchange
    * outputs) fall back to the output-name match — the pre-round-8
    * behavior. With catalog NDV stats this hint set disappears entirely.
    */
  val lowCardinalityHints: Set[String] = Set(
    "l_returnflag", "l_linestatus", "event_type", "lang",
    "c_mktsegment", "o_orderpriority", "o_orderstatus", "p_brand")

  /** True when the attribute's leaf origins are all low-cardinality
    * hints (name fallback when lineage is unresolvable — see
    * [[lowCardinalityHints]]).
    */
  private def lowCardAttr(
      a: org.apache.spark.sql.catalyst.expressions.Attribute,
      origins: org.apache.spark.sql.catalyst.expressions.ExprId => Set[String])
      : Boolean = {
    val os = origins(a.exprId)
    if (os.nonEmpty) os.forall(lowCardinalityHints.contains)
    else lowCardinalityHints.contains(a.name)
  }

  /** ExprId → leaf-column-name lineage for every attribute in the plan:
    * leaf nodes bind their outputs to their own names; every `Alias`
    * anywhere in any node's expressions binds its exprId to its child's
    * references, resolved transitively. Cheap (one plan walk + bounded
    * recursion over SSA-ish alias chains) and run only inside [[lint]].
    */
  private def originIndex(root: SparkPlan)
      : org.apache.spark.sql.catalyst.expressions.ExprId => Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId, Expression}
    val bindings = scala.collection.mutable.Map.empty[ExprId, Expression]
    val leaves = scala.collection.mutable.Map.empty[ExprId, String]
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.initialPlan)
      case _ =>
        if (p.children.isEmpty)
          p.output.foreach(a => leaves.getOrElseUpdate(a.exprId, a.name))
        p.expressions.foreach(_.foreach {
          case al: Alias => bindings.getOrElseUpdate(al.exprId, al.child)
          case _ => ()
        })
        p.children.foreach(visit)
        p.subqueries.foreach(visit)
    }
    visit(root)
    // Memoized: alias DAGs that fan out and reconverge (both sides of a
    // self-join deriving from one aliased subtree) would otherwise re-expand
    // shared chains exponentially. The memo doubles as the cycle guard — an
    // id is pre-seeded with Set.empty before its children resolve, so a
    // cyclic reference bottoms out instead of recursing.
    val memo = scala.collection.mutable.Map.empty[ExprId, Set[String]]
    def resolve(id: ExprId): Set[String] =
      memo.get(id) match {
        case Some(cached) => cached
        case None =>
          memo.update(id, Set.empty)
          val res = leaves.get(id) match {
            case Some(n) => Set(n)
            case None => bindings.get(id) match {
              case Some(e) =>
                e.references.toSeq.flatMap(a => resolve(a.exprId)).toSet
              case None => Set.empty[String]
            }
          }
          memo.update(id, res)
          res
      }
    id => resolve(id)
  }

  def lint(df: DataFrame): Seq[Finding] = {
    val root = df.queryExecution.executedPlan
    val origins = originIndex(root)
    val out = Seq.newBuilder[Finding]

    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
        case j: CartesianProductExec if !j.children.exists(boundedBuild) =>
          out += Finding("cartesian", j.nodeName,
            "join with no condition at all — O(n×m)")
        case j: BroadcastNestedLoopJoinExec
            if !boundedBuild(if (j.buildSide == BuildLeft) j.left else j.right) =>
          out += Finding("nested-loop", j.nodeName,
            s"no equi-key (${j.joinType}); every streamed row scans the " +
              "whole build side")
        case e if e.nodeName == "Expand" =>
          out += Finding("expand", e.nodeName,
            "multi-distinct Expand: input replicated per distinct column " +
              "before the shuffle")
        // The one EXEMPT empty-partition window: the prefix-sum
        // machinery's offsets cumulation (Windows.prefixSum step 2).
        // Its input is the per-(group, bucket) TOTALS aggregate — at
        // most |groups| × nBuckets (default 1024) rows AT ANY SCALE by
        // construction. It is matched on plan structure (see
        // [[prefixOffsets]]), so a column merely NAMED `__pfx_bt` buys
        // no exemption. Every other empty-partition window still flags
        // (r15: the q164/q174/q175/q271/q277/q132/q291 global windows
        // were converted to this machinery, so the rule ENFORCES that no
        // unbounded global window returns).
        case w: WindowExec if w.partitionSpec.isEmpty && !prefixOffsets(w) =>
          out += Finding("global-window", w.nodeName,
            "empty PARTITION BY — the whole input sorts through one task")
        case w: WindowExec if w.partitionSpec.forall(e =>
              e.references.nonEmpty &&
              e.references.forall(a => lowCardAttr(a, origins))) &&
            !inputReduced(w.children.head) &&
            !rankLimited(w.children.head) =>
          out += Finding("low-cardinality-window", w.nodeName,
            s"PARTITION BY ${w.partitionSpec.map(_.sql).mkString(", ")} — " +
              "enum-only keys over un-reduced input: a handful of tasks " +
              "own the whole table")
        case agg if exactPercentileOverFact(agg, origins) =>
          out += Finding("exact-percentile", agg.nodeName,
            "exact percentile/median with empty-or-enum grouping over " +
              "un-reduced input — per-group value-count buffer " +
              "materializes a fact-sized column; use approx_percentile " +
              "cut points (q96/q99 sketch-twin pattern)")
        case f: FilterExec if isBareScan(unwrap(f.child)) &&
            f.condition.deterministic &&
            sourceConvertible(f.condition) &&
            pushedNothing(unwrap(f.child)) =>
          out += Finding("unpushed-filter", unwrap(f.child).nodeName,
            s"convertible predicate ${f.condition.sql.take(80)} evaluates " +
              "above a scan that pushed nothing")
        case agg if isFinalAgg(agg) =>
          agg.children.headOption match {
            case Some(ex: ShuffleExchangeExec)
                if !ex.child.exists(isPartialAgg) =>
              out += Finding("no-partial-agg", agg.nodeName,
                "final aggregate over a shuffle of raw rows — no map-side " +
                  "combine")
            case _ => ()
          }
        case _ => ()
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.result()
  }

  /** The largest row count a join without an equi-key may read from its
    * build side and still be exempt from `nested-loop`/`cartesian`.
    */
  val MaxBoundedBuildRows: Long = 1024L

  /** True when the plan bounds `p`'s rows by [[MaxBoundedBuildRows]]: the
    * logical `maxRows` of the first node below the exchange and codegen
    * wrappers that has a `logicalLink`.
    */
  private def boundedBuild(p: SparkPlan): Boolean = p.logicalLink match {
    case Some(l) => l.maxRows.exists(_ <= MaxBoundedBuildRows)
    case None => p match {
      case a: AdaptiveSparkPlanExec => boundedBuild(a.initialPlan)
      case e: Exchange => boundedBuild(e.child)
      case _ if unwrap(p) ne p => boundedBuild(unwrap(p))
      case _ => false
    }
  }

  /** Per-query lint exceptions — INTENTIONAL plan shapes, each with the
    * reason it is sound at scale. They are applied only through
    * [[violations]] (PlanLintSpec and Verify's enforcement pass), which
    * also fails an allowance that matches no finding.
    *  - nested-loop / cartesian: a join without an equi-key whose bounded
    *    side the PLAN cannot prove. Every join whose side the plan bounds
    *    (a global aggregate, a `Limit`, a `LocalRelation`, a `Range`: see
    *    [[MaxBoundedBuildRows]]) is exempt by the rule itself and needs no
    *    entry. What is left is a side bounded only by a predicate (the ANN
    *    probe panels, `vec_id < n`), by a grouping key's domain (|days|,
    *    |langs|, |variants|), by a generator (an hourly spine) or by a
    *    checkpoint that hides a bounded frame.
    *  - global-window: global ranks over pre-aggregated frames orders of
    *    magnitude smaller than the fact input.
    *  - expand: operators implemented BY Expand (UNPIVOT, sliding
    *    windows, ROLLUP/CUBE/GROUPING SETS), whose replication is the
    *    requested output.
    *  - exact-percentile: queries whose exact form IS the oracle contract
    *    and whose sketch twin exists and is pinned against it as data
    *    (q82→q99, q77→q96, q166/q172/q173/q190→the `sketch=true` knob
    *    exercised in InsightsSpec and pinned by q197).
    *  - low-cardinality-window: a window over a calendar-sized grid.
    */
  private val queryAllow: Map[String, Set[String]] = Map(
    // ANN probe panels: the exact-recall side broadcasts the probe vectors
    // `vec_id < n` (n = 3 for q158, 5 for q49/q104/q111/q131/q207/q208/
    // q227/q236/q302, 8 for q345, 10 for the graph serves, the 10 minus
    // `vec_id % 10 = 7` for q334/q342/q343/q348). A predicate bounds the
    // panel, so the plan's maxRows is undefined; q104/q111/q131 score the
    // panel's quantized/projected codes
    "q49_cosine_topk" -> Set("nested-loop"),
    "q104_quantized_topk" -> Set("nested-loop"),
    "q111_pq_topk" -> Set("nested-loop"),
    "q131_jl_projection" -> Set("nested-loop"),
    "q158_hybrid_rrf" -> Set("nested-loop"),
    "q207_kmeans_ivf_recall" -> Set("nested-loop"),
    "q208_pq_learned_recall" -> Set("nested-loop"),
    "q227_ivf_snapshot_probe" -> Set("nested-loop"),
    "q236_ivfpq_residual" -> Set("nested-loop"),
    "q302_sign_ann" -> Set("nested-loop"),
    "q317_nndescent_knn" -> Set("nested-loop"),
    "q322_nn_beam_serve" -> Set("nested-loop"),
    "q324_nn_incremental_insert" -> Set("nested-loop"),
    "q334_nn_incremental_delete" -> Set("nested-loop"),
    "q342_index_follows_table" -> Set("nested-loop"),
    "q343_durable_index" -> Set("nested-loop"),
    "q345_filtered_ann" -> Set("nested-loop"),
    "q347_filtered_graph_serve" -> Set("nested-loop"),
    "q348_index_asof_serve" -> Set("nested-loop"),
    // q89: the planted-FK branch's `o_custkey = -1` constant-folds into a
    // filter on the broadcast side, leaving an anti join against a
    // per-partition `LocalLimit 1`, which bounds no global row count
    "q89_constraint_audit" -> Set("nested-loop"),
    // q182: dominance is inherently non-equi; the build side is the
    // post-prune candidate set (partition-local skylines, a
    // mapPartitions result the plan cannot bound)
    "q182_skyline" -> Set("nested-loop"),
    // q187: the trailing-window association is a |days|×|days| range
    // join against broadcast daily frames, grouped by day: bounded by
    // the calendar, not by the plan
    "q187_rolling_hll" -> Set("nested-loop"),
    // q194: label≠label is inherently non-equi; the anchors are the
    // `vec_id % 50 = 0` sample, a predicate bound the plan cannot see
    "q194_negative_sampling" -> Set("nested-loop"),
    // q202: the spine crosses the |types| frame with the exploded
    // |hours| sequence (a generator, unbounded in the plan), and the
    // LOCF window runs over that GRID — |hours| rows per type at any
    // scale, never the fact (reduced in the one hash-agg below the join;
    // q144 principle)
    "q202_locf_gap_fill" -> Set("nested-loop", "low-cardinality-window"),
    // q293: the (i, j, k) PAV lattice is built from ≤10-row bin frames
    // read back from a checkpoint, which hides their bound from the plan
    "q293_isotonic_calibration" -> Set("cartesian"),
    // q297: the |langs|-row prior/default frame (grouped by lang)
    // crossJoined onto the token stream — the scoring fanout IS the
    // classifier's semantics
    "q297_naive_bayes" -> Set("nested-loop"),
    // q298: the 1-row base frame is a filter over the checkpointed
    // variant table, so the plan cannot bound it
    "q298_markov_attribution" -> Set("nested-loop"),
    // q313: the variant-stats frame is grouped by variant (2 models)
    // and crosses the eval-token frame — the ablation's semantics
    "q313_dedup_ablation" -> Set("nested-loop"),
    // q38: the surrogate-key window over a DIMENSION (≤4M keys,
    // documented in ops/Merge.scala)
    "q38_surrogate_keys" -> Set("global-window"),
    // q327: vocab cut/rank windows are global over the vocab-CANDIDATE
    // dimension (bounded by corpus char diversity, never the corpus)
    "q327_unigram_lm" -> Set("global-window"),
    // q144: the share-of-total window is global ON PURPOSE — its input is
    // the 5-row aggregate, not the fact table (documented in the query)
    "q144_percent_of_total" -> Set("global-window"),
    // q176/q178: the ACF and CUSUM windows run over the |days| series,
    // never the fact
    "q176_acf" -> Set("global-window"),
    "q178_cusum_changepoint" -> Set("global-window"),
    // q250: the cumulative-negatives scan runs over the micro-score
    // HISTOGRAM (≤ distinct quantized scores, ≤1e6 for any model at
    // 6 dp), already reduced by the hash agg below it — q144 principle
    "q250_auc_census" -> Set("global-window"),
    // q262: the risk-set / prefix-sum / zero-flag windows run over the
    // ≤(horizon+1)-row duration GRID, never the fact (q144 principle)
    "q262_kaplan_meier" -> Set("global-window"),
    // q264: the conformal-rank window runs over the micro-score
    // HISTOGRAM (q250's shape)
    "q264_conformal_gate" -> Set("global-window"),
    // q274: the rank window runs over the ≤K-row top-vocab frame
    "q274_zipf_fit" -> Set("global-window"),
    // q290/q305: the remainder-rank window runs over the enum-sized
    // |langs| / |strata| frame
    "q290_quota_apportion" -> Set("global-window"),
    "q305_neyman_sample" -> Set("global-window"),
    // q310: the BH rank window sorts the 35-row hypothesis frame; the
    // midrank window runs over the value DOMAIN per type, never the fact
    "q310_bh_screen" -> Set("global-window"),
    // q53: sliding windows DUPLICATE rows by construction (each event in
    // size/slide windows) — that Expand is the operator's semantics
    "q53_sliding_window" -> Set("expand"),
    // q88: UNPIVOT is implemented BY Expand — n_cols rows per input row
    // is the requested output
    "q88_unpivot" -> Set("expand"),
    // q24–q26: ROLLUP / CUBE / GROUPING SETS are implemented BY Expand —
    // one row per grouping set is the requested output
    "q24_rollup" -> Set("expand"),
    "q25_cube" -> Set("expand"),
    "q26_grouping_sets" -> Set("expand"),
    // exact-percentile allowances: each exact form IS the oracle contract
    // and each names its live sketch twin — q77/q137 → q96 (the
    // approx_percentile pin), q82/q90 → q99 (clipBounds sketch knob),
    // q96/q99 CONTAIN both paths (they are the pins themselves),
    // q166/q172/q173/q190/q196 → the `sketch = true` knob on the same
    // function (InsightsSpec agreement cases; q197 pins q190's form)
    "q77_percentiles" -> Set("exact-percentile"),
    "q137_percentile_inverse" -> Set("exact-percentile"),
    "q96_approx_percentiles" -> Set("exact-percentile"),
    "q82_length_clip" -> Set("exact-percentile"),
    "q90_pipeline_funnel" -> Set("exact-percentile"),
    "q99_sketch_clip" -> Set("exact-percentile"),
    "q166_iqr_outliers" -> Set("exact-percentile"),
    "q172_interpurchase_gaps" -> Set("exact-percentile"),
    "q173_psi_drift" -> Set("exact-percentile"),
    "q190_equidepth_hist" -> Set("exact-percentile"),
    "q196_cohens_kappa" -> Set("exact-percentile"),
    // q244/q282/q319: exact decile / p10-p90 / length cuts whose exact
    // form is the oracle contract (approx_percentile is the 100 TB
    // knob). q257: the cuts read the memoized (checkpointed) scored
    // frame, so the lint cannot SEE the per-doc reduction below the
    // checkpoint — same contract
    "q244_calibration_census" -> Set("exact-percentile"),
    "q282_suspect_labels" -> Set("exact-percentile"),
    "q319_pretrain_funnel" -> Set("exact-percentile"),
    "q257_pr_sweep" -> Set("exact-percentile"),
    // q280: percentile_disc over the per-user REDUCED latency frame
    "q280_conversion_latency" -> Set("exact-percentile"),
    // q288: exact per-segment fences ARE the oracle contract;
    // approx_percentile is the documented 100 TB knob
    "q288_robust_means" -> Set("exact-percentile"),
  )

  /** Per-query ACTION bounds for [[ActionAudit]]'s runtime check in
    * Verify (the `action-count` rule): each action is a driver→cluster
    * scheduling round-trip, so a declarative query should spend at most
    * [[defaultActionBound]] (tiny bounded collects — codebooks, clip
    * cuts, partition offsets — plus the final result write). The
    * intentional iteratives are listed with their DOCUMENTED round
    * bounds; a query exceeding its bound has grown a hidden driver loop
    * or a double-action fixpoint (the round-7 CC lesson) and fails
    * Verify like any other lint finding. Bounds are worst-case fresh-
    * session costs — memoized reuse (dupClusterLabels) only ever lowers
    * them — and hold at ANY scale: every loop below is bounded by a
    * constant or by log(n) with the log already generously priced in.
    */
  val defaultActionBound: Int = 4
  val actionBounds: Map[String, Int] = Map(
    // CC fixpoint family (measured 11/8/1/1 at sf0.001 with the shared
    // label memo — each bound assumes the query runs FIRST and pays the
    // whole loop): 1 fingerprint action per round + 1 exact confirm +
    // the query's own stages; rounds ≤ O(log² n), generously priced
    "q71_dup_clusters" -> 24,
    "q198_canonical_keeper" -> 24,
    "q199_lsh_dedup_funnel" -> 24,
    "q222_leakage_safe_split" -> 24,
    // dedup-ablation: the q199 funnel (LSH pairs + CC fixpoint) feeds
    // the dedup arm — same loop, same generous pricing
    "q313_dedup_ablation" -> 24,
    // cluster-size census: the same funnel feeds the histogram
    "q316_cluster_size_census" -> 24,
    // incremental CC runs TWO fixpoints (yesterday's labels + the
    // incremental merge) — two q71-style loops priced generously
    "q276_incremental_cc" -> 48,
    // q90 chains CC dedup + clip + split + pack, each stage cached once
    "q90_pipeline_funnel" -> 32,
    // Borůvka: 3 rounds × (one CC fixpoint + round checkpoint) + the
    // final labeling — each CC is the q71 loop, generously priced
    "q267_boruvka_forest" -> 56,
    // BFS frontier loop: 1 count-materializes-checkpoint action per hop
    // + seed checkpoint + fixed setup, diameter-bounded (measured 10
    // after the round-9 frontier-only-checkpoint slimming; was 14)
    "q170_bfs_hops" -> 20,
    // PageRank: fixed 10 iterations (measured exactly 10)
    "q150_pagerank" -> 24,
    "q242_personalized_pagerank" -> 24,
    // TextRank rides the same pageRank loop over the word graph
    "q261_textrank" -> 24,
    // HITS: 4 rounds × (a + h checkpoints) + edge/init checkpoints
    "q270_hits" -> 24,
    // Bellman–Ford: 4 relaxation-round checkpoints + edge/seed setup
    "q284_bellman_ford" -> 16,
    // k-core: seed checkpoint + 1 checkpoint per peel round (4)
    "q295_kcore" -> 12,
    // k-means trainer: 1 pieces checkpoint + 1 checkpoint per Lloyd
    // round (iters=2) = 3 actions before the query body (measured 3)
    "q206_kmeans_codebook"   -> 8,
    "q207_kmeans_ivf_recall" -> 8,
    // NN-descent: coarse trainer (3) + seed-graph checkpoint + 1
    // checkpoint per refinement round (2) + census write
    "q317_nndescent_knn" -> 10,
    // beam serve: trainer (6, memoized — priced fresh) + adjacency
    // checkpoint + entry scoring checkpoint + 3 hop checkpoints + write
    // (measured 12 fresh-session at sf0.01)
    "q322_nn_beam_serve" -> 14,
    // incremental insert: base trainer (6) + adjacency + 4 beam
    // checkpoints + tch/aff/g2 + full retrain (3, memoized — priced
    // fresh) + census write (measured 19 fresh-session at sf0.01)
    "q324_nn_incremental_insert" -> 22,
    // incremental delete: full trainer (6, memoized — priced fresh) +
    // damaged/g1/aff/g2 checkpoints + survivor retrain (3) + census
    "q334_nn_incremental_delete" -> 18,
    // feed-driven index maintenance: publish + CDC apply (probes/DV
    // ckpt/stage) + feed/tombs/new-rows ckpts + delete wave + insert
    // placement hops + refinement + retrain + ghost/class counts +
    // census write (measured 37 fresh-session at sf0.01)
    "q342_index_follows_table" -> 48,
    // durable subscriber: publish + bootstrap + 2 CDC commits + per
    // micro-batch (meta read, counters, wave checkpoints, 2 publishes)
    // + census reads (measured 65 fresh-session at sf0.001 and sf0.01;
    // bound = measured + 5)
    "q343_durable_index" -> 70,
    // policy subscriber: q343's loop with a fired survivor retrain in
    // batch 2 instead of the insert wave (measured 54 fresh-session at
    // sf0.001 and sf0.01; bound = measured + 5)
    "q344_auto_retrain_policy" -> 59,
    // as-of serving: pays the shared q343 fixture when FIRST (live
    // subscriber loop) + two walk chains + census (measured 72
    // fresh-session at sf0.001 and sf0.01; bound = measured + 5;
    // memo-shared runs cost the two walks alone)
    "q348_index_asof_serve" -> 77,
    // IVF-entry serve: trainer (6, memoized — priced fresh) + its own
    // adjacency/entry/3-hop checkpoints (5) + the embedded fixed walk
    // (q322's 5) + census write (measured 16 fresh-session at sf0.01)
    "q325_nn_ivf_entry_serve" -> 20,
    // HNSW serve: trainer (6, memoized — priced fresh) + adjacency +
    // layer emb/adjacency checkpoints (2) + layer walk (1+2) + ground
    // walk (1+3) + embedded fixed walk (1+3) + per checkpoint + write
    // (measured 22 fresh-session at sf0.01)
    "q331_nn_hnsw_serve" -> 24,
    // multi-level HNSW: trainer (6) + und + lrank ckpt + 4 layer-adj
    // ckpts + 3 layer walks (2 each) + pool ckpt + efWalk (init + empty
    // expanded + 3 hops × front/expanded/visited) + single-layer arm
    // (walk 3 + ground 4) + per ckpt + census write (measured 37
    // fresh-session at sf0.01)
    "q336_nn_hnsw_multilevel" -> 44,
    // clustered-geometry arm: q336's serve actions minus the shared
    // trainer, plus the blend checkpoint and ring-ground build
    // (measured 33 fresh-session at sf0.01)
    "q341_nn_hnsw_clustered" -> 40,
    // IVF-as-table: trainer (3) + probe-cid collect + publish stage
    // stats/write + readPoint manifest reads + census
    "q227_ivf_snapshot_probe" -> 16,
    // incremental cluster: fixture publish (1) + 2 layout jobs (live
    // checkpoint + min/max head + bins collect + 4 bin writes each) + 2
    // insert-only applyCdc waves (op probe + key collect + DV checkpoint
    // + per-file collect + append write each) + census min/max head +
    // census write (measured 27 fresh-session at sf0.01)
    "q346_incremental_cluster" -> 32,
    // filtered ANN: kmeans trainer (3, memoized — priced fresh) +
    // scored/pass checkpoints + census write (measured 6 fresh-session)
    "q345_filtered_ann" -> 10,
    // filtered graph serve: trainer (6, memoized — priced fresh) +
    // adjacency + entry + 3 hop checkpoints + pass checkpoint + census
    // write (measured 13 fresh-session at sf0.01)
    "q347_filtered_graph_serve" -> 16,
    "q208_pq_learned_recall" -> 8,
    // residual IVF-PQ: coarse trainer (3) + corpus-residual checkpoint +
    // residual-PQ trainer (3) + query body (measured 8 fresh-session)
    "q236_ivfpq_residual" -> 12,
    "q212_doc_clusters" -> 8,
    "q213_cluster_balanced_sample" -> 8,
    "q217_cluster_silhouette" -> 8,
    "q219_hard_negatives" -> 8,
    // LR trainer: 1 feature checkpoint + 1 checkpoint per epoch
    // (epochs=4) before the query body (measured 5 total at epochs=3;
    // 10 prices epochs=4 with headroom)
    "q209_quality_classifier" -> 10,
    "q303_dataset_cartography" -> 10,
    "q244_calibration_census" -> 10,
    "q250_auc_census" -> 10,
    "q257_pr_sweep" -> 10,
    "q264_conformal_gate" -> 10,
    "q268_feature_attribution" -> 10,
    "q281_disparate_impact" -> 10,
    "q282_suspect_labels" -> 10,
    "q293_isotonic_calibration" -> 10,
    // softmax trainer: feat checkpoint + 1 per epoch (3) + census
    "q228_softmax_langid" -> 10,
    // BPE trainer: 8 merge rounds × (argmax + refresh) + encode (18)
    "q147_bpe_learn" -> 28,
    // WordPiece trainer: dict checkpoint + 6 rounds × (argmax collect +
    // merge checkpoint) + final symbol-total agg + census write
    "q332_wordpiece_learn" -> 20,
    // unigram EM: dict + seed checkpoints + 3 vocab collects + embedded
    // 8-round BPE twin (q147's 16) + final encode checkpoint + census
    "q327_unigram_lm" -> 32,
    // learned-fertility census: the full q147 trainer + 1 census pass
    "q224_learned_fertility" -> 30,
    // byte-BPE: its own 8-round trainer (dict + 8 collects + 8 ckpts) +
    // the embedded char trainer (q147's 18) + 3 census heads + probe +
    // census write
    "q335_byte_bpe_learn" -> 46,
    // byte fertility: the byte trainer (18) + 1 census pass (q224's
    // discipline)
    "q338_byte_fertility" -> 30,
    // vocab curve: the full q147 trainer + dict checkpoint + 4 curve
    // points folded into one union action
    "q307_vocab_curve" -> 30,
    // SQL-script binary search: ~2 actions per WHILE probe, probes =
    // log2(max per-nation supplier count) — grows LOGARITHMICALLY with
    // SF by design (measured 13 at sf0.001, 25 at sf0.01); 48 prices
    // the log at ~4M suppliers/nation
    "q152_sql_script" -> 48,
    // MMR greedy selection: one action per selected item, k-bounded (8)
    "q159_mmr_diversify" -> 16,
    // k-center farthest-first: emb checkpoint + 1 per round (k=6)
    "q266_kcenter_coreset" -> 16,
    // recursive CTE: one action per recursion level (hierarchy depth, 6)
    "q107_recursive_hierarchy" -> 12,
    // session-variable SET/inspect statements (fixed statement list, 5)
    "q138_sql_variables" -> 10,
    // Snapshot-store queries. A bloom-free publish is ONE action, the
    // staged write: its count and min/max come from the parquet
    // footers. Manifest reads and commits are fs calls, not actions.
    // Measured fresh-session at sf0.01; each bound is measured + 5.
    // 2 publishes + census write (measured 3)
    "q130_snapshot_roundtrip" -> 8, "q133_snapshot_cdc" -> 8,
    // drift audit: 2 publishes + census write (measured 3)
    "q253_snapshot_drift" -> 8,
    // publish + census write (measured 2); the bloom publish adds its
    // stats+bloom scan and the probe-hash collect (measured 4)
    "q148_skipping_read" -> 7, "q151_bloom_lookup" -> 8,
    // merge: publish + max-key head + mergeUpsert (dup probe +
    // touched-file collect + touched count + staged write) + census
    // (measured 7); delete: publish + deleteBetween (touched count +
    // staged write) + census (measured 4)
    "q214_snapshot_merge" -> 12, "q215_snapshot_delete" -> 9,
    // publish + 2 dvDelete waves (position checkpoint + per-file count
    // collect + cumulative-DV checkpoint + DV size count + DV write
    // each) + census write (measured 12)
    "q318_deletion_vectors" -> 17,
    // MoR merge: publish + mergeMoR (dup probe + position checkpoint +
    // per-file count collect + cumulative-DV checkpoint + append write +
    // DV size count + DV write) + census (measured 9)
    "q323_merge_on_read" -> 14,
    // streaming-CDC batch twin: max-id head + publish + 2 applyCdc waves
    // (op/dup probe + key collect + position checkpoint + per-file count
    // collect + cumulative-DV checkpoint + append write + DV size count
    // + DV write each) + a no-op replay (zero actions) + census write
    // (measured 19)
    "q328_streaming_cdc_ingest" -> 24,
    // change-feed twin: q328's fixture (18), then 2 feed steps
    // (manifest parses are fs reads, not actions) + census (measured 19)
    "q329_change_feed" -> 24,
    // summary-follow twin: q329's fixture (18) + the v1 summary
    // checkpoint + per step a feed checkpoint, a maintained-summary
    // checkpoint and the class-counter collect + census (measured 26)
    "q333_cdf_summary_follow" -> 31,
    // DV auto-compaction: publish + 3 delete-only applyCdc waves (op/dup
    // probe + key collect + position checkpoint + per-file count collect
    // + cumulative-DV checkpoint + DV size count + DV write each) + 2
    // amp censuses (one DV agg each) + the compaction (its amp census +
    // the materialization write) + 2 time-travel counts + the
    // never-DV'd bucket count + census write (measured 30)
    "q337_dv_auto_compact" -> 35,
    // capstone funnel: CC fixpoint + LR epochs + 7 stage-boundary
    // checkpoints + plant-offset guard max() + census write
    // (measured 22 fresh-session)
    "q319_pretrain_funnel" -> 27,
    // evolution merge: publish + q214's mergeUpsert (4) on a wider
    // schema + census (measured 6 fresh-session at sf0.01)
    "q304_schema_evolution" -> 11,
    // column mapping: publish + 2 metadata-only commits (zero actions) +
    // 2 merges (dup probe + touched-file collect + touched count +
    // staged write each) + 5 per-version census heads + census write
    // (measured 15 fresh-session at sf0.01)
    "q339_column_mapping" -> 20,
    // index health: 2 delete waves (damaged/aff checkpoints + counts) +
    // 3 censuses (agg + degree count each) + live counts + the fired
    // retrain (NN-descent checkpoints) + census write
    "q340_nn_health_policy" -> 40,
    // CDC-fed summary maintenance: 2 publishes + the final
    // single-action maintenance plan (measured 3 fresh-session at
    // sf0.01)
    "q238_cdc_summary_maintain" -> 8,
    // AS-OF reads: 3 publishes (the ts sidecar is an fs write) + census
    // (measured 4 fresh-session at sf0.01)
    "q239_asof_timestamp" -> 9,
    // WAP: 3 publishes + 3 audit heads + census (measured 7
    // fresh-session at sf0.01)
    "q225_wap_publish" -> 12,
    // multi-statement SQL entries / registration actions (3–4 measured)
    "q113_sql_udf" -> 8, "q97_jdbc_roundtrip" -> 8,
    "q118_schema_evolution" -> 8, "q38_surrogate_keys" -> 8,
    // MV queries build+register the summary (write + signature) first
    "q181_summary_rewrite" -> 8, "q183_summary_refresh" -> 8,
    "q188_sql_mv_rewrite" -> 8, "q200_summary_avg_dimjoin" -> 8,
  )
  def actionBound(name: String): Int =
    actionBounds.getOrElse(name, defaultActionBound)

  /** What the registered query `name`'s plan fails: every finding its
    * [[queryAllow]] entry does not allow, and a `dead-allowance` finding
    * for each allowed rule that matched no finding (an unused allowance
    * would wave through the next real violation of its rule).
    */
  def violations(name: String, df: DataFrame): Seq[Finding] = {
    val found = lint(df)
    val allow = queryAllow.getOrElse(name, Set.empty)
    found.filterNot(f => allow(f.rule)) ++
      (allow -- found.map(_.rule)).toSeq.sorted.map(rule =>
        Finding("dead-allowance", rule, "allowed but matched no finding"))
  }

  /** Throw (with every finding listed) unless the plan is clean. */
  def assertClean(df: DataFrame): Unit = {
    val bad = lint(df)
    if (bad.nonEmpty)
      throw new AssertionError(
        s"plan lint failed:\n${bad.mkString("\n")}\n--- plan ---\n" +
          df.queryExecution.executedPlan.toString)
  }

  /** The predicate shapes a parquet source could have translated: atomic
    * comparisons / IN / null checks over bare column references and
    * literals, under And/Or/Not. Anything containing a computed
    * expression is untranslatable by construction and therefore not a
    * pushdown FAILURE.
    */
  private def sourceConvertible(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def atom(x: Expression): Boolean = x match {
      case _: Attribute | _: Literal => true
      case _ => false
    }
    e match {
      case And(l, r) => sourceConvertible(l) && sourceConvertible(r)
      case Or(l, r) => sourceConvertible(l) && sourceConvertible(r)
      case Not(c) => sourceConvertible(c)
      case b: BinaryComparison => atom(b.left) && atom(b.right)
      case In(v, list) => atom(v) && list.forall(atom)
      case IsNull(c) => atom(c)
      case IsNotNull(c) => atom(c)
      case _: StartsWith | _: EndsWith | _: Contains =>
        e.children.forall(atom)
      case _ => false
    }
  }

  /** Descend through codegen/columnar wrappers (InputAdapter,
    * WholeStageCodegen, ColumnarToRow) to the node that actually scans.
    */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w if (w.nodeName == "InputAdapter" ||
               w.nodeName.startsWith("WholeStageCodegen") ||
               w.nodeName == "ColumnarToRow") && w.children.size == 1 =>
      unwrap(w.children.head)
    case other => other
  }

  private def isBareScan(p: SparkPlan): Boolean = {
    val n = p.nodeName
    n.startsWith("Scan parquet") || n.startsWith("BatchScan") ||
      (n.contains("Scan") && n.contains("parquet"))
  }

  /** True when the scan advertises no pushed filters — either an
    * explicit `PushedFilters: []` or no pushdown report at all (a DSv2
    * scan that never implemented SupportsPushDownFilters).
    */
  private def pushedNothing(scan: SparkPlan): Boolean = {
    val s = scan.toString
    val i = s.indexOf("PushedFilters:")
    i < 0 || s.substring(i, math.min(s.length, i + 60)).contains("[]")
  }

  private def isFinalAgg(p: SparkPlan): Boolean = p match {
    case h: HashAggregateExec => h.aggregateExpressions.exists(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final)
    case h: ObjectHashAggregateExec => h.aggregateExpressions.exists(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final)
    case h: SortAggregateExec => h.aggregateExpressions.exists(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Final)
    case _ => false
  }

  /** True for Windows.prefixSum's offsets window: its child's
    * `__pfx_bt` attribute is, by ExprId, an aggregate RESULT of the
    * final aggregate under it — reached through sorts, exchanges,
    * projects that pass the attribute through, and AQE/codegen wrappers.
    */
  private def prefixOffsets(w: WindowExec): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
      AttributeSet, ExprId}
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def producedBy(p: SparkPlan, id: ExprId): Boolean = p match {
      case agg: BaseAggregateExec if isFinalAgg(agg) =>
        val results = AttributeSet(agg.aggregateAttributes)
        agg.resultExpressions.exists {
          case a: Alias => a.exprId == id && a.references.nonEmpty &&
            a.references.subsetOf(results)
          case _ => false
        }
      case pr: ProjectExec =>
        pr.projectList.exists {
          case a: Attribute => a.exprId == id
          case _ => false
        } && producedBy(pr.child, id)
      case a: AdaptiveSparkPlanExec => producedBy(a.initialPlan, id)
      case q: QueryStageExec => producedBy(q.plan, id)
      case _ if (p.nodeName == "Sort" || p.nodeName == "Exchange" ||
                 p.nodeName == "InputAdapter" || p.nodeName == "AQEShuffleRead" ||
                 p.nodeName.startsWith("WholeStageCodegen")) &&
          p.children.size == 1 => producedBy(p.children.head, id)
      case _ => false
    }
    w.child.output.find(_.name == "__pfx_bt").exists(a => producedBy(w.child, a.exprId))
  }

  /** True when `p`'s input chain (through sorts/exchanges/projects/
    * filters/codegen wrappers) reaches an aggregate or a local relation
    * before any scan or join — i.e. the data volume was already reduced
    * to O(groups), so a low-cardinality partitioning above it is sound
    * (the q144 principle).
    */
  private def inputReduced(p: SparkPlan): Boolean = {
    val n = p.nodeName
    p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => true
      case _ if n == "LocalTableScan" || n == "Range" => true
      case _ if (n == "Sort" || n == "Project" || n == "Filter" ||
                 n == "Exchange" || n == "ShuffleExchange" ||
                 n == "InputAdapter" || n == "ColumnarToRow" ||
                 n == "Window" || n == "AQEShuffleRead" ||
                 n.startsWith("WholeStageCodegen")) && p.children.size == 1 =>
        inputReduced(p.children.head)
      case ex: ShuffleExchangeExec => inputReduced(ex.child)
      case a: AdaptiveSparkPlanExec => inputReduced(a.initialPlan)
      case _ => false
    }
  }

  /** True when the window's input chain passes through a
    * WindowGroupLimit — Spark's two-phase rank-limit: the PARTIAL limit
    * runs BELOW the exchange (each map task keeps only its local top-k
    * per group), so even an enum-partitioned window receives ≤ k·tasks
    * rows, not the fact table. PlansSpec pins the partial-below-exchange
    * shape on q11/q102.
    */
  private def rankLimited(p: SparkPlan): Boolean = {
    val n = p.nodeName
    p match {
      case _ if n.contains("WindowGroupLimit") => true
      case _ if (n == "Sort" || n == "Project" || n == "Filter" ||
                 n == "Exchange" || n == "InputAdapter" ||
                 n == "ColumnarToRow" || n == "AQEShuffleRead" ||
                 n.startsWith("WholeStageCodegen")) && p.children.size == 1 =>
        rankLimited(p.children.head)
      case ex: ShuffleExchangeExec => rankLimited(ex.child)
      case a: AdaptiveSparkPlanExec => rankLimited(a.initialPlan)
      case _ => false
    }
  }

  /** An EXACT Percentile/Median aggregate (partial or complete step —
    * counted once) whose grouping is empty or enum-only, over input
    * that is not already reduced.
    */
  private def exactPercentileOverFact(
      p: SparkPlan,
      origins: org.apache.spark.sql.catalyst.expressions.ExprId => Set[String])
      : Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Partial}
    val (groupings, aggs) = p match {
      case h: HashAggregateExec => (h.groupingExpressions, h.aggregateExpressions)
      case h: ObjectHashAggregateExec => (h.groupingExpressions, h.aggregateExpressions)
      case h: SortAggregateExec => (h.groupingExpressions, h.aggregateExpressions)
      case _ => return false
    }
    val hasExactPct = aggs.exists { ae =>
      (ae.mode == Partial || ae.mode == Complete) &&
        Set("Percentile", "Median", "PercentileCont", "PercentileDisc")
          .contains(ae.aggregateFunction.getClass.getSimpleName)
    }
    hasExactPct &&
      groupings.forall(g => g.references.forall(a => lowCardAttr(a, origins))) &&
      !p.children.headOption.exists(inputReduced)
  }

  private def isPartialAgg(p: SparkPlan): Boolean = p match {
    case h: HashAggregateExec => h.aggregateExpressions.exists(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
    case h: ObjectHashAggregateExec => h.aggregateExpressions.exists(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
    case h: SortAggregateExec => h.aggregateExpressions.exists(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
    case _ => false
  }
}
