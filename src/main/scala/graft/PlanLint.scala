package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
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
  *    (Legitimate when one side is O(1) rows — broadcast query sets —
  *    which is why findings are allowlisted per query, not globally.)
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
        case j: CartesianProductExec =>
          out += Finding("cartesian", j.nodeName,
            "join with no condition at all — O(n×m)")
        case j: BroadcastNestedLoopJoinExec =>
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
        // construction — recognizable by the `__pfx_bt` totals column
        // in the window child's output. Every other empty-partition
        // window still flags (r15: the q164/q174/q175/q271/q277/q132/
        // q291 global windows were converted to this machinery, so the
        // rule now ENFORCES that no unbounded global window returns).
        case w: WindowExec if w.partitionSpec.isEmpty &&
            !w.child.output.exists(_.name == "__pfx_bt") =>
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

  /** Per-query lint exceptions — INTENTIONAL plan shapes, each with the
    * reason it is sound at scale (shared by PlanLintSpec and Verify's
    * enforcement pass):
    *  - nested-loop with an O(1) broadcast side: the ANN/score queries
    *    join the corpus against a ≤5-row broadcast query set (q49-family,
    *    q111, q131) or a 1-row global-stats frame (q44, q69, q74, q82/q99
    *    clip bounds, q83, q91, q102, q104) — the "build side" is constant-
    *    sized, so the loop is a single streamed pass, the broadcast's
    *    whole point.
    *  - cartesian: same 1-row-frame pattern where no condition exists at
    *    all (crossJoin with global stats).
    *  - global-window: q132's ntile stands in for repartitionByRange
    *    (documented there); q102/q75-style global ranks are over
    *    pre-aggregated frames orders of magnitude smaller than the fact
    *    input.
    *  - expand: q16/q29's set-op census uses grouping sets ON PURPOSE
    *    (its Expand is over the deduped key set, not the fact table).
    *  - no-partial-agg: aggregates over first/last or listagg that Spark
    *    plans as SortAggregate final-only when the input is already
    *    clustered (q121's 25-row nation frame; q85's count frame).
    *  - exact-percentile: queries whose exact form IS the oracle contract
    *    and whose sketch twin exists and is pinned against it as data
    *    (q82→q99, q77→q96, q166/q172/q173/q186/q190→the `sketch=true`
    *    knob exercised in InsightsSpec and pinned by q197).
    *  - low-cardinality-window: per-lang/per-segment ranked sampling over
    *    the documents dim where the documented scale path is the A-ES
    *    weighted sample (q102) or hash split (q72); each scaladoc names it.
    */
  val queryAllow: Map[String, Set[String]] = Map(
    "q44_lang_id" -> Set("nested-loop", "cartesian"),
    // q103: the CMS sketch collapses to a 1-row frame crossJoined back
    "q103_cms_heavy_hitters" -> Set("nested-loop", "cartesian"),
    // q226: the 1-row exact-tercile frame crossJoined back (the scalar-
    // broadcast idiom; approx_percentile is the documented 100 TB knob)
    "q226_curriculum_plan" -> Set("nested-loop", "cartesian", "exact-percentile"),
    // q319 capstone: inherits q209's broadcast weight join, q226's
    // 1-row percentile-cut crossJoins and q216's 64-row log-ratio
    // broadcast — every cartesian is a 1-row or ≤64-row bounded build
    "q319_pretrain_funnel" -> Set("nested-loop", "cartesian",
                                  "exact-percentile"),
    // q228: the 325-row weight-grid build (range×range) + the 1-row n
    // frame crossJoined back each epoch — all O(1)-sized sides
    "q228_softmax_langid" -> Set("nested-loop", "cartesian"),
    // q38: the surrogate-key window over a DIMENSION (≤4M keys, documented
    // in ops/Merge.scala) + a 1-row max-id frame cross
    "q38_surrogate_keys" -> Set("global-window", "nested-loop", "cartesian"),
    // q327: vocab cut/rank windows are global over the vocab-CANDIDATE
    // dimension (bounded by corpus char diversity, never the corpus);
    // the 1-row totals frame crossJoins back (scalar-broadcast idiom)
    "q327_unigram_lm" -> Set("global-window", "nested-loop", "cartesian"),
    // q53: sliding windows DUPLICATE rows by construction (each event in
    // size/slide windows) — that Expand is the operator's semantics
    "q53_sliding_window" -> Set("expand"),
    // q85: closed-form rank census crosses a 1-row total frame
    "q85_rank_family" -> Set("nested-loop", "cartesian"),
    // q144: the share-of-total window is global ON PURPOSE — its input is
    // the 5-row aggregate, not the fact table (documented in the query)
    "q144_percent_of_total" -> Set("global-window"),
    // q88: UNPIVOT is implemented BY Expand — n_cols rows per input row
    // is the requested output
    "q88_unpivot" -> Set("expand"),
    // q89: the planted-FK branch's `o_custkey = -1` constant-folds into a
    // filter on the broadcast side, leaving an anti join against a ≤1-row
    // build (plan-read in round 5) + a 1-row n_checked cross
    "q89_constraint_audit" -> Set("nested-loop", "cartesian"),
    "q49_cosine_topk" -> Set("nested-loop"),
    // q158: q49's broadcast 3-row query set + a 1-row corpus-size frame
    "q158_hybrid_rrf" -> Set("nested-loop", "cartesian"),
    "q51_label_centroids" -> Set("nested-loop", "cartesian"),
    "q59_ann_ivf" -> Set("nested-loop", "cartesian"),
    "q62_ann_lsh_planes8" -> Set("nested-loop"),
    "q63_embedding_neardup_p8" -> Set("nested-loop"),
    "q65_ann_lsh_multitable" -> Set("nested-loop"),
    "q66_ann_ivf_nprobe2" -> Set("nested-loop", "cartesian"),
    // q227: the ≤8-row folded-codebook frame crossJoined for assignment
    // + the broadcast 5-row query side of the exact-recall census
    "q227_ivf_snapshot_probe" -> Set("nested-loop", "cartesian"),
    // q236: 1-row folded-codebook frames crossJoined for assignment and
    // lookup-table builds (coarse + residual-PQ, the q207/q208 shapes)
    "q236_ivfpq_residual" -> Set("nested-loop", "cartesian"),
    "q69_repetition_quality" -> Set("nested-loop", "cartesian"),
    "q74_tfidf" -> Set("nested-loop", "cartesian"),
    "q83_unigram_score" -> Set("nested-loop", "cartesian"),
    // q153: same shape as q83 — the 1-row vocab-size frame crosses back
    "q153_bigram_score" -> Set("nested-loop", "cartesian"),
    // q231: the 1-row corpus-token-total frame crossJoined back into the
    // vocab freq table (q83's scalar-broadcast shape)
    "q231_ccnet_buckets" -> Set("nested-loop", "cartesian"),
    // q244: 1-row decile-cuts frame crossJoined back; exact percentile
    // over the per-doc frame (approx_percentile is the 100 TB knob)
    "q244_calibration_census" ->
      Set("nested-loop", "cartesian", "exact-percentile"),
    // q245: two 1-row count frames crossJoined into the census row
    "q245_detector_eval" -> Set("nested-loop", "cartesian"),
    // q247: the 1-row (T, U) totals frame crossJoined back
    "q247_pmi_cooccurrence" -> Set("nested-loop", "cartesian"),
    // q238: the 1-row checksum/counter frames crossJoined into one row
    "q238_cdc_summary_maintain" -> Set("nested-loop", "cartesian"),
    "q91_domain_mix" -> Set("nested-loop", "cartesian"),
    "q102_weighted_sample" -> Set("nested-loop", "cartesian", "global-window"),
    "q104_quantized_topk" -> Set("nested-loop", "cartesian"),
    "q111_pq_topk" -> Set("nested-loop", "cartesian"),
    // q206–q208: the k-means trainer crossJoins the 1-row folded
    // codebook (the ivfAssigned idiom) and the exact-recall twin is
    // q49's broadcast 5-query BNLJ — all bounded builds, never a
    // data-sized cartesian. (r15: the ≤8-row seed ranking window became
    // a single-row aggregate + posexplode, so the global-window
    // allowance is gone from the whole trainer family.)
    "q206_kmeans_codebook" -> Set("nested-loop", "cartesian"),
    "q207_kmeans_ivf_recall" -> Set("nested-loop", "cartesian"),
    // q317: inherits the trainer's 1-row folded-codebook crossJoin and
    // ≤8-row seed window; the probe-recall exact side is q49's
    // broadcast 10-query BNLJ; the global census is a 1-row crossJoin —
    // all bounded builds, never a data-sized cartesian
    "q317_nndescent_knn" -> Set("nested-loop", "cartesian"),
    // q322: the graph trainer's bounded builds + a 4-row entry-point
    // crossJoin and the broadcast 10-probe scoring BNLJ
    "q322_nn_beam_serve" -> Set("nested-loop", "cartesian"),
    // q324: the trainer's bounded builds + a 4-row entry crossJoin, the
    // broadcast 10-probe exact side, and the 1-row maintained-graph
    // stat crossJoin — batch-side scoring is plain equi-joins
    "q324_nn_incremental_insert" -> Set("nested-loop", "cartesian"),
    // q334: q324's shapes inverted — trainer's bounded builds, the
    // broadcast survivor-probe exact side, the 1-row maintained-graph
    // stat crossJoin; all repair joins are damage-restricted equi-joins
    "q334_nn_incremental_delete" -> Set("nested-loop", "cartesian"),
    // q342: q324 + q334's shapes chained (the 4-entry placement
    // crossJoin, the broadcast survivor-probe exact side, the 1-row
    // stat crossJoin); every feed-driven membership is a semi/anti
    // equi-join
    "q342_index_follows_table" -> Set("nested-loop", "cartesian"),
    // q343: q342's census shapes over the PUBLISHED index (the same
    // broadcast probe panel + 1-row stat/lineage crossJoins); the live
    // subscriber's maintenance joins are all semi/anti equi-joins
    "q343_durable_index" -> Set("nested-loop", "cartesian"),
    // q348: q322's bounded serve shapes replayed twice over the
    // published index versions (4-entry crossJoins + broadcast probe
    // scoring BNLJs)
    "q348_index_asof_serve" -> Set("nested-loop", "cartesian"),
    // q325: q322's bounded builds + the probe × 8-centroid broadcast
    // cell ranking and the 1-row stat crossJoins — never data-sized
    // q331: q322's bounded builds + the 32-row layer crossJoin, the
    // 1-row layer-entry crossJoin, and the bounded ranking windows
    "q331_nn_hnsw_serve" -> Set("nested-loop", "cartesian",
                                "global-window"),
    // q336: q331's bounded builds × 3 nested layers (≤64-row crossJoins,
    // 64-row global ranking window, 1-row entry crossJoins)
    "q336_nn_hnsw_multilevel" -> Set("nested-loop", "cartesian",
                                     "global-window"),
    // q341: q336's serve shapes on the clustered synthesis (the blend's
    // 16-row anchor broadcast adds one more bounded crossJoin)
    "q341_nn_hnsw_clustered" -> Set("nested-loop", "cartesian",
                                    "global-window"),
    "q325_nn_ivf_entry_serve" -> Set("nested-loop", "cartesian"),
    // q345: the probe × 8-centroid broadcast cell ranking, the 2-row
    // filter-tier cross and the broadcast 8-probe scoring BNLJ — all
    // bounded; candidates/filters are cell/key equi- and semi-joins
    "q345_filtered_ann" -> Set("nested-loop", "cartesian"),
    // q347: q322's bounded serve shapes (4-entry crossJoin, broadcast
    // 10-probe scoring BNLJ) + the 2-row filter-tier cross; the filter
    // itself is a key equi-join on the visited set
    "q347_filtered_graph_serve" -> Set("nested-loop", "cartesian"),
    "q208_pq_learned_recall" -> Set("nested-loop", "cartesian"),
    // q219: q207's probe shapes reused as a miner (1-row folded
    // codebook cross); the anchor↔candidate join itself is a cid
    // equi-join, never a cartesian
    "q219_hard_negatives" -> Set("nested-loop", "cartesian"),
    // q209: the LR trainer crossJoins the 1-row corpus-count frame into
    // the 65-row weight update — broadcast algebra, the q85/q103 idiom
    "q209_quality_classifier" -> Set("nested-loop", "cartesian"),
    // q211: the 1-row Σ-weights/total frame crosses the per-lang counts
    "q211_temperature_mix" -> Set("nested-loop", "cartesian"),
    // q216: the 1-row distribution-totals frame crosses the 64-row
    // bucket table (scalar-broadcast idiom)
    "q216_dsir_select" -> Set("nested-loop", "cartesian"),
    // q218: q216's cross plus the 1-row corpus-totals frame crossing the
    // per-source aggregate
    "q218_source_gate" -> Set("nested-loop", "cartesian"),
    // q217: the ≤5-row broadcast codebook crosses the piece frame (the
    // assignPieces idiom kept as rows for the argmin AND runner-up)
    "q217_cluster_silhouette" -> Set("nested-loop", "cartesian"),
    // q212/q213: same trainer shapes as q206 over document tf vectors
    // (+ q213's 1-row min-cluster-size cross)
    "q212_doc_clusters" -> Set("nested-loop", "cartesian"),
    "q213_cluster_balanced_sample" -> Set("nested-loop", "cartesian"),
    "q131_jl_projection" -> Set("nested-loop"),
    // q132/q291 (r15): the fact-sized ntile(64) layouts converted to
    // Windows.ntileScaled — entries dropped, the rule enforces it.
    // Insights batch (q162-q180): every flagged nested-loop is a ≤10-row
    // derived frame (grand total, min/max pair, decile cuts, marginal
    // count) crossJoined back — broadcast algebra, not a data-sized scan.
    // Every flagged global window runs over an already-REDUCED frame
    // (|customers|, distinct value domain, |days| series), never the
    // fact; each query's scaladoc names the sketch path that removes
    // even that (q164 -> approx_percentile cut-points, q174 -> binned
    // ECDF). Same precedent as q144/q85.
    // q182: dominance is inherently non-equi; the BNLJ runs over the
    // POST-PRUNE candidate set (partition-local skylines), never the
    // full point set — that asymmetry is the operator's whole design
    "q182_skyline" -> Set("nested-loop"),
    // q187: the trailing-window association is a |days|×|days| range
    // join (~30×30 here, |calendar| at any scale) against BROADCAST
    // daily frames — the fact is touched once, in the daily sketch agg
    "q187_rolling_hll" -> Set("nested-loop"),
    // q193: the 1-row (min, max) boundary frame crosses back
    "q193_temporal_split" -> Set("nested-loop", "cartesian"),
    // q194: label≠label is inherently non-equi; the BROADCAST side is the
    // small anchor sample, so the pair generation is map-side and linear
    // in the corpus — the intended plan, not an accident
    "q194_negative_sampling" -> Set("nested-loop"),
    // q195: the 1-row min-class-size frame crosses back
    "q195_class_balance" -> Set("nested-loop", "cartesian"),
    "q163_basket_affinity" -> Set("nested-loop", "cartesian"),
    // q164 (r15): ntile(4)×3 converted to Windows.ntileScaled — the
    // global-window allowance is gone; the rule now enforces it.
    "q167_chisq_independence" -> Set("nested-loop", "cartesian"),
    "q168_benford_screen" -> Set("nested-loop", "cartesian"),
    "q169_entropy_profile" -> Set("nested-loop", "cartesian"),
    "q171_triangle_count" -> Set("nested-loop", "cartesian"),
    // q174/q175 (r15): cumulative ECDF / Gini rank converted to the
    // scalable prefix sum; only the 1-row totals crossJoin remains
    "q174_ks_test" -> Set("nested-loop", "cartesian"),
    "q176_acf" -> Set("global-window"),
    "q178_cusum_changepoint" -> Set("global-window", "nested-loop",
      "cartesian"),
    "q179_decayed_engagement" -> Set("nested-loop", "cartesian"),
    "q16_setop_census" -> Set("expand"),
    "q29_setop_fused" -> Set("expand"),
    "q24_rollup" -> Set("expand"),
    "q25_cube" -> Set("expand"),
    "q26_grouping_sets" -> Set("expand"),
    // exact-percentile allowances: each exact form IS the oracle contract
    // and each names its live sketch twin — q77/q137 → q96 (the
    // approx_percentile pin), q82/q90 → q99 (clipBounds sketch knob),
    // q96/q99/q197 CONTAIN both paths (they are the pins themselves),
    // q166/q172/q173/q190/q196 → the `sketch = true` knob on the same
    // function (InsightsSpec agreement cases; q197 pins q190's form)
    "q77_percentiles" -> Set("exact-percentile"),
    "q137_percentile_inverse" -> Set("exact-percentile"),
    "q96_approx_percentiles" -> Set("exact-percentile"),
    "q82_length_clip" -> Set("nested-loop", "cartesian", "exact-percentile"),
    "q90_pipeline_funnel" -> Set("nested-loop", "cartesian",
      "exact-percentile"),
    "q99_sketch_clip" -> Set("nested-loop", "cartesian", "exact-percentile"),
    "q166_iqr_outliers" -> Set("exact-percentile"),
    "q172_interpurchase_gaps" -> Set("exact-percentile"),
    "q173_psi_drift" -> Set("nested-loop", "cartesian", "exact-percentile"),
    "q190_equidepth_hist" -> Set("nested-loop", "cartesian",
      "exact-percentile"),
    "q196_cohens_kappa" -> Set("nested-loop", "cartesian",
      "exact-percentile"),
    // q197: q190's crossJoin-the-tiny-frames shape (cuts, total, mult)
    "q197_equidepth_sketch" -> Set("nested-loop", "cartesian"),
    // q202: the spine generator crosses the |types| frame with the
    // |hours| frame (both calendar/enum-sized), and the LOCF window runs
    // over that GRID — |hours| rows per type at any scale, never the
    // fact (reduced in the one hash-agg below the join; q144 principle)
    "q202_locf_gap_fill" -> Set("nested-loop", "cartesian",
      "low-cardinality-window"),
    // q248: the 1-row (N, avgdl) corpus-stats frame crosses the
    // query-term postings (scalar-broadcast idiom); everything else is
    // broadcast equi-joins + the partial-stepped top_k_by
    "q248_bm25_topk" -> Set("nested-loop", "cartesian"),
    // q256: same 1-row BM25 stats cross as q248; its windows run over
    // the per-(query, grade) COUNT frame (≤4 rows/query — q144 principle)
    "q256_ranking_quality" -> Set("nested-loop", "cartesian"),
    // q250: the cumulative-negatives scan runs over the micro-score
    // HISTOGRAM (≤ distinct quantized scores, ≤1e6 for any model at
    // 6 dp), already reduced by the hash agg below it — q144 principle
    "q250_auc_census" -> Set("global-window"),
    // q257: the 1-row decile-cut array crosses the score histogram.
    // r15: the cuts read the memoized (checkpointed) scored frame, so
    // the lint can no longer SEE the per-doc reduction below the
    // checkpoint — same exact-percentile contract as q244 (the exact
    // form is the oracle contract; approx_percentile is the 100 TB knob)
    "q257_pr_sweep" -> Set("nested-loop", "cartesian", "exact-percentile"),
    // q259: the 1-row mean / v / stats frames crossJoined back into the
    // corpus pass each power-iteration round (the k-means folded-state
    // idiom — every build side is exactly one row)
    "q259_pca_power" -> Set("nested-loop", "cartesian"),
    // q260: the 1-row N1+(··) bigram-type total crossJoined into the
    // bigram-type model frame (q231's scalar-broadcast shape)
    "q260_kneser_ney" -> Set("nested-loop", "cartesian"),
    // q262: the risk-set / prefix-sum / zero-flag windows run over the
    // ≤(horizon+1)-row duration GRID, never the fact (q144 principle)
    "q262_kaplan_meier" -> Set("global-window"),
    // q264: the conformal-rank window runs over the micro-score
    // HISTOGRAM (q250's shape); q̂ and k ride 1-row crossJoins
    "q264_conformal_gate" -> Set("nested-loop", "cartesian",
                                 "global-window"),
    // q266: each round crossJoins the 1-row folded ≤k-center selection
    // (the centsRow idiom); nothing data-sized ever builds
    "q266_kcenter_coreset" -> Set("nested-loop", "cartesian"),
    // q267: the 1-row (components, weight) census frame crossJoined
    // into the 3-row per-round summary
    "q267_boruvka_forest" -> Set("nested-loop", "cartesian"),
    // q268: the 1-row N frame crosses the ≤65-row feature stats
    // (scalar-broadcast idiom)
    "q268_feature_attribution" -> Set("nested-loop", "cartesian"),
    // q269: the 1-row trigram total crossJoined into the path counts
    "q269_journey_paths" -> Set("nested-loop", "cartesian"),
    // q271 (r15): the midrank cumulation converted to the scalable
    // prefix sum — no allowance needed; entry dropped.
    // q270: the 1-row L1-normalization totals crossJoined back each
    // half-step (PageRank's scalar-broadcast shape)
    "q270_hits" -> Set("nested-loop", "cartesian"),
    // q272: the 1-row corpus token total crossJoined into the
    // vocab-sized per-source frame (q231 shape)
    "q272_js_drift" -> Set("nested-loop", "cartesian"),
    // q274: the rank window runs over the ≤K-row top-vocab frame
    "q274_zipf_fit" -> Set("global-window"),
    // q275: the 1-row full-mean frame crossJoined into the B-row
    // replicate census; the exact percentile runs over B = 32 rows
    "q275_poisson_bootstrap" -> Set("nested-loop", "cartesian",
                                    "exact-percentile"),
    // q277: the ECDF window runs over the cents HISTOGRAM (q271 shape);
    // the 1-row totals frame crossJoins back
    "q277_ks_test" -> Set("nested-loop", "cartesian"), // r15: ECDF → prefix sum
    // q278: the 1-row pool-mean frame crossJoins the |labels|-row census
    "q278_mmd_drift" -> Set("nested-loop", "cartesian"),
    // q280: percentile_disc over the per-user REDUCED latency frame
    "q280_conversion_latency" -> Set("exact-percentile"),
    // q281: the 1-row reference-group frame crossJoins the |sources| rows
    "q281_disparate_impact" -> Set("nested-loop", "cartesian"),
    // q282: the 1-row p10/p90 cut frame crossJoins the scored rows
    // (q244's shape; approx_percentile is the 100 TB knob)
    "q282_suspect_labels" -> Set("nested-loop", "cartesian",
                                 "exact-percentile"),
    // q284: the 1-row reach count crossJoins the top-20 distance rows
    "q284_bellman_ford" -> Set("nested-loop", "cartesian"),
    // q285: the 1-row moment stats crossJoin the deci-bucket histogram
    "q285_geometry_census" -> Set("nested-loop", "cartesian"),
    // q286: the 1-row transition total / chain-rate frames crossJoin
    // the |states|²-sized term frame (q231 shape)
    "q286_entropy_rate" -> Set("nested-loop", "cartesian"),
    // q288: exact per-segment fences ARE the oracle contract;
    // approx_percentile is the documented 100 TB knob (q226's note)
    "q288_robust_means" -> Set("exact-percentile"),
    // q290: the 1-row total/leftover frames crossJoin the |langs| rows;
    // the remainder-rank window runs over that enum-sized frame
    "q290_quota_apportion" -> Set("nested-loop", "cartesian",
                                  "global-window"),
    // q293: the (i, j, k) PAV lattice is built from ≤10-row bin frames
    // (theta joins over the DECILE state, never the docs); the 1-row
    // cut array crosses the scored rows (q244's shape)
    "q293_isotonic_calibration" -> Set("nested-loop", "cartesian",
                                       "exact-percentile"),
    // q295: each peel round's 1-row edge-count frame crossJoined into
    // its census row (scalar-broadcast idiom, 4 fixed rounds)
    "q295_kcore" -> Set("nested-loop", "cartesian"),
    // q297: the |langs|-row prior/default frame crossJoined onto the
    // token stream (the scoring fanout IS the classifier's semantics);
    // the 1-row vocab/doc-count frames cross the |langs|-row priors
    "q297_naive_bayes" -> Set("nested-loop", "cartesian"),
    // q296: three 1-row census frames (degree stats, edge stats,
    // triangle count) crossJoined into the single output row
    "q296_topology_census" -> Set("nested-loop", "cartesian"),
    // q298: the 5-row variant frame crosses the ≤30-row transition
    // frame; 1-row base/total frames cross the 4-row removal census
    "q298_markov_attribution" -> Set("nested-loop", "cartesian"),
    // q299: the 1-row calendar-span frame crosses the |types| frame to
    // build the day spine (scalar-broadcast idiom)
    "q299_holt_backtest" -> Set("nested-loop", "cartesian"),
    // q302: the exact-recall twin is q49's broadcast 5-query BNLJ; the
    // candidate path itself is four band equi-joins
    "q302_sign_ann" -> Set("nested-loop", "cartesian"),
    // q303: the LR trainer's 1-row n frame + the 1-row median-cuts frame
    // crossJoined back (q209/q244 shapes); exact medians per q244's note
    "q303_dataset_cartography" -> Set("nested-loop", "cartesian",
                                      "exact-percentile"),
    // q306: per-scheme 1-row candidate/found/size frames crossJoined
    // into each census row (scalar-broadcast idiom)
    "q306_blocking_quality" -> Set("nested-loop", "cartesian"),
    // q305: 1-row Σweights/leftover frames cross the |strata| rows; the
    // remainder-rank window runs over that enum-sized frame (q290 shape)
    "q305_neyman_sample" -> Set("nested-loop", "cartesian",
                                "global-window"),
    // q310: the BH rank window sorts the 35-row hypothesis frame; the
    // 1-row k* frame crosses back (q271's shapes); the midrank window
    // runs over the value DOMAIN per type, never the fact
    "q310_bh_screen" -> Set("nested-loop", "cartesian", "global-window"),
    // q311: the 1-row window-total frame crossJoined into the ≤25-row
    // census (scalar-broadcast idiom)
    "q311_sequential_rules" -> Set("nested-loop", "cartesian"),
    // q313: the 2-row variant-stats frame crosses the eval-token frame
    // (the scoring fanout is the ablation's semantics — 2 models);
    // 1-row/2-row stats frames cross the 2-row census
    "q313_dedup_ablation" -> Set("nested-loop", "cartesian"),
    // q314: the 1-row totals frame crosses the 64-row bucket profile
    "q314_feature_hash_audit" -> Set("nested-loop", "cartesian"),
    // q316: the 1-row corpus-count frame crosses the size histogram
    "q316_cluster_size_census" -> Set("nested-loop", "cartesian"),
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
    // incremental cluster: fixture publish + 2 layout jobs (per-bin
    // stage stats + min/max/bins collects) + appends + census reads
    // (measured 45 fresh-session)
    "q346_incremental_cluster" -> 52,
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
    // snapshot/manifest queries: version publishes + manifest reads (≤5)
    "q130_snapshot_roundtrip" -> 10, "q133_snapshot_cdc" -> 10,
    // drift audit: 2 publishes (stage stats/write each) + manifest reads
    "q253_snapshot_drift" -> 12,
    "q148_skipping_read" -> 8, "q151_bloom_lookup" -> 8,
    // merge/delete: publish (2) + key-uniqueness probe + touched-file
    // discovery + touched count + staged write/stats + census
    "q214_snapshot_merge" -> 16, "q215_snapshot_delete" -> 12,
    // publish (stage + stats) + 2 dvDelete waves (checkpoint + touched
    // collect + cumulative-DV checkpoint + size probe + DV write + count
    // each) + census write (measured 15 after the stageDv size probe)
    "q318_deletion_vectors" -> 18,
    // MoR merge: publish (stage+stats) + dup probe + DV checkpoint +
    // touched collect + DV count + append stage/stats + DV size probe +
    // DV write + census
    "q323_merge_on_read" -> 18,
    // streaming-CDC batch twin: publish (stage+stats) + 2 applyCdc waves
    // (op probe + dup probe + DV checkpoint + touched collect + DV count
    // + isEmpty probe + append stage/stats + DV size probe + DV write
    // each) + a no-op replay (zero actions) + census write
    "q328_streaming_cdc_ingest" -> 28,
    // change-feed twin: q328's publish + 2 applyCdc waves, then 2
    // feed steps (manifest parses are fs reads, not actions) + census
    "q329_change_feed" -> 30,
    // summary-follow twin: q329's fixture cost + per step a feed
    // checkpoint, a maintained-summary checkpoint, the class-counter
    // collect, and the maintained/scratch 1-row heads + census
    "q333_cdf_summary_follow" -> 44,
    // DV auto-compaction: publish (stage+stats) + 3 delete-only
    // applyCdc waves (op/dup probes + DV ckpt + touched collect + count
    // + size probe + write each) + 2 amp censuses (one DV agg each) +
    // the materialization stage/stats + 2 time-travel counts + the
    // never-DV'd bucket count + census write
    "q337_dv_auto_compact" -> 42,
    // capstone funnel: CC fixpoint + LR epochs + 7 stage-boundary
    // checkpoints + plant-offset guard max() + census write
    // (measured 22 fresh-session)
    "q319_pretrain_funnel" -> 27,
    // evolution merge: q214's merge pipeline on a wider schema
    "q304_schema_evolution" -> 16,
    // column mapping: publish (stage+stats) + 2 metadata-only commits
    // (zero actions) + 2 merges (dup probe + key-scan collect + touched
    // count + stage/stats each) + 5 per-version census aggregates
    // (measured 18 fresh-session)
    "q339_column_mapping" -> 22,
    // index health: 2 delete waves (damaged/aff checkpoints + counts) +
    // 3 censuses (agg + degree count each) + live counts + the fired
    // retrain (NN-descent checkpoints) + census write
    "q340_nn_health_policy" -> 40,
    // CDC-fed summary maintenance: 2 publishes (stage stats/write each)
    // + manifest reads + the final single-action maintenance plan
    "q238_cdc_summary_maintain" -> 16,
    // AS-OF reads: 3 publishes (stage+ts sidecar each) + manifest scans
    "q239_asof_timestamp" -> 16,
    // WAP: 3 publishes (stage stats + write each) + 3 audits + census
    "q225_wap_publish" -> 16,
    // multi-statement SQL entries / registration actions (3–4 measured)
    "q113_sql_udf" -> 8, "q97_jdbc_roundtrip" -> 8,
    "q118_schema_evolution" -> 8, "q38_surrogate_keys" -> 8,
    // MV queries build+register the summary (write + signature) first
    "q181_summary_rewrite" -> 8, "q183_summary_refresh" -> 8,
    "q188_sql_mv_rewrite" -> 8, "q200_summary_avg_dimjoin" -> 8,
  )
  def actionBound(name: String): Int =
    actionBounds.getOrElse(name, defaultActionBound)

  /** Throw (with every finding listed) unless the plan is clean modulo
    * the allowlisted rules.
    */
  def assertClean(df: DataFrame, allow: Set[String] = Set.empty): Unit = {
    val bad = lint(df).filterNot(f => allow.contains(f.rule))
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
