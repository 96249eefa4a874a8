package graft.plans

import graft.sources.SnapshotStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-summary rewrite — the aggregate-navigation optimization
  * every 100 TB warehouse runs on: when a query aggregates the FACT table
  * by a subset of a declared summary's dimensions, answer it from the
  * (orders-of-magnitude smaller) summary by RE-AGGREGATING its partial
  * states, instead of scanning the fact.
  *
  * The reference's warehouse has no optimizer at all (every query re-scans
  * PostgreSQL tables); this is the Spark-first upgrade path: summaries are
  * plain parquet produced by the engine itself, and the rewrite is a
  * Catalyst `Rule[LogicalPlan]` appended to the optimizer
  * (`spark.experimental.extraOptimizations`, same registration path as
  * [[AsOfJoinPushDown]]), so EVERY entry point — DataFrame, Dataset, SQL
  * text — benefits with zero query changes.
  *
  * Soundness gates (the rewrite fires only when provably equivalent):
  *  - every GROUP BY expression is a bare fact column declared as a
  *    summary dimension;
  *  - every aggregate is a non-DISTINCT SUM / MIN / MAX over a declared
  *    measure, or COUNT(*) with the summary carrying a row-count partial
  *    (SUM-of-counts re-aggregates it; COUNT is only rewritten under a
  *    non-empty GROUP BY — a GLOBAL count over an empty fact is 0 while
  *    sum-of-counts is NULL, so that case is left on the fact);
  *  - any Filter between the aggregate and the scan references dimension
  *    columns only (it then prunes the summary identically);
  *  - the rewritten output is type-identical column-for-column (checked,
  *    not assumed — a mismatch abandons the rewrite).
  *
  * Scale notes: the summary is keyed by its dims, so the rewritten plan
  * aggregates |summary| rows instead of |fact| — for the lineitem daily
  * summary that is ~10³× fewer rows BEFORE the shuffle, and the summary
  * scan enjoys the same parquet pushdown/pruning the fact scan would.
  * exprIds of the original output are preserved on the rewritten aliases,
  * so parent operators (sorts, projections, joins above the agg) are
  * untouched; the summary relation is `newInstance()`d per use so two
  * rewrites in one query cannot collide on attribute ids.
  */
object SummaryRewrite extends Rule[LogicalPlan] {

  /** A declared summary over one fact table. `factSig` is the fact
    * files' modification signature at registration — revalidated on
    * every rewrite attempt so a rewritten/refreshed fact invalidates
    * the entry instead of silently serving stale summary rows.
    * `cnts` maps a measure to its NON-NULL-count partial column — the
    * second half of the AVG = sum/count re-aggregation (COUNT(*)'s
    * row-count partial cannot stand in: a measure with NULLs would
    * divide by too many).
    */
  final case class Summary(
      factPath: String,
      dims: Set[String],
      sums: Map[String, String],
      mins: Map[String, String],
      maxs: Map[String, String],
      cnts: Map[String, String],
      countCol: Option[String],
      relation: LogicalRelation,
      factSig: String)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Summary]()

  /** Declare a summary: `summaryPath` parquet must hold one row per dims
    * combination with partial-state columns as named in the maps.
    */
  def register(spark: SparkSession, factPath: String, dims: Seq[String],
               sums: Map[String, String], mins: Map[String, String],
               maxs: Map[String, String], countCol: Option[String],
               summaryPath: String,
               cnts: Map[String, String] = Map.empty): Unit = {
    val rel = spark.read.parquet(summaryPath).queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }
      .getOrElse(throw new IllegalArgumentException(
        s"summary at $summaryPath did not analyze to a LogicalRelation"))
    registry.put(norm(factPath),
      Summary(norm(factPath), dims.toSet, sums, mins, maxs, cnts, countCol,
        rel, factSignature(spark, factPath)))
  }

  /** relative-path:length:mtime of every file RECURSIVELY under the fact
    * path — the staleness fingerprint. Recursive because a PARTITIONED
    * fact's dynamic-partition overwrite rewrites files in subdirectories
    * while leaving top-level entries (_SUCCESS) untouched: a
    * top-level-only listing would miss it and fresh() would silently
    * serve stale summary rows. A metadata-only walk (no data read, and
    * no `ls -ld` fork per file — see [[SnapshotStore.walkFiles]]); empty
    * when the path cannot be listed, which then never matches a live
    * signature. This runs inside an optimizer rule, on every plan that
    * aggregates a registered fact.
    */
  private def factSignature(spark: SparkSession, factPath: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(factPath)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val prefix = fs.getFileStatus(p).getPath.toString // qualified root
      SnapshotStore.walkFiles(fs, p).map { f =>
        val rel = f.getPath.toString.stripPrefix(prefix)
        s"$rel:${f.getLen}:${f.getModificationTime}"
      }.sorted.mkString(",")
    } catch { case scala.util.control.NonFatal(_) => "" }

  def clear(): Unit = registry.clear()

  /** Idempotently append this rule to a live session's optimizer. */
  def ensureRule(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(SummaryRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SummaryRewrite

  private def norm(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
  }

  /** Unwrap attribute-only Projects and collect Filters down to a parquet
    * LogicalRelation; None when anything else intervenes.
    */
  private def unwrap(p: LogicalPlan,
                     conds: Seq[Expression] = Nil
                    ): Option[(Seq[Expression], LogicalRelation)] = p match {
    case lr: LogicalRelation => Some((conds, lr))
    case Filter(c, child) => unwrap(child, conds :+ c)
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(child, conds)
    case _ => None
  }

  private def factPathOf(lr: LogicalRelation): Option[String] =
    lr.relation match {
      // exactly ONE root: a multi-root read (parquet(factPath, other))
      // whose first root matches would be rewritten to a summary covering
      // only that root, silently dropping the other roots' rows
      case h: HadoopFsRelation if h.location.rootPaths.size == 1 =>
        Some(norm(h.location.rootPaths.head.toString))
      case _ => None
    }

  /** Descend through attribute-only Projects / Filters to an INNER
    * equi-ish join one of whose legs unwraps to a registered fact scan —
    * the q02 "fact ⋈ dim then aggregate" shape. Returns (filters above
    * the join, the join, fact-on-left?, filters on the fact leg, fact
    * relation).
    */
  private def unwrapJoin(p: LogicalPlan, above: Seq[Expression] = Nil)
      : Option[(Seq[Expression], Join, Boolean, Seq[Expression],
                LogicalRelation)] = p match {
    case Filter(c, child) => unwrapJoin(child, above :+ c)
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      unwrapJoin(child, above)
    case j @ Join(l, r, Inner, Some(_), _) =>
      def registered(lr: LogicalRelation): Boolean =
        factPathOf(lr).exists(registry.containsKey)
      unwrap(l).filter(t => registered(t._2))
        .map { case (fc, lr) => (above, j, true, fc, lr) }
        .orElse(unwrap(r).filter(t => registered(t._2))
          .map { case (fc, lr) => (above, j, false, fc, lr) })
    case _ => None
  }

  private def tryRewrite(agg: Aggregate): Option[Aggregate] =
    unwrap(agg.child) match {
      case Some((conds, lr)) => for {
        path <- factPathOf(lr)
        s <- Option(registry.get(path))
        if fresh(path, s)
        rewritten <- build(agg, conds, lr, s, joinCtx = None)
      } yield rewritten
      case None => for {
        (above, join, factLeft, factConds, lr) <- unwrapJoin(agg.child)
        path <- factPathOf(lr)
        s <- Option(registry.get(path))
        if fresh(path, s)
        rewritten <- build(agg, factConds, lr, s,
          joinCtx = Some((above, join, factLeft)))
      } yield rewritten
    }

  /** Staleness gate: the fact files must still carry the signature seen
    * at register() time; a rewritten fact evicts the entry and the query
    * stays on the (current) fact scan.
    */
  private def fresh(path: String, s: Summary): Boolean = {
    val live = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(sp => factSignature(sp, s.factPath)).getOrElse("")
    val ok = live.nonEmpty && live == s.factSig
    if (!ok) registry.remove(path)
    ok
  }

  /** Rewrite `agg` to run over the summary. `conds` are the filters on
    * the FACT leg; `joinCtx = Some((aboveConds, join, factOnLeft))` when
    * the fact reaches the aggregate through an INNER join (the q02
    * shape) — sound there for ANY dim-side multiplicity: each summary
    * row joins to exactly the dim rows its fact rows would, so every
    * re-aggregated partial is replicated by the same factor the raw
    * rows were. Aggregates over DIM-side columns are refused (the
    * summary collapsed the per-fact-row multiplicity they need);
    * dim-side attributes pass through untouched in groupings, filters
    * and the join condition.
    */
  private def build(agg: Aggregate, conds: Seq[Expression],
                    factLr: LogicalRelation, s: Summary,
                    joinCtx: Option[(Seq[Expression], Join, Boolean)]
                   ): Option[Aggregate] = {
    // fresh attribute ids per use (MultiInstanceRelation contract)
    val summary = s.relation.newInstance()
    val byName = summary.output.map(a => a.name -> a).toMap
    val factOut = AttributeSet(factLr.output)

    // a bare attribute OUTSIDE any aggregate: fact attrs must be declared
    // dims (mapped to the summary twin); non-fact (dim-side) attrs exist
    // only in the join shape and pass through unchanged
    def dimAttr(a: AttributeReference): Option[Attribute] =
      if (factOut.contains(a)) {
        if (s.dims.contains(a.name)) byName.get(a.name) else None
      } else if (joinCtx.isDefined) Some(a)
      else None

    // 1. grouping: bare dim columns (or dim-side columns) only
    val groupOk = agg.groupingExpressions.forall {
      case a: AttributeReference => dimAttr(a).isDefined
      case _ => false
    }
    // 2. filters: DETERMINISTIC, at least one reference, fact references
    // all dims — a rand() sampler or a reference-free predicate would
    // pass a references-only check vacuously and then evaluate once per
    // SUMMARY row instead of once per fact row, changing semantics
    def condOk(c: Expression): Boolean = c.deterministic &&
      c.references.nonEmpty &&
      c.references.forall {
        case a: AttributeReference => dimAttr(a).isDefined
        case _ => false
      }
    val condsOk = conds.forall(condOk) &&
      joinCtx.forall { case (above, join, _) =>
        above.forall(condOk) && join.condition.forall(condOk)
      }

    // a fact measure inside an aggregate — dim-side columns are NOT
    // measures (their per-fact-row multiplicity is gone from the summary)
    def measure(m: Map[String, String], a: AttributeReference): Option[Attribute] =
      if (factOut.contains(a)) m.get(a.name).flatMap(byName.get) else None

    def reAgg(fn: AggregateFunction): Option[AggregateFunction] = fn match {
      case f: Sum => f.child match {
        case a: AttributeReference => measure(s.sums, a)
          .map(sa => f.withNewChildren(Seq(sa)).asInstanceOf[AggregateFunction])
        case _ => None
      }
      case f: Min => f.child match {
        case a: AttributeReference => measure(s.mins, a)
          .map(sa => f.withNewChildren(Seq(sa)).asInstanceOf[AggregateFunction])
        case _ => None
      }
      case f: Max => f.child match {
        case a: AttributeReference => measure(s.maxs, a)
          .map(sa => f.withNewChildren(Seq(sa)).asInstanceOf[AggregateFunction])
        case _ => None
      }
      case f: Count if f.children.forall(_.foldable) &&
          agg.groupingExpressions.nonEmpty =>
        // in the join shape this counts JOINED rows: each summary row
        // re-joins to the same dim rows as its k fact rows did, so
        // Σ k·cnt over the joined summary IS the joined-fact row count
        s.countCol.flatMap(byName.get).map(ca => Sum(ca))
      case Count(Seq(a: AttributeReference))
          if agg.groupingExpressions.nonEmpty =>
        // COUNT(measure) = Σ of the measure's NON-NULL-count partial —
        // the same `cnts` column AVG's denominator uses; Sum(LongType)
        // keeps Count's LongType so the type-identity gate holds
        measure(s.cnts, a)
          .filter(_.dataType == org.apache.spark.sql.types.LongType)
          .map(ca => Sum(ca))
      case _ => None
    }

    // AVG = Sum(sum-partial) / Sum(count-partial) — NOT an
    // AggregateFunction swap: the replacement is an expression over TWO
    // fresh aggregates. Restricted to DOUBLE measures with a DOUBLE sum
    // partial and LONG non-null-count partial, which reproduces Spark's
    // Average evaluateExpression (sum / cast(count as double), LEGACY
    // division: null — not an error — when the group's count is 0, i.e.
    // the measure was entirely NULL).
    def rewriteAvg(avg: Average): Option[Expression] = avg.child match {
      case a: AttributeReference
          if avg.dataType == org.apache.spark.sql.types.DoubleType =>
        for {
          sa <- measure(s.sums, a)
          if sa.dataType == org.apache.spark.sql.types.DoubleType
          ca <- measure(s.cnts, a)
          if ca.dataType == org.apache.spark.sql.types.LongType
        } yield Divide(
          Sum(sa).toAggregateExpression(),
          Cast(Sum(ca).toAggregateExpression(),
            org.apache.spark.sql.types.DoubleType),
          EvalMode.LEGACY)
      case _ => None
    }

    if (!groupOk || !condsOk) return None

    // explicit recursion, not transformUp/Down: an AggregateExpression
    // must be rewritten AS A UNIT (its child attribute is a measure the
    // summary only holds in partial-state form), while attributes OUTSIDE
    // any aggregate must be dims — a generic traversal order can't keep
    // the two scopes apart
    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case avg: Average => rewriteAvg(avg)
          case fn => reAgg(fn).map(nf => ae.copy(aggregateFunction = nf))
        }
      case _: AggregateExpression => None
      case a: AttributeReference => dimAttr(a)
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.isEmpty) Some(other)
        else if (kids.forall(_.isDefined))
          Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    val newResult: Option[Seq[NamedExpression]] =
      traverseOpt(agg.aggregateExpressions) {
        case a: AttributeReference =>
          dimAttr(a).map {
            case same if same.exprId == a.exprId => same // dim-side: as-is
            case sa => Alias(sa, a.name)(exprId = a.exprId)
          }
        case ne => rewriteExpr(ne) match {
          // an un-aliased bare aggregate whose AVG rewrite is no longer a
          // NamedExpression abandons the rewrite instead of crashing it
          case Some(x: NamedExpression) => Some(x)
          case _ => None
        }
      }

    // fact-dim attribute substitution for groupings / filters / join keys
    def substitute(e: Expression): Expression = e.transform {
      case a: AttributeReference if factOut.contains(a) => byName(a.name)
    }

    newResult.flatMap { res =>
      // type identity gate — a widened or narrowed column kills the rewrite
      val sameTypes = res.map(_.dataType) ==
        agg.aggregateExpressions.map(_.dataType)
      if (!sameTypes) None
      else {
        val newGroup = agg.groupingExpressions.map {
          case a: AttributeReference =>
            if (factOut.contains(a)) byName(a.name) else a
        }
        val factLeg: LogicalPlan = conds.foldRight(summary: LogicalPlan) {
          (c, child) => Filter(substitute(c), child)
        }
        val newChild: LogicalPlan = joinCtx match {
          case None => factLeg
          case Some((above, join, factLeft)) =>
            val rejoined = join.copy(
              left = if (factLeft) factLeg else join.left,
              right = if (factLeft) join.right else factLeg,
              condition = join.condition.map(substitute))
            above.foldRight(rejoined: LogicalPlan) {
              (c, child) => Filter(substitute(c), child)
            }
        }
        Some(Aggregate(newGroup, res, newChild))
      }
    }
  }

  private def traverseOpt[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }
}
