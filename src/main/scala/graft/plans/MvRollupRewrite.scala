package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-view catalog for [[MvRollupRewrite]]: one entry per base
  * table path, describing the stored rollup that can answer aggregates
  * over it. Registration is the caller's freshness contract (same as the
  * reference's pre-computed `launch_aggregations` table,
  * `/root/reference/sql/init.sql:23-42`, which the pipeline refreshes
  * before analytics read it): register after (re)building the MV,
  * deregister when the base changes without a refresh.
  */
object MvCatalog {
  final case class MvEntry(
      /** base relation root path, scheme-stripped (`Path.toUri.getPath`) */
      basePath: String,
      /** parquet path of the stored rollup */
      mvPath: String,
      /** MV grouping columns (names on the base table) */
      groupKeys: Set[String],
      /** base column name → MV column holding its per-group SUM */
      sums: Map[String, String],
      /** MV column holding the per-group row count */
      countCol: String)

  private val entries =
    scala.collection.concurrent.TrieMap.empty[String, MvEntry]

  def register(e: MvEntry): Unit = entries.put(e.basePath, e)
  def deregister(basePath: String): Unit = entries.remove(basePath)
  def lookup(path: String): Option[MvEntry] = entries.get(path)
  def isEmpty: Boolean = entries.isEmpty
}

/** Optimizer rule: answer rollup aggregates from a STORED materialized
  * view instead of the base table — the classic warehouse feature Spark
  * has no native form of (`ivm_refresh_stored` maintains such a view;
  * this rule makes queries written against the BASE table use it
  * without the author knowing it exists).
  *
  * A query
  * {{{ base.groupBy(k…).agg(sum(x), count(*)) }}}
  * (optionally under filters on MV group keys, optionally with
  * arbitrary deterministic scalar expressions OVER the aggregates —
  * CollapseProject folds post-agg projections into the Aggregate before
  * this rule sees it) is rewritten to
  * {{{ mv.filter(remapped).groupBy(k…).agg(sum(sum_x), sum(n)) }}}
  * when the catalog holds an MV for the scanned path whose group keys
  * are a SUPERSET of the query's — re-aggregating finer partials to a
  * coarser grain is exact for sums and counts (the decomposable-
  * aggregate argument of SURVEY §2.4-A10). Derivability contract, v1:
  *  - grouping expressions must be bare base columns ⊆ MV group keys;
  *  - aggregate leaves: non-distinct unfiltered `sum(col)` for MV-summed
  *    cols and `count(*)`/`count(lit)`; AVG is deliberately NOT derived
  *    (the MV row count counts ROWS, not a column's non-nulls — deriving
  *    avg from sum/rowcount would be wrong on nullable columns);
  *  - filters may reference MV group keys only (remapped verbatim onto
  *    the MV scan — pruning whole groups is exact; any other predicate
  *    blocks the rewrite, because rows inside a group cannot be excluded
  *    after partial aggregation).
  * Every output keeps its original name and exprId (bare key outputs are
  * re-aliased; Alias outputs are rebuilt), so parent operators resolve
  * unchanged; `count(*)`'s non-null LongType is preserved via
  * coalesce(sum(n), 0).
  *
  * Scale: this is the 100 TB read-path win — a fact-table scan + full
  * shuffle collapses to a scan of |groups| pre-aggregated rows (five
  * orders of magnitude at month×customer grain). The rewrite matches
  * idempotently (the rewritten plan scans the MV path, which has no
  * catalog entry) and costs one tmp-dir file listing to resolve the MV
  * relation when it fires — nothing when the catalog is empty. Injected
  * via [[graft.GraftExtensions]], the same Rule rung as
  * [[RewriteRunningDistinct]].
  */
class MvRollupRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  /** Unwrap Project(attrs-only)/Filter chains down to a V1 file scan,
    * collecting filter conditions on the way.
    */
  private def unwrap(p: LogicalPlan, conds: Seq[Expression])
      : Option[(Seq[Expression], LogicalRelation)] = p match {
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(child, conds)
    case Filter(c, child) => unwrap(child, conds :+ c)
    case lr: LogicalRelation => Some((conds, lr))
    case _ => None
  }

  private def scanPaths(lr: LogicalRelation): Seq[String] = lr.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
    case _ => Nil
  }

  private def isCountStar(c: Count): Boolean = c.children match {
    case Seq(l: Literal) => l.value != null
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MvCatalog.isEmpty) return plan
    plan.transformUp {
      case agg @ Aggregate(groupExprs, _, child, _)
          if groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
        val rewritten = for {
          (conds, lr) <- unwrap(child, Nil)
          entry <- scanPaths(lr) match {
            case Seq(p) => MvCatalog.lookup(p)
            case _ => None
          }
          groupRefs = groupExprs.map(_.asInstanceOf[AttributeReference])
          if groupRefs.forall(g => entry.groupKeys.contains(g.name))
          if conds.forall(c => c.deterministic &&
            c.references.forall(r => entry.groupKeys.contains(r.name)))
          mv <- resolveMv(entry)
          plan <- rewrite(agg, groupRefs, conds, entry, mv)
        } yield plan
        rewritten.getOrElse(agg)
    }
  }

  private def resolveMv(e: MvCatalog.MvEntry): Option[LogicalRelation] =
    graft.engine.Tables.parquet(session, e.mvPath).queryExecution.analyzed match {
      case lr: LogicalRelation => Some(lr)
      case _ => None
    }

  private def rewrite(
      agg: Aggregate,
      groupRefs: Seq[AttributeReference],
      conds: Seq[Expression],
      entry: MvCatalog.MvEntry,
      mv: LogicalRelation): Option[LogicalPlan] = {
    val mvAttr: Map[String, Attribute] = mv.output.map(a => a.name -> a).toMap
    val keyAttr: Map[ExprId, Attribute] =
      groupRefs.flatMap(g => mvAttr.get(g.name).map(g.exprId -> _)).toMap
    if (keyAttr.size != groupRefs.size) return None
    val countAttr = mvAttr.get(entry.countCol)

    /** Remap an output expression onto the MV: aggregate leaves become
      * merging aggregates over the MV partial columns, group-key refs
      * become MV key attrs, deterministic scalar structure is preserved.
      * None = not derivable (blocks the whole rewrite).
      */
    def remap(e: Expression): Option[Expression] = e match {
      case ae @ AggregateExpression(f, _, false, None, _) => f match {
        case Sum(ar: AttributeReference, _) =>
          entry.sums.get(ar.name).flatMap(mvAttr.get).collect {
            case sa if sa.dataType == ae.dataType =>
              Sum(sa).toAggregateExpression()
          }
        case c: Count if isCountStar(c) =>
          countAttr.map(n =>
            Coalesce(Seq(Sum(n).toAggregateExpression(), Literal(0L))))
        case _ => None
      }
      case _: AggregateExpression => None // distinct or filtered
      case ar: AttributeReference => keyAttr.get(ar.exprId)
      case l: Literal => Some(l)
      case other if other.deterministic =>
        val kids = other.children.map(remap)
        if (kids.exists(_.isEmpty)) None
        else Some(other.withNewChildren(kids.map(_.get)))
      case _ => None
    }

    val outOpts: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case ar: AttributeReference =>
        keyAttr.get(ar.exprId).map(a => Alias(a, ar.name)(exprId = ar.exprId))
      case al: Alias =>
        remap(al.child).collect {
          case c if c.dataType == al.child.dataType =>
            Alias(c, al.name)(exprId = al.exprId)
        }
      case _ => None
    }
    if (outOpts.exists(_.isEmpty)) return None

    // Remap filter references by NAME against the MV output for ALL MV
    // group keys — the admission guard allows filters on any MV key, not
    // just the query's grouping columns (filter(o_custkey=…).groupBy(om)
    // against an {om, o_custkey} MV is exact: it prunes whole groups).
    // keyAttr alone would leave such references pointing at the base
    // relation and produce an unresolvable plan.
    val condAttr: Map[ExprId, Attribute] = conds
      .flatMap(_.references)
      .flatMap(r => mvAttr.get(r.name).map(r.exprId -> _))
      .toMap
    if (conds.exists(!_.references.forall(r => condAttr.contains(r.exprId))))
      return None
    val mvConds = conds.map(_.transform {
      case ar: AttributeReference if condAttr.contains(ar.exprId) =>
        condAttr(ar.exprId)
    })
    if (mvConds.exists(!_.references.subsetOf(mv.outputSet))) return None
    val source = mvConds.foldLeft(mv: LogicalPlan)((p, c) => Filter(c, p))
    Some(Aggregate(groupRefs.map(g => keyAttr(g.exprId)), outOpts.flatten, source))
  }
}
