package graft.plans

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.DoubleType

import graft.sources.{MetaFiles, Mv, Snapshots}
import graft.sources.snap.SnapTable

/** AUTOMATIC materialized-view query rewrite — the half of the MV feature
  * users actually touch: nobody repoints dashboards at rollup tables, so
  * `SELECT day, sum(v) FROM cat.fact GROUP BY day` must answer from the
  * incrementally-maintained view WITHOUT naming it. Injected by
  * [[GraftExtensions]] into the operator-optimization batch; matches an
  * `Aggregate` whose leaf is a catalog snapshot relation ([[SnapTable]]),
  * looks up the views registered at the fact's root (the `mv-refs`
  * back-pointers [[Mv.create]]/[[Mv.refresh]] maintain, plus any named in
  * `spark.graft.mv.rewrite.extraViews`), and — when a FRESH view's
  * definition subsumes the query EXACTLY — replaces the whole aggregate
  * with a projection of the view's materialization. At 100 TB that is the
  * difference between the dashboard's nightly rollup scanning the fact
  * and it reading a few thousand pre-aggregated rows.
  *
  * Subsumption, v1 (exact-match): the query's grouping expressions must
  * equal the view's group keys as a SET (derived keys — `date_trunc`,
  * `month(ts)`, any recorded expression — compare by canonicalized
  * analyzed form, so `GROUP BY month(ts)` matches a `month(ts) AS m`
  * key); its filter must equal the view's recorded filter (both absent,
  * or canonically equal predicates); and every aggregate output must be
  * a recorded aggregate verbatim — except `avg(x)`, which derives from
  * recorded `sum(x)` + `count(x)` when not materialized itself (exact
  * for integral inputs below 2^53, where double accumulation is lossless;
  * fractional inputs can differ in the last ulp from a direct average, the
  * same tolerance any re-aggregation order already implies). Dimension
  * joins and coarser-than-view regroupings are NOT rewritten in v1 —
  * refusal always falls back to the fact scan, never to a wrong answer.
  *
  * Freshness: rewrite only when the view's recorded watermark equals the
  * query's PINNED fact version (so `VERSION AS OF` time travel to any
  * other version refuses) on the SAME manifest chain, and no recorded dim
  * moved. `spark.graft.mv.rewrite.allowStale=true` opts a session into
  * serving the view's current materialization regardless — the dashboard
  * that prefers a bounded-lag answer to a fact scan. Branch reads never
  * rewrite (the view reflects the main line). A type mismatch between the
  * view's stored column and the query's expression (schema drift past the
  * evolution contract) refuses. Every refusal is silent fallback; every
  * failure inside the matcher degrades to no-rewrite — the rule can slow
  * a query down by at most one manifest listing, never break it.
  */
object MvRewrite extends Rule[LogicalPlan] {

  private val EnabledKey = "spark.graft.mv.rewrite.enabled"
  private val AllowStaleKey = "spark.graft.mv.rewrite.allowStale"
  private val ExtraViewsKey = "spark.graft.mv.rewrite.extraViews"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(EnabledKey, "true") != "true") return plan
    plan.transformDown {
      case agg: Aggregate =>
        try tryRewrite(agg).getOrElse(agg)
        catch {
          case NonFatal(e) =>
            logInfo(s"MvRewrite: matcher degraded to fact scan (${e.getMessage})")
            agg
        }
    }
  }

  /** Leaf unwrap: descend through Projects (inlining their aliases down
    * to relation level — `PullOutGroupingExpressions` hides derived keys
    * behind `_groupingexpression#N` aliases by the time the optimizer
    * runs) and Filters (conditions inlined likewise), stopping at a
    * main-line snapshot relation. Returns the pinned table, the
    * collected relation-level filter conjuncts, and the substitution
    * that inlines any plan-top expression to relation level.
    */
  private def unwrap(
      plan: LogicalPlan): Option[(SnapTable, Seq[Expression], Map[ExprId, Expression])] =
    plan match {
      case r: DataSourceV2Relation => catalogRead(r)
      case s: DataSourceV2ScanRelation => catalogRead(s.relation)
      case p: Project =>
        unwrap(p.child).map { case (t, fs, sub) =>
          val here = p.projectList.collect { case a: Alias =>
            a.exprId -> inlineWith(a.child, sub)
          }.toMap
          (t, fs, sub ++ here)
        }
      case f: Filter =>
        unwrap(f.child).map { case (t, fs, sub) =>
          (t, fs :+ inlineWith(f.condition, sub), sub)
        }
      case _ => None
    }

  /** A main-line catalog read — never a branch, never a programmatic
    * file-list read ([[Snapshots.scanRels]]: the MV's own recompute and
    * the grafted view read are such reads).
    */
  private def catalogRead(
      r: DataSourceV2Relation): Option[(SnapTable, Seq[Expression], Map[ExprId, Expression])] =
    r.table match {
      case t: SnapTable if t.branch.isEmpty && t.pinnedRels.isEmpty => Some((t, Nil, Map.empty))
      case _ => None
    }

  private def inlineWith(e: Expression, sub: Map[ExprId, Expression]): Expression =
    if (sub.isEmpty) e
    else
      e.transformUp {
        case a: AttributeReference if sub.contains(a.exprId) => sub(a.exprId)
      }

  /** Name-keyed canonical form: attribute identity reduces to the
    * lower-cased column NAME (relation-level names are unique), so
    * expressions analyzed in different exprId universes — the live query
    * vs a definition re-analyzed from its recorded SQL — compare equal
    * exactly when they compute the same thing over the same columns.
    */
  private def norm(e: Expression): Expression =
    fold(e).transformUp {
      case a: AttributeReference =>
        // the NAME must ride in the exprId: Canonicalize strips attribute
        // names but keeps ids, so two same-typed columns would otherwise
        // collapse into one key and `sum(n)` could map to `sum(sum_u)`'s
        // stored column (caught by q258's n_tot/u_tot fixture)
        val lower = a.name.toLowerCase(java.util.Locale.ROOT)
        AttributeReference(lower, a.dataType, nullable = true)(
          exprId = nameId(lower), qualifier = Nil)
      case ae: AggregateExpression => ae.copy(resultId = ExprId(0))
    }.canonicalized

  /** A deterministic ExprId derived from the column name — 63 bits of
    * SHA-256, so distinct names stay distinct through canonicalization
    * (collision odds ~2^-63 are dwarfed by anything else in the engine).
    */
  private def nameId(name: String): ExprId = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    ExprId(v & Long.MaxValue)
  }

  /** Constant-fold foldable subtrees: the live query reaches the rule
    * already folded (`cast(2 as bigint)` became `2L`), while the
    * definition's SQL re-analyzes unfolded — fold both so canonical
    * comparison sees one form.
    */
  private def fold(e: Expression): Expression = e.transformUp {
    case x if x.foldable && !x.isInstanceOf[Literal] =>
      Literal.create(x.eval(org.apache.spark.sql.catalyst.InternalRow.empty), x.dataType)
  }

  /** The substitution inlining a plan's Project aliases down to its leaf
    * (the MV-side twin of [[unwrap]]'s map, for frames built via
    * `withColumn`).
    */
  private def subOf(p: LogicalPlan): Map[ExprId, Expression] = p match {
    case pr: Project =>
      val deeper = subOf(pr.child)
      deeper ++ pr.projectList.collect { case a: Alias =>
        a.exprId -> inlineWith(a.child, deeper)
      }
    case f: Filter => subOf(f.child)
    case _ => Map.empty
  }

  private def qualified(spark: SparkSession, dir: String): String = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toString
  }

  /** Read-only peek at the fact's chain nonce — never mints (a query
    * must not write), so an unminted chain reads as None and a recorded
    * identity then conservatively refuses.
    */
  private def chainPeek(spark: SparkSession, root: String): Option[String] = {
    val p = new Path(new Path(root, Snapshots.ManifestDirName), ".chain")
    try MetaFiles.readText(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .map(_.trim).filter(_.nonEmpty)
    catch { case NonFatal(_) => None }
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (table, qFilters, sub) = unwrap(agg.child).getOrElse(return None)
    if (agg.groupingExpressions.isEmpty) return None // no 0-key views exist
    val spark = SparkSession.active
    val extra = conf
      .getConfString(ExtraViewsKey, "")
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val candidates = (Mv.registeredViews(spark, table.dir) ++ extra).distinct
    if (candidates.isEmpty) return None
    val qGroupNorm = agg.groupingExpressions.map(g => norm(inlineWith(g, sub))).distinct
    val qFilterNorm = normFilterSet(qFilters.flatMap(conjuncts))
    val factDir = qualified(spark, table.dir)
    candidates.iterator
      .flatMap(mv => tryOne(spark, agg, table, factDir, qGroupNorm, qFilterNorm, sub, mv))
      .nextOption()
  }

  private def tryOne(
      spark: SparkSession,
      agg: Aggregate,
      table: SnapTable,
      factDir: String,
      qGroupNorm: Seq[Expression],
      qFilterNorm: Set[Expression],
      sub: Map[ExprId, Expression],
      mvRoot: String): Option[LogicalPlan] =
    try {
      val d = Mv.definition(spark, mvRoot)
      if (qualified(spark, d.sourceRoot) != factDir) return None
      if (d.dims.nonEmpty) return None // v1: single-table views
      val allowStale = conf.getConfString(AllowStaleKey, "false") == "true"
      if (!allowStale) {
        if (d.refreshedVersion != table.pinnedVersion) return None
        if (d.chainId.nonEmpty && !chainPeek(spark, d.sourceRoot).contains(d.chainId))
          return None
      }
      // analysis frame at the view's own pin: the recorded SQL is only
      // meaningful against the schema it was refreshed under
      val factDf = Snapshots.readSnapshot(spark, d.sourceRoot, d.refreshedVersion)
      // ---- group-key subsumption (set equality, canonical forms) ----
      val keyNorms: Seq[(String, Expression)] = d.keyCols.map { k =>
        val sql = d.keyExprs.getOrElse(k, s"`$k`")
        val an = factDf.selectExpr(s"($sql) AS __gk").queryExecution.analyzed
        val child = an
          .collectFirst { case Project(Seq(al: Alias), c) => inlineWith(al.child, subOf(c)) }
          .getOrElse(return None)
        k -> norm(child)
      }
      val keyColFor: Map[Expression, String] = keyNorms.map(_.swap).toMap
      if (keyColFor.size != qGroupNorm.size) return None
      if (!qGroupNorm.forall(keyColFor.contains)) return None
      // ---- filter subsumption ----
      val mvFilterNorm: Set[Expression] = d.filterSql match {
        case None => Set.empty
        case Some(f) =>
          val an = factDf.where(expr(f)).queryExecution.analyzed
          val cond = an
            .collectFirst { case Filter(c, ch) => inlineWith(c, subOf(ch)) }
            .getOrElse(return None)
          normFilterSet(conjuncts(cond))
      }
      if (qFilterNorm != mvFilterNorm) return None
      // ---- aggregate subsumption ----
      val pre = d.keyCols.foldLeft(factDf)((df, k) =>
        d.keyExprs.get(k).fold(df)(e => df.withColumn(k, expr(e))))
      val aggDf = pre
        .groupBy(d.keyCols.map(col): _*)
        .agg(expr(d.aggExprs.head), d.aggExprs.tail.map(expr): _*)
      val mvAggNode = aggDf.queryExecution.analyzed
        .collectFirst { case a: Aggregate => a }
        .getOrElse(return None)
      val mvSub = subOf(mvAggNode.child)
      val mvAggByNorm: Map[Expression, String] =
        mvAggNode.aggregateExpressions.drop(d.keyCols.size).collect {
          case al: Alias => norm(inlineWith(al.child, mvSub)) -> al.name
        }.toMap
      // ---- the replacement: project the MATERIALIZATION ----
      // the view's read OPTIMIZED: the rule also runs after scan building
      // (extraOptimizations), where a bare relation would never become a scan
      val mvPlan = Snapshots.readSnapshot(spark, mvRoot).queryExecution.optimizedPlan
      val mvAttr: Map[String, Attribute] =
        mvPlan.output.map(a => a.name.toLowerCase(java.util.Locale.ROOT) -> a).toMap
      def attrOf(name: String): Option[Attribute] =
        mvAttr.get(name.toLowerCase(java.util.Locale.ROOT))
      val projected: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
        val (child0, name) = ne match {
          case al: Alias => (al.child, al.name)
          case a: AttributeReference => (a: Expression, a.name)
          case _ => return None
        }
        val inlined = inlineWith(child0, sub)
        val n = norm(inlined)
        val replacement: Expression = keyColFor
          .get(n)
          .orElse(mvAggByNorm.get(n))
          .flatMap(attrOf)
          .map(a => a: Expression)
          .orElse(avgDerive(inlined, mvAggByNorm, attrOf))
          .getOrElse(return None)
        // schema drift past the view's evolution contract (or a stored
        // type that no longer equals the live expression's) refuses —
        // the fact scan is slower but never wrong
        if (replacement.dataType != ne.dataType) return None
        Alias(replacement, name)(exprId = ne.exprId, qualifier = ne.qualifier,
          explicitMetadata = Some(ne.metadata))
      }
      logInfo(s"MvRewrite: aggregate over $factDir answered from materialized view $mvRoot")
      Some(Project(projected, mvPlan))
    } catch { case NonFatal(_) => None }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** Attributes (normalized names) whose NULL a predicate already
    * rejects: reachable from the root through null-intolerant
    * expressions only — the same walk `InferFiltersFromConstraints`
    * uses to ADD `isnotnull` guards, so exactly the guards the
    * optimizer may have added (or a user wrote redundantly) are the
    * ones filter comparison ignores.
    */
  private def nullRejected(e: Expression): Set[String] = e match {
    case a: AttributeReference => Set(a.name.toLowerCase(java.util.Locale.ROOT))
    case x if x.nullIntolerant => x.children.flatMap(nullRejected).toSet
    case _ => Set.empty
  }

  /** A predicate as a normalized conjunct SET, with redundant
    * `IsNotNull(attr)` guards dropped — the optimizer infers them on one
    * side only, and they change nothing when another conjunct is
    * null-intolerant on the same attribute. A BARE `isnotnull` (nothing
    * else rejecting that attr) is semantic and stays.
    */
  private def normFilterSet(conj: Seq[Expression]): Set[Expression] = {
    val rejected = conj.filterNot(_.isInstanceOf[IsNotNull]).flatMap(nullRejected).toSet
    conj.filterNot {
      case IsNotNull(a: AttributeReference) =>
        rejected.contains(a.name.toLowerCase(java.util.Locale.ROOT))
      case _ => false
    }.map(norm).toSet
  }

  /** `avg(x)` from recorded `sum(x)` + `count(x)`: exact when the double
    * accumulation is lossless (integral inputs < 2^53); only offered for
    * a DoubleType average so the derived `Divide` reproduces the result
    * type bit-for-bit.
    */
  private def avgDerive(
      inlined: Expression,
      mvAggByNorm: Map[Expression, String],
      attrOf: String => Option[Attribute]): Option[Expression] =
    inlined match {
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case avg: Average if ae.dataType == DoubleType =>
            val sumKey = norm(AggregateExpression(Sum(avg.child), Complete, isDistinct = false))
            val cntKey =
              norm(AggregateExpression(Count(Seq(avg.child)), Complete, isDistinct = false))
            for {
              s <- mvAggByNorm.get(sumKey).flatMap(attrOf)
              c <- mvAggByNorm.get(cntKey).flatMap(attrOf)
            } yield Divide(Cast(s, DoubleType), Cast(c, DoubleType))
          case _ => None
        }
      case _ => None
    }
}
