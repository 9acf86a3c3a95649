package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.core.Metric
import graft.functions.{CosineSimilarity, CosineSimilaritySimd, InnerProduct,
  InnerProductSimd, L2Distance, L2DistanceSimd}

/** The SURVEY §4 stretch rule: rewrite the canonical SQL top-k-by-distance
  * pattern
  *
  * {{{
  * Filter(rnk <= k,
  *   Window(row_number [qid] [dist asc|desc, id asc],
  *     [WindowGroupLimit]
  *       Project(..., dist_expr AS _w0, ...,
  *         Join(queries, data, Cross))))
  * }}}
  *
  * into `Project(..., dist AS _w0, ..., rnk, KnnPartial(queries, data))`:
  * the [[KnnPartial]] node sweeps each data partition into per-query
  * heaps and merges, ranks and cuts at k on the driver, so the SQL top-k
  * runs the same operator and merge code as `FlatKnn.search`. Fires only
  * when every guard holds (single row_number window over one query-side
  * partition attribute, distance expression between one attribute from
  * each join side, tie-break by the data-side id, sort direction matching
  * the metric, literal bound); otherwise the plan is left alone. Result
  * rows are identical — the distance kernel, fold order, and tie-breaks
  * are the same code paths.
  */
object KnnRewriteRule extends Rule[LogicalPlan] {

  private def metricOf(e: Expression): Option[(Metric, Expression, Expression)] =
    e match {
      case L2Distance(a, b) => Some((Metric.L2, a, b))
      case InnerProduct(a, b) => Some((Metric.IP, a, b))
      case CosineSimilarity(a, b) => Some((Metric.Cosine, a, b))
      // SIMD twins rewrite to the KnnPartial scan running the SAME lane
      // kernels (Metric.SimdOf routes to graft.simd.SimdKernels, exactly
      // what the expression's SimdCall target invokes), so the rewrite
      // stays value-identical to the unrewritten window plan
      case L2DistanceSimd(a, b) => Some((Metric.simd(Metric.L2), a, b))
      case InnerProductSimd(a, b) => Some((Metric.simd(Metric.IP), a, b))
      case CosineSimilaritySimd(a, b) => Some((Metric.simd(Metric.Cosine), a, b))
      case _ => None
    }

  /** KnnPartialExec reads vectors element-type-aware (float or double) and
    * ids with getLong; only rewrite when the attribute types match what the
    * exec can read — anything else stays on the unrewritten exact plan. */
  private def vecTypeOk(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType |
      org.apache.spark.sql.types.DoubleType, _) => true
    case _ => false
  }

  private def limitOf(cond: Expression, rnk: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, _))
        if a.semanticEquals(rnk) => Some(v)
      case LessThan(a: Attribute, Literal(v: Int, _))
        if a.semanticEquals(rnk) => Some(v - 1)
      case _ => None
    }

  /** Resolve a sort attribute through the projection to the underlying
    * attribute (passthrough or alias-of-attribute), if any. */
  private def throughProject(a: Attribute, proj: Project): Option[Attribute] =
    proj.projectList.collectFirst {
      case p: Attribute if p.exprId == a.exprId => p
      case al @ Alias(child: Attribute, _) if al.exprId == a.exprId => child
    }

  /** The node's query side, a driver-local batch folded to one local
    * relation: this rule runs after the optimizer's own folding, and the
    * exec collects the query side — a projection left over a local
    * relation would cost a Spark job per call. */
  private def querySide(p: Project): LogicalPlan =
    org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation(p)

  /** `proj`'s columns with the distance alias now renaming the node's
    * `dist` (its exprId kept, so everything above still binds). */
  private def renameDist(proj: Project, distAlias: Alias,
      distAttr: Attribute): Seq[NamedExpression] =
    proj.projectList.map {
      case a: Alias if a.exprId == distAlias.exprId =>
        Alias(distAttr, a.name)(a.exprId, a.qualifier,
          a.explicitMetadata, a.nonInheritableMetadataKeys)
      case other => other
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // SURVEY §4's literal stretch pattern: `... ORDER BY dist, id LIMIT k`
    // (no window) — global top-k over the cross product. The per-key
    // top-k is a superset of the global top-k (any row in the global top-k
    // is in its own key's top-k under the same (dist, id) order), so
    // replacing the join with KnnPartial(k) and keeping the Sort/Limit on
    // top is exact. Spark then plans the Sort+Limit as
    // TakeOrderedAndProject over the node's keys·k rows instead of a full
    // cross product.
    case gl @ GlobalLimit(IntegerLiteral(k), ll @ LocalLimit(_, body))
        if k >= 1 =>
      val rewritten = for {
        // optional column-pruning Project (from a .select above the limit
        // that CollapseProject pushed under it) between the limit and Sort
        (prune, srt) <- body match {
          case s @ Sort(_, true, _: Project, _) =>
            Some((None: Option[Project], s))
          case p @ Project(pl, s @ Sort(_, true, _: Project, _))
            if pl.forall(_.isInstanceOf[Attribute]) => Some((Some(p), s))
          case _ => None
        }
        orderSpec = srt.order
        proj = srt.child.asInstanceOf[Project]
        join <- proj.child match {
          case j @ Join(_, _, Cross | Inner, None, _) => Some(j)
          case _ => None
        }
        distAliases = proj.projectList.collect {
          case a @ Alias(e, _) if metricOf(e).isDefined => a
        }
        distAlias <- if (distAliases.length == 1) Some(distAliases.head)
          else None
        (metric, qv, dv) <- metricOf(distAlias.child)
        qvecAttr <- qv match { case a: Attribute => Some(a); case _ => None }
        vecAttr <- dv match { case a: Attribute => Some(a); case _ => None }
        if join.left.outputSet.contains(qvecAttr) &&
          join.right.outputSet.contains(vecAttr)
        if vecTypeOk(qvecAttr) && vecTypeOk(vecAttr)
        // order: dist (direction matching the metric), tie by data-side id
        idAttr <- orderSpec match {
          case Seq(SortOrder(d: Attribute, dir, _, _),
              SortOrder(idS: Attribute, Ascending, _, _))
            if d.exprId == distAlias.exprId &&
              ((dir == Ascending) == metric.ascending) =>
            throughProject(idS, proj).filter(u =>
              join.right.outputSet.contains(u) &&
                u.dataType == org.apache.spark.sql.types.LongType)
          case _ => None
        }
        // left-side attributes the projection exposes: all must collapse to
        // one long attribute (the KnnPartial grouping key); none exposed →
        // synthesize a constant key (the merge then keeps the k best of
        // every left row's candidates: exactly the global top-k)
        leftRefs = proj.projectList.flatMap {
          case a: Attribute if join.left.outputSet.contains(a) => Some(a)
          case Alias(c: Attribute, _)
            if join.left.outputSet.contains(c) => Some(c)
          case _ => None
        }.distinct
        partAttr <- leftRefs match {
          case Seq(one) =>
            if (one.dataType == org.apache.spark.sql.types.LongType)
              Some(one)
            else None
          case Seq() => Some(AttributeReference("query_id",
            org.apache.spark.sql.types.LongType, nullable = false)())
          case _ => None
        }
        synthKey = leftRefs.isEmpty
        // every projected column must reduce to partAttr, id, or the dist
        if proj.projectList.forall {
          case a: Attribute => a.semanticEquals(partAttr) ||
            a.semanticEquals(idAttr)
          case a: Alias if a.exprId == distAlias.exprId => true
          case Alias(child: Attribute, _) => child.semanticEquals(partAttr) ||
            child.semanticEquals(idAttr)
          case _ => false
        }
      } yield {
        val distAttr = AttributeReference("dist",
          org.apache.spark.sql.types.DoubleType, nullable = false)()
        val leftKey: NamedExpression =
          if (synthKey)
            Alias(Literal(0L), partAttr.name)(partAttr.exprId)
          else partAttr
        val knn = KnnPartial(
          querySide(Project(Seq(leftKey, qvecAttr), join.left)),
          Project(Seq(idAttr, vecAttr), join.right),
          k, metric,
          output = Seq(partAttr, AttributeReference("rnk",
            org.apache.spark.sql.types.LongType, nullable = false)(),
            idAttr, distAttr))
        val newProjList = renameDist(proj, distAlias, distAttr)
        val newSort = srt.copy(child = Project(newProjList, knn))
        gl.copy(child = ll.copy(child =
          prune.map(p => p.copy(child = newSort)).getOrElse(newSort)))
      }
      rewritten.getOrElse(gl)
    case f @ Filter(cond,
        Window(Seq(al @ Alias(WindowExpression(RowNumber(), _), _)),
          Seq(partAttr: Attribute), orderSpec, wChild, _)) =>
      val rewritten = for {
        k <- limitOf(cond, al.toAttribute)
        if k >= 1 // rnk < 1 selects nothing; leave the degenerate plan alone
        // optional WindowGroupLimit between Window and the Project
        proj <- wChild match {
          case WindowGroupLimit(_, _, _, _, p: Project) => Some(p)
          case p: Project => Some(p)
          case _ => None
        }
        join <- proj.child match {
          case j @ Join(_, _, Cross | Inner, None, _) => Some(j)
          case _ => None
        }
        // the single distance alias in the projection
        distAliases = proj.projectList.collect {
          case a @ Alias(e, _) if metricOf(e).isDefined => a
        }
        distAlias <- if (distAliases.length == 1) Some(distAliases.head)
          else None
        (metric, qv, dv) <- metricOf(distAlias.child)
        qvecAttr <- qv match { case a: Attribute => Some(a); case _ => None }
        vecAttr <- dv match { case a: Attribute => Some(a); case _ => None }
        // query vector from the left (queries) side, data vector from right
        if join.left.outputSet.contains(qvecAttr) &&
          join.right.outputSet.contains(vecAttr) &&
          join.left.outputSet.contains(partAttr)
        if vecTypeOk(qvecAttr) && vecTypeOk(vecAttr) &&
          partAttr.dataType == org.apache.spark.sql.types.LongType
        // order: dist (direction matching the metric), tie by data-side id
        idAttr <- orderSpec match {
          case Seq(SortOrder(d: Attribute, dir, _, _),
              SortOrder(id: Attribute, Ascending, _, _))
            if d.semanticEquals(distAlias.toAttribute) &&
              ((dir == Ascending) == metric.ascending) &&
              join.right.outputSet.contains(id) &&
              id.dataType == org.apache.spark.sql.types.LongType => Some(id)
          case _ => None
        }
        // every other projected column must be the partition attr or the id
        if proj.projectList.forall {
          case a: Attribute => a.semanticEquals(partAttr) ||
            a.semanticEquals(idAttr)
          case a: Alias if a.exprId == distAlias.exprId => true
          case Alias(child: Attribute, _) => child.semanticEquals(partAttr) ||
            child.semanticEquals(idAttr)
          case _ => false
        }
      } yield {
        val distAttr = AttributeReference("dist",
          org.apache.spark.sql.types.DoubleType, nullable = false)()
        // the node ranks and cuts at k itself: it stands in for the whole
        // Filter(Window(...)), emitting the projection's columns and rnk
        // under their original exprIds so everything above still binds
        val knn = KnnPartial(
          querySide(Project(Seq(partAttr, qvecAttr), join.left)),
          Project(Seq(idAttr, vecAttr), join.right),
          k, metric,
          output = Seq(partAttr, al.toAttribute, idAttr, distAttr))
        val newProjList = renameDist(proj, distAlias, distAttr)
        Project(newProjList :+ al.toAttribute, knn)
      }
      rewritten.getOrElse(f)
  }
}
