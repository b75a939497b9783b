package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Eager aggregation (partial-aggregate pushdown through a join).
  *
  * Spark's optimizer never moves an Aggregate below a Join, so a query
  * like TPC-H q18 — `GROUP BY order keys, SUM(l_quantity)` over
  * `customer ⋈ orders ⋈ lineitem` — streams every fact row through the
  * join before reducing it. For an INNER equi-join this rewrite is
  * semantics-preserving whenever the aggregate inputs come from one side
  * only and the grouping keys from the other: pre-aggregate the fact
  * side by its join-condition attributes, join the (far smaller) partial
  * rows, and re-aggregate above. Each partial row then joins exactly as
  * many times as each of its source rows did, so
  *   SUM(x)   == SUM(partial_sum_x)
  *   COUNT(x) == SUM(partial_count_x)   (COUNT(*) likewise)
  *   MIN/MAX  == MIN/MAX(partial)
  * hold regardless of key multiplicity on either side. Decimal partial
  * sums re-sum exactly, so the engine's determinism contract (Q.decSum)
  * is unchanged.
  *
  * At 100 TB this is the difference between shuffling the fact table
  * into the join and shuffling one row per (join key): the rewrite cuts
  * both the join's probe volume and the post-join aggregation state.
  *
  * Where it fires: the pushed side must be a single-relation subtree —
  * no Join and no Aggregate anywhere below it (filters, projections and
  * the scan only). That is Yan & Larson's eager group-by ("Eager
  * Aggregation and Lazy Aggregation", VLDB 1995): one join input is
  * pre-aggregated right beside its join, the fact leaf of TPC-H q3/q18.
  * A join subtree is refused because the partial aggregate would sit on
  * top of it and the rule would then push again one join lower: in a
  * broadcast star chain (q5, q7, q10, c_join_5way) every one of those
  * joins is already map-side, so each level only adds a
  * HashAggregate → Exchange → HashAggregate stage. An Aggregate on the
  * pushed side, also one that ColumnPruning has wrapped in a Project,
  * already yields one row per key, so a second one would re-group
  * unique rows; this is also the refire guard, since the rewritten plan
  * has our own partial Aggregate there.
  *
  * Deliberately narrow (bails otherwise): inner joins, non-distinct
  * unfiltered SUM/COUNT/MIN/MAX, aggregate inputs wholly from one join
  * side, grouping expressions wholly from the other, pushed side a
  * single-relation subtree (above). Registered via GraftExtensions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object EagerAggregation extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(_, _, join: Join, _) =>
      rewrite(agg, join).getOrElse(agg)
    // column pruning / analysis interposes a Project between the
    // Aggregate and the Join. Inline its (deterministic) aliases into
    // the aggregate and retry over the bare join — ColumnPruning
    // re-derives the pruning on the rewritten plan in the same
    // fixed-point batch.
    case agg @ Aggregate(g, a, Project(projList, join: Join), _)
        if projList.forall(_.deterministic) =>
      val aliasMap = projList.collect {
        case al: Alias => al.exprId -> al
      }.toMap
      def subst(e: Expression): Expression = e.transformUp {
        case attr: AttributeReference if aliasMap.contains(attr.exprId) =>
          aliasMap(attr.exprId).child
      }
      def substNamed(ne: NamedExpression): NamedExpression = ne match {
        case attr: AttributeReference if aliasMap.contains(attr.exprId) =>
          aliasMap(attr.exprId) // keep the exprId/name: same output schema
        case al: Alias =>
          Alias(subst(al.child), al.name)(exprId = al.exprId,
            qualifier = al.qualifier, explicitMetadata = al.explicitMetadata)
        case other => other
      }
      val agg2 = agg.copy(groupingExpressions = g.map(subst),
        aggregateExpressions = a.map(substNamed), child = join)
      rewrite(agg2, join).getOrElse(agg)
  }

  private def supported(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: Sum | _: Count | _: Min | _: Max => true
      case _ => false
    })

  private def rewrite(agg: Aggregate, join: Join): Option[Aggregate] = {
    if (join.joinType != Inner || join.condition.isEmpty) return None
    val aggFns = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggFns.isEmpty || !aggFns.forall(supported)) return None
    val fnRefs = AttributeSet(aggFns.flatMap(_.references))

    // pick the side that feeds ALL aggregate inputs; grouping
    // expressions must each sit wholly on one side (pushed-side ones
    // become partial grouping keys below the join)
    val pushed = Seq(join.left, join.right).find { side =>
      fnRefs.nonEmpty && fnRefs.subsetOf(side.outputSet) &&
        !side.exists(n => n.isInstanceOf[Join] || n.isInstanceOf[Aggregate])
    }.getOrElse(return None)
    val (pushedGroups, stayGroups) = agg.groupingExpressions.partition { g =>
      g.references.nonEmpty && g.references.subsetOf(pushed.outputSet)
    }
    if (!stayGroups.forall(_.references.intersect(pushed.outputSet).isEmpty))
      return None // a grouping expression straddles both sides — bail
    if (!pushedGroups.forall(_.deterministic)) return None

    // every pushed-side attribute the join condition touches becomes a
    // partial grouping key, so the condition stays row-evaluable above
    val condKeys = join.condition.get.references.intersect(pushed.outputSet).toSeq
    if (condKeys.isEmpty) return None

    // pushed grouping expressions surface as aliased partial columns
    val groupAlias = pushedGroups.map {
      case attr: Attribute => attr -> attr.asInstanceOf[NamedExpression]
      case e => e -> Alias(e, "_eager_group")()
    }
    // one partial per distinct aggregate call (canonicalized)
    val uniqueFns = aggFns.foldLeft(Seq.empty[AggregateExpression]) { (acc, ae) =>
      if (acc.exists(_.canonicalized == ae.canonicalized)) acc else acc :+ ae
    }
    val partialAlias = uniqueFns.map { ae =>
      ae -> Alias(ae, "_eager_partial")()
    }
    val partialKeys = (condKeys ++ groupAlias.map(_._1)).foldLeft(Seq.empty[Expression]) {
      (acc, e) => if (acc.exists(_.canonicalized == e.canonicalized)) acc else acc :+ e
    }
    val partialOut = (condKeys.map(_.asInstanceOf[NamedExpression]) ++
      groupAlias.map(_._2) ++ partialAlias.map(_._2))
      .foldLeft(Seq.empty[NamedExpression]) { (acc, ne) =>
        if (acc.exists(_.exprId == ne.exprId)) acc else acc :+ ne
      }
    val pushedAgg = Aggregate(partialKeys, partialOut, pushed)

    // Re-aggregating a partial can change the surface type: SUM over a
    // partial-sum widens decimals again (DECIMAL(15,2) -> DECIMAL(25,2),
    // crossing the precision-18 UnsafeRow layout boundary), and
    // COUNT -> SUM(partial) flips non-nullable LongType to nullable.
    // The replacement keeps the original exprId, so the surfaced
    // attribute MUST keep the original dataType and nullability: cast
    // widened results back, and coalesce the re-summed count to 0 (also
    // the correct COUNT value for a zero-row join under a global
    // aggregate, where Sum's buffer is NULL).
    def finalFn(ae: AggregateExpression, partial: Attribute): Expression =
      ae.aggregateFunction match {
        case _: Count =>
          Coalesce(Seq(ae.copy(aggregateFunction = Sum(partial)),
            Literal(0L)))
        case _: Sum =>
          val resummed = ae.copy(aggregateFunction = Sum(partial))
          if (resummed.dataType == ae.dataType) resummed
          else Cast(resummed, ae.dataType)
        case _: Min => ae.copy(aggregateFunction = Min(partial))
        case _: Max => ae.copy(aggregateFunction = Max(partial))
        case _ => ae // unreachable (supported() gate)
      }

    def replaceExprs(e: Expression): Expression = e.transform {
      case ae: AggregateExpression =>
        partialAlias.find(_._1.canonicalized == ae.canonicalized) match {
          case Some((_, alias)) => finalFn(ae, alias.toAttribute)
          case None => ae
        }
      case g if groupAlias.exists(_._1.canonicalized == g.canonicalized) =>
        groupAlias.find(_._1.canonicalized == g.canonicalized).get._2.toAttribute
    }
    val newGrouping = agg.groupingExpressions.map(replaceExprs)
    val newAggExprs = agg.aggregateExpressions.map { ne =>
      replaceExprs(ne) match {
        case named: NamedExpression => named
        case e => Alias(e, ne.name)(exprId = ne.exprId)
      }
    }
    val newJoin = if (pushed eq join.left) join.copy(left = pushedAgg)
      else join.copy(right = pushedAgg)
    Some(agg.copy(groupingExpressions = newGrouping,
      aggregateExpressions = newAggExprs, child = newJoin))
  }
}
