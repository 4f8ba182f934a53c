package graft.rules

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Pre-aggregate below grouping-set Expand — ROLLUP/CUBE/GROUPING SETS
  * over re-associable aggregates collapse the input to the FINEST
  * grouping level before the Expand multiplies rows, so the N-way
  * grouping-set expansion runs over |finest groups| rows instead of N×
  * the fact (measured on the DataFrame twins of ds_q22/ds_q67 at sf1:
  * 4.95→2.59 s and 3.53→2.80 s — this rule generalizes that hand rewrite
  * to every SQL-text ROLLUP; the reference's analogue is partial
  * aggregation pushed through the exchange, PushPartialAggregation
  * ThroughExchange.java, which Spark's grouping-set plan shape defeats
  * because Expand sits between the scan and the aggregate).
  *
  * Applies ONLY where the rewrite is bit-exact under re-association:
  * SUM over integral/decimal (decimal partial sums re-add exactly; the
  * widened re-sum type casts back to the original sum type), COUNT
  * (re-aggregated as a null-safe SUM of partial counts), MIN, MAX.
  * Floating-point SUM/AVG are left alone — re-associating IEEE adds
  * changes low bits, and oracle-hash determinism is a contract here.
  * Further guards: no DISTINCT, no FILTER clause, no aggregate that
  * reads a grouping-output attribute (count(grouping_col) legitimately
  * differs per grouping set), grouping sources must be plain attributes,
  * and the Expand child must not already be the finest-level Aggregate
  * (idempotence + respect for hand-two-phased plans).
  *
  * Plan-shape note: Expand output positions are classified
  * STRUCTURALLY — a position whose expression is identical across every
  * projection is a passthrough (aggregation input), one that varies
  * (attribute in some sets, typed null in others) is a grouping key;
  * column pruning reorders/drops passthroughs, so positions cannot be
  * inferred from child.output offsets. */
object PreAggregateRollup extends Rule[LogicalPlan] {

  /** Integral sums re-add exactly (legacy overflow wraps mod 2^64, and
    * sum-of-wrapped-partials == wrapped-total). Decimal sums re-add
    * exactly only while no partial overflows its p+10 result type; bail
    * when p+10 already hits the 38-digit cap so the re-sum's wider type
    * can always hold every partial losslessly (overflowed partials are
    * null-propagated at re-aggregation — see the cnt partial below). */
  private def exactSum(s: Sum): Boolean = s.child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType => d.precision + 10 <= DecimalType.MAX_PRECISION
    case _ => false
  }

  private def supported(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case s: Sum => exactSum(s)
      case _: Count | _: Min | _: Max => true
      case _ => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(_, aggExprs,
        expand @ Expand(projections, output, child), _)
        if projections.length >= 2 && output.nonEmpty &&
          output.last.name == "spark_grouping_id" =>
      rewrite(agg, aggExprs, expand, projections, output, child)
        .getOrElse(agg)
  }

  private def rewrite(
      agg: Aggregate,
      aggExprs: Seq[NamedExpression],
      expand: Expand,
      projections: Seq[Seq[Expression]],
      output: Seq[Attribute],
      child: LogicalPlan): Option[Aggregate] = {
    val gidPos = output.length - 1
    // classify every non-gid position: constant across projections →
    // passthrough; varying (source attr vs typed null) → grouping key
    val positions = (0 until gidPos).map { i =>
      val exprs = projections.map(_(i)).distinct
      if (exprs.length == 1) scala.util.Left(i) // passthrough
      else {
        val nonNull = exprs.filter {
          case Literal(null, _) => false
          case _ => true
        }
        nonNull match {
          case Seq(a: Attribute) => scala.util.Right((i, a))
          case _ => return None
        }
      }
    }
    val passPos = positions.collect { case scala.util.Left(i) => i }
    val groupPos = positions.collect { case scala.util.Right(p) => p }
    if (groupPos.isEmpty) return None
    val groupingAttrs = groupPos.map(p => output(p._1))
    val srcAttrs = groupPos.map(_._2).distinct
    if (!srcAttrs.forall(child.outputSet.contains)) return None

    // passthroughs must be identical attributes (no computed exprs)
    val passAttrs: Seq[(Int, Attribute)] = passPos.map { i =>
      projections.head(i) match {
        case a: Attribute => (i, a)
        case _ => return None
      }
    }

    val aggCalls = aggExprs.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })
    if (aggCalls.isEmpty || !aggCalls.forall(supported)) return None
    // aggregates must read only passthrough columns (a grouping-output
    // column read inside an aggregate differs per grouping set)
    val groupingOut = AttributeSet(groupingAttrs :+ output(gidPos))
    if (aggCalls.exists(_.references.intersect(groupingOut).nonEmpty))
      return None
    if (!aggCalls.forall(_.references.subsetOf(child.outputSet))) return None
    // everything the outer aggregate reads OUTSIDE aggregate calls must
    // be a grouping output (otherwise a passthrough column leaks raw)
    val outsideRefs = AttributeSet(aggExprs.flatMap { ne =>
      ne.collect { case ae: AggregateExpression => ae }
        .foldLeft(ne.references)((refs, ae) => refs -- ae.references)
    })
    if (!outsideRefs.subsetOf(groupingOut)) return None
    // idempotence / respect hand-two-phased plans
    val alreadyPreAggregated = child match {
      case a: Aggregate =>
        val gset = ExpressionSet(a.groupingExpressions)
        srcAttrs.forall(gset.contains)
      case _ => false
    }
    if (alreadyPreAggregated) return None
    // cardinality guard (r13, measured at sf1, BENCH_rollup_rows_r13.json):
    // ds_q36/q70/q86's facts collapse 6000-87000x at the finest grain,
    // but ds_q18/q27's demographic-sliced facts are near-DISTINCT on
    // their grouping keys (29k rows -> 29k groups) - there the pre-agg
    // shuffles the fact once more for nothing. When CBO column stats
    // can estimate the finest-group count, require a 2x reduction;
    // with no stats, stay optimistic (the reference's partial-agg push
    // defaults the same way, and map-side partial aggregation bounds
    // the downside to one extra exchange of ~input size).
    val inRows = child.stats.rowCount
    val groupRows =
      try Aggregate(srcAttrs, srcAttrs, child).stats.rowCount
      catch { case _: Throwable => None }
    (inRows, groupRows) match {
      case (Some(n), Some(g)) if g * 2 > n => return None
      case _ =>
    }

    val distinctCalls = aggCalls.distinctBy(_.canonicalized)
    // Decimal SUM partials also carry a non-null-input count: a NULL
    // partial with count>0 means that partial OVERFLOWED its p+10 result
    // type (legacy/try modes null on decimal overflow) and the re-sum
    // must propagate the null instead of skipping it — otherwise an
    // overflowed partial silently drops out of a non-null wrong total.
    // A NULL partial with count=0 is the ordinary all-inputs-null group
    // and re-sum correctly skips it (r12 ADVICE fix).
    val partials: Seq[(AggregateExpression, Alias, Option[Alias])] =
      distinctCalls.zipWithIndex.map { case (ae, i) =>
        val cnt = ae.aggregateFunction match {
          case s: Sum if s.child.dataType.isInstanceOf[DecimalType] =>
            Some(Alias(Count(s.child).toAggregateExpression(),
              s"_preagg_cnt_$i")())
          case _ => None
        }
        (ae, Alias(ae, s"_preagg_$i")(), cnt)
      }
    val preAgg = Aggregate(
      srcAttrs,
      (srcAttrs: Seq[NamedExpression]) ++
        partials.flatMap { case (_, p, c) => p +: c.toSeq },
      child)
    val partialAttr: Map[Expression, (Attribute, Option[Attribute])] =
      partials.map { case (ae, al, cnt) =>
        (ae.canonicalized: Expression) ->
          ((al.toAttribute, cnt.map(_.toAttribute)))
      }.toMap
    val partialAttrs =
      partials.flatMap { case (_, p, c) =>
        p.toAttribute +: c.map(_.toAttribute).toSeq
      }

    val newOutput = partialAttrs ++ groupingAttrs :+ output(gidPos)
    val newProjections = projections.map { proj =>
      (partialAttrs: Seq[Expression]) ++
        groupPos.map(p => proj(p._1)) :+ proj(gidPos)
    }
    val newExpand = Expand(newProjections, newOutput, preAgg)

    val newAggExprs = aggExprs.map(_.transform {
      case ae: AggregateExpression if partialAttr.contains(ae.canonicalized) =>
        val (p, cntOpt) = partialAttr(ae.canonicalized)
        ae.aggregateFunction match {
          case s: Sum =>
            // propagate the original's eval mode (ANSI overflow must
            // still throw, TRY must still null) rather than re-reading
            // the conf at rule-run time (r12 ADVICE fix)
            val resum0 = ae.copy(aggregateFunction = Sum(p, s.evalContext))
            val resum: Expression =
              if (DataType.equalsStructurally(resum0.dataType, ae.dataType,
                ignoreNullability = true)) resum0
              else Cast(resum0, ae.dataType)
            cntOpt match {
              case Some(cnt) =>
                val overflowed = Max(And(IsNull(p),
                  GreaterThan(cnt, Literal(0L)))).toAggregateExpression()
                If(Coalesce(Seq(overflowed, Literal(false))),
                  Literal.create(null, ae.dataType), resum)
              case None => resum
            }
          case _: Count =>
            // Count is non-null; partial counts are never null and every
            // output group sees >= 1 partial row
            Coalesce(Seq(ae.copy(aggregateFunction = Sum(p)), Literal(0L)))
          case _: Min => ae.copy(aggregateFunction = Min(p))
          case _: Max => ae.copy(aggregateFunction = Max(p))
          case other => throw new IllegalStateException(other.toString)
        }
    }.asInstanceOf[NamedExpression])
    Some(agg.copy(aggregateExpressions = newAggExprs, child = newExpand))
  }
}
