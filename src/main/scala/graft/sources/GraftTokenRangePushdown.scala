package graft.sources

import org.apache.spark.sql.catalyst.expressions.{And, ArrayContains, ArrayExists, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LambdaFunction, LessThan, LessThanOrEqual, Literal, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Token-range predicate pushdown for the graft connector.
  *
  * The flagship chunk skip — decode only segments whose tokens chunk
  * [minV, maxV] intersects the queried range (the scan's `tokenRange`,
  * checked per segment against the tokens stat columns in
  * [[SegmentScanCore]]) — is not reachable
  * through Spark's standard DSv2 filter negotiation: an
  * `array_contains(tokens, v)` or `exists(tokens, x -> lo <= x AND x <= hi)`
  * predicate never becomes a `sources.Filter`, and Spark 4.1's
  * `V2ExpressionBuilder` has no ARRAY_CONTAINS translation either, so
  * `SupportsPushDownV2Filters` cannot carry it. This rule is the justified
  * custom-Catalyst step (brief tier (c)): it runs AFTER
  * `V2ScanRelationPushDown` (in the "User Provided Optimizers" batch,
  * where [[GraftDataSource.installRules]] adds it, or as a pre-CBO rule
  * from [[graft.engine.GraftExtensions]]), recognizes token predicates in a
  * Filter directly above a graft scan, and re-plans the scan with the
  * range attached — mirroring how the reference converts arbitrary
  * PhysicalExprs into its stripe-pruning predicate
  * (/root/reference/src/predicate.rs:53-166).
  *
  * Soundness: the Filter node is LEFT IN PLACE (the scan only skips
  * segments the chunk stats prove can't match — the `PushedDown::Inexact`
  * contract, source.rs:279-281). Extraction is conservative: from a
  * conjunction it uses only the conjuncts it understands, and for
  * `exists` bodies only the bounds on the lambda variable — any extra
  * conditions can only shrink the true result set, so the extracted range
  * remains a correct superset test.
  */
object GraftTokenRangePushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, r: DataSourceV2ScanRelation)
        if r.scan.isInstanceOf[GraftScan] && {
          val gs = r.scan.asInstanceOf[GraftScan]
          gs.toggles.pushdown && // kill switch disables the rule too
            gs.tokenRange.isEmpty && gs.elemRanges.isEmpty && gs.elemPoints.isEmpty
        } =>
      val cs = conjuncts(cond)
      // per-column extraction: `tokens` keeps its dedicated scan slot and
      // metrics; every other int-kind-element LIST metadata column rides
      // the generalized elemRanges/elemPoints (round-5 item 2 — the same
      // element-stat + bloom skip, per column).
      val ranges = cs.flatMap(rangeOf).groupBy(_._1)
        .view.mapValues(rs => (rs.map(_._2).max, rs.map(_._3).min)).toMap
      val points = cs.flatMap(pointsOf).distinct.groupBy(_._1)
        .view.mapValues(_.map(_._2)).toMap
      if (ranges.isEmpty && points.isEmpty) f
      else {
        // several conjuncts on one column intersect (all must hold on the
        // doc). Point values are collected SEPARATELY: only a conjunct
        // that itself demands one exact element (array_contains /
        // exists ==) licenses a bloom membership test — a degenerate range
        // produced by INTERSECTING distinct inequalities (x >= 7 AND
        // x <= 7 via two exists) does NOT imply any row contains 7, and
        // bloom-pruning on it would drop true matches.
        val tok: Option[(Long, Long, Seq[Long])] =
          ranges.get("tokens").map { case (lo, hi) =>
            (lo, hi, points.getOrElse("tokens", Nil))
          }.orElse(points.get("tokens").map(ps =>
            (Long.MinValue, Long.MaxValue, ps)))
        f.copy(child = r.copy(
          scan = r.scan.asInstanceOf[GraftScan].withElemPreds(tok,
            ranges - "tokens", points - "tokens")))
      }
  }

  /** Element values some conjunct REQUIRES to be present in the array —
    * the sound inputs for a bloom membership prune. Keyed by column. */
  private def pointsOf(e: Expression): Seq[(String, Long)] = e match {
    case ArrayContains(col, l: Literal) =>
      colOf(col).toSeq.flatMap(c => longOf(l).map(c -> _))
    case ArrayExists(col, LambdaFunction(body, Seq(v: NamedLambdaVariable), _), _) =>
      colOf(col).toSeq.flatMap { c =>
        conjuncts(body).flatMap {
          case EqualTo(x, l: Literal) if sameVar(x, v) => longOf(l).map(c -> _)
          case EqualTo(l: Literal, x) if sameVar(x, v) => longOf(l).map(c -> _)
          case _ => None
        }
      }
    case _ => Nil
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The prunable array column an expression references: `tokens` or any
    * int-kind-element ARRAY column (LIST metadata, [[MetaColumns]] —
    * their element streams carry the same exact min/max + bloom the
    * tokens stream does). String-element lists are excluded here: their
    * element stats are UTF-8 ranges this long-domain path doesn't carry. */
  private def colOf(e: Expression): Option[String] = e match {
    case a: Attribute => a.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType, _) => Some(a.name)
      case _ => None
    }
    case _ => None
  }

  private def longOf(l: Literal): Option[Long] = l.value match {
    case i: Int => Some(i.toLong)
    case i: Long => Some(i)
    case i: Short => Some(i.toLong)
    case _ => None
  }

  /** An element range implied by one conjunct, if any; keyed by column. */
  private def rangeOf(e: Expression): Option[(String, Long, Long)] = e match {
    case ArrayContains(col, l: Literal) =>
      for { c <- colOf(col); v <- longOf(l) } yield (c, v, v)
    case ArrayExists(col, LambdaFunction(body, Seq(v: NamedLambdaVariable), _), _) =>
      colOf(col).flatMap { c =>
        val bounds = conjuncts(body).flatMap(boundOf(_, v))
        if (bounds.isEmpty) None
        else Some((c, bounds.map(_._1).max, bounds.map(_._2).min))
      }
    case _ => None
  }

  private def sameVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case n: NamedLambdaVariable => n.exprId == v.exprId
    case _ => false
  }

  /** Bounds on the lambda variable from one conjunct of an exists body
    * (both operand orders). Unrecognized conjuncts contribute nothing —
    * they can only narrow the matching elements, so ignoring them keeps
    * the extracted range an upper bound. */
  private def boundOf(e: Expression, v: NamedLambdaVariable): Option[(Long, Long)] = e match {
    case GreaterThanOrEqual(x, l: Literal) if sameVar(x, v) => longOf(l).map(n => (n, Long.MaxValue))
    case GreaterThan(x, l: Literal) if sameVar(x, v) => longOf(l).map(n => (n + 1, Long.MaxValue))
    case LessThanOrEqual(x, l: Literal) if sameVar(x, v) => longOf(l).map(n => (Long.MinValue, n))
    case LessThan(x, l: Literal) if sameVar(x, v) => longOf(l).map(n => (Long.MinValue, n - 1))
    case EqualTo(x, l: Literal) if sameVar(x, v) => longOf(l).map(n => (n, n))
    case GreaterThanOrEqual(l: Literal, x) if sameVar(x, v) => longOf(l).map(n => (Long.MinValue, n))
    case GreaterThan(l: Literal, x) if sameVar(x, v) => longOf(l).map(n => (Long.MinValue, n - 1))
    case LessThanOrEqual(l: Literal, x) if sameVar(x, v) => longOf(l).map(n => (n, Long.MaxValue))
    case LessThan(l: Literal, x) if sameVar(x, v) => longOf(l).map(n => (n + 1, Long.MaxValue))
    case EqualTo(l: Literal, x) if sameVar(x, v) => longOf(l).map(n => (n, n))
    case _ => None
  }
}
