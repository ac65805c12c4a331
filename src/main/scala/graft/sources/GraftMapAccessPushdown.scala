package graft.sources

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GetMapValue, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types.MapType
import org.apache.spark.sql.{sources => sf}
import org.apache.spark.unsafe.types.UTF8String

/** MAP-access predicate pruning for the graft connector.
  *
  * `attrs['lang'] = 'l1'` never reaches DSv2 filter negotiation (a
  * `GetMapValue` comparison has no `sources.Filter` form), so without this
  * rule a point lookup into a map column decodes every segment. But the
  * map's two pseudo-lists carry exactly the stats that answer it: a row
  * with `attrs['lang'] = 'l1'` REQUIRES the key element 'lang' AND the
  * value element 'l1' to be present in that row's chunk — so a chunk whose
  * `attrs__k` element stats exclude 'lang' OR whose `attrs__v` stats
  * exclude 'l1' provably has no matching row. The same argument prunes at
  * file granularity (header-folded stats) and through the v2 parquet stat
  * columns, and point equalities probe the pseudo-streams' blooms where
  * recorded — the full layered skip the scalar columns get, derived for
  * map access (the reference's stripe pruning over nested streams,
  * predicate.rs:53-166 + the map_list fixture's LENGTH-framed framing).
  *
  * Like [[GraftTokenRangePushdown]], the Filter node is LEFT IN PLACE
  * (inexact skip; Spark re-evaluates the exact predicate), extraction is
  * conservative (only conjuncts it understands contribute; each can only
  * shrink the true result set, so the stat test stays a sound superset),
  * and the synthetic filters are normalized to the stat domain at plan
  * time. Value inequalities prune on the VALUE stream alone paired with
  * the key point: `attrs['score'] > x` requires SOME value element > x
  * and the key element 'score' — both per-chunk necessary conditions. */
object GraftMapAccessPushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, r: DataSourceV2ScanRelation)
        if r.scan.isInstanceOf[GraftScan] && {
          val gs = r.scan.asInstanceOf[GraftScan]
          gs.toggles.pushdown && gs.mapStats.isEmpty
        } =>
      val gs = r.scan.asInstanceOf[GraftScan]
      val raw = conjuncts(cond).flatMap(statFiltersOf)
      if (raw.isEmpty) f
      else {
        // normalize into the stat domain with the pseudo-streams' own
        // types, exactly like the builder does for negotiated filters
        val streamType = raw.iterator.map(_._2).toMap
        val normalized = StatPredicate.normalize(
          raw.map(_._1).toArray, streamType.get _)
        if (normalized.isEmpty) f
        else f.copy(child = r.copy(scan = gs.withMapStats(normalized)))
      }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The map column + key/value element types behind a GetMapValue, when
    * the map is a storable graft shape (int/long/string keys and values —
    * [[MetaColumns.isListElem]], the same matrix the pseudo-lists store). */
  private def mapOf(e: Expression): Option[(String,
      org.apache.spark.sql.types.DataType, org.apache.spark.sql.types.DataType)] =
    e match {
      case a: Attribute => a.dataType match {
        case MapType(k, v, _)
          if MetaColumns.isListElem(k) && MetaColumns.isListElem(v) => Some((a.name, k, v))
        case _ => None
      }
      case _ => None
    }

  /** External (sources.Filter-domain) rendering of a key/value literal:
    * catalyst strings are UTF8String, ints/longs pass through. */
  private def extOf(l: Literal): Option[Any] = l.value match {
    case null => None
    case u: UTF8String => Some(u.toString)
    case i: Int => Some(i)
    case i: Long => Some(i)
    case _ => None
  }

  /** Stat filters (paired with the pseudo-stream's type) one conjunct
    * implies. A map-value comparison contributes the key POINT on the
    * `__k` stream plus the comparison on the `__v` stream. */
  private def statFiltersOf(e: Expression)
      : Seq[(sf.Filter, (String, org.apache.spark.sql.types.DataType))] = {
    def keyed(m: Expression, k: Literal)(
        mk: (String, org.apache.spark.sql.types.DataType) => Option[
          Seq[(sf.Filter, (String, org.apache.spark.sql.types.DataType))]])
        : Seq[(sf.Filter, (String, org.apache.spark.sql.types.DataType))] =
      (for {
        (c, kt, vt) <- mapOf(m)
        kv <- extOf(k)
        // the analyzer casts the key literal to the map's key type before
        // GetMapValue resolves, so a mismatch here means an exotic shape —
        // contribute nothing (sound)
        if k.dataType == kt
        rest <- mk(s"${c}__v", vt)
      } yield (sf.EqualTo(s"${c}__k", kv), (s"${c}__k", kt)) +: rest)
        .getOrElse(Nil)

    e match {
      // attrs['k'] = v (both operand orders)
      case EqualTo(GetMapValue(m, k: Literal), v: Literal) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.EqualTo(s, x), (s, vt)))))
      case EqualTo(v: Literal, GetMapValue(m, k: Literal)) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.EqualTo(s, x), (s, vt)))))
      // inequalities on the value, key stays a point
      case GreaterThan(GetMapValue(m, k: Literal), v: Literal) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.GreaterThan(s, x), (s, vt)))))
      case LessThan(GetMapValue(m, k: Literal), v: Literal) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.LessThan(s, x), (s, vt)))))
      case GreaterThanOrEqual(GetMapValue(m, k: Literal), v: Literal) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.GreaterThanOrEqual(s, x), (s, vt)))))
      case LessThanOrEqual(GetMapValue(m, k: Literal), v: Literal) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.LessThanOrEqual(s, x), (s, vt)))))
      case GreaterThan(v: Literal, GetMapValue(m, k: Literal)) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.LessThan(s, x), (s, vt)))))
      case LessThan(v: Literal, GetMapValue(m, k: Literal)) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.GreaterThan(s, x), (s, vt)))))
      case GreaterThanOrEqual(v: Literal, GetMapValue(m, k: Literal)) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.LessThanOrEqual(s, x), (s, vt)))))
      case LessThanOrEqual(v: Literal, GetMapValue(m, k: Literal)) =>
        keyed(m, k)((s, vt) => extOf(v).map(x => Seq((sf.GreaterThanOrEqual(s, x), (s, vt)))))
      // attrs['k'] IS NOT NULL = the key must be present (with ANY value)
      case IsNotNull(GetMapValue(m, k: Literal)) =>
        keyed(m, k)((_, _) => Some(Nil))
      case _ => Nil
    }
  }
}
