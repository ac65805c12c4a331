package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AliasHelper, ArrayMax, ArrayMin, Attribute, AttributeMap, Alias, Expression, GetStructField, InterpretedMutableProjection, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Answers header-answerable aggregates on the driver: an ungrouped
  * `Aggregate` directly over an un-narrowed graft scan, whose every output
  * is one of the shapes below, is computed during optimization from the
  * scan's folded segment headers ([[GraftScan.headerFold]] — the same
  * memoized fold `estimateStatistics` reads, over the same planned files,
  * `snapshotId` respected) and replaced by a [[LocalRelation]] holding the
  * one answer row. The query then runs no Spark job, and no payload page
  * is read. Spark's own `OptimizeMetadataOnlyQuery` uses the same pattern;
  * the numbers are the exact statistics the reference hands DataFusion
  * (the reference's `src/metadata.rs:64-86`).
  *
  * The shapes:
  *  - `COUNT(*)`: the header row count;
  *  - `COUNT(col)`: rows for the non-nullable canonical columns, else the
  *    non-null count of the column's presence-bearing stream — its own
  *    for scalars and struct members (`info.score` -> `info__f_score`,
  *    null where the struct OR the member is), `__len` for lists, the
  *    `__k` pseudo-list's `__len` for maps, `__p` for structs. A stream a
  *    file lacks (schema evolution) counts 0 there: all its rows are null;
  *  - `MIN`/`MAX` over an ordered scalar column or struct member: the
  *    folded stream range. Binary columns record neutral stats, and SQL
  *    orders arrays, maps and structs lexicographically, which stream
  *    stats cannot answer, so those never fold;
  *  - element extrema `min(array_min(c))` / `max(array_max(c))` over
  *    int/long/string lists: the element stream's folded range.
  *
  * Soundness rests on the header fold skipping VALUE-LESS chunks
  * ([[GraftLayout]] `nValues > 0` guard): MIN/MAX and array_min/array_max
  * ignore nulls, so a range folded over the chunks that hold values is
  * exactly the aggregate's domain, and a table with none answers null.
  * Any filter, limit or token predicate between the aggregate and the
  * scan, or `graft.scan.pushdown=false`, leaves the plan alone
  * ([[GraftScan.headerAnswerable]]); so does a single output of any other
  * shape (`avg`, `sum`, DISTINCT, FILTER clauses, grouping). A
  * deterministic projection directly above an answered aggregate (say
  * `select($"n" + $"n")`, which `CollapseProject` keeps apart because it
  * reads the count twice) is evaluated into the answer row as well. */
object GraftStatsAggPushdown extends Rule[LogicalPlan] with AliasHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // a projection left directly above the aggregate folds into the answer
    // row too: run from `extraOptimizations`, this rule comes after
    // `ConvertToLocalRelation`, so the projection would otherwise run as a
    // one-task job over the local relation
    case p @ Project(ps, agg: Aggregate) if ps.forall(GraftDriverAnswer.evaluable) =>
      answer(agg).fold(p: LogicalPlan) { row =>
        val project = new InterpretedMutableProjection(ps, agg.output)
        project.initialize(0)
        LocalRelation(p.output, Seq(project(row).copy()))
      }
    case agg: Aggregate => answer(agg).fold(agg: LogicalPlan)(row => LocalRelation(agg.output, Seq(row)))
  }

  /** The one row an ungrouped aggregate over a graft scan computes, when
    * the scan's folded headers answer every output. */
  private def answer(agg: Aggregate): Option[InternalRow] = agg match {
    case Aggregate(Seq(), aggExprs, child, _) if aggExprs.nonEmpty =>
      scanUnder(child) match {
        case Some((gs, aliases)) if gs.headerAnswerable =>
          val answers = aggExprs.map(e => answerOf(replaceAlias(e, aliases)))
          if (answers.forall(_.isDefined)) {
            val h = gs.headerFold
            Some(InternalRow.fromSeq(answers.map(_.get(h))))
          } else None
        case _ => None
      }
    case _ => None
  }

  /** True when `plan` was answered on the driver: a local relation and no
    * graft scan left to execute. */
  def answeredOnDriver(plan: SparkPlan): Boolean =
    plan.collectFirst { case l: LocalTableScanExec => l }.isDefined &&
      plan.collectFirst { case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b }.isEmpty

  /** The graft scan an aggregate reads, seen through at most one
    * projection (column pruning and nested-field aliasing put one there),
    * with that projection's aliases. */
  private def scanUnder(child: LogicalPlan): Option[(GraftScan, AttributeMap[Alias])] =
    child match {
      case r: DataSourceV2ScanRelation => graftScan(r).map(_ -> AttributeMap.empty[Alias])
      case p @ Project(_, r: DataSourceV2ScanRelation) => graftScan(r).map(_ -> getAliasMap(p))
      case _ => None
    }

  private def graftScan(r: DataSourceV2ScanRelation): Option[GraftScan] = r.scan match {
    case gs: GraftScan => Some(gs)
    case _ => None
  }

  /** The header stream a column reference reads, with its type: a column,
    * or a member of a struct column (`c__f_m`). */
  private def streamOf(e: Expression): Option[(String, DataType)] = e match {
    case a: Attribute => Some(a.name -> a.dataType)
    case g @ GetStructField(a: Attribute, _, _) => Some(s"${a.name}__f_${g.extractFieldName}" -> g.dataType)
    case _ => None
  }

  /** How one aggregate output is computed from the fold, if it can be. */
  private def answerOf(e: Expression): Option[GraftLayout.FileHeader => Any] = e match {
    case AggregateExpression(f, _, false, None, _) => f match {
      case Count(Seq(l: Literal)) if l.value != null => Some(_.rows)
      case Count(Seq(c)) => streamOf(c).map { case (s, dt) => countOf(s, dt) }
      case Min(ArrayMin(c)) => elemStream(c).map { case (s, et) => extremum(s, et, isMin = true) }
      case Max(ArrayMax(c)) => elemStream(c).map { case (s, et) => extremum(s, et, isMin = false) }
      case Min(c) => streamOf(c).filter(ordered).map { case (s, dt) => extremum(s, dt, isMin = true) }
      case Max(c) => streamOf(c).filter(ordered).map { case (s, dt) => extremum(s, dt, isMin = false) }
      case _ => None
    }
    case _ => None
  }

  private def countOf(s: String, dt: DataType): GraftLayout.FileHeader => Any = {
    val presence = dt match {
      case _ if MetaColumns.CanonicalNames.contains(s) => None
      case _: MapType => Some(MetaColumns.lenStream(s"${s}__k"))
      case _: StructType => Some(s"${s}__p")
      case _ if MetaColumns.isList(dt) => Some(MetaColumns.lenStream(s))
      case _ => Some(s)
    }
    h => presence.fold(h.rows)(p => h.nValues.getOrElse(p, 0L))
  }

  /** Scalars whose stream stats are in SQL order (not binary). */
  private def ordered(c: (String, DataType)): Boolean =
    c._2 != BinaryType && MetaColumns.isScalar(c._2)

  /** The element stream of an int/long/string list column. */
  private def elemStream(e: Expression): Option[(String, DataType)] = e match {
    case a: Attribute => a.dataType match {
      case ArrayType(et @ (IntegerType | LongType | StringType), _) => Some(a.name -> et)
      case _ => None
    }
    case _ => None
  }

  private def extremum(s: String, dt: DataType, isMin: Boolean): GraftLayout.FileHeader => Any =
    h => h.ranges.get(s).map { r =>
      if (dt == StringType) UTF8String.fromString(if (isMin) r.minS else r.maxS)
      else MetaColumns.fromStat(dt, if (isMin) r.minV else r.maxV)
    }.orNull
}
