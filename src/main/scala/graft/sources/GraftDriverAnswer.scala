package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, NamedExpression, Predicate, SubqueryExpression, UnsafeProjection, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Answers small graft scans on the driver: a `Project?`/`Filter?` chain
  * over a graft scan is planned as one [[GraftLocalScanExec]] when the
  * scan's planning-time pruning leaves no file, or one file whose segment
  * stat and bloom pruning keeps at most one segment
  * ([[GraftScan.driverRead]]). A `doc_id` point lookup is the case: a miss
  * prunes every file with the footer blooms, a hit leaves one segment. The
  * query then runs no Spark job and skips the batch scan's planning and
  * preparation. Spark's own planning runs otherwise, and also whenever an
  * expression of the chain cannot be evaluated on the driver as it stands
  * (nondeterministic, a subquery, or an unevaluable expression). The
  * optimizer keeps a nondeterministic filter out of the chain, so it runs
  * in Spark over a driver answer of the rest. */
object GraftDriverAnswer extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(ps, Filter(c, r: DataSourceV2ScanRelation)) => answer(r, Some(c), Some(ps))
    case Project(ps, r: DataSourceV2ScanRelation) => answer(r, None, Some(ps))
    case Filter(c, r: DataSourceV2ScanRelation) => answer(r, Some(c), None)
    case r: DataSourceV2ScanRelation => answer(r, None, None)
    case _ => Nil
  }

  private def answer(r: DataSourceV2ScanRelation, condition: Option[Expression],
                     projectList: Option[Seq[NamedExpression]]): Seq[SparkPlan] = r.scan match {
    case gs: GraftScan if (condition.toSeq ++ projectList.toSeq.flatten).forall(evaluable) =>
      gs.driverRead.map(read =>
        GraftLocalScanExec(projectList.fold[Seq[Attribute]](r.output)(_.map(_.toAttribute)), r.output,
          condition, projectList, gs, read)).toSeq
    case _ => Nil
  }

  /** Deterministic, subquery-free, and evaluable once its attributes are
    * bound: the test Spark's `ConvertToLocalRelation` applies before it
    * evaluates a projection on the driver. */
  def evaluable(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) &&
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])
}

/** What a driver answer read during planning: the one file planning left
  * (None when it pruned every file), that file's rows in the scan's read
  * schema, and the scan's counters for the read. */
final case class DriverRead(file: Option[String], rows: Array[InternalRow],
                            counters: Seq[CustomTaskMetric])

/** A graft scan answered on the driver ([[GraftDriverAnswer]]): applies
  * the chain's filter and projection with Catalyst to the rows the scan's
  * own reader read during planning. `executeCollect`, `executeTake`,
  * `executeTail` and `executeToIterator` run no Spark job; a parent that
  * needs an RDD gets the rows as one partition. The scan's `graft …`
  * counters are posted as driver metric updates, so the SQL UI and the
  * execution's metrics show what the lookup read. */
case class GraftLocalScanExec(
    output: Seq[Attribute],
    scanOutput: Seq[Attribute],
    condition: Option[Expression],
    projectList: Option[Seq[NamedExpression]],
    scan: GraftScan,
    read: DriverRead) extends LeafExecNode {

  def file: Option[String] = read.file

  override lazy val metrics: Map[String, SQLMetric] =
    GraftScan.customMetrics.map(m => m.name -> SQLMetrics.createV2CustomMetric(sparkContext, m)).toMap

  override def producedAttributes: AttributeSet = outputSet ++ AttributeSet(scanOutput)

  private lazy val answer: Array[InternalRow] = {
    val keep = condition.map { c =>
      val p = Predicate.create(c, scanOutput)
      p.initialize(0)
      p
    }
    val project = UnsafeProjection.create(projectList.getOrElse(scanOutput), scanOutput)
    project.initialize(0)
    read.rows.iterator.filter(r => keep.forall(_.eval(r))).map(project(_).copy(): InternalRow).toArray
  }

  /** The answer rows, the read's counters posted to the running execution. */
  private def rows(): Array[InternalRow] = {
    val updated = read.counters.map { c =>
      val m = metrics(c.name)
      m.set(c.value)
      m
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), updated)
    answer
  }

  override def executeCollect(): Array[InternalRow] = rows()
  override def executeTake(n: Int): Array[InternalRow] = rows().take(n)
  override def executeTail(n: Int): Array[InternalRow] = rows().takeRight(n)
  override def executeToIterator(): Iterator[InternalRow] = rows().iterator
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows().toSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"GraftLocalScan ${truncatedString(output, "[", ", ", "]", maxFields)} " +
      s"file: ${file.getOrElse("none")}, " +
      condition.map(c => s"Filter: ${c.sql}, ").getOrElse("") + scan.description()
}
