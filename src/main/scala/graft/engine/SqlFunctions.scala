package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable decode of self-describing chunk payloads — the brief's
  * preferred custom-function tier: a native Catalyst `Expression` with real
  * `doGenCode` (a static kernel call emitted INSIDE whole-stage codegen; no
  * Scala-UDF wrapping/boxing), registered either through
  * `SparkSessionExtensions` ([[GraftExtensions]], the
  * `spark.sql.extensions` seam) or imperatively on a live session
  * ([[SqlFunctions.register]]).
  *
  * This gives SQL users direct reach into the stored segment table —
  * `SELECT graft_decode_ints(c.payload) FROM segments LATERAL VIEW
  * explode(cols) t AS c WHERE c.col = 'tokens'` — the same inspection
  * surface the reference exposes by being queryable as an ORC table, minus
  * a full decode-to-rows pass when only one column stream is wanted.
  */
case class GraftDecodeInts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BINARY input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_decode_ints"
  override protected def nullSafeEval(input: Any): Any =
    GraftDecodeInts.decode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.engine.GraftDecodeInts.decode($c)")
  override protected def withNewChildInternal(newChild: Expression): GraftDecodeInts =
    copy(child = newChild)
}

object GraftDecodeInts {
  /** Static kernel entry for generated code: payload bytes -> ArrayData. */
  def decode(payload: Array[Byte]): GenericArrayData =
    new GenericArrayData(graft.codec.IntCodecs.decodeChunk(payload))
}

/** String-column sibling: decodes a doc_id/source chunk payload to
  * ARRAY<STRING> in SQL. */
case class GraftDecodeStrings(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires BINARY input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_decode_strings"
  override protected def nullSafeEval(input: Any): Any =
    GraftDecodeStrings.decode(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.engine.GraftDecodeStrings.decode($c)")
  override protected def withNewChildInternal(newChild: Expression): GraftDecodeStrings =
    copy(child = newChild)
}

object GraftDecodeStrings {
  /** Each value wraps its slice of the decoded UTF-8 blob, no copy. */
  def decode(payload: Array[Byte]): GenericArrayData = {
    val c = graft.codec.StringCodecs.decodeChunkBytes(payload)
    new GenericArrayData(Array.tabulate[Any](c.size)(i =>
      UTF8String.fromBytes(c.blob, c.offsets(i), c.lens(i))))
  }
}

object SqlFunctions {

  private def descriptor(name: String, builder: Seq[Expression] => Expression,
                         exprClass: Class[_])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(exprClass.getName, name), builder)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    descriptor("graft_decode_ints",
      es => GraftDecodeInts(es.head), classOf[GraftDecodeInts]),
    descriptor("graft_decode_strings",
      es => GraftDecodeStrings(es.head), classOf[GraftDecodeStrings]))

  /** Imperative registration on a live session (idempotent — re-register
    * overwrites with an identical builder). Used by query entries so the
    * driver's plain session needs no builder-time hook. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** `spark.sql.extensions=graft.engine.GraftExtensions` — the standard
  * builder-time injection seam for clusters where sessions are created by
  * the platform, not application code. Injects the SQL decode functions
  * the connector's optimizer rules
  * ([[graft.sources.GraftDataSource.OptimizerRules]]: token-range and
  * map-access pruning, header-answered aggregates) as pre-CBO rules: that
  * batch runs after `V2ScanRelationPushDown`, so the graft scan relation
  * exists by then. It also injects the planner strategy that answers
  * point lookups on the driver ([[graft.sources.GraftDriverAnswer]]).
  * None of them needs the extension: the connector adds the same rules
  * and strategy to any session that resolves a graft table
  * ([[graft.sources.GraftDataSource.installRules]]), skipping the ones
  * injected here. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    SqlFunctions.all.foreach(ext.injectFunction)
    graft.sources.GraftDataSource.OptimizerRules.foreach(r => ext.injectPreCBORule(_ => r))
    ext.injectPlannerStrategy(_ => graft.sources.GraftDriverAnswer)
  }
}
