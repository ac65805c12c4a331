package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, FunctionCatalog, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin for graft tables — `spark.sql.catalog.graft =
  * graft.sources.GraftCatalog`, then `spark.table("graft.`/path/to/table`")`
  * (the path-as-identifier convention of path-based lakehouse catalogs).
  *
  * The catalog exists for one scale-critical capability the bare
  * `format("graft")` path cannot provide: STORAGE-PARTITIONED JOINS.
  * Spark's SPJ machinery resolves a table's `bucket(n, doc_id)` partition
  * transform against the owning catalog's FunctionCatalog — no catalog, no
  * function, no co-partitioned join. With it, two graft tables bucketed
  * the same way join WITHOUT ANY SHUFFLE: the join key set (doc_id)
  * covers the partition expression, both sides report
  * KeyGroupedPartitioning over the same canonical function, and Spark
  * schedules one task per bucket pair — at 10^12 rows the bucket exchange
  * this elides is the single largest data movement a self-join/dedup-join
  * pipeline would otherwise pay.
  *
  * The bound function REPLAYS the engine's bucket assignment exactly
  * (GraftEncoder.bucketed: `pmod(hash(doc_id), n)`, Spark's Murmur3 with
  * seed 42 over the UTF-8 bytes — the same function HashPartitioning
  * applies, so the DSv2 write path's clustered exchange produces the
  * identical layout) — one definition of "bucket of a doc", written once
  * in the engine and mirrored here for the planner. */
class GraftCatalog extends CatalogPlugin with TableCatalog with FunctionCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // path-addressed: tables are not enumerable

  override def loadTable(ident: Identifier): Table = {
    val path = (ident.namespace() :+ ident.name()).mkString("/")
    // keep URIs (hdfs://, s3a://) intact; root only bare local paths
    val dir = if (path.startsWith("/") || path.contains("://")) path else "/" + path
    // existence via the Hadoop filesystem — java.io.File is blind to any
    // non-local scheme and would refuse every remote table
    val hp = new org.apache.hadoop.fs.Path(dir)
    val spark = org.apache.spark.sql.SparkSession.active
    if (!hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    GraftDataSource.installRules(spark)
    new GraftTable(dir, catalogBacked = true)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft tables are created by the write path (df.write.format(\"graft\"))")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("graft tables are immutable snapshots")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft tables are path-addressed")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
}

/** The canonical graft bucket function: `bucket(n, doc_id)` =
  * `pmod(hash(doc_id), n)` (Murmur3 seed 42) — identical to the engine's
  * shuffle key (GraftEncoder.bucketed) AND to what a
  * `Distributions.clustered(doc_id)` write exchange computes, so the
  * stored layout of every write (`encodeCommit`, the connector's append,
  * compaction) is a valid KeyGroupedPartitioning under this function. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, doc_id) = pmod(hash(doc_id), n) — the graft storage bucket (Murmur3 seed 42)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType &&
      inputType.fields(1).dataType == StringType,
      s"bucket expects (int, string), got ${inputType.simpleString}")
    BoundBucket
  }

  object BoundBucket extends ScalarFunction[Int] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, StringType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Int = {
      val n = input.getInt(0)
      val s = input.getUTF8String(1)
      // Spark SQL hash() == HashPartitioning: Murmur3 over UTF-8 bytes, seed 42
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(s, StringType, 42L).toInt
      val m = h % n
      if (m < 0) m + n else m
    }
  }
}
