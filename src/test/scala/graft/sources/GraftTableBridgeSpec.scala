package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The scalar-table bridge behind the graft-storage relational suite:
  * arbitrary tables round-trip bit-exactly through graft format (schema,
  * order, nulls), reserved-name collisions rename transparently, and a
  * representative relational query returns IDENTICAL results whether its
  * leaves scan parquet or graft. */
class GraftTableBridgeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-bridge-spec").toString

  test("every testdata table round-trips through the bridge bit-exactly") {
    val root = tmp()
    for (name <- Seq("region", "nation", "customer", "orders", "lineitem",
      "events", "documents")) {
      val in = spark.read.parquet(s"$sf/$name.parquet")
      GraftTableBridge.write(in, s"$root/$name", name, buckets = 2)
      val out = GraftTableBridge.read(spark, s"$root/$name")
      assert(out.schema === in.schema, s"$name schema drift")
      assert(out.collect().toSet === in.collect().toSet, s"$name rows drift")
    }
  }

  test("documents: reserved-name columns (doc_id, source) rename and restore") {
    val root = tmp()
    val in = spark.read.parquet(s"$sf/documents.parquet")
    GraftTableBridge.write(in, s"$root/documents", "documents", buckets = 2)
    // on disk: carrier doc_id/source + renamed m_doc_id/m_source metas
    val raw = spark.read.format("graft").load(s"$root/documents")
    assert(raw.schema.fieldNames.contains("m_doc_id") &&
      raw.schema.fieldNames.contains("m_source"))
    val out = GraftTableBridge.read(spark, s"$root/documents")
    assert(out.schema.fieldNames.toSeq === in.schema.fieldNames.toSeq)
    assert(out.collect().toSet === in.collect().toSet)
  }

  test("a null in the key (first) column does not break the synthesized doc_id") {
    val root = tmp()
    import spark.implicits._
    val in = Seq[(java.lang.Long, String)]((null, "a"), (1L, "b"), (2L, null))
      .toDF("k", "v")
    GraftTableBridge.write(in, s"$root/t", "t", buckets = 2)
    val out = GraftTableBridge.read(spark, s"$root/t")
    assert(out.schema === in.schema)
    assert(out.collect().toSet === in.collect().toSet)
  }

  test("LIST columns round-trip (map_list fixture shape: l List(Utf8)) incl. " +
    "null lists, empty lists, and null elements") {
    val root = tmp()
    import spark.implicits._
    val in = Seq(
      (1L, Seq("test", "blaze"), Seq(1, 2, 3), "blaze"),
      (2L, Seq.empty[String], Seq.empty[Int], "empty"),
      (3L, null, null, "nulls"),
      (4L, Seq("a", null, "c"), Seq(7), "elemnull"))
      .toDF("id", "l", "nums", "s")
    GraftTableBridge.write(in, s"$root/maplist", "maplist", buckets = 2)
    val out = GraftTableBridge.read(spark, s"$root/maplist")
    // metadata columns read back nullable (PRESENT framing); names/types exact
    assert(out.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      in.schema.fields.map(f => (f.name, f.dataType)).toSeq, "schema drift")
    assert(out.collect().toSet === in.collect().toSet, "rows drift")
    // element-level predicates answer correctly over graft storage
    import org.apache.spark.sql.functions._
    assert(out.filter(array_contains(col("nums"), 2)).select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(out.filter(col("l").isNull).count() === 1L)
    assert(out.filter(size(col("nums")) === 0).count() === 1L)
    // compaction re-encodes list columns through the stored-domain path
    // (decodeSegmentWithMeta -> encodePartition) without rendering
    val compacted = graft.lineage.SegmentStore.compact(
      spark, s"$root/maplist", upTo = Long.MaxValue, buckets = 2)
    assert(compacted.isDefined)
    val after = GraftTableBridge.read(spark, s"$root/maplist")
    assert(after.collect().toSet === in.collect().toSet, "rows drift after compact")
  }

  test("relational entries over graft storage equal the parquet path") {
    import graft.queries0.Relational
    val root = tmp()
    for (name <- Seq("lineitem", "orders", "customer", "nation", "region",
      "supplier", "part", "events", "documents")) {
      GraftTableBridge.write(spark.read.parquet(s"$sf/$name.parquet"),
        s"$root/$name", name, buckets = 2)
    }
    val sample = Seq("q_agg_group", "q_join_inner_agg", "q_window_rank",
      "q_filter_in_between", "q_date_trunc")
    sample.foreach { q =>
      val fn = Relational.all(q)
      val parquetRows = fn(spark, sf).collect().toSet
      spark.conf.set(GraftTableBridge.TableRootKey, root)
      val graftRows =
        try fn(spark, sf).collect().toSet
        finally spark.conf.unset(GraftTableBridge.TableRootKey)
      assert(graftRows === parquetRows, s"$q diverged on graft storage")
    }
  }
}
