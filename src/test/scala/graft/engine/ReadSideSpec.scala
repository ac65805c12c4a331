package graft.engine

import org.apache.spark.sql.{Column, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{array_contains, col, expr}
import org.scalatest.funsuite.AnyFunSuite

import graft.lineage.SegmentStore
import graft.sources.ScanMetrics

/** Read-side surfaces: scan metrics and chunk pruning through
  * `format("graft")` (the reference's scan-counter layer,
  * metrics.rs:57-218, and predicate pruning, predicate.rs:53-245) and
  * multi-file schema merge (file_format.rs:146-161). */
class ReadSideSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-readside-spec").toString

  /** `rows` appended to a fresh graft table through the connector. */
  private def graftTable(rows: Dataset[TokenRow], buckets: Int, tokensPerChunk: Int,
                         options: Map[String, String] = Map.empty): String = {
    val dir = tmp()
    rows.write.format("graft").option("buckets", buckets.toString)
      .option("tokensPerChunk", tokensPerChunk.toString).options(options)
      .mode(SaveMode.Append).save(dir)
    dir
  }

  test("decode metrics: counters reconcile with the unmetered decode") {
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 5L)
    val dir = graftTable(input, buckets = 4, tokensPerChunk = 2048)
    val (lo, hi) = (50000, 50256)
    val scan = spark.read.format("graft").load(dir)
      .filter(expr(s"exists(tokens, x -> x >= $lo AND x <= $hi)"))
    val (rows, m) = ScanMetrics.collect(scan)
    // header truth: every committed segment, split by the token-range skip
    val segs = SegmentStore.readSegmentsAll(spark, dir).collect()
    val (matched, pruned) = segs.partition(
      _.cols.find(_.col == "tokens").exists(c => c.minV <= hi && c.maxV >= lo))
    val planned = ScanMetrics.segmentsPlanned(scan)
    val decoded = m.getOrElse("graft segments decoded", -1L)
    val prunedTok = m.getOrElse("graft segments pruned (token range)", -1L)
    assert(planned === segs.length.toLong)
    assert(decoded + prunedTok === planned, s"$m")
    assert(decoded === matched.length.toLong, s"$m")
    assert(prunedTok === pruned.length.toLong, s"$m")
    assert(prunedTok > 0L, "zipf data must let stats prune something")
    assert(m.getOrElse("graft rows emitted", -1L) === matched.map(_.nRows.toLong).sum)
    // payload bytes: decoded = the survivors' header bytesOut, pruned = the
    // skipped segments' (every stream is projected here)
    val bytesDecoded = m.getOrElse("graft payload bytes decoded", -1L)
    val bytesPruned = m.getOrElse("graft payload bytes pruned", -1L)
    assert(bytesDecoded === matched.map(_.bytesOut).sum)
    assert(bytesPruned === pruned.map(_.bytesOut).sum)
    assert(bytesDecoded + bytesPruned === segs.map(_.bytesOut).sum)
    assert(bytesDecoded > 0 && bytesPruned > 0)
    val efficiency = graft.queries0.Encode.scanEfficiency(bytesDecoded, bytesPruned)
    assert(efficiency > 0.0 && efficiency < 1.0)
    // pruned scan output == the exact filter over the unpruned decode
    val exact = GraftEncoder.decode(SegmentStore.readSegmentsAll(spark, dir)).collect()
      .filter(_.tokens.exists(t => t >= lo && t <= hi)).map(_.doc_id).sorted.toSeq
    assert(rows.map(_.getString(0)).sorted === exact)
  }

  test("decode metrics: empty scan reports efficiency 1.0 (reference's div-by-zero stance)") {
    assert(graft.queries0.Encode.scanEfficiency(0L, 0L) === 1.0)
  }

  test("composed chunk predicates prune soundly (AND/OR of may-match is may-match)") {
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 5L)
    val dir = graftTable(input, buckets = 4, tokensPerChunk = 2048)
    val table = spark.read.format("graft").load(dir)
    val rare = expr("exists(tokens, x -> x >= 50000 AND x <= 50256)")
    val web = col("source") === "web"
    def emitted(c: Column): (Set[String], Long) = {
      val (rows, m) = ScanMetrics.collect(table.filter(c).select("doc_id"))
      (rows.map(_.getString(0)).toSet, m.getOrElse("graft rows emitted", 0L))
    }
    val all = input.collect()
    val (viaPruned, andEmitted) = emitted(rare && web)
    assert(andEmitted < all.length.toLong, "composition must prune")
    // soundness: every truly-matching row survives
    val exact = all
      .filter(r => r.source == "web" && r.tokens.exists(t => t >= 50000 && t <= 50256))
      .map(_.doc_id).toSet
    assert(viaPruned === exact)
    // OR prunes no more than either branch alone
    val (orRows, orEmitted) = emitted(rare || web)
    assert(orEmitted >= emitted(rare)._2)
    assert(orEmitted >= emitted(web)._2)
    assert(orRows === all
      .filter(r => r.source == "web" || r.tokens.exists(t => t >= 50000 && t <= 50256))
      .map(_.doc_id).toSet)
  }

  test("schema merge: appended nullable field unions; order is first-seen") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("n_tok", IntegerType, nullable = false)))
    val b = StructType(Seq(
      StructField("doc_id", StringType, nullable = true),
      StructField("extra", LongType, nullable = true)))
    val m = SchemaMerge.merge(Seq(a, b))
    assert(m.fieldNames.toSeq === Seq("doc_id", "n_tok", "extra"))
    assert(m("doc_id").nullable, "nullability must union")
    assert(!m("n_tok").nullable)
  }

  test("schema merge: type conflict fails fast naming the field") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("n_tok", IntegerType)))
    val b = StructType(Seq(StructField("n_tok", StringType)))
    val e = intercept[IllegalArgumentException](SchemaMerge.merge(Seq(a, b)))
    assert(e.getMessage.contains("n_tok"))
  }

  test("readMerged: two files with evolved schemas read as one table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString
    Seq(("a", 1)).toDF("doc_id", "n_tok").write.parquet(s"$dir/f1")
    Seq(("b", 2, "web")).toDF("doc_id", "n_tok", "source").write.parquet(s"$dir/f2")
    val df = SchemaMerge.readMerged(spark, Seq(s"$dir/f1", s"$dir/f2"))
    assert(df.schema.fieldNames.toSeq === Seq("doc_id", "n_tok", "source"))
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1), Option(r.getString(2))))
    assert(rows.toSet === Set(("a", 1, None), ("b", 2, Some("web"))))
  }

  test("bloom point-lookup decode: exact results, and the filter actually skips chunks") {
    import spark.implicits._
    // every doc spans [0, 50256] so token min/max can't discriminate; one
    // doc carries the probe token — only the chunk bloom tells them apart
    val probe = 49999
    val rows = (0 until 32).map { i =>
      val base = Array.tabulate(500)(j => (i * 13 + j * 3) % 800) :+ 50256 :+ 0
      val tokens = if (i == 9) base :+ probe else base
      TokenRow(f"doc_$i%04d", tokens, tokens.length, "s")
    }
    def table(buckets: Int) = spark.read.format("graft").load(
      graftTable(spark.createDataset(rows), buckets, tokensPerChunk = 2048,
        Map(GraftConf.BloomColumns -> "doc_id,tokens")))
    // one part-file: its file bloom holds the probe, so only the chunk
    // blooms can skip; exactness: survivors re-filtered by Spark
    val (hits, m) = ScanMetrics.collect(
      table(buckets = 1).filter(array_contains($"tokens", probe)).select("doc_id"))
    assert(hits.map(_.getString(0)) === Seq("doc_0009"))
    // the skip is real: the bloom-filtered scan decodes fewer docs than a
    // full scan (rows the scan emitted before Spark's exact re-filter)
    val decodedDocs = m.getOrElse("graft rows emitted", Long.MaxValue)
    assert(decodedDocs < 32L, s"bloom skipped nothing: decoded $decodedDocs of 32 docs")
    // doc_id point lookup on the hash layout (ranges overlap, blooms don't)
    val hashed = table(buckets = 4)
    val byId = hashed.filter($"doc_id" === "doc_0017").select("doc_id").collect()
    assert(byId.map(_.getString(0)).contains("doc_0017"))
    val (absent, mAbsent) = ScanMetrics.collect(hashed.filter($"doc_id" === "doc_0017x"))
    assert(absent.isEmpty && mAbsent.getOrElse("graft segments decoded", 0L) === 0L,
      s"absent mid-range key should decode nothing: $mAbsent")
  }
}
