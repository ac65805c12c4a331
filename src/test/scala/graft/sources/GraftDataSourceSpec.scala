package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftEncoder, TokenTables}
import graft.lineage.SegmentStore

/** The DSv2 connector contract: logical TokenRow schema over the physical
  * segment table, full-read equality with the engine decode, projection
  * pruning visible in the scan description, stats-based segment skipping
  * under pushed filters (inexact: Spark re-filters, results stay exact),
  * LIMIT pushdown with early-stopping readers, COUNT/MIN/MAX answered on
  * the driver from headers, token-range pushdown via the post-pushdown rule,
  * and per-query DSv2 custom metrics (no cross-query statics). */
class GraftDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-dsv2-spec").toString

  private lazy val bare: String = {
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    FlatSegments.flattenSegments(GraftEncoder.encode(input, buckets = 4))
      .write.parquet(s"$dir/segs")
    s"$dir/segs"
  }

  /** Range-clustered layout (the reference's `--sorted` analog): doc_id
    * ranges map to buckets so doc_id stats actually prune. */
  private lazy val clustered: String = {
    val dir = tmp()
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    val rangeBuckets = 8
    val bucketed = input.map { r =>
      val id = r.doc_id.filter(_.isDigit).toLong
      val b = math.min(rangeBuckets - 1, (id * rangeBuckets / 400L).toInt)
      graft.engine.BucketedRow(r.doc_id, r.tokens, r.n_tok, r.source, b)
    }
    FlatSegments.flattenSegments(
      GraftEncoder.encodeBucketed(bucketed, rangeBuckets, tokensPerChunk = 4096))
      .write.parquet(s"$dir/segs")
    s"$dir/segs"
  }

  /** `df` executes a graft scan (it was not answered from headers); the
    * walk sees through adaptive query execution. */
  private def scansGraft(df: DataFrame): Boolean = {
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Plans.collectFirst(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.isInstanceOf[GraftScan] => b
    }.isDefined
  }

  test("format(\"graft\") full read equals the engine decode (bare layout)") {
    import spark.implicits._
    val got = spark.read.format("graft").load(bare)
      .as[graft.engine.TokenRow].collect().map(r => r.doc_id -> r).toMap
    val exp = TokenTables.synthetic(spark, nDocs = 400, seed = 42L).collect()
    assert(got.size === exp.length)
    exp.foreach { e =>
      val g = got(e.doc_id)
      assert(g.tokens.sameElements(e.tokens) && g.n_tok == e.n_tok && g.source == e.source,
        s"mismatch for ${e.doc_id}")
    }
  }

  test("columnar scan plans ColumnarToRow, equals the generator") {
    import spark.implicits._
    val colDf = spark.read.format("graft").load(bare)
    colDf.collect()
    // the executed plan fuses the batches through ColumnarToRow into
    // whole-stage codegen
    assert(colDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "columnar read did not plan ColumnarToRow")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[graft.engine.TokenRow].collect()
        .map(r => (r.doc_id, r.tokens.toSeq, r.n_tok, r.source)).sortBy(_._1).toSeq
    val generated = key(TokenTables.synthetic(spark, nDocs = 400, seed = 42L).toDF())
    assert(key(colDf) === generated)
    // limit truncates the final batch without corrupting values
    val lim = spark.read.format("graft").load(bare).limit(7)
      .as[graft.engine.TokenRow].collect()
    assert(lim.length === 7)
    val exp = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .collect().map(r => r.doc_id -> r).toMap
    lim.foreach(g => assert(g.tokens.sameElements(exp(g.doc_id).tokens)))
    // filters stay exact through the columnar residual re-filter
    val f = spark.read.format("graft").load(bare).filter($"n_tok" > 100)
    assert(key(f) === generated.filter(_._3 > 100))
  }

  test("batchRows slices segments into bounded batches; results stay exact") {
    import spark.implicits._
    def key(df: org.apache.spark.sql.DataFrame) =
      df.as[graft.engine.TokenRow].collect()
        .map(r => (r.doc_id, r.tokens.toSeq, r.n_tok, r.source)).sortBy(_._1).toSeq
    val whole = key(spark.read.format("graft").load(bare))
    // tiny cap: every multi-row segment must split, values must not shift
    val sliced = spark.read.format("graft").option("batchRows", "3").load(bare)
    assert(key(sliced) === whole)
    // slicing composes with a pushed limit and with filters
    val lim = spark.read.format("graft").option("batchRows", "3").load(bare)
      .limit(7).as[graft.engine.TokenRow].collect()
    assert(lim.length === 7)
    val exp = whole.map(t => t._1 -> t).toMap
    lim.foreach(g => assert(g.tokens.toSeq === exp(g.doc_id)._2))
    val filtered = key(spark.read.format("graft").option("batchRows", "5").load(bare)
      .filter($"n_tok" > 100))
    assert(filtered === whole.filter(_._3 > 100))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("batchRows", "0").load(bare).collect()
    }
    // session-conf default form; the per-read option wins over it
    spark.conf.set(GraftScan.BatchRowsConf, "4")
    try {
      assert(key(spark.read.format("graft").load(bare)) === whole)
      assert(key(spark.read.format("graft").option("batchRows", "2").load(bare)) === whole)
    } finally spark.conf.unset(GraftScan.BatchRowsConf)
  }

  test("SegmentStore layout reads ONLY ledger-committed partitions") {
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 200, seed = 7L)
    SegmentStore.encodeCommit(input, dir, snapshotId = 1L, buckets = 4)
    val df = spark.read.format("graft").load(dir)
    assert(df.count() === 200L)
    assert(df.select("doc_id").distinct().count() === 200L)
    // crash-window data: a bucket written WITHOUT a ledger commit must stay
    // invisible (read-committed), and not double-count rows
    val orphan = TokenTables.synthetic(spark, nDocs = 50, seed = 9L)
    FlatSegments.flattenSegments(GraftEncoder.encode(orphan, buckets = 1)).drop("bucket")
      .write.mode("append").parquet(s"$dir/data/snapshotId=99/bucket=0")
    assert(spark.read.format("graft").load(dir).count() === 200L,
      "uncommitted snapshot leaked into the scan")
  }

  test("projection pushdown reaches the scan (ReadSchema pruned); COUNT(*) decodes nothing") {
    val df = spark.read.format("graft").load(bare).select("doc_id", "n_tok")
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("ReadSchema: struct<doc_id:string,n_tok:int>"), desc)
    assert(df.count() === 400L)
    assert(spark.read.format("graft").load(bare).count() === 400L)
  }

  test("pushed stats prune segments on a range-clustered table; results stay exact") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    val target = input.collect().head.doc_id
    val lookup = spark.read.format("graft").load(clustered).filter($"doc_id" === target)
    val (rows, m) = ScanMetrics.collect(lookup)
    assert(rows.length === 1 && rows.head.getString(0) === target)
    assert(ScanMetrics.segmentsPrunedBy(lookup, m, "graft segments pruned (filter stats)") > 0L,
      s"expected pruned segments, metrics=$m")
    // the plan advertises the negotiation
    val desc = spark.read.format("graft").load(clustered)
      .filter($"doc_id" === target).queryExecution.executedPlan.toString
    assert(desc.contains("PushedFilters: [EqualTo(doc_id,"), desc)
    // and Spark re-filters exactly: n_tok range filter over hash buckets
    val exact = spark.read.format("graft").load(bare)
      .filter($"n_tok" > 1000).count()
    val expected = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .filter(_.n_tok > 1000).count()
    assert(exact === expected)
  }

  test("scan reports header-derived statistics; small graft tables broadcast in joins") {
    import spark.implicits._
    val stats = spark.read.format("graft").load(bare)
      .queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 100L * 1024 * 1024,
      s"stats=${stats.sizeInBytes}")
    // exact row count from the segment headers reaches the optimizer
    assert(stats.rowCount.contains(BigInt(400)), s"rowCount=${stats.rowCount}")
    // a projection skipping `tokens` drops the estimate to the metadata streams
    val slim = spark.read.format("graft").load(bare).select("doc_id", "n_tok")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(slim * 5 < stats.sizeInBytes,
      s"projected estimate $slim not ~90% below full $stats")
    val big = spark.range(100000).select($"id".cast("string").as("doc_id"))
    val joined = big.join(spark.read.format("graft").load(bare).select("doc_id", "n_tok"), "doc_id")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"graft side not broadcast:\n$plan")
  }

  test("OR of point lookups composes under may-match pruning (predicate-tree conversion)") {
    import spark.implicits._
    val ids = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .collect().map(_.doc_id).sorted
    val (a, b) = (ids.head, ids.last)
    val either = spark.read.format("graft").load(clustered)
      .filter($"doc_id" === a || $"doc_id" === b)
    val (rows, m) = ScanMetrics.collect(either)
    assert(rows.map(_.getString(0)).toSet === Set(a, b))
    assert(ScanMetrics.segmentsPrunedBy(either, m, "graft segments pruned (filter stats)") > 0L,
      "OR of two point lookups must still prune middle segments")

    // IN-list prunes like OR-of-equalities
    val in = spark.read.format("graft").load(clustered).filter($"doc_id".isin(a, b))
    val (inRows, m2) = ScanMetrics.collect(in)
    assert(inRows.map(_.getString(0)).toSet === Set(a, b))
    assert(ScanMetrics.segmentsPrunedBy(in, m2, "graft segments pruned (filter stats)") > 0L,
      "IN-list must prune")
  }

  test("COUNT(*) pushes to segment headers (no decode, payload pages unread)") {
    import spark.implicits._
    val df = spark.read.format("graft").load(bare)
    val counted = df.agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
    val (rows, m) = ScanMetrics.collect(counted)
    assert(rows.head.getLong(0) === 400L)
    val plan = counted.queryExecution.executedPlan
    assert(GraftStatsAggPushdown.answeredOnDriver(plan), s"count not answered from headers:\n$plan")
    assert(m.getOrElse("graft segments decoded", 0L) === 0L,
      s"header count must not run the row-decoding reader: $m")
    // a filtered count must NOT fold (we always re-filter residually) and stays exact
    val filtered = df.filter($"n_tok" > 1000).agg(
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
    assert(scansGraft(filtered))
    val expected = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .filter(_.n_tok > 1000).count()
    assert(filtered.collect()(0).getLong(0) === expected)
  }

  test("MIN/MAX push to segment-header stats (int and string, no row decode)") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft").load(bare)
    val fused = df.agg(min("n_tok"), max("n_tok"), min("doc_id"), max("source"), count(lit(1)))
    val plan = fused.queryExecution.executedPlan
    assert(GraftStatsAggPushdown.answeredOnDriver(plan), s"min/max not answered from headers:\n$plan")
    val (rows, m) = ScanMetrics.collect(fused)
    assert(m.getOrElse("graft segments decoded", 0L) === 0L,
      s"pushed min/max must not decode rows: $m")
    // values equal the unfused query (computed through the row-decoding path)
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L).collect()
    assert(rows.head.getInt(0) === input.map(_.n_tok).min)
    assert(rows.head.getInt(1) === input.map(_.n_tok).max)
    assert(rows.head.getString(2) === input.map(_.doc_id).min)
    assert(rows.head.getString(3) === input.map(_.source).max)
    assert(rows.head.getLong(4) === 400L)
    // an avg blocks the fold (not answerable from headers) and stays exact
    val mixed = df.agg(min("n_tok"), avg("n_tok"))
    assert(scansGraft(mixed))
    assert(mixed.collect()(0).getInt(0) === input.map(_.n_tok).min)
  }

  test("LIMIT pushdown: readers stop early, partitions past the limit unplanned") {
    val df = spark.read.format("graft").load(bare).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 5"), s"limit not pushed:\n$plan")
    val (rows, m) = ScanMetrics.collect(df)
    assert(rows.length === 5)
    val totalSegments = spark.read.parquet(bare).count()
    assert(m.getOrElse("graft segments decoded", Long.MaxValue) < totalSegments,
      s"limit must stop before decoding all $totalSegments segments: $m")
    assert(m.getOrElse("graft rows emitted", Long.MaxValue) < 400L,
      s"limit must stop before emitting the whole table: $m")
    // a filter keeps every partition planned (pruning is reader-side) but
    // the per-reader row cap still applies and results stay exact
    import spark.implicits._
    val lim = spark.read.format("graft").load(bare)
      .filter($"n_tok" >= 8).limit(3).collect()
    assert(lim.length === 3)
  }

  test("token-range pushdown: array predicates reach the tokens-chunk min/max skip") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (lo, hi) = (50250, 50256) // rare top-of-vocab band in the zipf mixture
    val exists = spark.read.format("graft").load(clustered)
      .filter(expr(s"exists(tokens, x -> x >= $lo AND x <= $hi)"))
    val plan = exists.queryExecution.executedPlan.toString
    assert(plan.contains(s"PushedTokenRange: [$lo, $hi]"), s"range not pushed:\n$plan")
    val (rows, m) = ScanMetrics.collect(exists)
    assert(ScanMetrics.segmentsPrunedBy(exists, m, "graft segments pruned (token range)") > 0L,
      s"zipf layout must let the token range prune segments: $m")
    // exactness: residual re-filter keeps only true matches
    val expected = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .collect().filter(_.tokens.exists(t => t >= lo && t <= hi)).map(_.doc_id).toSet
    assert(rows.map(_.getString(0)).toSet === expected)

    // array_contains pins a point range and composes with other conjuncts
    val contains = spark.read.format("graft").load(clustered)
      .filter(array_contains($"tokens", 50256) && $"n_tok" >= 8)
    val plan2 = contains.queryExecution.executedPlan.toString
    assert(plan2.contains("PushedTokenRange: [50256, 50256]"), plan2)
    val expected2 = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .collect().filter(r => r.tokens.contains(50256) && r.n_tok >= 8).map(_.doc_id).toSet
    assert(contains.collect().map(_.getString(0)).toSet === expected2)
  }

  test("element predicates on LIST metadata columns prune via element stats " +
    "(tokens skip generalized, round-5 item 2)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      // tags correlate with doc_id, so the sorted chunks carry tight
      // element ranges — the layout where element stats actually prune
      .withColumn("d", expr("cast(substring(doc_id, 5) as int)"))
      .withColumn("tags", array($"d" * 10, $"d" * 10 + 1))
      .drop("d")
    input.write.format("graft").option("buckets", "4")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    // array_contains -> point + degenerate range on the tags element stream
    val q = table.filter(array_contains($"tags", 2000))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedElemRanges: [tags:[2000, 2000]]"), s"no elem range:\n$plan")
    assert(plan.contains("PushedElemPoints: [tags:[2000]]"), s"no elem point:\n$plan")
    val (rows, m) = ScanMetrics.collect(q.select("doc_id"))
    assert(rows.map(_.getString(0)).toSeq === Seq("doc_000000000200"))
    // the element predicate is checked against the tags stat columns
    // before any payload is read: a full scan decodes every segment, this
    // must decode fewer than half and count the rest as pruned
    val totalSegments = spark.read.parquet(s"$dir/data").count()
    val decoded = m.getOrElse("graft segments decoded", Long.MaxValue)
    assert(decoded < totalSegments / 2,
      s"element predicate must skip most of the $totalSegments segments: $m")
    assert(ScanMetrics.segmentsPrunedBy(q.select("doc_id"), m,
      "graft segments pruned (token range)") > totalSegments / 2, s"$m")
    // exists with bounds -> interval on the element stream
    val r = table.filter(expr("exists(tags, x -> x >= 3000 and x <= 3010)"))
    val plan2 = r.queryExecution.executedPlan.toString
    assert(plan2.contains("PushedElemRanges: [tags:[3000, 3010]]"), plan2)
    assert(r.select("doc_id").collect().map(_.getString(0)).sorted.toSeq ===
      Seq("doc_000000000300", "doc_000000000301"))
    // tokens predicates still ride their dedicated slot alongside
    val both = table.filter(array_contains($"tags", 2000) &&
      expr("exists(tokens, x -> x >= 0)"))
    val plan3 = both.queryExecution.executedPlan.toString
    assert(plan3.contains("PushedTokenRange:") && plan3.contains("PushedElemRanges:"), plan3)
    assert(both.select("doc_id").collect().map(_.getString(0)).toSeq ===
      Seq("doc_000000000200"))
  }

  test("MAP metadata columns round-trip through both readers " +
    "(two LENGTH-framed pseudo-lists per map; map_list fixture analog)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 200, seed = 42L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      // NULL map every 4th row; NULL 'tier' VALUE every 5th (value
      // PRESENT framing inside the values pseudo-list)
      .withColumn("attrs", when($"n_tok" % 4 =!= 0,
        map(lit("lang"), concat(lit("l"), ($"n_tok" % 3).cast("string")),
          lit("tier"), when($"n_tok" % 5 =!= 0,
            concat(lit("t"), ($"n_tok" % 2).cast("string"))))))
      .withColumn("scores", when($"n_tok" % 7 =!= 0,
        map(lit("views"), $"n_tok".cast("long") * 3L,
          lit("mod"), ($"n_tok" % 13).cast("long"))))
    input.write.format("graft").option("buckets", "4")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    // the map expands to exactly four streams on disk, none named after
    // the map itself
    val streams = MetaColumns.streamsFor(
      StructField("attrs", MapType(StringType, StringType, valueContainsNull = true)))
    assert(streams === Seq("attrs__k", "attrs__k__len", "attrs__v", "attrs__v__len"))
    val table = spark.read.format("graft").load(dir)
    // valueContainsNull follows the input's value nullability — pin the
    // key/value types only
    assert((table.schema("attrs").dataType, table.schema("scores").dataType) match {
      case (MapType(StringType, StringType, _), MapType(StringType, LongType, _)) => true
      case other => fail(s"map schema mismatch: $other")
    })
    val dec = table.toDF("doc_id", "tokens_d", "n_tok_d", "source_d",
      "attrs_d", "scores_d")
    def entries(c: org.apache.spark.sql.Column) = sort_array(map_entries(c))
    val bad = input.join(dec, Seq("doc_id"), "full_outer")
      .filter(!(entries($"attrs") <=> entries($"attrs_d") &&
        entries($"scores") <=> entries($"scores_d") &&
        $"tokens" <=> $"tokens_d"))
      .count()
    assert(bad === 0L, s"$bad rows mismatched after round-trip")
    // NULL-value rows decode as present-key/null-value, not dropped keys
    val tierNull = table.filter($"attrs".isNotNull &&
      element_at($"attrs", "tier").isNull).count()
    val expectTierNull = input.filter($"attrs".isNotNull &&
      element_at($"attrs", "tier").isNull).count()
    assert(tierNull === expectTierNull && expectTierNull > 0L)
  }

  test("STRUCT metadata columns round-trip through both readers " +
    "(presence stream + per-member pseudo-streams; lib.rs:156 STRUCT row)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 200, seed = 42L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      // NULL struct every 4th row; NULL 'score' MEMBER every 5th row
      .withColumn("info", when($"n_tok" % 4 =!= 0, struct(
        when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 5.0).as("score"),
        ($"n_tok" * 7).cast("decimal(15,5)").as("price"),
        concat(lit("k"), ($"n_tok" % 3).cast("string")).as("kind"))))
    input.write.format("graft").option("buckets", "4")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    assert(table.schema("info").dataType match {
      case StructType(Array(
        StructField("score", DoubleType, _, _),
        StructField("price", _: DecimalType, _, _),
        StructField("kind", StringType, _, _))) => true
      case other => fail(s"struct schema mismatch: $other")
    })
    val dec = table.toDF("doc_id", "tokens_d", "n_tok_d", "source_d", "info_d")
    val bad = input.join(dec, Seq("doc_id"), "full_outer")
      .filter(!($"info" <=> $"info_d" && $"tokens" <=> $"tokens_d"))
      .count()
    assert(bad === 0L, s"$bad rows mismatched after round-trip")
    // NULL-member rows decode as struct-present/member-null, not null structs
    val scoreNull = table.filter($"info".isNotNull && $"info.score".isNull).count()
    val expectScoreNull = input.filter($"info".isNotNull && $"info.score".isNull).count()
    assert(scoreNull === expectScoreNull && expectScoreNull > 0L)
    val nullStructs = table.filter($"info".isNull).count()
    assert(nullStructs === input.filter($"info".isNull).count() && nullStructs > 0L)
  }

  test("NESTED projection pruning: a struct member subset reads only its " +
    "member streams (reference README.md:96, planned there, built here)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmp()
    // 'blob' is deliberately fat so skipping its stream is measurable
    val input = TokenTables.synthetic(spark, nDocs = 300, seed = 7L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("info", when($"n_tok" % 4 =!= 0, struct(
        when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 5.0).as("score"),
        sha2(concat($"doc_id", lit("pad"), $"n_tok".cast("string")), 512).as("blob"),
        concat(lit("k"), ($"n_tok" % 3).cast("string")).as("kind"))))
    input.write.format("graft").option("buckets", "4")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    val pruned = table.select($"doc_id", $"info.score".as("score"))
    val plan = pruned.queryExecution.executedPlan.toString
    // the scan schema carries ONLY the projected member
    assert(plan.contains("struct<score:double>") && !plan.contains("blob"),
      s"member subset not pruned in scan schema:\n$plan")
    val (rows, m) = ScanMetrics.collect(pruned)
    // whole-struct projection (nothing to prune) as the byte baseline
    val (fullRows, mFull) = ScanMetrics.collect(table.select($"doc_id", $"info"))
    val expect = input.select($"doc_id", $"info.score".as("score"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(rows.length === 300 && fullRows.length === 300)
    rows.foreach(r => assert(expect(r.getString(0)) === Option(r.get(1))))
    // and the pruned scan decodes strictly fewer payload bytes than the
    // full-struct scan (the blob + kind + __p-only delta)
    val bPruned = m.getOrElse("graft payload bytes decoded", Long.MaxValue)
    val bFull = mFull.getOrElse("graft payload bytes decoded", 0L)
    assert(bPruned < bFull,
      s"pruned=$bPruned full=$bFull — member streams not skipped")
  }

  test("column-level min/max/null statistics reach Catalyst " +
    "(the reference's metadata.rs:62-63 TODO, closed Spark-side)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import spark.implicits._
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 250, seed = 11L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("score", when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 5.0))
      .withColumn("ts", timestamp_seconds(
        unix_timestamp(to_timestamp(lit("2024-03-01 00:00:00"))) + $"n_tok"))
    input.write.format("graft").option("buckets", "4")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val df = spark.read.format("graft").load(dir)
    val rel = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r
    }.head
    val stats = rel.stats
    assert(stats.rowCount.contains(BigInt(250)))
    val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
    // exact min/max for the int column, straight from the headers
    val exp = input.agg(min($"n_tok"), max($"n_tok"),
      min($"score"), max($"score"), sum(when($"score".isNull, 1).otherwise(0)),
      min($"ts"), max($"ts")).collect().head
    val nTok = byName("n_tok")
    assert(nTok.min.contains(exp.getInt(0)) && nTok.max.contains(exp.getInt(1)))
    assert(nTok.nullCount.contains(BigInt(0)))
    // nullable double: bits-bijection inverted back to the exact values
    val score = byName("score")
    assert(score.min.contains(exp.getDouble(2)) && score.max.contains(exp.getDouble(3)))
    assert(score.nullCount.contains(BigInt(exp.getLong(4))))
    // timestamps fold in micros (Catalyst internal representation)
    val ts = byName("ts")
    val toMicros = (t: java.sql.Timestamp) =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    assert(ts.min.contains(toMicros(exp.getTimestamp(5))) &&
      ts.max.contains(toMicros(exp.getTimestamp(6))))
    // strings carry exact null counts + measured average length, no min/max
    val docId = byName("doc_id")
    assert(docId.nullCount.contains(BigInt(0)) && docId.avgLen.exists(_ >= 1L))
    assert(docId.min.isEmpty && docId.max.isEmpty)
    // and CBO consumes them: filter selectivity shrinks the estimate
    withCbo {
      val filtered = spark.read.format("graft").load(dir).filter($"n_tok" > 1000000)
      val est = filtered.queryExecution.optimizedPlan.stats.rowCount
      assert(est.exists(_ < BigInt(250)),
        s"CBO did not use column stats for selectivity: $est")
    }
  }

  private def withCbo[A](body: => A): A = {
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try body finally prev match {
      case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
      case None => spark.conf.unset("spark.sql.cbo.enabled")
    }
  }

  test("pushdown kill switches: identical results, pruning provably off " +
    "(orc.pushdown_predicate analog, options.rs:34)") {
    import spark.implicits._
    val q = (d: DataFrame) => d.filter($"doc_id" === "doc_000000000200")
    val expected = q(spark.read.format("graft").load(bare)).collect().toSeq
    // per-read option: pushdown off -> no pushed filters, nothing pruned
    val off = q(spark.read.format("graft").option("pushdown", "false").load(bare))
    val planOff = off.queryExecution.executedPlan.toString
    assert(planOff.contains("PushedFilters: []"), s"pushdown still on:\n$planOff")
    val (rowsOff, mOff) = ScanMetrics.collect(off)
    assert(rowsOff === expected, "results must be identical with pushdown off")
    assert(mOff.getOrElse("graft segments pruned (filter stats)", -1L) === 0L &&
      mOff.getOrElse("graft segments pruned (bloom)", -1L) === 0L &&
      mOff.getOrElse("graft files pruned (planning)", -1L) === 0L,
      s"pushdown off must prune nothing: $mOff")
    // bloom off (stats stay on): same results, zero bloom prunes, and the
    // hash layout means stats alone can't prune this mid-range point
    val noBloom = q(spark.read.format("graft").option("bloom", "false").load(bare))
    val (rowsNb, mNb) = ScanMetrics.collect(noBloom)
    assert(rowsNb === expected)
    assert(mNb.getOrElse("graft segments pruned (bloom)", -1L) === 0L,
      s"bloom off must not bloom-prune: $mNb")
    // session-conf defaults drive the same switches
    spark.conf.set(GraftScan.PushdownConf, "false")
    try {
      val conf = q(spark.read.format("graft").load(bare))
      assert(conf.queryExecution.executedPlan.toString.contains("PushedFilters: []"))
      assert(conf.collect().toSeq === expected)
    } finally spark.conf.unset(GraftScan.PushdownConf)
    // limitPlanning off: LIMIT still correct, but every file stays planned
    val lim = spark.read.format("graft").option("limitPlanning", "false")
      .load(bare).limit(5)
    val (rowsLim, mLim) = ScanMetrics.collect(lim)
    assert(rowsLim.length === 5)
    val allFiles = new java.io.File(bare).listFiles().count(_.getName.endsWith(".parquet"))
    assert(mLim.getOrElse("graft files planned", -1L) === allFiles.toLong,
      s"limitPlanning off must plan all $allFiles files: $mLim")
  }

  test("LIKE 'prefix%' prunes via string min/max (range layout); " +
    "<=> normalizes to =/IS NULL and prunes; results stay exact") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    // ids 30..39 live in range-bucket 0 of `clustered` — every other
    // bucket's [minS, maxS] lies outside the prefix interval
    val pre = "doc_00000000003"
    val (rows, m) = ScanMetrics.collect(
      spark.read.format("graft").load(clustered).filter($"doc_id".startsWith(pre)))
    val expect = input.filter(_.doc_id.startsWith(pre)).collect().map(_.doc_id).toSet
    assert(rows.map(_.getString(0)).toSet === expect && expect.size === 10)
    assert(m.getOrElse("graft segments pruned (filter stats)", 0L) +
      m.getOrElse("graft files pruned (planning)", 0L) > 0L,
      s"prefix predicate pruned nothing: $m")
    val desc = spark.read.format("graft").load(clustered)
      .filter($"doc_id".startsWith(pre)).queryExecution.executedPlan.toString
    assert(desc.contains("StringStartsWith(doc_id"), desc)
    // a prefix stored nowhere prunes every stats-bearing file at planning
    // (the fixture's one EMPTY part-file has no stats and soundly answers
    // may-match — absent stats never prune)
    val (none, mNone) = ScanMetrics.collect(
      spark.read.format("graft").load(clustered).filter($"doc_id".startsWith("zzz")))
    assert(none.isEmpty && mNone.getOrElse("graft files planned", -1L) <= 1L &&
      mNone.getOrElse("graft files pruned (planning)", 0L) >= 5L,
      s"absent prefix should prune all stats-bearing files: $mNone")
    // null-safe equality: non-null value prunes like EqualTo
    val target = input.collect().head.doc_id
    val (eqRows, mEq) = ScanMetrics.collect(
      spark.read.format("graft").load(clustered).filter($"doc_id" <=> target))
    assert(eqRows.length === 1 && eqRows.head.getString(0) === target)
    assert(mEq.getOrElse("graft segments pruned (filter stats)", 0L) +
      mEq.getOrElse("graft files pruned (planning)", 0L) > 0L, s"<=> pruned nothing: $mEq")
    // <=> NULL on a non-nullable canonical column plans zero files
    val (nullRows, mNull) = ScanMetrics.collect(
      spark.read.format("graft").load(clustered)
        .filter($"doc_id" <=> (null: String)))
    assert(nullRows.isEmpty)
    // on a NULLABLE metadata column the optimizer keeps EqualNullSafe:
    // <=> v pushes (normalized to =), <=> NULL counts exactly the nulls
    import org.apache.spark.sql.functions.{concat, lit, when}
    val dir2 = tmp()
    val in2 = input.toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("lang", when($"n_tok" % 3 =!= 0,
        concat(lit("l"), ($"n_tok" % 4).cast("string"))))
    in2.write.format("graft").option("buckets", "4")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir2)
    val t2 = spark.read.format("graft").load(dir2)
    val q2 = t2.filter($"lang" <=> "l1")
    // the plan shows the NORMALIZED push: <=> v became EqualTo at plan time
    assert(q2.queryExecution.executedPlan.toString.contains("EqualTo(lang,l1)"),
      q2.queryExecution.executedPlan.toString)
    assert(q2.count() === in2.filter($"lang" <=> "l1").count())
    assert(t2.filter($"lang" <=> (null: String)).count() ===
      in2.filter($"lang".isNull).count())
  }

  test("doc_id point lookup prunes via the chunk bloom where min/max cannot (hash layout)") {
    import spark.implicits._
    // `bare` is hash-bucketed: each chunk holds a random ~quarter of the
    // sequential ids, so a MID-RANGE point lookup falls inside ~every
    // chunk's doc_id [min,max] and interval stats prune it ~never — the
    // exact gap the default doc_id bloom (ORC BLOOM_FILTER analog) closes.
    val target = "doc_000000000200"
    val (rows, m) = ScanMetrics.collect(
      spark.read.format("graft").load(bare).filter($"doc_id" === target))
    assert(rows.length === 1 && rows.head.getString(0) === target)
    assert(m.getOrElse("graft segments pruned (bloom)", 0L) > 0L,
      s"expected bloom-pruned segments on the hash layout, metrics=$m")
    // absent mid-range key (sorts between two live ids, inside chunk
    // ranges): bloom prunes everything, zero rows, zero decodes
    val (none, m2) = ScanMetrics.collect(
      spark.read.format("graft").load(bare).filter($"doc_id" === "doc_000000000200x"))
    assert(none.isEmpty)
    assert(m2.getOrElse("graft segments decoded", Long.MaxValue) === 0L,
      s"absent-key lookup should decode nothing: $m2")
  }

  test("tokens bloom (opt-in) prunes array_contains point lookups min/max cannot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // every doc spans the full token range [0, 50256] (min/max useless);
    // exactly one doc contains the probe token 49999 — only the bloom can
    // tell the chunks apart
    val probe = 49999
    val rows = (0 until 64).map { i =>
      val base = Array.tabulate(1000)(j => (i * 31 + j * 7) % 1000) :+ 50256 :+ 0
      val tokens = if (i == 17) base :+ probe else base
      graft.engine.TokenRow(f"doc_$i%04d", tokens, tokens.length, "s")
    }
    val dir = tmp()
    val conf = graft.codec.CodecConf(bloomColumns = Set("doc_id", "tokens"))
    FlatSegments.flattenSegments(GraftEncoder.encode(spark.createDataset(rows), buckets = 8,
      tokensPerChunk = 4096, codecConf = conf)).write.parquet(s"$dir/segs")
    val df = spark.read.format("graft").load(s"$dir/segs")
      .filter(array_contains($"tokens", probe))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains(s"PushedTokenRange: [$probe, $probe]"), plan)
    val (got, m) = ScanMetrics.collect(df)
    assert(got.map(_.getString(0)) === Seq("doc_0017"))
    assert(m.getOrElse("graft segments pruned (bloom)", 0L) > 0L,
      s"expected tokens-bloom pruning, metrics=$m")
    assert(m.getOrElse("graft segments pruned (token range)", 0L) === 0L,
      s"min/max must NOT be the discriminator in this layout: $m")
    // without the opt-in, the same lookup decodes every segment (correct,
    // just unpruned) — pinning that the knob is the difference
    val dir2 = tmp()
    FlatSegments.flattenSegments(GraftEncoder.encode(spark.createDataset(rows), buckets = 8,
      tokensPerChunk = 4096)).write.parquet(s"$dir2/segs")
    val (got2, m2) = ScanMetrics.collect(
      spark.read.format("graft").load(s"$dir2/segs")
        .filter(array_contains($"tokens", probe)))
    assert(got2.map(_.getString(0)) === Seq("doc_0017"))
    assert(m2.getOrElse("graft segments pruned (bloom)", 0L) === 0L, s"$m2")
  }

  test("degenerate intersected range never bloom-prunes: x>=7 AND x<=7 is not array_contains(7)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one doc whose tokens STRADDLE 7 without containing it: it satisfies
    // exists(x -> x >= 7) AND exists(x -> x <= 7) but a bloom test for
    // literal 7 would wrongly prune its segment
    val rows = Seq(
      graft.engine.TokenRow("d1", Array(5, 9), 2, "s"),
      graft.engine.TokenRow("d2", Array(7, 8), 2, "s"),
      graft.engine.TokenRow("d3", Array(1, 2), 2, "s"))
    val dir = tmp()
    val conf = graft.codec.CodecConf(bloomColumns = Set("doc_id", "tokens"))
    FlatSegments.flattenSegments(GraftEncoder.encode(spark.createDataset(rows), buckets = 2,
      tokensPerChunk = 4, codecConf = conf)).write.parquet(s"$dir/segs")
    val df = spark.read.format("graft").load(s"$dir/segs")
      .filter(expr("exists(tokens, x -> x >= 7)") && expr("exists(tokens, x -> x <= 7)"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTokenRange: [7, 7]"), plan)
    assert(!plan.contains("PushedTokenPoints"),
      s"no conjunct REQUIRES token 7 — a point push here would be unsound:\n$plan")
    assert(df.collect().map(_.getString(0)).toSet === Set("d1", "d2"),
      "the straddling doc must survive (bloom may only prune true point predicates)")
    // and a REAL point predicate still prunes via the bloom
    val p = spark.read.format("graft").load(s"$dir/segs")
      .filter(array_contains($"tokens", 7))
    assert(p.queryExecution.executedPlan.toString.contains("PushedTokenPoints: [7]"))
    assert(p.collect().map(_.getString(0)).toSeq === Seq("d2"))
  }

  test("file-level pruning: non-matching part-files are never planned as tasks") {
    import spark.implicits._
    // `clustered` holds 8 part-files, each one doc_id range — a point
    // lookup must prune 7 of them AT PLANNING (no task scheduled), visible
    // via the driver metrics
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    val target = input.collect()(123).doc_id
    val (rows, m) = ScanMetrics.collect(
      spark.read.format("graft").load(clustered).filter($"doc_id" === target))
    assert(rows.length === 1 && rows.head.getString(0) === target)
    assert(m.getOrElse("graft files pruned (planning)", 0L) > 0L,
      s"expected planning-time file pruning on the range layout: $m")
    assert(m.getOrElse("graft files planned", 0L) >= 1L,
      s"the matching file must still be planned: $m")
    // unfiltered scan plans every file, prunes none
    val (_, m2) = ScanMetrics.collect(spark.read.format("graft").load(clustered))
    assert(m2.getOrElse("graft files pruned (planning)", -1L) === 0L, s"$m2")
  }

  test("runtime V2 filtering: join-derived IN sets prune files and segments") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => VPredicate}
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    val target = input.collect()(207).doc_id
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    // the execution-time contract Spark drives: filter() arrives, partitions
    // are re-planned, non-matching files disappear
    val scan = new GraftScan(clustered, GraftTable.TokenSchema,
      Array.empty, None, None, hconf)
    val before = scan.planInputPartitions().length
    scan.filter(Array(new VPredicate("IN",
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("doc_id"), Expressions.literal(target)))))
    val after = scan.planInputPartitions().length
    assert(after < before, s"runtime IN must prune part-files: $before -> $after")
    // results stay exact end-to-end through a selective join (runtime
    // filters only narrow the probe side; the join re-checks keys)
    val dim = Seq(target).toDF("doc_id")
    val joined = spark.read.format("graft").load(clustered)
      .join(dim, Seq("doc_id")).select($"doc_id", $"n_tok")
    assert(joined.collect().map(_.getString(0)).toSeq === Seq(target))
    // unconvertible predicates are dropped, not thrown
    scan.filter(Array(new VPredicate("ALWAYS_TRUE",
      Array.empty[org.apache.spark.sql.connector.expressions.Expression])))
    assert(scan.planInputPartitions().length === before)
  }

  test("dynamic pruning end-to-end: Spark injects the runtime IN filter, files prune at execution") {
    import spark.implicits._
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    val rangeBuckets = 8
    val bucketed = input.map { r =>
      val id = r.doc_id.filter(_.isDigit).toLong
      val b = math.min(rangeBuckets - 1, (id * rangeBuckets / 400L).toInt)
      graft.engine.BucketedRow(r.doc_id, r.tokens, r.n_tok, r.source, b)
    }
    FlatSegments.flattenSegments(
      GraftEncoder.encodeBucketed(bucketed, rangeBuckets, tokensPerChunk = 4096))
      .write.parquet(s"$dir/segs")
    // dim categories are CONTIGUOUS id ranges (cat = id / 50), so a
    // selective dim filter maps to one range bucket = one part-file
    val dim = (0 until 400).map(i => (f"doc_$i%012d", i / 50)).toDF("doc_id", "cat")
    dim.write.parquet(s"$dir/dim")
    val fact = spark.read.format("graft").load(s"$dir/segs")
    val sel = spark.read.parquet(s"$dir/dim").filter($"cat" === 3)
    val j = fact.join(sel, Seq("doc_id")).select($"doc_id", $"n_tok", $"cat")
    val (rows, m) = ScanMetrics.collect(j)
    assert(rows.length === 50)
    assert(rows.forall(_.getInt(2) === 3))
    // Spark planned the dynamic filter onto OUR scan...
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruningexpression(doc_id"),
      s"no dynamic pruning on the graft scan:\n${plan.take(2000)}")
    // ...and at execution it reached planInputPartitions: non-matching
    // part-files were never scheduled
    assert(m.getOrElse("graft files pruned (planning)", 0L) > 0L,
      s"join-derived runtime filter pruned no files: $m")
  }

  test("snapshotId time travel: as-of reads see exactly the committed prefix") {
    import spark.implicits._
    val dir = tmp()
    val a = TokenTables.synthetic(spark, nDocs = 100, seed = 1L)
    val b = TokenTables.synthetic(spark, nDocs = 60, seed = 2L)
      .map(r => r.copy(doc_id = "b_" + r.doc_id))
    a.toDF("doc_id", "tokens", "n_tok", "source").write.format("graft")
      .option("buckets", "2").mode("append").save(dir)
    b.toDF("doc_id", "tokens", "n_tok", "source").write.format("graft")
      .option("buckets", "2").mode("append").save(dir)
    val full = spark.read.format("graft").load(dir)
    assert(full.count() === 160L)
    val asOf1 = spark.read.format("graft").option("snapshotId", "1").load(dir)
    assert(asOf1.queryExecution.executedPlan.toString.contains("AsOfSnapshot: 1"))
    assert(asOf1.count() === 100L)
    assert(asOf1.filter($"doc_id".startsWith("b_")).count() === 0L,
      "snapshot 2 rows leaked into the as-of-1 read")
    assert(spark.read.format("graft").option("snapshotId", "2").load(dir).count() === 160L)
    // snapshot 0 predates every commit: empty, not an error
    assert(spark.read.format("graft").option("snapshotId", "0").load(dir).count() === 0L)
    // aggregate pushdown respects the bound too (header sums as-of)
    val cnt = asOf1.agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1))).collect()(0).getLong(0)
    assert(cnt === 100L)
    // bare layout has no history: fail fast, naming the problem
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("snapshotId", "1").load(bare).count()
    }
    assert(e.getMessage.contains("lineage ledger"))
  }

  test("token-element MIN/MAX fold to segment headers (GraftStatsAggPushdown)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_max, array_min, count, lit, max, min}
    val df = spark.read.format("graft").load(bare)
    // ground truth from the generator
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L).collect()
    val fused = df.agg(
      min(array_min($"tokens")).as("lo"), max(array_max($"tokens")).as("hi"),
      count(lit(1)).as("n"))
    val plan = fused.queryExecution.executedPlan
    assert(GraftStatsAggPushdown.answeredOnDriver(plan), s"rule did not answer from headers:\n$plan")
    val got = fused.collect()(0)
    assert(got.getInt(0) === input.flatMap(_.tokens).min &&
      got.getInt(1) === input.flatMap(_.tokens).max && got.getLong(2) === 400L)
    // a filtered aggregate must NOT fold (input set narrowed)
    val filtered = df.filter($"n_tok" > 100)
      .agg(min(array_min($"tokens")).as("lo"))
    assert(scansGraft(filtered))
    assert(filtered.collect()(0).getInt(0) ===
      input.filter(_.n_tok > 100).flatMap(_.tokens).min)
  }

  test("LIST-column element MIN/MAX fold to headers, mixed with plain " +
    "scalar MIN/MAX/COUNT in one aggregate (generalized GraftStatsAggPushdown)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 250, seed = 11L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("tags", when($"n_tok" % 3 =!= 0,
        array($"n_tok" * 2, $"n_tok" * 2 + 1)))
      .withColumn("names", when($"n_tok" % 4 =!= 0,
        array(concat(lit("n"), ($"n_tok" % 7).cast("string")))))
      .withColumn("quality", when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 3.0))
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    val fused = table.agg(
      min(array_min($"tags")).as("lo_tag"), max(array_max($"tags")).as("hi_tag"),
      min(array_min($"names")).as("lo_name"), max(array_max($"names")).as("hi_name"),
      min($"quality").as("lo_q"), max($"quality").as("hi_q"),
      count($"tags").as("n_tags"), count(lit(1)).as("n"))
    val plan = fused.queryExecution.executedPlan
    assert(GraftStatsAggPushdown.answeredOnDriver(plan), s"generalized element fold did not engage:\n$plan")
    val got = fused.collect()(0)
    val want = input.agg(
      min(array_min($"tags")), max(array_max($"tags")),
      min(array_min($"names")), max(array_max($"names")),
      min($"quality"), max($"quality"),
      count($"tags"), count(lit(1))).collect()(0)
    assert(got === want, s"folded element aggregate diverged: got $got want $want")
    // header-only: payload pages never read
    val (_, m) = ScanMetrics.collect(fused)
    assert(m.getOrElse("graft payload bytes decoded", -1L) <= 0L,
      s"element fold decoded payload: $m")
    // lexicographic MIN over the array column itself must NOT fold
    val lex = table.agg(min($"tags").as("lo"))
    assert(scansGraft(lex))
    assert(lex.collect()(0) === input.agg(min($"tags")).collect()(0))
  }

  // ---- metadata columns (MetaColumns) -----------------------------------

  /** Canonical four + one metadata column per supported type, with nulls
    * on the nullable-capable ones. Values are doc_id-monotonic so chunk
    * stats discriminate (pruning tests). */
  private def metaDf(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (f"doc$i%05d", Seq(i, i + 1, i + 2), 3, if (i % 2 == 0) "web" else "book",
        if (i % 7 == 0) None else Some(i / 10.0 - 5.0), // quality: double, nulls, negatives
        if (i % 5 == 0) None else Some(s"lang${i % 3}"), // lang: string, nulls
        i.toLong * 1000L, // views: long, monotonic
        i % 11, // stars: int
        java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i % 28)),
        java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:00:00Z")
          .plusSeconds(i.toLong)))
    }.toDF("doc_id", "tokens", "n_tok", "source", "quality", "lang", "views",
      "stars", "created", "ts")
  }

  test("metadata columns round-trip through the connector: all types, nulls, both readers") {
    import spark.implicits._
    val dir = tmp()
    val input = metaDf(200)
    input.write.format("graft").option("buckets", "2").mode("append").save(dir)
    // inferred schema = recorded ddl: canonical four + metas, metas nullable
    val table = spark.read.format("graft").load(dir)
    assert(table.schema.fieldNames.toSeq ===
      Seq("doc_id", "tokens", "n_tok", "source", "quality", "lang", "views",
        "stars", "created", "ts"))
    assert(table.schema("quality").dataType === org.apache.spark.sql.types.DoubleType)
    assert(table.schema("created").dataType === org.apache.spark.sql.types.DateType)
    assert(table.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
    assert(table.schema("quality").nullable && table.schema("lang").nullable)
    // bit-exact row set
    val want = input.collect().toSet
    val got = spark.read.format("graft").load(dir)
      .select(input.columns.map(col): _*).collect().toSet
    assert(got === want, "round-trip mismatch")
    // null semantics surface in SQL
    assert(table.filter($"quality".isNull).count() ===
      input.filter($"quality".isNull).count())
    assert(table.filter($"lang".isNull).count() === input.filter($"lang".isNull).count())
    // projection of a lone metadata column decodes (and only that stream)
    assert(table.select($"views").as[Long].collect().sorted.toSeq ===
      (0 until 200).map(_.toLong * 1000L))
  }

  test("metadata-column filters push, prune segments, and stay exact (incl. double domain)") {
    import spark.implicits._
    val dir = tmp()
    val input = metaDf(400)
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "64").mode("append").save(dir)
    val table = spark.read.format("graft").load(dir)
    // long column: monotonic in doc_id => chunk stats discriminate, so
    // the filtered scan decodes FEWER segments and counts the rest as
    // pruned by stats
    val (_, mFull) = ScanMetrics.collect(table)
    val totalSegs = mFull.getOrElse("graft segments decoded", 0L)
    val views = table.filter($"views" === 123000L)
    val (rows, m) = ScanMetrics.collect(views)
    assert(rows.length === 1 && rows.head.getAs[String]("doc_id") === "doc00123")
    val decoded = m.getOrElse("graft segments decoded", 0L)
    assert(decoded < totalSegs,
      s"expected meta-stat pruning (decoded $decoded of $totalSegs), metrics=$m")
    assert(ScanMetrics.segmentsPrunedBy(views, m, "graft segments pruned (filter stats)") > 0L,
      s"$m")
    val desc = table.filter($"views" === 123000L).queryExecution.executedPlan.toString
    assert(desc.contains("PushedFilters: [EqualTo(views,"), desc)
    // double column through the sortable-bits stat domain, negatives included
    val wantQ = input.filter($"quality" > -2.5).count()
    assert(table.filter($"quality" > -2.5).count() === wantQ)
    assert(table.filter($"quality" === 0.0).count() ===
      input.filter($"quality" === 0.0).count())
    // date + timestamp comparisons
    val d = java.sql.Date.valueOf("2026-01-10")
    assert(table.filter($"created" >= d).count() === input.filter($"created" >= d).count())
    val t = java.sql.Timestamp.from(java.time.Instant.parse("2026-01-01T00:03:00Z"))
    assert(table.filter($"ts" < t).count() === input.filter($"ts" < t).count())
    // string metadata filter (null rows must not match)
    assert(table.filter($"lang" === "lang1").count() ===
      input.filter($"lang" === "lang1").count())
  }

  test("LIMIT + filter on a NULLABLE metadata column plans soundly (no dropped rows)") {
    import spark.implicits._
    val dir = tmp()
    // constant non-null value with interleaved nulls: chunk stats show a
    // degenerate [v, v] range, but nulls mean "all rows match" is NOT
    // provable — an unsound planner would under-plan files and lose rows
    val input = (0 until 400).map { i =>
      (f"doc$i%05d", Seq(i), 1, "web",
        if (i % 3 == 0) None else Some(1.0))
    }.toDF("doc_id", "tokens", "n_tok", "source", "quality")
    input.write.format("graft").option("buckets", "4")
      .option("tokensPerChunk", "32").mode("append").save(dir)
    val matching = input.filter($"quality" === 1.0).count() // ~267
    val k = 150
    assert(matching > k, s"fixture broken: only $matching matching rows")
    val got = spark.read.format("graft").load(dir)
      .filter($"quality" === 1.0).limit(k).collect()
    assert(got.length === k, s"limit under-planned: got ${got.length} of $k")
    assert(got.forall(_.getAs[Double]("quality") == 1.0))
  }

  test("metadata-column blooms prune point lookups min/max cannot (opt-in)") {
    import spark.implicits._
    val dir = tmp()
    // uid: scattered longs — every chunk spans ~the full value range, so
    // interval stats cannot discriminate a point probe; the bloom can
    def uid(i: Int): Long = (i.toLong * 2654435761L) % 1000000007L
    val input = (0 until 400).map { i =>
      (f"doc$i%05d", Seq(i), 1, "web", uid(i))
    }.toDF("doc_id", "tokens", "n_tok", "source", "uid")
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "32")
      .option("graft.codec.bloomColumns", "uid")
      .mode("append").save(dir)
    val table = spark.read.format("graft").load(dir)
    val (rows, m) = ScanMetrics.collect(table.filter($"uid" === uid(123)))
    assert(rows.length === 1 && rows.head.getAs[String]("doc_id") === "doc00123")
    assert(m.getOrElse("graft segments pruned (bloom)", 0L) > 0L,
      s"metadata bloom did not prune: $m")
    // absent key INSIDE the value range: bloom prunes everything
    val present = (0 until 400).map(uid).toSet
    val absent = Iterator.from(1).map(uid(123) + _).find(!present.contains(_)).get
    val (none, m2) = ScanMetrics.collect(table.filter($"uid" === absent))
    assert(none.isEmpty)
    // the file-level folded bloom prunes at PLANNING: zero tasks scheduled
    // (no task metrics at all), both part-files skipped
    assert(m2.getOrElse("graft segments decoded", 0L) === 0L,
      s"absent key decoded a segment: $m2")
    assert(m2.getOrElse("graft files pruned (planning)", 0L) > 0L,
      s"absent key planned file tasks: $m2")
  }

  test("STRUCT-member blooms (bloomColumns=col.member) prune member point " +
    "lookups via the member's own stream filter") {
    import org.apache.spark.sql.functions.struct
    import spark.implicits._
    val dir = tmp()
    def uid(i: Int): Long = (i.toLong * 2654435761L) % 1000000007L
    val input = (0 until 400).map { i =>
      (f"doc$i%05d", Seq(i), 1, "web", uid(i), s"k${i % 3}")
    }.toDF("doc_id", "tokens", "n_tok", "source", "m_uid", "m_kind")
      .select($"doc_id", $"tokens", $"n_tok", $"source",
        struct($"m_uid".as("uid"), $"m_kind".as("kind")).as("info"))
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "32")
      .option("graft.codec.bloomColumns", "info.uid")
      .mode("append").save(dir)
    val table = spark.read.format("graft").load(dir)
    val (rows, m) = ScanMetrics.collect(table.filter($"info.uid" === uid(123)))
    assert(rows.length === 1 && rows.head.getAs[String]("doc_id") === "doc00123")
    assert(m.getOrElse("graft segments pruned (bloom)", 0L) > 0L,
      s"member bloom did not prune: $m")
    // absent key inside the range: file-level folded bloom plans nothing
    val present = (0 until 400).map(uid).toSet
    val absent = Iterator.from(1).map(uid(123) + _).find(!present.contains(_)).get
    val (none, m2) = ScanMetrics.collect(table.filter($"info.uid" === absent))
    assert(none.isEmpty)
    assert(m2.getOrElse("graft segments decoded", 0L) === 0L &&
      m2.getOrElse("graft files pruned (planning)", 0L) > 0L,
      s"absent member key was not file-pruned: $m2")
  }

  test("IS NULL / IS NOT NULL prune on non-null counts; results stay exact") {
    import spark.implicits._
    val dir = tmp()
    // quality: null for the first half of doc ids, set for the second —
    // doc_id-sorted chunks come out all-null or null-free, rarely mixed
    val input = (0 until 400).map { i =>
      (f"doc$i%05d", Seq(i), 1, "web", if (i < 200) None else Some(i.toDouble))
    }.toDF("doc_id", "tokens", "n_tok", "source", "quality")
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "32").mode("append").save(dir)
    val table = spark.read.format("graft").load(dir)
    val (_, mFull) = ScanMetrics.collect(table)
    val total = mFull.getOrElse("graft segments decoded", 0L)
    // IS NOT NULL: all-null chunks prune on their non-null count (fewer
    // decoded, the rest counted as pruned by stats), results exact
    val notNull = table.filter($"quality".isNotNull)
    val (nn, m1) = ScanMetrics.collect(notNull)
    assert(nn.length === 200)
    assert(m1.getOrElse("graft segments decoded", 0L) < total,
      s"IS NOT NULL did not skip all-null chunks: $m1 vs total $total")
    assert(ScanMetrics.segmentsPrunedBy(notNull, m1, "graft segments pruned (filter stats)") > 0L,
      s"$m1")
    // IS NULL: null-free chunks prune reader-side (stats counter visible)
    val (nl, m2) = ScanMetrics.collect(table.filter($"quality".isNull))
    assert(nl.length === 200)
    assert(m2.getOrElse("graft segments pruned (filter stats)", 0L) > 0L,
      s"IS NULL did not prune null-free chunks: $m2")
  }

  test("MIN/MAX/COUNT over metadata columns push to headers (typed, null-aware)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, max, min}
    val dir = tmp()
    val input = metaDf(300)
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "64").mode("append").save(dir)
    val table = spark.read.format("graft").load(dir)
    val fused = table.agg(
      min($"quality").as("min_q"), max($"quality").as("max_q"),
      min($"views").as("min_v"), max($"views").as("max_v"),
      min($"lang").as("min_l"), max($"lang").as("max_l"),
      min($"created").as("min_d"), max($"ts").as("max_t"),
      count($"quality").as("n_q"), count($"lang").as("n_l"))
    val plan = fused.queryExecution.executedPlan
    assert(GraftStatsAggPushdown.answeredOnDriver(plan), s"metadata aggregate not answered from headers:\n$plan")
    val got = fused.collect()(0)
    // ground truth from the raw input (nulls ignored by MIN/MAX/COUNT)
    val want = input.agg(
      min($"quality"), max($"quality"), min($"views"), max($"views"),
      min($"lang"), max($"lang"), min($"created"), max($"ts"),
      count($"quality"), count($"lang")).collect()(0)
    assert(got === want, s"pushed aggregate diverged: got $got want $want")
    // and the scan is header-only: no payload decode at all
    val (_, m) = ScanMetrics.collect(fused)
    assert(m.getOrElse("graft payload bytes decoded", -1L) <= 0L,
      s"aggregate scan decoded payload: $m")
  }

  test("COUNT folds from headers for map/struct/list/binary columns; " +
    "MIN/MAX over a struct is never pushed (stats live under pseudo-streams)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 200, seed = 42L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("attrs", when($"n_tok" % 4 =!= 0,
        map(lit("lang"), concat(lit("l"), ($"n_tok" % 3).cast("string")))))
      .withColumn("info", when($"n_tok" % 3 =!= 0, struct(
        ($"n_tok" / 10.0).as("score"),
        concat(lit("k"), ($"n_tok" % 2).cast("string")).as("kind"))))
      .withColumn("tags", when($"n_tok" % 5 =!= 0, array($"n_tok", $"n_tok" + 1)))
      .withColumn("blob", when($"n_tok" % 7 =!= 0, $"doc_id".cast("binary")))
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    // COUNT over every non-scalar shape folds header-side: maps from the
    // __k pseudo-list's __len nValues, structs from __p, lists from __len,
    // binary from its own stream — no payload decode
    val counted = table.agg(
      count($"attrs").as("n_m"), count($"info").as("n_s"),
      count($"tags").as("n_l"), count($"blob").as("n_b"))
    val planC = counted.queryExecution.executedPlan
    assert(GraftStatsAggPushdown.answeredOnDriver(planC), s"non-scalar COUNT not answered from headers:\n$planC")
    val gotC = counted.collect()(0)
    val wantC = input.agg(count($"attrs"), count($"info"),
      count($"tags"), count($"blob")).collect()(0)
    assert(gotC === wantC, s"folded counts diverged: got $gotC want $wantC")
    val (_, mC) = ScanMetrics.collect(counted)
    assert(mC.getOrElse("graft payload bytes decoded", -1L) <= 0L,
      s"non-scalar COUNT decoded payload: $mC")
    // MIN/MAX over a struct column must NOT push — the header has no
    // stats under the struct's own name (only __p/__f_* pseudo-streams),
    // so a folded answer would be null/0 on a non-empty table. Spark
    // computes struct ordering itself and must agree with the raw input.
    val extrema = table.agg(min($"info").as("lo"), max($"info").as("hi"))
    assert(scansGraft(extrema),
      s"struct MIN/MAX wrongly answered from header stats:\n${extrema.queryExecution.executedPlan}")
    assert(extrema.collect()(0) ===
      input.agg(min($"info"), max($"info")).collect()(0))
  }

  test("STRUCT-member predicates push onto the member's stream stats " +
    "(info.score -> info__f_score) and prune segments; results stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp()
    // member values correlate with doc_id, so the sorted chunks carry
    // tight member ranges — the layout where member stats actually prune
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("d", expr("cast(substring(doc_id, 5) as int)"))
      .withColumn("info", when($"d" % 4 =!= 1, struct(
        ($"d" * 10L).as("rank"),
        when($"d" % 5 =!= 0, $"d" / 100.0).as("score"),
        concat(lit("k"), ($"d" % 3).cast("string")).as("kind"))))
      .drop("d")
    input.write.format("graft").option("buckets", "4")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    val q = table.filter($"info.rank" === 2000L).select("doc_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("info__f_rank"),
      s"member predicate not rewritten onto the member stream:\n$plan")
    val (rows, m) = ScanMetrics.collect(q)
    assert(rows.map(_.getString(0)).toSeq === Seq("doc_000000000200"))
    val totalSegments = spark.read.parquet(s"$dir/data").count()
    val decoded = m.getOrElse("graft segments decoded", Long.MaxValue)
    assert(decoded < totalSegments,
      s"member stats pruned nothing: decoded $decoded of $totalSegments: $m")
    // string member + range member compose under AND; exact vs raw input
    val composed = table.filter($"info.kind" === "k1" && $"info.score" > 2.5)
    assert(composed.count() ===
      input.filter($"info.kind" === "k1" && $"info.score" > 2.5).count())
    // member null semantics: null struct OR null member
    assert(table.filter($"info.score".isNull).count() ===
      input.filter($"info.score".isNull).count())
    assert(table.filter($"info".isNull).count() ===
      input.filter($"info".isNull).count())
  }

  test("STRUCT-member MIN/MAX/COUNT push to the member stream's header " +
    "stats (min(info.score) folds from info__f_score, no payload decode)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 300, seed = 7L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("d", expr("cast(substring(doc_id, 5) as int)"))
      .withColumn("info", when($"d" % 4 =!= 1, struct(
        ($"d" * 10L).as("rank"),
        when($"d" % 5 =!= 0, ($"d" / 100.0) - 1.0).as("score"),
        concat(lit("k"), ($"d" % 3).cast("string")).as("kind"))))
      .drop("d")
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    val fused = table.agg(
      min($"info.score").as("min_s"), max($"info.score").as("max_s"),
      min($"info.rank").as("min_r"), max($"info.rank").as("max_r"),
      min($"info.kind").as("min_k"), max($"info.kind").as("max_k"),
      count($"info.score").as("n_s"), count($"info.kind").as("n_k"))
    val plan = fused.queryExecution.executedPlan
    assert(GraftStatsAggPushdown.answeredOnDriver(plan), s"member aggregate not answered from member streams:\n$plan")
    val got = fused.collect()(0)
    // ground truth from the raw input: MIN/MAX/COUNT ignore nulls, and a
    // member is null where the struct OR the member itself is
    val want = input.agg(
      min($"info.score"), max($"info.score"), min($"info.rank"),
      max($"info.rank"), min($"info.kind"), max($"info.kind"),
      count($"info.score"), count($"info.kind")).collect()(0)
    assert(got === want, s"pushed member aggregate diverged: got $got want $want")
    // header-only: payload pages never read
    val (_, m) = ScanMetrics.collect(fused)
    assert(m.getOrElse("graft payload bytes decoded", -1L) <= 0L,
      s"member aggregate decoded payload: $m")
    // mixed with a table-level aggregate in one pass
    val mixed = table.agg(count(lit(1)).as("n"), max($"info.rank").as("hi"))
    assert(GraftStatsAggPushdown.answeredOnDriver(mixed.queryExecution.executedPlan))
    assert(mixed.collect()(0) ===
      input.agg(count(lit(1)), max($"info.rank")).collect()(0))
  }

  test("MAP-access predicates prune via the pseudo-streams' stats " +
    "(attrs['lang'] = v -> attrs__k/attrs__v stat filters); results stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp()
    // values correlate with doc_id, so sorted chunks carry tight value
    // ranges — the layout where the __v stats actually discriminate
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("d", expr("cast(substring(doc_id, 5) as int)"))
      .withColumn("attrs", when($"d" % 4 =!= 1, map(
        lit("lang"), format_string("v%05d", $"d"),
        lit("tier"), concat(lit("t"), ($"d" % 3).cast("string")))))
      .withColumn("scores", map(lit("rank"), $"d" * 10))
      .drop("d")
    input.write.format("graft").option("buckets", "4")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    // string-valued point lookup: prunes on the __v value stats
    val q = table.filter($"attrs"("lang") === "v00200").select("doc_id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedMapStats") && plan.contains("attrs__k") &&
      plan.contains("attrs__v"), s"map access not pushed onto pseudo-streams:\n$plan")
    val (rows, m) = ScanMetrics.collect(q)
    assert(rows.map(_.getString(0)).toSeq === Seq("doc_000000000200"))
    val totalSegments = spark.read.parquet(s"$dir/data").count()
    val decoded = m.getOrElse("graft segments decoded", Long.MaxValue)
    assert(decoded < totalSegments,
      s"map value stats pruned nothing: decoded $decoded of $totalSegments: $m")
    // a key that exists nowhere: the __k stats exclude it everywhere, so
    // every segment (and every file, at planning) prunes
    val none = table.filter($"attrs"("zz").isNotNull)
    assert(none.queryExecution.executedPlan.toString.contains("PushedMapStats"))
    val (noneRows, mNone) = ScanMetrics.collect(none)
    assert(noneRows.isEmpty)
    // the __k stats exclude 'zz' in every FILE header, so planning prunes
    // all part-files — no task runs, no segment decodes (the metric is
    // absent when zero tasks launch)
    assert(mNone.getOrElse("graft segments decoded", 0L) === 0L,
      s"absent key decoded segments: $mNone")
    assert(mNone.getOrElse("graft files planned", -1L) === 0L, s"$mNone")
    // int-valued inequality on a second map column
    val hi = table.filter($"scores"("rank") > lit(3900)).select("doc_id")
    assert(hi.queryExecution.executedPlan.toString.contains("scores__v"))
    assert(hi.count() === input.filter($"scores"("rank") > lit(3900)).count())
    // exactness across the full matrix of shapes vs the raw input
    def check(f: DataFrame => DataFrame): Unit =
      assert(f(table).count() === f(input).count())
    check(_.filter($"attrs"("lang") === "v00123"))
    check(_.filter($"attrs"("tier") === "t1"))
    check(_.filter($"attrs"("lang") >= "v00390"))
    check(_.filter($"scores"("rank") <= lit(50)))
    check(_.filter($"attrs"("lang").isNotNull))
    // kill switch: rule must not engage
    val off = spark.read.format("graft").option("pushdown", "false").load(dir)
      .filter($"attrs"("lang") === "v00200")
    assert(!off.queryExecution.executedPlan.toString.contains("PushedMapStats"))
    assert(off.count() === 1L)
  }

  test("IS [NOT] NULL on list/map/struct columns prunes via their " +
    "presence-bearing streams (__len/__k__len/__p); results stay exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmp()
    // bucket by doc hash, nulls on a doc_id-correlated stripe so SOME
    // chunks are all-null / all-present and null facts discriminate
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("d", expr("cast(substring(doc_id, 5) as int)"))
      .withColumn("tags", when($"d" < 200, array($"d", $"d" + 1)))
      .withColumn("attrs", when($"d" < 200, map(lit("k"), $"d".cast("string"))))
      .withColumn("info", when($"d" < 200, struct(($"d" * 2).as("x"))))
      .drop("d")
    input.write.format("graft").option("buckets", "4")
      .option("tokensPerChunk", "64")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir)
    val table = spark.read.format("graft").load(dir)
    for ((col, stream) <- Seq("tags" -> "tags__len", "attrs" -> "attrs__k__len",
        "info" -> "info__p")) {
      val q = table.filter(table(col).isNotNull)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains(s"IsNotNull($stream)"),
        s"$col null check not rewritten onto $stream:\n$plan")
      assert(q.count() === 200L, s"$col IS NOT NULL row count")
      assert(table.filter(table(col).isNull).count() === 200L,
        s"$col IS NULL row count")
    }
  }

  test("graft.scan.pushdown=false gates the stats-agg rewrite too " +
    "(answers must not be READ from the stats the switch bypasses)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_min, min}
    val on = spark.read.format("graft").load(bare)
      .agg(min(array_min($"tokens")).as("lo"))
    assert(GraftStatsAggPushdown.answeredOnDriver(on.queryExecution.executedPlan))
    val off = spark.read.format("graft").option("pushdown", "false").load(bare)
      .agg(min(array_min($"tokens")).as("lo"))
    assert(scansGraft(off),
      s"pushdown=false scan still folded from header stats:\n${off.queryExecution.executedPlan}")
    val lo = TokenTables.synthetic(spark, nDocs = 400, seed = 42L).collect().flatMap(_.tokens).min
    assert(off.collect()(0).getInt(0) === lo && on.collect()(0).getInt(0) === lo)
  }

  test("sortBy clusters each bucket by the column's stored order: tight " +
    "chunk stats prune, appends inherit it, compaction preserves it") {
    import org.apache.spark.sql.functions.{concat, lit, when}
    import spark.implicits._
    def withLang(n: Int, seed: Long) =
      TokenTables.synthetic(spark, nDocs = n, seed = seed)
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("lang", when($"n_tok" % 5 =!= 0,
          concat(lit("l"), ($"n_tok" % 8).cast("string"))))
        .withColumn("score", when($"n_tok" % 7 =!= 0, $"n_tok" % 100))
    val input = withLang(400, 42L)
    val sortedDir = tmp()
    val plainDir = tmp()
    // multi-key order (Iceberg sort-order shape): lang primary, score
    // secondary — the comma list records, inherits, and compacts as one
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "8192").option("sortBy", "lang,score")
      .mode(org.apache.spark.sql.SaveMode.Append).save(sortedDir)
    input.write.format("graft").option("buckets", "2")
      .option("tokensPerChunk", "8192")
      .mode(org.apache.spark.sql.SaveMode.Append).save(plainDir)
    val expect = input.filter($"lang" === "l3").count()
    // clustering shows up as FEWER decoded segments for the same filtered
    // result
    def decodedOn(dir: String): (Long, Long) = {
      val (rows, m) = ScanMetrics.collect(
        spark.read.format("graft").load(dir).filter($"lang" === "l3"))
      (rows.length.toLong, m.getOrElse("graft segments decoded", Long.MaxValue))
    }
    val (nSorted, decodedSorted) = decodedOn(sortedDir)
    val (nPlain, decodedPlain) = decodedOn(plainDir)
    assert(nSorted === expect && nPlain === expect && expect > 0L)
    assert(decodedSorted < decodedPlain,
      s"clustering should out-prune the unsorted layout: " +
        s"decoded $decodedSorted vs $decodedPlain segments")
    // the ordering contract itself: per scan partition (= one bucket's
    // file), (lang, score) pairs are nulls-first then non-decreasing —
    // lang primary (UTF-8 byte order), score secondary within equal lang
    def orderViolations(dir: String): Long =
      spark.read.format("graft").load(dir).select($"lang", $"score")
        .as[(Option[String], Option[Int])]
        .mapPartitions { it =>
          def cmp(a: (Option[String], Option[Int]), b: (Option[String], Option[Int])): Int = {
            val l = (a._1, b._1) match {
              case (None, None) => 0
              case (None, _) => -1
              case (_, None) => 1
              case (Some(x), Some(y)) => graft.engine.GraftEncoder.compareUtf8(x, y)
            }
            if (l != 0) l else (a._2, b._2) match {
              case (None, None) => 0
              case (None, _) => -1
              case (_, None) => 1
              case (Some(x), Some(y)) => Integer.compare(x, y)
            }
          }
          var prev: (Option[String], Option[Int]) = null
          var viol = 0L
          it.foreach { v =>
            if (prev != null && cmp(prev, v) > 0) viol += 1
            prev = v
          }
          Iterator.single(viol)
        }.collect().sum
    assert(orderViolations(sortedDir) === 0L)
    // the order is recorded at creation and appends INHERIT it (no option)
    assert(GraftTableMeta.read(sortedDir, spark.sparkContext.hadoopConfiguration)
      .flatMap(_.sortBy) === Some("lang,score"))
    withLang(100, 7L).write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Append).save(sortedDir)
    assert(orderViolations(sortedDir) === 0L,
      "appended snapshot lost the recorded clustering")
    // compaction folds generations through the same sorted re-chunk
    val compacted = SegmentStore.compact(spark, sortedDir, upTo = Long.MaxValue,
      buckets = 2, tokensPerChunk = 8192)
    assert(compacted.nonEmpty)
    assert(orderViolations(sortedDir) === 0L, "compaction lost the clustering")
    val total = withLang(400, 42L).unionAll(withLang(100, 7L))
    assert(spark.read.format("graft").load(sortedDir).count() === total.count())
    assert(spark.read.format("graft").load(sortedDir)
      .filter($"lang" === "l3").count() === total.filter($"lang" === "l3").count())
  }

  test("compaction writes footer file blooms: a point miss prunes compacted files at planning") {
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    val dir = tmp()
    for (r <- 0 until 2)
      SegmentStore.encodeCommit(input.filter(_.n_tok % 2 == r), dir,
        snapshotId = r + 1L, buckets = 4)
    val conf = spark.sessionState.newHadoopConf()
    // a doc_id inside the files' [min, max] that no row holds: only a file
    // bloom can skip a file for it
    val miss = input.collect().map(_.doc_id).sorted.apply(200) + "x"
    def missPruned(): Long = {
      val (rows, m) = ScanMetrics.collect(
        spark.read.format("graft").load(dir).filter(col("doc_id") === miss))
      assert(rows.isEmpty)
      m.getOrElse("graft files pruned (planning)", 0L)
    }
    // encodeCommit writes through the append writer: its files carry file
    // blooms too, so every pre-compaction file prunes as well
    val before = GraftLayout.listDataFiles(dir, conf)
    assert(before.nonEmpty)
    assert(missPruned() === before.length.toLong)
    assert(SegmentStore.compact(spark, dir, upTo = 2L, buckets = 4).isDefined)
    val files = GraftLayout.listDataFiles(dir, conf)
    assert(files.nonEmpty)
    files.foreach(f => assert(GraftLayout.footerInfo(f, conf).blooms.contains("doc_id"), f))
    assert(missPruned() === files.length.toLong)
  }

  test("graft table schemas are fixed at creation (append with a different column set fails)") {
    import spark.implicits._
    val dir = tmp()
    metaDf(50).write.format("graft").option("buckets", "2").mode("append").save(dir)
    val canonical = TokenTables.synthetic(spark, nDocs = 10, seed = 3L)
      .toDF("doc_id", "tokens", "n_tok", "source")
    val e = intercept[Exception] {
      canonical.write.format("graft").option("buckets", "2").mode("append").save(dir)
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
    // and the reverse: metadata append onto a canonical table
    val dir2 = tmp()
    canonical.write.format("graft").option("buckets", "2").mode("append").save(dir2)
    val e2 = intercept[Exception] {
      metaDf(10).write.format("graft").option("buckets", "2").mode("append").save(dir2)
    }
    assert(e2.getMessage.contains("schema"), e2.getMessage)
  }

  test("the reader factory ships the Hadoop conf as a broadcast, not inside every task") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    // a session whose Hadoop conf is large: the conf must not travel in
    // the factory Spark serializes into each task
    val padded = spark.newSession()
    (0 until 2000).foreach(i => padded.conf.set(s"graft.test.pad.$i", s"padding-value-$i"))
    SparkSession.setActiveSession(padded)
    val factory = try {
      padded.read.format("graft").load(bare).queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.scan.toBatch.createReaderFactory()
      }.get
    } finally SparkSession.setActiveSession(spark)
    val bytes = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
      .serialize(factory).limit()
    assert(bytes < 16 * 1024, s"reader factory serializes to $bytes B")
  }
}
