package graft.queries0

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GraftEncoder, TokenTables}
import graft.lineage.SegmentStore
import graft.sources.GraftLayout

/** Engine-facing queries: encode/decode round-trips and codec telemetry.
  * Non-SQL-expressible (no DuckDB oracle) — the driver records rows-only
  * checks; exact correctness is asserted in EnginePipelineSpec.
  *
  * Re-expresses the reference's decode-correctness contract (its golden
  * batch-equality tests, /root/reference/tests/basic_reading.rs:259-277) as
  * element-for-element token equality after a full encode->decode cycle.
  */
object Encode {

  private def roundtrip(spark: SparkSession, input0: org.apache.spark.sql.Dataset[graft.engine.TokenRow]): DataFrame = {
    import spark.implicits._
    // The input feeds BOTH the encode pipeline and the compare side of the
    // audit join — persist so the tokenize pass runs once, materialize the
    // (group-by-source scale) result, then release the cache (the
    // minhashLshPlan lifecycle pattern).
    val input = input0.persist()
    try {
      val segments = GraftEncoder.encode(input, buckets = 16)
      val decoded = GraftEncoder.decode(segments)
      val in = input.toDF("doc_id", "tokens", "n_tok", "source")
      val dec = decoded.toDF("doc_id", "tokens_dec", "n_tok_dec", "source_dec")
      in.join(dec, Seq("doc_id"), "full_outer")
        .withColumn("ok",
          $"tokens" === $"tokens_dec" && $"n_tok" === $"n_tok_dec" &&
            $"source" === $"source_dec")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(coalesce($"ok", lit(false)), 0L).otherwise(1L)).as("n_mismatch"))
        .orderBy($"source")
        .localCheckpoint(true)
    } finally input.unpersist()
  }

  /** Round-trip on the documents-derived token table of this sf dir. */
  def roundtripDocs(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, TokenTables.fromDocuments(spark, dir))

  /** Round-trip on the deterministic synthetic table (skewed lengths). */
  def roundtripSynthetic(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, TokenTables.synthetic(spark, nDocs = 2000, seed = 42L))

  /** Which codec won per column — the selector's decisions as a table. */
  def codecMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = TokenTables.fromDocuments(spark, dir)
    GraftEncoder.encode(input, buckets = 16)
      .select(explode($"cols").as("c"))
      .groupBy($"c.col".as("col"), $"c.codecName".as("codec"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum($"c.bytesIn").as("bytes_in"),
        sum($"c.bytesOut").as("bytes_out"))
      .orderBy($"col", $"codec")
  }

  /** Compression ratio per column over the synthetic skewed table. */
  def compressionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 2000, seed = 42L)
    GraftEncoder.encode(input, buckets = 16)
      .select(explode($"cols").as("c"))
      .groupBy($"c.col".as("col"))
      .agg(
        sum($"c.bytesIn").as("bytes_in"),
        sum($"c.bytesOut").as("bytes_out"),
        (sum($"c.bytesIn") / sum($"c.bytesOut")).as("ratio"))
      .orderBy($"col")
  }

  /** Kill-and-resume through the lineage ledger, surfaced as a query: run 1
    * commits only 3 of 8 buckets (simulated mid-job failure), run 2 resumes
    * and completes, run 3 proves idempotent no-op. Output = the final
    * ledger, one row per bucket (deterministic: lineage carries no
    * wall-clock fields). */
  def lineageRestart(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = TokenTables.fromDocuments(spark, dir)
    val tableDir = java.nio.file.Files.createTempDirectory("graft-lineage-q").toString
    try {
      val snap = 1L
      val first = SegmentStore.encodeCommit(input, tableDir, snap, buckets = 8, maxBucketsPerRun = 3)
      val resumed = SegmentStore.encodeCommit(input, tableDir, snap, buckets = 8)
      val rerun = SegmentStore.encodeCommit(input, tableDir, snap, buckets = 8)
      require(first.size == 3 && resumed.size == 5 && rerun.isEmpty,
        s"restart protocol violated: $first / $resumed / $rerun")
      // Materialize the (8-row) ledger so the temp table dir can be deleted
      // now instead of leaking across long-lived bench sessions.
      val rows = SegmentStore.readLineage(spark, tableDir).collect().toSeq
        .sortBy(_.bucket)
      spark.createDataset(rows)
        .select($"bucket", $"nSegments", $"nRows", $"nTokens", $"bytesIn", $"bytesOut",
          $"firstChunk", $"lastChunk", $"status")
    } finally deleteRecursively(new java.io.File(tableDir))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }

  /** Per-source bit-exact round-trip audit shared by the write-path
    * entries: full-outer join of input vs read-back (un-matched rows on
    * either side count as mismatches), per-source doc totals and the
    * mismatch count that must be 0. Materialized before return so callers
    * can delete their temp table dirs. `back` must carry
    * (doc_id, tokens_dec, n_tok_dec, source_dec). */
  private def roundTripAudit(spark: SparkSession,
                             input: org.apache.spark.sql.Dataset[graft.engine.TokenRow],
                             back: DataFrame,
                             withTokens: Boolean): DataFrame = {
    import spark.implicits._
    val joined = input.toDF("doc_id", "tokens", "n_tok", "source")
      .join(back, Seq("doc_id"), "full_outer")
      .withColumn("ok",
        $"tokens" === $"tokens_dec" && $"n_tok" === $"n_tok_dec" &&
          $"source" === $"source_dec")
      .groupBy($"source")
    val agg =
      if (withTokens) joined.agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").cast("long").as("sum_tokens"),
        sum(when(coalesce($"ok", lit(false)), 0L).otherwise(1L)).as("n_mismatch"))
      else joined.agg(
        count(lit(1)).as("n_docs"),
        sum(when(coalesce($"ok", lit(false)), 0L).otherwise(1L)).as("n_mismatch"))
    val rows = agg.orderBy($"source").collect().toSeq
    val fields = Seq(
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType)) ++
      (if (withTokens) Seq(org.apache.spark.sql.types.StructField("sum_tokens",
        org.apache.spark.sql.types.LongType)) else Nil) ++
      Seq(org.apache.spark.sql.types.StructField("n_mismatch", org.apache.spark.sql.types.LongType))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(fields))
  }

  /** Both token-pruned-scan entries run on the zipf-skewed SYNTHETIC table:
    * min/max stats only prune values the data makes rare per-chunk, which
    * holds for the cube-zipf token mixture (top ids ~5e-5/token) but NOT
    * for the documents-derived table, whose uniform word-hash ids put the
    * global max into nearly every chunk (0 segments pruned => the operator
    * proved nothing — same flaw as a vacuous IS NULL). The top-of-vocab
    * range matches a handful of docs at this size, so both the skip AND
    * the re-filter paths do real work. */
  private val PruneLo = 50250L
  private val PruneHi = 50256L
  private def pruneInput(spark: SparkSession) =
    TokenTables.synthetic(spark, nDocs = 2000, seed = 42L)

  /** Header predicate of the token-range chunk skip: the segment's `tokens`
    * chunk [minV, maxV] intersects [lo, hi]. INEXACT by the reference
    * reader's contract (source.rs:279-281): a surviving segment may hold no
    * matching token, so callers re-filter exactly; skipped payloads are
    * never decoded. */
  private def tokenRangeHit(lo: Long, hi: Long): Column =
    exists(col("cols"), c => c.getField("col") === lit("tokens") &&
      c.getField("minV") <= lit(hi) && c.getField("maxV") >= lit(lo))

  /** scanned / (scanned + pruned) payload bytes; 1.0 when both are 0 (the
    * reference's "1.0 = full read" convention, metrics.rs:203-217). */
  private[graft] def scanEfficiency(scanned: Long, pruned: Long): Double = {
    val total = scanned + pruned
    if (total == 0L) 1.0 else scanned.toDouble / total
  }

  /** Chunk skipping by min/max (the reference's stripe-pruning contract,
    * /root/reference/src/source.rs:279-281: prune inexactly, re-filter
    * exactly): scan for rare high token ids, report how many segments the
    * min/max index let us skip vs how many documents truly match. */
  def prunedScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (lo, hi) = (PruneLo, PruneHi)
    val input = pruneInput(spark)
    val segs = GraftEncoder.encode(input, buckets = 16, tokensPerChunk = 4096).persist()
    try {
      val hit = tokenRangeHit(lo, hi)
      val seg = segs.agg(
        count(lit(1)).as("n_segments_total"),
        coalesce(sum(when(hit, 1L).otherwise(0L)), lit(0L)).as("n_segments_scanned")).collect()(0)
      val doc = GraftEncoder.decode(segs.filter(hit))
        .agg(
          count(lit(1)).as("n_docs_scanned"),
          coalesce(sum(when(exists(col("tokens"), t => t >= lit(lo.toInt) && t <= lit(hi.toInt)),
            1L).otherwise(0L)), lit(0L)).as("n_docs_matched")).collect()(0)
      Seq((seg.getLong(0), seg.getLong(1), doc.getLong(0), doc.getLong(1)))
        .toDF("n_segments_total", "n_segments_scanned", "n_docs_scanned", "n_docs_matched")
    } finally segs.unpersist()
  }

  /** String-predicate chunk skipping via the doc_id min/max string stats —
    * the utf8 half of the reference's predicate conversion
    * (/root/reference/src/predicate.rs:218-221). Min/max stats only prune
    * what the layout clusters, so this entry encodes the table with
    * RANGE buckets over doc_id — the reference's `--sorted` table option
    * (tpcds_bench.rs:434-436: data marked sorted by the leading column) —
    * under which a point lookup touches one bucket's chunks and skips
    * every other segment; survivors are re-filtered exactly. (On the
    * default hash-bucketed layout each chunk spans the whole id range and
    * the same stats prune ~nothing — clustering is the index.) */
  def prunedScanStr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = TokenTables.fromDocuments(spark, dir)
    val target = "doc_000000042"
    val nDocs = input.count()
    val rangeBuckets = 16
    val bucketed = input.map { r =>
      // doc_%09d ids: contiguous id ranges -> contiguous buckets
      val id = r.doc_id.stripPrefix("doc_").toLong
      val b = math.min(rangeBuckets - 1, (id * rangeBuckets / math.max(1L, nDocs)).toInt)
      graft.engine.BucketedRow(r.doc_id, r.tokens, r.n_tok, r.source, b)
    }
    val segs = GraftEncoder.encodeBucketed(bucketed, rangeBuckets, tokensPerChunk = 4096).persist()
    try {
      val hit = exists($"cols", c => c.getField("col") === lit("doc_id") &&
        c.getField("minS") <= lit(target) && c.getField("maxS") >= lit(target))
      val seg = segs.agg(
        count(lit(1)).as("n_segments_total"),
        coalesce(sum(when(hit, 1L).otherwise(0L)), lit(0L)).as("n_segments_scanned")).collect()(0)
      val doc = GraftEncoder.decode(segs.filter(hit))
        .agg(
          count(lit(1)).as("n_docs_scanned"),
          coalesce(sum(when(col("doc_id") === lit(target), 1L).otherwise(0L)), lit(0L)).as("n_docs_matched"))
        .collect()(0)
      Seq((seg.getLong(0), seg.getLong(1), doc.getLong(0), doc.getLong(1)))
        .toDF("n_segments_total", "n_segments_scanned", "n_docs_scanned", "n_docs_matched")
    } finally segs.unpersist()
  }

  /** Read-side scan metrics surfaced as a query — the reference's 12-counter
    * metrics surface (metrics.rs:57-218) for the token-range pruned scan:
    * matched/pruned segments, scanned vs pruned payload bytes, rows+tokens
    * decoded, and scan_efficiency. Exact, not
    * accumulator-counted: every column is one header aggregate split by the
    * skip predicate — a decode of the matched segments emits their `nRows`
    * rows holding their `nTokens` tokens. */
  def scanMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = pruneInput(spark)
    val segs = GraftEncoder.encode(input, buckets = 16, tokensPerChunk = 4096).persist()
    try {
      val hit = tokenRangeHit(PruneLo, PruneHi)
      val h = segs.agg(
        coalesce(sum(when(hit, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(hit, 0L).otherwise(1L)), lit(0L)),
        coalesce(sum(when(hit, $"bytesOut").otherwise(0L)), lit(0L)),
        coalesce(sum(when(hit, 0L).otherwise($"bytesOut")), lit(0L)),
        coalesce(sum(when(hit, $"nRows".cast("long")).otherwise(0L)), lit(0L)),
        coalesce(sum(when(hit, $"nTokens").otherwise(0L)), lit(0L))).collect()(0)
      val (scanned, pruned) = (h.getLong(2), h.getLong(3))
      Seq((h.getLong(0), h.getLong(1), scanned, pruned, h.getLong(4), h.getLong(5),
        scanEfficiency(scanned, pruned)))
        .toDF("segments_matched", "segments_pruned", "bytes_scanned",
          "bytes_pruned", "rows_decoded", "tokens_decoded", "scan_efficiency")
    } finally segs.unpersist()
  }

  /** Incremental (Structured Streaming) encode surfaced as a query: the
    * token table lands as 4 input files, `writeStream.format("graft")`
    * drains them with maxFilesPerTrigger=1 — one ledgered snapshot per
    * micro-batch (`StreamEpochBase + batchId`) — and the
    * union of all snapshots must decode back to exactly the input
    * (element-for-element token equality, the same contract as the batch
    * round-trip). Output: per-source doc/token totals + mismatches (must be
    * 0) + how many micro-batch snapshots the ledger recorded (must be > 1,
    * or the entry degenerated to a single batch and proved nothing
    * incremental). */
  def streamingIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: feeds the 4-file staging write and the final audit join
    val input = TokenTables.fromDocuments(spark, dir).persist()
    val base = java.nio.file.Files.createTempDirectory("graft-stream-q").toString
    try {
      input.repartition(4).write.parquet(s"$base/input")
      spark.readStream.schema(input.schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$base/input")
        .writeStream.format("graft")
        .option("checkpointLocation", s"$base/ckpt").option("buckets", "8")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$base/table").awaitTermination()
      val nSnapshots = SegmentStore.readLineage(spark, s"$base/table")
        .filter($"status" === SegmentStore.Committed)
        .select($"snapshotId").distinct().count()
      require(nSnapshots > 1, s"expected >1 micro-batch snapshots, got $nSnapshots")
      val decoded = SegmentStore.readSegmentsAll(spark, s"$base/table")
        .transform(GraftEncoder.decode)
        .toDF("doc_id", "tokens_dec", "n_tok_dec", "source_dec")
      // Materialize before the finally-delete: the result is group-by-source
      // scale (a handful of rows), the join underneath is fully distributed.
      val rows = input.toDF("doc_id", "tokens", "n_tok", "source")
        .join(decoded, Seq("doc_id"), "full_outer")
        .withColumn("ok",
          $"tokens" === $"tokens_dec" && $"n_tok" === $"n_tok_dec" &&
            $"source" === $"source_dec")
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tok").as("sum_tokens"),
          sum(when(coalesce($"ok", lit(false)), 0L).otherwise(1L)).as("n_mismatch"))
        .withColumn("n_snapshots", lit(nSnapshots))
        .orderBy($"source")
        .collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(
          Seq(org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_tokens", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_mismatch", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("n_snapshots", org.apache.spark.sql.types.LongType))))
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** SQL-side decode through the native Catalyst expressions
    * (graft.engine.SqlFunctions): per int column, chunk counts and the
    * decoded value count + sum computed ENTIRELY in SQL over payload
    * bytes — no Dataset decode pass. Internal consistency is asserted
    * in-query: the tokens column's decoded value count must equal the sum
    * of the decoded tok_len stream (the same invariant decodeSegment
    * relies on), and per-row equality with the engine decode is pinned in
    * SqlFunctionsSpec. */
  def sqlDecode(spark: SparkSession, dir: String): DataFrame = {
    graft.engine.SqlFunctions.register(spark)
    val input = TokenTables.fromDocuments(spark, dir)
    GraftEncoder.encode(input, buckets = 16)
      .createOrReplaceTempView("graft_segments_sql")
    val out = spark.sql(
      """SELECT c.col AS col, COUNT(*) AS n_chunks,
        |  SUM(size(graft_decode_ints(c.payload))) AS n_values,
        |  SUM(aggregate(graft_decode_ints(c.payload), 0L, (a, x) -> a + x)) AS sum_values
        |FROM graft_segments_sql LATERAL VIEW explode(cols) t AS c
        |WHERE c.col IN ('tokens', 'n_tok', 'tok_len')
        |GROUP BY c.col ORDER BY col""".stripMargin)
    val rows = out.collect()
    def sumOf(col: String, field: Int) =
      rows.find(_.getString(0) == col).map(r => r.getLong(field)).getOrElse(-1L)
    require(sumOf("tokens", 2) == sumOf("tok_len", 3),
      "SQL decode inconsistent: token count != sum(tok_len)")
    // return the already-materialized rows: handing back the lazy plan
    // would re-run the whole encode + SQL decode on the caller's action
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), out.schema)
  }

  /** Projection-pruned scan: a `SELECT doc_id, n_tok` through the
    * connector's projection pushdown decodes only those streams — the
    * tokens/tok_len payloads (~95% of stored bytes) are never read or
    * inflated. Output: row totals from the projected scan + the payload
    * bytes decoded vs skipped under this projection (from the committed
    * segment headers, deterministic). */
  def projectedScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = TokenTables.fromDocuments(spark, dir)
    val base = java.nio.file.Files.createTempDirectory("graft-projected-q").toString
    try {
      SegmentStore.encodeCommit(input, base, 1L, buckets = 16)
      val needed = Seq("doc_id", "n_tok")
      val projected = spark.read.format("graft").load(base).select(needed.map(col): _*)
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("sum_tokens"))
        .collect()(0)
      // per-stream encoded bytes from the header fold (no payload read);
      // the table holds snapshot 1 only, so its visible files are snapshot 1's
      val conf = spark.sessionState.newHadoopConf()
      val (decoded, skipped) = GraftLayout.foldHeaders(GraftLayout.listDataFiles(base, conf), conf)
        .bytesOut.partition { case (c, _) => needed.contains(c) }
      Seq((projected.getLong(0), projected.getLong(1), decoded.values.sum, skipped.values.sum))
        .toDF("n_docs", "sum_tokens", "bytes_decoded", "bytes_skipped")
    } finally deleteRecursively(new java.io.File(base))
  }

  /** End-to-end through the DSv2 connector: encode the documents-derived
    * token table into a SegmentStore table, read it back with
    * `spark.read.format("graft")` (logical TokenRow schema, projected +
    * filter-negotiated scan), aggregate per source. Oracle-checked: the
    * tokenizer's word count is SQL-expressible, so DuckDB reproduces
    * n_docs/sum_tokens from the raw documents table — a full-loop
    * (encode -> store -> DSv2 scan -> aggregate) correctness gate. */
  def dsv2Scan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
      SegmentStore.encodeCommit(input, base, snapshotId = 1L, buckets = 8)
      val rows = spark.read.format("graft").load(base)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("sum_tokens"))
        .orderBy($"source")
        .collect().toSeq // materialize (group-by-source scale) before the temp dir is deleted
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_tokens", org.apache.spark.sql.types.LongType))))
    } finally deleteRecursively(new java.io.File(base))
  }

  /** LIMIT pushdown through the connector, surfaced end-to-end: a
    * `.limit(k)` over the graft table must plan with `PushedLimit` (readers
    * stop opening parquet groups at k rows — the reference's headline scan
    * feature, /root/reference/src/opener.rs:212-266), return exactly
    * min(k, |table|) rows, and every returned row must be a bit-exact
    * member of the input (LIMIT picks SOME k rows; validity, not identity,
    * is the checkable contract). Output: (n_rows, n_valid) — both
    * reproducible by the oracle as LEAST(k, COUNT(*)). */
  def dsv2Limit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 13
    // persisted: feeds the table write and the validity join
    val input = TokenTables.fromDocuments(spark, dir).persist()
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-limit-q").toString
    try {
      SegmentStore.encodeCommit(input, base, snapshotId = 1L, buckets = 8)
      val limited = spark.read.format("graft").load(base).limit(k)
      require(limited.queryExecution.executedPlan.toString.contains(s"PushedLimit: $k"),
        "limit did not reach the graft scan")
      // k rows on the driver is bounded by construction (k, not data size)
      val got = limited.collect().map(r => graft.engine.TokenRow(
        r.getString(0), r.getSeq[Int](1).toArray, r.getInt(2), r.getString(3)))
      val gotDs = spark.createDataset(got.toSeq)
        .toDF("doc_id", "tokens_got", "n_tok_got", "source_got")
      // validity check joins the k rows back against the full input (the
      // join is distributed; the k-row side broadcasts)
      val nValid = gotDs.join(input.toDF("doc_id", "tokens", "n_tok", "source"), Seq("doc_id"))
        .where($"tokens_got" === $"tokens" && $"n_tok_got" === $"n_tok" &&
          $"source_got" === $"source")
        .count()
      Seq((got.length.toLong, nValid)).toDF("n_rows", "n_valid")
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** Token-range predicate pushdown through the connector, end-to-end from
    * SQL: `exists(tokens, x -> lo <= x <= hi)` reaches the tokens-chunk
    * min/max skip via [[graft.sources.GraftTokenRangePushdown]] (asserted
    * on the plan in-query), survivors are re-filtered exactly, and the
    * result is oracle-checked — DuckDB replays the tokenizer's FNV-1a
    * word hash in mod-2^32 BIGINT arithmetic, so the match set is exact
    * cross-engine. (Pruning COUNTS are pinned in GraftDataSourceSpec on
    * the zipf-clustered layout; the documents-derived table's uniform
    * hash ids make min/max skips rare by construction.) */
  def dsv2TokenRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // band chosen to be SELECTIVE on the corpus vocabulary: it contains the
    // hash of one rare word (~5% of docs), so both the skip and the exact
    // re-filter paths do real work at every sf
    val (lo, hi) = (29490, 29519)
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-tok-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
      SegmentStore.encodeCommit(input, base, snapshotId = 1L, buckets = 8)
      val hits = spark.read.format("graft").load(base)
        .filter(expr(s"exists(tokens, x -> x >= $lo AND x <= $hi)"))
      require(hits.queryExecution.executedPlan.toString
        .contains(s"PushedTokenRange: [$lo, $hi]"),
        "token range did not reach the graft scan")
      val row = hits
        .agg(count(lit(1)).as("n_docs"), coalesce(sum($"n_tok"), lit(0L)).cast("long").as("sum_tokens"))
        .collect()(0)
      Seq((row.getLong(0), row.getLong(1))).toDF("n_docs", "sum_tokens")
    } finally deleteRecursively(new java.io.File(base))
  }

  /** Point-lookup pushdown through the per-chunk BLOOM FILTERS (the ORC
    * BLOOM_FILTER stream analog, opt-in per column like
    * `orc.bloom.filter.columns`): the table is written through the DSv2
    * write path with `graft.codec.bloomColumns=doc_id,tokens`, and an
    * `array_contains(tokens, t)` point predicate reaches the tokens-chunk
    * bloom via the token-range rule (a degenerate [t, t] range). The probe
    * token is the corpus word "dup" (FNV-1a id 29499, ~5% of docs at every
    * sf), so skip, bloom and exact re-filter paths all do real work.
    * Oracle-exact: DuckDB replays the word hash. Pruning COUNTS (bloom
    * beats min/max on full-range chunks) are pinned in
    * GraftDataSourceSpec; this entry pins cross-engine exactness. */
  def dsv2Bloom(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probe = 29499 // stableHash("dup")
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-bloom-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
      input.toDF("doc_id", "tokens", "n_tok", "source")
        .write.format("graft").option("buckets", "8")
        .option("graft.codec.bloomColumns", "doc_id,tokens")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val hits = spark.read.format("graft").load(base)
        .filter(array_contains($"tokens", probe))
      require(hits.queryExecution.executedPlan.toString
        .contains(s"PushedTokenRange: [$probe, $probe]"),
        "point token predicate did not reach the graft scan")
      val row = hits
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"n_tok"), lit(0L)).cast("long").as("sum_tokens"))
        .collect()(0)
      Seq((row.getLong(0), row.getLong(1))).toDF("n_docs", "sum_tokens")
    } finally deleteRecursively(new java.io.File(base))
  }

  /** The DSv2 WRITE path end-to-end: `df.write.format("graft")` (the
    * standard Spark write surface — no graft-specific API) encodes under
    * the declared doc_id-clustered distribution, commits atomically through
    * the lineage ledger, and the connector reads the table back. Output is
    * a full-fidelity audit per source: doc/token totals plus the count of
    * rows that failed bit-exact round-trip (must be 0) — all
    * SQL-expressible, so DuckDB replays it from the raw documents table.
    * The reference's writer is an explicit TODO stub
    * (/root/reference/src/writer.rs:18-23); this entry is the completed
    * write half it never shipped. */
  def dsv2Write(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: the tokenized input feeds the write AND the audit join
    val input = TokenTables.fromDocuments(spark, dir).persist()
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-write-q").toString
    try {
      input.toDF("doc_id", "tokens", "n_tok", "source")
        .write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val nCommitted = SegmentStore.readLineage(spark, base)
        .filter($"status" === SegmentStore.Committed).count()
      require(nCommitted == 8L, s"expected 8 committed bucket rows, got $nCommitted")
      roundTripAudit(spark, input,
        spark.read.format("graft").load(base)
          .toDF("doc_id", "tokens_dec", "n_tok_dec", "source_dec"),
        withTokens = true)
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** METADATA COLUMNS through the connector (the reference's scalar type
    * matrix, /root/reference/src/lib.rs:139-156, rendered onto the graft
    * codec stack): the token table rides with per-doc scalar metadata —
    * a nullable double (`quality`), a nullable string (`lang`), a long
    * (`views`) — encoded as PRESENT-framed selector streams beside the
    * canonical five, with min/max stats and filter pushdown. The entry
    * (1) writes the widened schema via `df.write.format("graft")`,
    * (2) asserts a metadata predicate reaches the scan (PushedFilters on
    * `views`), (3) null-safe-audits every metadata value against the
    * input (n_mismatch must be 0), and (4) aggregates per lang under a
    * null-tolerant quality filter — all derived from n_tok, so DuckDB
    * replays it exactly from the raw documents table. */
  def dsv2Meta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: feeds the write and the null-safe audit join
    val input = TokenTables.fromDocuments(spark, dir)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("views", $"n_tok".cast("long") * 3L)
      .withColumn("quality", when($"n_tok" % 7 =!= 0, $"n_tok" / 10.0 - 5.0))
      .withColumn("lang",
        when($"n_tok" % 5 =!= 0, concat(lit("l"), ($"n_tok" % 3).cast("string"))))
      .persist()
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-meta-q").toString
    try {
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      require(table.schema.fieldNames.toSeq ==
        Seq("doc_id", "tokens", "n_tok", "source", "views", "quality", "lang"),
        s"recorded schema mismatch: ${table.schema.simpleString}")
      // metadata predicates negotiate into the scan like canonical ones
      val pushedDesc = table.filter($"views" >= 3L)
        .queryExecution.executedPlan.toString
      require(pushedDesc.contains("PushedFilters: [GreaterThanOrEqual(views,"),
        s"metadata filter did not reach the graft scan:\n${pushedDesc.take(800)}")
      // null-safe bit-exact audit of every metadata value
      val dec = table.toDF("doc_id", "tokens_d", "n_tok_d", "source_d",
        "views_d", "quality_d", "lang_d")
      val nMismatch = input.join(dec, Seq("doc_id"), "full_outer")
        .filter(!($"views" <=> $"views_d" && $"quality" <=> $"quality_d" &&
          $"lang" <=> $"lang_d" && $"n_tok" <=> $"n_tok_d" && $"source" <=> $"source_d"))
        .count()
      val rows = table
        .filter($"quality".isNull || $"quality" > -4.0)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"views").cast("long").as("sum_views"),
          count($"quality").as("n_quality"))
        .withColumn("n_mismatch", lit(nMismatch))
        .orderBy($"lang")
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_views", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_quality", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_mismatch", org.apache.spark.sql.types.LongType))))
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** THE FULL SCALAR TYPE MATRIX through the connector (round-5 top item:
    * the reference reads boolean/int8/int16/int32/int64/float32/float64/
    * decimal(15,5)/binary/utf8/date32 first-class, src/lib.rs:139-156 and
    * the alltypes fixture of tests/basic_reading.rs:192; graft round-4
    * supported only the int/long/date/timestamp/double/string subset).
    * One column per new type rides beside the token streams — boolean,
    * byte, short, float (32-bit sortable-bits stream), decimal(15,5)
    * (unscaled-long stream), binary (byte-domain string selector) — every
    * value derived from n_tok so DuckDB replays it from raw documents.
    * The entry (1) writes and reads the widened table, (2) asserts a
    * DECIMAL predicate reaches the scan pushed, (3) null-safe-audits every
    * value of every new column against the pre-write input (n_mismatch
    * must be 0), and (4) aggregates one exact (integer-domain) figure per
    * column. */
  def dsv2MetaAllTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val input = TokenTables.fromDocuments(spark, dir)
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("flag", when($"n_tok" % 11 =!= 0, $"n_tok" % 2 === 0))
        .withColumn("tiny", when($"n_tok" % 7 =!= 0,
          ($"n_tok" % 200 - 100).cast("byte")))
        .withColumn("small", when($"n_tok" % 5 =!= 0,
          (($"n_tok" * 7) % 30000 - 15000).cast("short")))
        .withColumn("ratio", when($"n_tok" % 13 =!= 0,
          ($"n_tok" * 3).cast("float"))) // integer-valued: exact in float
        .withColumn("price", when($"n_tok" % 9 =!= 0,
          ($"n_tok" * 137).cast(DecimalType(15, 5))))
        .withColumn("blob", when($"n_tok" % 6 =!= 0,
          concat(lit("b"), ($"n_tok" % 17).cast("string")).cast("binary")))
        .persist() // feeds the write and the null-safe audit join
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-alltypes-q").toString
    try {
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      require(table.schema.fields.map(f => f.name -> f.dataType).toSeq.drop(4) ==
        Seq("flag" -> BooleanType, "tiny" -> ByteType, "small" -> ShortType,
          "ratio" -> FloatType, "price" -> DecimalType(15, 5), "blob" -> BinaryType),
        s"recorded type matrix mismatch: ${table.schema.simpleString}")
      // a DECIMAL range predicate negotiates into the scan like any other
      val pushedDesc = table.filter($"price" > new java.math.BigDecimal("137.00000"))
        .queryExecution.executedPlan.toString
      require(pushedDesc.contains("PushedFilters: [GreaterThan(price,"),
        s"decimal filter did not reach the graft scan:\n${pushedDesc.take(800)}")
      // null-safe bit-exact audit of every new-type value (<=> compares
      // binary by bytes, decimal by value, float by IEEE equality)
      val dec = table.toDF("doc_id", "tokens_d", "n_tok_d", "source_d",
        "flag_d", "tiny_d", "small_d", "ratio_d", "price_d", "blob_d")
      val nMismatch = input.join(dec, Seq("doc_id"), "full_outer")
        .filter(!($"flag" <=> $"flag_d" && $"tiny" <=> $"tiny_d" &&
          $"small" <=> $"small_d" && $"ratio" <=> $"ratio_d" &&
          $"price" <=> $"price_d" && $"blob" <=> $"blob_d"))
        .count()
      val row = table.agg(
        count(lit(1)).as("n_docs"),
        count($"flag").as("n_flag"),
        sum(when($"flag", 1L).otherwise(0L)).as("n_true"),
        sum($"tiny".cast("long")).as("sum_tiny"),
        sum($"small".cast("long")).as("sum_small"),
        sum($"ratio".cast("long")).as("sum_ratio"),
        sum($"price").cast("long").as("sum_price"),
        sum(octet_length($"blob").cast("long")).as("sum_blob_len"))
        .withColumn("n_mismatch", lit(nMismatch))
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1),
        StructType(Seq("n_docs", "n_flag", "n_true", "sum_tiny", "sum_small",
          "sum_ratio", "sum_price", "sum_blob_len", "n_mismatch")
          .map(n => StructField(n, LongType))))
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** LIST METADATA COLUMNS through the connector (round-5 item 2 — the
    * map_list fixture's List shape, tests/basic_reading.rs:233, via the
    * LENGTH framing tokens/tok_len already use, generalized): an
    * `array<int>` column (`tags`, nullable lists) and an `array<string>`
    * column (`words`) ride beside the token streams as element+length
    * stream pairs. The entry (1) writes and reads the widened table,
    * (2) asserts an `array_contains` predicate reaches the scan as a
    * pushed element point (the generalized token-range rule), (3)
    * null-safe-audits every list value, and (4) aggregates contains/size
    * figures DuckDB replays with list_contains/len. */
  def dsv2MetaList(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val input = TokenTables.fromDocuments(spark, dir)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("tags", when($"n_tok" % 4 =!= 0,
        array($"n_tok" % 50, ($"n_tok" * 3) % 50, ($"n_tok" * 7) % 50)))
      .withColumn("words", when($"n_tok" % 10 =!= 0,
        array(concat(lit("w"), ($"n_tok" % 5).cast("string")),
          concat(lit("w"), ($"n_tok" % 11).cast("string")))))
      .persist() // feeds the write and the null-safe audit join
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-list-q").toString
    try {
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      // containsNull follows the input's element nullability — pin only
      // the element types here
      require(table.schema.fields.map {
        case f @ StructField(_, ArrayType(et, _), _, _) => f.name -> et
        case f => f.name -> f.dataType
      }.toSeq.drop(4) ==
        Seq("tags" -> IntegerType, "words" -> StringType),
        s"recorded list schema mismatch: ${table.schema.simpleString}")
      // the element predicate reaches the scan (point + degenerate range)
      val has7 = table.filter(array_contains($"tags", 7))
      val plan = has7.queryExecution.executedPlan.toString
      require(plan.contains("PushedElemPoints: [tags:[7]]"),
        s"array_contains did not reach the graft scan:\n${plan.take(800)}")
      val n7 = has7.count()
      // null-safe bit-exact audit of both list columns
      val dec = table.toDF("doc_id", "tokens_d", "n_tok_d", "source_d",
        "tags_d", "words_d")
      val nMismatch = input.join(dec, Seq("doc_id"), "full_outer")
        .filter(!($"tags" <=> $"tags_d" && $"words" <=> $"words_d"))
        .count()
      val row = table.agg(
        count(lit(1)).as("n_docs"),
        count($"tags").as("n_tags"),
        sum(size($"tags").cast("long")).as("sum_tag_len"),
        count($"words").as("n_words"),
        sum(when(array_contains($"words", "w3"), 1L).otherwise(0L)).as("n_w3"))
        .withColumn("n_has7", lit(n7))
        .withColumn("n_mismatch", lit(nMismatch))
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1),
        StructType(Seq("n_docs", "n_tags", "sum_tag_len", "n_words", "n_w3",
          "n_has7", "n_mismatch").map(n => StructField(n, LongType))))
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** MAP metadata columns end-to-end (the map_list fixture's
    * `m: Map(Utf8,Utf8)`, tests/basic_reading.rs:233): a string->string
    * map with NULL maps and NULL values (value PRESENT framing) plus a
    * string->long map, written through the connector as two LENGTH-framed
    * pseudo-lists per map ([[graft.sources.MetaColumns.engineFields]]),
    * read back zipped into MapData. Bit-exact audit via sorted
    * map_entries (Spark maps aren't directly comparable); every reported
    * aggregate derives from n_tok so DuckDB replays it map-free. */
  def dsv2MetaMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val input = TokenTables.fromDocuments(spark, dir)
      .toDF("doc_id", "tokens", "n_tok", "source")
      // NULL map every 4th row; 'tier' value NULL every 5th row
      .withColumn("attrs", when($"n_tok" % 4 =!= 0,
        map(lit("lang"), concat(lit("l"), ($"n_tok" % 3).cast("string")),
          lit("tier"), when($"n_tok" % 5 =!= 0,
            concat(lit("t"), ($"n_tok" % 2).cast("string"))))))
      .withColumn("scores", when($"n_tok" % 7 =!= 0,
        map(lit("views"), $"n_tok".cast("long") * 3L,
          lit("mod"), ($"n_tok" % 13).cast("long"))))
      .persist() // feeds the write and the null-safe audit join
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-map-q").toString
    try {
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      // valueContainsNull follows the input's value nullability — pin the
      // key/value types only
      require(((table.schema("attrs").dataType, table.schema("scores").dataType) match {
        case (MapType(StringType, StringType, _), MapType(StringType, LongType, _)) => true
        case _ => false
      }), s"recorded map schema mismatch: ${table.schema.simpleString}")
      // null-safe bit-exact audit: maps compared as sorted entry arrays
      val dec = table.toDF("doc_id", "tokens_d", "n_tok_d", "source_d",
        "attrs_d", "scores_d")
      def entries(c: org.apache.spark.sql.Column) = sort_array(map_entries(c))
      val nMismatch = input.join(dec, Seq("doc_id"), "full_outer")
        .filter(!(entries($"attrs") <=> entries($"attrs_d") &&
          entries($"scores") <=> entries($"scores_d")))
        .count()
      val row = table.agg(
        count(lit(1)).as("n_docs"),
        count($"attrs").as("n_attrs"),
        sum(when(element_at($"attrs", "lang") === "l1", 1L).otherwise(0L)).as("n_lang1"),
        sum(when($"attrs".isNotNull && element_at($"attrs", "tier").isNull, 1L)
          .otherwise(0L)).as("n_tier_null"),
        sum(element_at($"scores", "views")).as("sum_views"),
        sum(element_at($"scores", "mod")).as("sum_mod"),
        sum(size(map_keys($"attrs")).cast("long")).as("sum_keys"))
        .withColumn("n_mismatch", lit(nMismatch))
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1),
        StructType(Seq("n_docs", "n_attrs", "n_lang1", "n_tier_null",
          "sum_views", "sum_mod", "sum_keys", "n_mismatch")
          .map(n => StructField(n, LongType))))
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** STRUCT metadata columns end-to-end (the reference type matrix's last
    * row, src/lib.rs:156): a struct<double, decimal(15,5), string> with
    * NULL structs and NULL members, stored as a presence pseudo-stream
    * `c__p` plus one scalar pseudo-stream per member
    * ([[graft.sources.MetaColumns.engineFields]]), read back re-assembled.
    * Bit-exact null-safe audit; every reported aggregate derives from
    * n_tok so DuckDB replays it struct-free. */
  def dsv2MetaStruct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val input = TokenTables.fromDocuments(spark, dir)
      .toDF("doc_id", "tokens", "n_tok", "source")
      // NULL struct every 4th row; NULL 'score' MEMBER every 5th row
      .withColumn("info", when($"n_tok" % 4 =!= 0, struct(
        when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 5.0).as("score"),
        ($"n_tok" * 7).cast("decimal(15,5)").as("price"),
        concat(lit("k"), ($"n_tok" % 3).cast("string")).as("kind"))))
      .persist() // feeds the write and the null-safe audit join
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-struct-q").toString
    try {
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      require(table.schema("info").dataType match {
        case StructType(Array(
          StructField("score", DoubleType, _, _),
          StructField("price", dt: DecimalType, _, _),
          StructField("kind", StringType, _, _))) => dt == DecimalType(15, 5)
        case _ => false
      }, s"recorded struct schema mismatch: ${table.schema.simpleString}")
      val dec = table.toDF("doc_id", "tokens_d", "n_tok_d", "source_d", "info_d")
      val nMismatch = input.join(dec, Seq("doc_id"), "full_outer")
        .filter(!($"info" <=> $"info_d")).count()
      val row = table.agg(
        count(lit(1)).as("n_docs"),
        count($"info").as("n_info"),
        count($"info.score").as("n_score"),
        // per-VALUE decimal cast, then an exact decimal sum — raw double
        // summation is partition-order-dependent and would hash-flake
        sum($"info.score".cast("decimal(18,6)")).cast("double").as("sum_score"),
        sum($"info.price").cast("decimal(18,5)").cast("double").as("sum_price"),
        sum(when($"info.kind" === "k1", 1L).otherwise(0L)).as("n_k1"))
        .withColumn("n_mismatch", lit(nMismatch))
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1),
        StructType(Seq(
          StructField("n_docs", LongType), StructField("n_info", LongType),
          StructField("n_score", LongType), StructField("sum_score", DoubleType),
          StructField("sum_price", DoubleType), StructField("n_k1", LongType),
          StructField("n_mismatch", LongType))))
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** NESTED predicate pushdown end-to-end (round-5: the DataFusion-side
    * nested-column pruning the reference gets from parquet row-group
    * stats, rendered onto graft's engine streams): `info.kind`/`info.score`
    * member predicates are rewritten onto the members' own stat-bearing
    * streams (`info__f_kind`/`info__f_score` — min/max cover non-null
    * members, PRESENT is null where struct OR member is), and IS [NOT]
    * NULL on a struct/list/map column resolves to its presence-bearing
    * stream (`__p`/`__len`/`__k__len`). Every filter REQUIRES its
    * rewritten stream name in the executed plan, so the entry fails loudly
    * if the pushdown stops engaging rather than silently running unpushed.
    * All values derive from n_tok, so DuckDB replays it nested-free. */
  def dsv2NestedPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-nestedpd-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("info", when($"n_tok" % 4 =!= 0, struct(
          when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 5.0).as("score"),
          concat(lit("k"), ($"n_tok" % 3).cast("string")).as("kind"))))
        .withColumn("tags", when($"n_tok" % 3 =!= 0, array($"n_tok", $"n_tok" + 1)))
        .withColumn("attrs", when($"n_tok" % 6 =!= 0,
          map(lit("lang"), concat(lit("l"), ($"n_tok" % 2).cast("string")))))
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)

      val ranged = table.filter($"info.kind" === "k1" && $"info.score" > 2.0)
      val planR = ranged.queryExecution.executedPlan.toString
      require(planR.contains("info__f_kind") && planR.contains("info__f_score"),
        s"member predicates not rewritten onto their streams:\n$planR")
      def requireStream(df: DataFrame, what: String): DataFrame = {
        val p = df.queryExecution.executedPlan.toString
        require(p.contains(what), s"null check not rewritten onto $what:\n$p")
        df
      }
      val nullStruct = requireStream(table.filter($"info".isNull), "IsNull(info__p)")
      val nullScore = requireStream(
        table.filter($"info.score".isNull), "IsNull(info__f_score)")
      val tagsPresent =
        requireStream(table.filter($"tags".isNotNull), "IsNotNull(tags__len)")
      val attrsNull =
        requireStream(table.filter($"attrs".isNull), "IsNull(attrs__k__len)")

      val row = ranged.agg(
        count(lit(1)).as("n_range"),
        coalesce(sum($"n_tok".cast("long")), lit(0L)).as("sum_range_tok"))
        .withColumn("n_null_struct", lit(nullStruct.count()))
        .withColumn("n_null_score", lit(nullScore.count()))
        .withColumn("n_tags_present", lit(tagsPresent.count()))
        .withColumn("n_attrs_null", lit(attrsNull.count()))
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1),
        StructType(Seq("n_range", "sum_range_tok", "n_null_struct",
          "n_null_score", "n_tags_present", "n_attrs_null")
          .map(n => StructField(n, LongType))))
    } finally deleteRecursively(new java.io.File(base))
  }

  /** NESTED aggregate pushdown end-to-end (round-5, completing the nested
    * story): `MIN/MAX/COUNT(info.score)` fold from the MEMBER stream's
    * (`info__f_score`) header stats — non-null members only, exactly SQL's
    * null-ignoring domain — with zero payload decode, the same exact-stats
    * stance as the reference's metadata.rs:64-86 rendered one nesting level
    * down. The plan is REQUIRED to be answered on the driver (a local
    * relation, no graft scan), so the entry fails loudly if the fold stops
    * engaging. Values derive
    * from n_tok, so DuckDB replays the struct nested-free. */
  def dsv2NestedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-nestedagg-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("info", when($"n_tok" % 4 =!= 0, struct(
          when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 5.0).as("score"),
          concat(lit("k"), ($"n_tok" % 3).cast("string")).as("kind"))))
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      val fused = table.agg(
        count(lit(1)).as("n_docs"),
        count($"info.score").as("n_score"),
        min($"info.score").as("min_score"),
        max($"info.score").as("max_score"),
        count($"info.kind").as("n_kind"),
        min($"info.kind").as("min_kind"),
        max($"info.kind").as("max_kind"))
      val plan = fused.queryExecution.executedPlan
      require(graft.sources.GraftStatsAggPushdown.answeredOnDriver(plan),
        s"member aggregates not answered from member-stream header stats:\n$plan")
      // materialize before the temp table directory is deleted
      val rows = fused.collect().toSeq
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("n_docs", LongType), StructField("n_score", LongType),
          StructField("min_score", DoubleType), StructField("max_score", DoubleType),
          StructField("n_kind", LongType), StructField("min_kind", StringType),
          StructField("max_kind", StringType))))
    } finally deleteRecursively(new java.io.File(base))
  }

  /** NESTED projection pruning end-to-end (round-5, closing the
    * reference's own unchecked roadmap item README.md:96 "nested column
    * pruning"): projecting a STRUCT member subset reads ONLY those
    * members' streams — the scan schema carries the pruned struct, the v2
    * parquet request omits the unprojected members' payload columns, and
    * the decode never touches them. The entry REQUIRES the pruned struct
    * in the executed plan and the fat unprojected member's absence, so it
    * fails loudly if member pruning stops engaging. Values derive from
    * n_tok, so DuckDB replays the members nested-free. */
  def dsv2NestedPrune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-nestedprune-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
        .toDF("doc_id", "tokens", "n_tok", "source")
        // 'blob' is the fat member the projection must never decode
        .withColumn("info", when($"n_tok" % 4 =!= 0, struct(
          when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 5.0).as("score"),
          sha2(concat($"doc_id", lit("pad"), $"n_tok".cast("string")), 512).as("blob"),
          concat(lit("k"), ($"n_tok" % 3).cast("string")).as("kind"))))
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      val pruned = table.select($"n_tok",
        $"info.score".as("score"), $"info.kind".as("kind"))
      val plan = pruned.queryExecution.executedPlan.toString
      require(plan.contains("struct<score:double,kind:string>") &&
        !plan.contains("blob"),
        s"struct member subset not pruned in the scan schema:\n$plan")
      val row = pruned.agg(
        count(lit(1)).as("n_docs"),
        count($"score").as("n_score"),
        sum($"score".cast("decimal(18,6)")).cast("double").as("sum_score"),
        sum(when($"kind" === "k1", $"n_tok".cast("long"))
          .otherwise(0L)).as("sum_k1_tok"))
        .collect().toSeq
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1),
        StructType(Seq(
          StructField("n_docs", LongType), StructField("n_score", LongType),
          StructField("sum_score", DoubleType),
          StructField("sum_k1_tok", LongType))))
    } finally deleteRecursively(new java.io.File(base))
  }

  /** Sorted write end-to-end (round-5, the ORC `orc.sort.columns` /
    * Iceberg sort-order analog): `sortBy=lang` clusters each bucket by
    * the column's stored order (nulls first, then UTF-8 byte order), so
    * its chunk stats come out tight and equality/range filters prune.
    * The entry REQUIRES the ordering contract on the read-back (zero
    * per-partition order violations) and the `_meta`-recorded sort order,
    * so it fails loudly if the clustering stops being applied. Values
    * derive from n_tok, so DuckDB replays the column nested-free. */
  def dsv2SortedWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-sorted-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("lang", when($"n_tok" % 5 =!= 0,
          concat(lit("l"), ($"n_tok" % 8).cast("string"))))
      input.write.format("graft").option("buckets", "4")
        .option("sortBy", "lang")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      require(graft.sources.GraftTableMeta
        .read(base, spark.sparkContext.hadoopConfiguration)
        .flatMap(_.sortBy).contains("lang"), "sortBy not recorded in lineage/_meta")
      val table = spark.read.format("graft").load(base)
      val violations = table.select($"lang").as[String]
        .mapPartitions { it =>
          var prev: String = null
          var seenValue = false
          var viol = 0L
          it.foreach { v =>
            if (v == null) { if (seenValue) viol += 1 }
            else {
              if (prev != null && graft.engine.GraftEncoder.compareUtf8(prev, v) > 0)
                viol += 1
              prev = v; seenValue = true
            }
          }
          Iterator.single(viol)
        }.collect().sum
      require(violations == 0L,
        s"sorted write broke the per-bucket ordering contract ($violations violations)")
      val row = table.agg(
        count(lit(1)).as("n_docs"),
        count($"lang").as("n_lang"),
        sum(when($"lang" === "l3", 1L).otherwise(0L)).as("n_l3"),
        sum(when($"lang" === "l3", $"n_tok".cast("long")).otherwise(0L)).as("sum_l3_tok"))
        .collect().toSeq
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1),
        StructType(Seq(
          StructField("n_docs", LongType), StructField("n_lang", LongType),
          StructField("n_l3", LongType), StructField("sum_l3_tok", LongType))))
    } finally deleteRecursively(new java.io.File(base))
  }

  /** LIST-element aggregate folding end-to-end (round-5, generalizing the
    * round-3 tokens-only fold): `min(array_min(tags))` / `max(array_max
    * (names))` over LIST metadata columns reduce to the element streams'
    * header stats via [[graft.sources.GraftStatsAggPushdown]] — mixed in
    * the SAME aggregate with plain scalar MIN/MAX and COUNTs, all folded,
    * zero payload decode. The plan is REQUIRED to be answered on the
    * driver (a local relation, no graft scan). Values derive from n_tok,
    * so DuckDB replays the lists with list_min/list_max. */
  def dsv2ElemAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-elemagg-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("tags", when($"n_tok" % 3 =!= 0,
          array($"n_tok" * 2, $"n_tok" * 2 + 1)))
        .withColumn("names", when($"n_tok" % 4 =!= 0,
          array(concat(lit("n"), ($"n_tok" % 7).cast("string")))))
        .withColumn("quality", when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 3.0))
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      val fused = table.agg(
        min(array_min($"tags")).as("lo_tag"),
        max(array_max($"tags")).as("hi_tag"),
        min(array_min($"names")).as("lo_name"),
        max(array_max($"names")).as("hi_name"),
        min($"quality").as("lo_q"), max($"quality").as("hi_q"),
        count($"tags").as("n_tags"), count(lit(1)).as("n_docs"))
      val plan = fused.queryExecution.executedPlan
      require(graft.sources.GraftStatsAggPushdown.answeredOnDriver(plan),
        s"element aggregates not answered from header stats:\n$plan")
      val rows = fused.collect().toSeq
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("lo_tag", IntegerType), StructField("hi_tag", IntegerType),
          StructField("lo_name", StringType), StructField("hi_name", StringType),
          StructField("lo_q", DoubleType), StructField("hi_q", DoubleType),
          StructField("n_tags", LongType), StructField("n_docs", LongType))))
    } finally deleteRecursively(new java.io.File(base))
  }

  /** MAP-access predicate pruning end-to-end (round-5, the last nested
    * pushdown gap): `attrs['lang'] = v` has no sources.Filter form, so
    * [[graft.sources.GraftMapAccessPushdown]] renders it as stat filters
    * on the map's pseudo-streams — the key element must be in the chunk's
    * `attrs__k` range AND the value element in `attrs__v`'s — pruning
    * files, segments, row groups and bloom-probing like any scalar point
    * lookup. The plan is REQUIRED to carry the PushedMapStats marker. All
    * values derive from n_tok, so DuckDB replays the maps nested-free. */
  def dsv2MapPushdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-mappd-q").toString
    try {
      val input = TokenTables.fromDocuments(spark, dir)
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("attrs", when($"n_tok" % 4 =!= 0, map(
          lit("lang"), concat(lit("l"), ($"n_tok" % 5).cast("string")),
          lit("tier"), concat(lit("t"), ($"n_tok" % 3).cast("string")))))
        .withColumn("scores", map(lit("rank"), $"n_tok" * 10))
      input.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      def requireMapStats(df: DataFrame): DataFrame = {
        val p = df.queryExecution.executedPlan.toString
        require(p.contains("PushedMapStats"),
          s"map access not pushed onto pseudo-streams:\n$p")
        df
      }
      val lang = requireMapStats(table.filter($"attrs"("lang") === "l2"))
      val ranked = requireMapStats(table.filter($"scores"("rank") > lit(500)))
      val both = requireMapStats(
        table.filter($"attrs"("tier") === "t1" && $"scores"("rank") <= lit(500)))
      val missing = requireMapStats(table.filter($"attrs"("zz").isNotNull))
      val row = lang.agg(
        count(lit(1)).as("n_lang"),
        coalesce(sum($"n_tok".cast("long")), lit(0L)).as("sum_lang_tok"))
        .withColumn("n_ranked", lit(ranked.count()))
        .withColumn("n_both", lit(both.count()))
        .withColumn("n_missing", lit(missing.count()))
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(row, 1),
        StructType(Seq("n_lang", "sum_lang_tok", "n_ranked", "n_both", "n_missing")
          .map(n => StructField(n, LongType))))
    } finally deleteRecursively(new java.io.File(base))
  }

  /** SCHEMA EVOLUTION end-to-end (round-5 item 3; the reference's
    * Schema::try_merge across files, file_format.rs:146-161, rendered as
    * add-column-with-null-default INSIDE one table): generation 1 lands
    * without `lang`, the table evolves, generation 2 lands with it; files
    * written before the evolution read the column as NULL. The entry
    * audits generation-2 values bit-exactly, asserts generation-1 rows are
    * all-NULL for the new column, and aggregates per lang (nulls = the old
    * generation) — all derived from n_tok, so DuckDB replays it. */
  def dsv2SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // persisted: feeds both generation writes and the gen-2 audit join
    val all = TokenTables.fromDocuments(spark, dir)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .persist()
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-evolve-q").toString
    try {
      val gen1 = all.filter($"n_tok" % 2 === 0)
      val gen2in = all.filter($"n_tok" % 2 =!= 0)
        .withColumn("lang", concat(lit("l"), ($"n_tok" % 3).cast("string")))
      gen1.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val v = graft.sources.GraftTableMeta.evolve(
        base, spark.sessionState.newHadoopConf(), gen2in.schema)
      require(v == 1, s"expected schema version 1, got $v")
      gen2in.write.format("graft").option("buckets", "8")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val table = spark.read.format("graft").load(base)
      require(table.schema.fieldNames.toSeq ==
        Seq("doc_id", "tokens", "n_tok", "source", "lang"),
        s"evolved schema mismatch: ${table.schema.simpleString}")
      // generation-1 rows must read lang as NULL; generation-2 bit-exact
      val nOldNonNull = table.filter($"n_tok" % 2 === 0 && $"lang".isNotNull).count()
      val dec = table.filter($"n_tok" % 2 =!= 0)
        .toDF("doc_id", "tokens_d", "n_tok_d", "source_d", "lang_d")
      val nMismatch = gen2in.join(dec, Seq("doc_id"), "full_outer")
        .filter(!($"lang" <=> $"lang_d")).count() + nOldNonNull
      val rows = table
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok".cast("long")).as("sum_tokens"))
        .withColumn("n_mismatch", lit(nMismatch))
        .orderBy($"lang")
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("lang", StringType),
          StructField("n_docs", LongType),
          StructField("sum_tokens", LongType),
          StructField("n_mismatch", LongType))))
    } finally {
      all.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** METADATA-TABLE COMPACTION end-to-end: the widened table lands in
    * THREE connector appends (the streaming-accretion shape), compacts
    * into one snapshot through the stored-domain re-chunk path
    * ([[SegmentStore.compact]] — decode streams → re-sort → re-encode,
    * metadata included), and the compacted table must (1) shrink the
    * part-file count, (2) be served by exactly the compacted generation,
    * (3) null-safe-match every metadata value of the input (n_mismatch
    * 0), and (4) aggregate identically — all derived from n_tok, so
    * DuckDB replays it from the raw documents table. */
  def compactionMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: feeds three snapshot writes + the post-compaction audit
    val input = TokenTables.fromDocuments(spark, dir)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("views", $"n_tok".cast("long") * 3L)
      .withColumn("quality", when($"n_tok" % 7 =!= 0, $"n_tok" / 10.0 - 5.0))
      .withColumn("lang",
        when($"n_tok" % 5 =!= 0, concat(lit("l"), ($"n_tok" % 3).cast("string"))))
      .persist()
    val base = java.nio.file.Files.createTempDirectory("graft-compact-meta-q").toString
    try {
      for (r <- 0 until 3)
        input.filter($"n_tok" % 3 === r).write.format("graft")
          .option("buckets", "4").mode(org.apache.spark.sql.SaveMode.Append).save(base)
      def files() = graft.sources.GraftLayout.listDataFiles(
        base, spark.sessionState.newHadoopConf())
      val filesBefore = files().length
      val cid = SegmentStore.compact(spark, base, upTo = 3L, buckets = 4)
      require(cid.contains(SegmentStore.CompactionBase),
        s"expected the first compaction-space snapshot, got $cid")
      require(files().length < filesBefore,
        s"metadata compaction must shrink files: $filesBefore -> ${files().length}")
      val table = spark.read.format("graft").load(base)
      val dec = table.toDF("doc_id", "tokens_d", "n_tok_d", "source_d",
        "views_d", "quality_d", "lang_d")
      val nMismatch = input.join(dec, Seq("doc_id"), "full_outer")
        .filter(!($"views" <=> $"views_d" && $"quality" <=> $"quality_d" &&
          $"lang" <=> $"lang_d" && $"n_tok" <=> $"n_tok_d" &&
          $"tokens" <=> $"tokens_d"))
        .count()
      val rows = table.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"views").cast("long").as("sum_views"),
          count($"quality").as("n_quality"))
        .withColumn("n_mismatch", lit(nMismatch))
        .orderBy($"lang")
        .collect().toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_views", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_quality", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_mismatch", org.apache.spark.sql.types.LongType))))
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** Snapshot TIME TRAVEL through the lineage ledger (the Iceberg
    * `snapshot-id` read-option analog, north_rule's "writes them back to
    * Iceberg with per-partition lineage rows" surface): the corpus lands
    * in two committed snapshots (even-token-count docs then odd), and a
    * `.option("snapshotId", 1)` read must see EXACTLY the first commit —
    * no snapshot-2 rows, no partial data — while the default read sees the
    * union. Both halves are SQL-expressible (token-count parity replays in
    * DuckDB), so the whole as-of contract is oracle-checked. */
  def dsv2TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: both snapshot writes filter the same tokenized input
    val input = TokenTables.fromDocuments(spark, dir).persist()
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-tt-q").toString
    try {
      val even = input.filter(_.n_tok % 2 == 0)
      val odd = input.filter(_.n_tok % 2 == 1)
      even.toDF("doc_id", "tokens", "n_tok", "source")
        .write.format("graft").option("buckets", "4")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      odd.toDF("doc_id", "tokens", "n_tok", "source")
        .write.format("graft").option("buckets", "4")
        .mode(org.apache.spark.sql.SaveMode.Append).save(base)
      val asOf = spark.read.format("graft").option("snapshotId", "1").load(base)
      require(asOf.queryExecution.executedPlan.toString.contains("AsOfSnapshot: 1"),
        "snapshotId option did not reach the graft scan")
      val a = asOf.agg(count(lit(1)).as("n"),
        coalesce(sum($"n_tok"), lit(0L)).cast("long").as("t")).collect()(0)
      val f = spark.read.format("graft").load(base).agg(count(lit(1)).as("n"),
        coalesce(sum($"n_tok"), lit(0L)).cast("long").as("t")).collect()(0)
      Seq((a.getLong(0), a.getLong(1), f.getLong(0), f.getLong(1)))
        .toDF("asof_docs", "asof_tokens", "full_docs", "full_tokens")
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** Snapshot COMPACTION (table maintenance for the streaming path: one
    * ledgered snapshot per micro-batch is exactly-once but accretes small
    * part-files and under-filled chunks — at 10^12 sequences the
    * small-file problem dominates scan cost): the corpus lands in three
    * snapshots split by token-count residue, `SegmentStore.compact` folds
    * them into ONE (decode → re-chunk → re-encode, old generations
    * superseded in the same atomic ledger append), and the entry asserts
    * in-query that (a) exactly one generation is visible afterwards,
    * (b) part-file count strictly dropped, (c) a time-travel read to
    * snapshot 2 still sees the PRE-compaction world (snapshot isolation
    * across compaction). The output is the per-source round-trip audit —
    * compaction must be invisible to readers — which DuckDB replays from
    * the raw documents. */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: three filtered snapshot writes + the final audit all scan
    // the same tokenized input — one tokenize pass, not four
    val input = TokenTables.fromDocuments(spark, dir).persist()
    val base = java.nio.file.Files.createTempDirectory("graft-compact-q").toString
    try {
      for (r <- 0 until 3)
        SegmentStore.encodeCommit(input.filter(_.n_tok % 3 == r), base,
          snapshotId = r + 1L, buckets = 4)
      def files() = GraftLayout.listDataFiles(base,
        spark.sessionState.newHadoopConf())
      val filesBefore = files().length
      val asOf2Before = spark.read.format("graft").option("snapshotId", "2")
        .load(base).count()
      val compactionId = SegmentStore.compact(spark, base, upTo = 3L, buckets = 4)
      require(compactionId.contains(SegmentStore.CompactionBase),
        s"expected the first compaction-space snapshot, got $compactionId")
      val filesAfter = files().length
      require(filesAfter < filesBefore,
        s"compaction must shrink the part-file count: $filesBefore -> $filesAfter")
      // one ledger read serves both sides of the visibility check
      val ledgerRows = SegmentStore.readLineage(spark, base).collect()
      val visibleSnapshots = ledgerRows
        .filter(_.status == SegmentStore.Committed).map(_.snapshotId).toSet --
        ledgerRows
          .flatMap(r => SegmentStore.supersededBy(r.status).map(_ => r.snapshotId)).toSet
      require(visibleSnapshots == Set(SegmentStore.CompactionBase),
        s"exactly the compacted generation must be visible, got $visibleSnapshots")
      require(spark.read.format("graft").option("snapshotId", "2").load(base)
        .count() == asOf2Before,
        "time travel to a pre-compaction snapshot must see the old world")
      roundTripAudit(spark, input,
        spark.read.format("graft").load(base)
          .toDF("doc_id", "tokens_dec", "n_tok_dec", "source_dec"),
        withTokens = true)
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** STORAGE-PARTITIONED JOIN through [[graft.sources.GraftCatalog]]: two
    * graft tables bucketed the same way (the engine's one shuffle is
    * `bucket(n, doc_id)` — the stored layout IS a KeyGroupedPartitioning)
    * join on doc_id with ZERO exchanges on either side, asserted on the
    * executed plan in-query. At 10^12 rows the elided bucket exchange is
    * the single largest data movement a graft⋈graft join (self-join,
    * incremental-vs-base dedup, snapshot diff) would otherwise pay. The
    * join result is SQL-expressible, so DuckDB replays it exactly. */
  def dsv2Spj(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // every conf this entry flips is restored in the finally — leaking SPJ
    // bucketing or the catalog into the session would change plan shapes
    // for whatever entry runs next (order-dependent verification)
    val prevBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevCatalog = spark.conf.getOption("spark.sql.catalog.gcat")
    // persisted: both table writes (full + even-filtered) scan the input
    val input = TokenTables.fromDocuments(spark, dir).persist()
    val base = java.nio.file.Files.createTempDirectory("graft-spj-q").toString
    try {
      spark.conf.set("spark.sql.catalog.gcat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      SegmentStore.encodeCommit(input, s"$base/a", snapshotId = 1L, buckets = 8)
      SegmentStore.encodeCommit(input.filter(_.n_tok % 2 == 0), s"$base/b",
        snapshotId = 1L, buckets = 8)
      val a = spark.table(s"gcat.`$base/a`").select($"doc_id", $"n_tok", $"source")
      val b = spark.table(s"gcat.`$base/b`").select($"doc_id")
      val j = a.join(b, Seq("doc_id"))
      val rows = j.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("sum_tokens"))
        .orderBy($"source")
        .collect().toSeq
      // the JOIN itself must be exchange-free (the group-by above it may
      // shuffle its few aggregation rows; assert on the join subtree)
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"storage-partitioned join planned a shuffle:\n${plan.take(1500)}")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_docs", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_tokens", org.apache.spark.sql.types.LongType))))
    } finally {
      input.unpersist()
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      prevBucketing.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
      prevCatalog.fold(spark.conf.unset("spark.sql.catalog.gcat"))(
        spark.conf.set("spark.sql.catalog.gcat", _))
      deleteRecursively(new java.io.File(base))
    }
  }

  /** The DSv2 STREAMING sink end-to-end: the token table lands as 4 input
    * files, `writeStream.format("graft")` drains them with
    * maxFilesPerTrigger=1 (one ledgered snapshot per epoch,
    * checkpoint-replay idempotent — asserted in GraftWriteSpec), and the
    * union of epoch snapshots must round-trip bit-exactly. Incrementality
    * is asserted in-query (>1 epoch snapshots); the output stays fully
    * SQL-expressible. */
  def dsv2StreamingWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: feeds the 4-file staging write and the final audit join
    val input = TokenTables.fromDocuments(spark, dir).persist()
    val base = java.nio.file.Files.createTempDirectory("graft-dsv2-stream-w-q").toString
    try {
      input.toDF("doc_id", "tokens", "n_tok", "source")
        .repartition(4).write.parquet(s"$base/in")
      implicit val enc = org.apache.spark.sql.Encoders.product[graft.engine.TokenRow]
      val q = spark.readStream.schema(enc.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
        .writeStream.format("graft")
        .option("checkpointLocation", s"$base/ckpt")
        .option("buckets", "8")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$base/table")
      q.awaitTermination()
      val nSnapshots = SegmentStore.readLineage(spark, s"$base/table")
        .filter($"status" === SegmentStore.Committed)
        .select($"snapshotId").distinct().count()
      require(nSnapshots > 1, s"expected >1 epoch snapshots, got $nSnapshots")
      roundTripAudit(spark, input,
        spark.read.format("graft").load(s"$base/table")
          .toDF("doc_id", "tokens_dec", "n_tok_dec", "source_dec"),
        withTokens = false)
    } finally {
      input.unpersist()
      deleteRecursively(new java.io.File(base))
    }
  }

  /** DuckDB replays of the connector entries. [[dsv2Scan]]: the tokenizer
    * is a `[^a-z0-9]+` split with empties dropped, so its COUNT is exact
    * SQL. [[dsv2TokenRange]]: the token id of a word is FNV-1a-32 mod the
    * vocab (TokenTables.stableHash) — a left fold of
    * `h = (h XOR c) * 16777619 mod 2^32` over the code points, replayed
    * below with list_reduce in BIGINT (products stay < 2^57). */
  val oracles: Map[String, String] = Map(
    "encode_dsv2_write" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> ''))) AS BIGINT) AS sum_tokens,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents GROUP BY source""".stripMargin,
    "encode_dsv2_streaming_write" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents GROUP BY source""".stripMargin,
    "encode_dsv2_scan" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> ''))) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY source""".stripMargin,
    "encode_dsv2_limit" ->
      """SELECT CAST(LEAST(13, COUNT(*)) AS BIGINT) AS n_rows,
        |       CAST(LEAST(13, COUNT(*)) AS BIGINT) AS n_valid
        |FROM documents""".stripMargin,
    "encode_dsv2_spj" ->
      """WITH tok AS (
        |  SELECT source,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
        |FROM tok WHERE n_tok % 2 = 0 GROUP BY source""".stripMargin,
    "encode_compaction" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> ''))) AS BIGINT) AS sum_tokens,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM documents GROUP BY source""".stripMargin,
    "encode_dsv2_timetravel" ->
      """WITH tok AS (
        |  SELECT len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |             x -> x <> '')) AS n_tok
        |  FROM documents
        |)
        |SELECT
        |  CAST(COUNT(*) FILTER (n_tok % 2 = 0) AS BIGINT) AS asof_docs,
        |  CAST(COALESCE(SUM(n_tok) FILTER (n_tok % 2 = 0), 0) AS BIGINT) AS asof_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS full_docs,
        |  CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS full_tokens
        |FROM tok""".stripMargin,
    "encode_dsv2_meta" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CAST(n_tok AS BIGINT) * 3 AS views,
        |    CASE WHEN n_tok % 7 <> 0 THEN n_tok / 10.0 - 5.0 END AS quality,
        |    CASE WHEN n_tok % 5 <> 0 THEN 'l' || CAST(n_tok % 3 AS VARCHAR) END AS lang
        |  FROM tok
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(views) AS BIGINT) AS sum_views,
        |       CAST(COUNT(quality) AS BIGINT) AS n_quality,
        |       CAST(0 AS BIGINT) AS n_mismatch
        |FROM meta WHERE quality IS NULL OR quality > -4.0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "encode_dsv2_meta_alltypes" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 11 <> 0 THEN n_tok % 2 = 0 END AS flag,
        |    CASE WHEN n_tok % 7 <> 0 THEN CAST(n_tok % 200 - 100 AS TINYINT) END AS tiny,
        |    CASE WHEN n_tok % 5 <> 0 THEN CAST((n_tok * 7) % 30000 - 15000 AS SMALLINT) END AS small,
        |    CASE WHEN n_tok % 13 <> 0 THEN CAST(n_tok * 3 AS REAL) END AS ratio,
        |    CASE WHEN n_tok % 9 <> 0 THEN CAST(n_tok * 137 AS DECIMAL(15,5)) END AS price,
        |    CASE WHEN n_tok % 6 <> 0 THEN CAST('b' || CAST(n_tok % 17 AS VARCHAR) AS BLOB) END AS blob
        |  FROM tok
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(flag) AS BIGINT) AS n_flag,
        |  CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |  CAST(SUM(CAST(tiny AS BIGINT)) AS BIGINT) AS sum_tiny,
        |  CAST(SUM(CAST(small AS BIGINT)) AS BIGINT) AS sum_small,
        |  CAST(SUM(CAST(ratio AS BIGINT)) AS BIGINT) AS sum_ratio,
        |  CAST(SUM(price) AS BIGINT) AS sum_price,
        |  CAST(SUM(octet_length(blob)) AS BIGINT) AS sum_blob_len,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM meta""".stripMargin,
    "encode_dsv2_schema_evolution" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 2 <> 0
        |      THEN 'l' || CAST(n_tok % 3 AS VARCHAR) END AS lang
        |  FROM tok
        |)
        |SELECT lang,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM meta GROUP BY lang ORDER BY lang""".stripMargin,
    "encode_dsv2_meta_list" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 4 <> 0
        |      THEN [n_tok % 50, (n_tok * 3) % 50, (n_tok * 7) % 50] END AS tags,
        |    CASE WHEN n_tok % 10 <> 0
        |      THEN ['w' || CAST(n_tok % 5 AS VARCHAR), 'w' || CAST(n_tok % 11 AS VARCHAR)] END AS words
        |  FROM tok
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(tags) AS BIGINT) AS n_tags,
        |  CAST(SUM(len(tags)) AS BIGINT) AS sum_tag_len,
        |  CAST(COUNT(words) AS BIGINT) AS n_words,
        |  CAST(SUM(CASE WHEN list_contains(words, 'w3') THEN 1 ELSE 0 END) AS BIGINT) AS n_w3,
        |  CAST(SUM(CASE WHEN list_contains(tags, 7) THEN 1 ELSE 0 END) AS BIGINT) AS n_has7,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM meta""".stripMargin,
    "encode_dsv2_meta_map" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN n_tok % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_attrs,
        |  CAST(SUM(CASE WHEN n_tok % 4 <> 0 AND n_tok % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang1,
        |  CAST(SUM(CASE WHEN n_tok % 4 <> 0 AND n_tok % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tier_null,
        |  CAST(SUM(CASE WHEN n_tok % 7 <> 0 THEN CAST(n_tok AS BIGINT) * 3 END) AS BIGINT) AS sum_views,
        |  CAST(SUM(CASE WHEN n_tok % 7 <> 0 THEN n_tok % 13 END) AS BIGINT) AS sum_mod,
        |  CAST(SUM(CASE WHEN n_tok % 4 <> 0 THEN 2 END) AS BIGINT) AS sum_keys,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM tok""".stripMargin,
    "encode_dsv2_meta_struct" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 4 <> 0 THEN 1 END AS has_info,
        |    CASE WHEN n_tok % 4 <> 0 AND n_tok % 5 <> 0
        |      THEN CAST(n_tok / 10.0 - 5.0 AS DECIMAL(18,6)) END AS score,
        |    CASE WHEN n_tok % 4 <> 0 THEN CAST(n_tok * 7 AS DECIMAL(15,5)) END AS price,
        |    CASE WHEN n_tok % 4 <> 0 THEN 'k' || CAST(n_tok % 3 AS VARCHAR) END AS kind
        |  FROM tok
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(has_info) AS BIGINT) AS n_info,
        |  CAST(COUNT(score) AS BIGINT) AS n_score,
        |  CAST(SUM(score) AS DOUBLE) AS sum_score,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CASE WHEN kind = 'k1' THEN 1 ELSE 0 END) AS BIGINT) AS n_k1,
        |  CAST(0 AS BIGINT) AS n_mismatch
        |FROM meta""".stripMargin,
    "encode_dsv2_nested_pushdown" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 4 <> 0 THEN 1 END AS has_info,
        |    CASE WHEN n_tok % 4 <> 0 AND n_tok % 5 <> 0
        |      THEN n_tok / 10.0 - 5.0 END AS score,
        |    CASE WHEN n_tok % 4 <> 0 THEN 'k' || CAST(n_tok % 3 AS VARCHAR) END AS kind,
        |    CASE WHEN n_tok % 3 <> 0 THEN 1 END AS has_tags,
        |    CASE WHEN n_tok % 6 <> 0 THEN 1 END AS has_attrs
        |  FROM tok
        |)
        |SELECT
        |  CAST(SUM(CASE WHEN kind = 'k1' AND score > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_range,
        |  CAST(SUM(CASE WHEN kind = 'k1' AND score > 2.0 THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS sum_range_tok,
        |  CAST(SUM(CASE WHEN has_info IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_struct,
        |  CAST(SUM(CASE WHEN score IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_score,
        |  CAST(COUNT(has_tags) AS BIGINT) AS n_tags_present,
        |  CAST(SUM(CASE WHEN has_attrs IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_attrs_null
        |FROM meta""".stripMargin,
    "encode_dsv2_nested_agg" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 4 <> 0 AND n_tok % 5 <> 0
        |      THEN n_tok / 10.0 - 5.0 END AS score,
        |    CASE WHEN n_tok % 4 <> 0 THEN 'k' || CAST(n_tok % 3 AS VARCHAR) END AS kind
        |  FROM tok
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(score) AS BIGINT) AS n_score,
        |  CAST(MIN(score) AS DOUBLE) AS min_score,
        |  CAST(MAX(score) AS DOUBLE) AS max_score,
        |  CAST(COUNT(kind) AS BIGINT) AS n_kind,
        |  MIN(kind) AS min_kind,
        |  MAX(kind) AS max_kind
        |FROM meta""".stripMargin,
    "encode_dsv2_nested_prune" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 4 <> 0 AND n_tok % 5 <> 0
        |      THEN CAST(n_tok / 10.0 - 5.0 AS DECIMAL(18,6)) END AS score,
        |    CASE WHEN n_tok % 4 <> 0 THEN 'k' || CAST(n_tok % 3 AS VARCHAR) END AS kind
        |  FROM tok
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(score) AS BIGINT) AS n_score,
        |  CAST(SUM(score) AS DOUBLE) AS sum_score,
        |  CAST(SUM(CASE WHEN kind = 'k1' THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS sum_k1_tok
        |FROM meta""".stripMargin,
    "encode_dsv2_sorted_write" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 5 <> 0 THEN 'l' || CAST(n_tok % 8 AS VARCHAR) END AS lang
        |  FROM tok
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(lang) AS BIGINT) AS n_lang,
        |  CAST(SUM(CASE WHEN lang = 'l3' THEN 1 ELSE 0 END) AS BIGINT) AS n_l3,
        |  CAST(SUM(CASE WHEN lang = 'l3' THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS sum_l3_tok
        |FROM meta""".stripMargin,
    "encode_dsv2_elem_agg" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 3 <> 0 THEN [n_tok * 2, n_tok * 2 + 1] END AS tags,
        |    CASE WHEN n_tok % 4 <> 0
        |      THEN ['n' || CAST(n_tok % 7 AS VARCHAR)] END AS names,
        |    CASE WHEN n_tok % 5 <> 0 THEN n_tok / 10.0 - 3.0 END AS quality
        |  FROM tok
        |)
        |SELECT CAST(MIN(list_min(tags)) AS INTEGER) AS lo_tag,
        |  CAST(MAX(list_max(tags)) AS INTEGER) AS hi_tag,
        |  MIN(list_min(names)) AS lo_name,
        |  MAX(list_max(names)) AS hi_name,
        |  CAST(MIN(quality) AS DOUBLE) AS lo_q,
        |  CAST(MAX(quality) AS DOUBLE) AS hi_q,
        |  CAST(COUNT(tags) AS BIGINT) AS n_tags,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM meta""".stripMargin,
    "encode_dsv2_map_pushdown" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CASE WHEN n_tok % 4 <> 0 THEN 'l' || CAST(n_tok % 5 AS VARCHAR) END AS lang,
        |    CASE WHEN n_tok % 4 <> 0 THEN 't' || CAST(n_tok % 3 AS VARCHAR) END AS tier,
        |    n_tok * 10 AS rank
        |  FROM tok
        |)
        |SELECT
        |  CAST(SUM(CASE WHEN lang = 'l2' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |  CAST(SUM(CASE WHEN lang = 'l2' THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS sum_lang_tok,
        |  CAST(SUM(CASE WHEN rank > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_ranked,
        |  CAST(SUM(CASE WHEN tier = 't1' AND rank <= 500 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_both,
        |  CAST(0 AS BIGINT) AS n_missing
        |FROM meta""".stripMargin,
    "encode_compaction_meta" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |        x -> x <> '')) AS n_tok
        |  FROM documents
        |),
        |meta AS (
        |  SELECT doc_id, n_tok,
        |    CAST(n_tok AS BIGINT) * 3 AS views,
        |    CASE WHEN n_tok % 7 <> 0 THEN n_tok / 10.0 - 5.0 END AS quality,
        |    CASE WHEN n_tok % 5 <> 0 THEN 'l' || CAST(n_tok % 3 AS VARCHAR) END AS lang
        |  FROM tok
        |)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(views) AS BIGINT) AS sum_views,
        |       CAST(COUNT(quality) AS BIGINT) AS n_quality,
        |       CAST(0 AS BIGINT) AS n_mismatch
        |FROM meta GROUP BY lang ORDER BY lang""".stripMargin,
    "encode_dsv2_bloom" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
        |  FROM documents
        |),
        |words AS (SELECT doc_id, len(ws) AS n_tok, unnest(ws) AS w FROM docs),
        |tok AS (
        |  SELECT doc_id, n_tok,
        |    (list_reduce(
        |       list_prepend(CAST(2166136261 AS BIGINT),
        |         list_transform(string_split(w, ''), c -> CAST(unicode(c) AS BIGINT))),
        |       (h, c) -> ((xor(h, c) * 16777619) % 4294967296)) % 2147483648) % 50257 AS t
        |  FROM words
        |),
        |hits AS (SELECT doc_id, ANY_VALUE(n_tok) AS n_tok FROM tok
        |         WHERE t = 29499 GROUP BY doc_id)
        |SELECT COUNT(*) AS n_docs,
        |       CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS sum_tokens
        |FROM hits""".stripMargin,
    "encode_dsv2_tokenrange" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
        |  FROM documents
        |),
        |words AS (SELECT doc_id, len(ws) AS n_tok, unnest(ws) AS w FROM docs),
        |tok AS (
        |  SELECT doc_id, n_tok,
        |    (list_reduce(
        |       list_prepend(CAST(2166136261 AS BIGINT),
        |         list_transform(string_split(w, ''), c -> CAST(unicode(c) AS BIGINT))),
        |       (h, c) -> ((xor(h, c) * 16777619) % 4294967296)) % 2147483648) % 50257 AS t
        |  FROM words
        |),
        |hits AS (SELECT doc_id, ANY_VALUE(n_tok) AS n_tok FROM tok
        |         WHERE t BETWEEN 29490 AND 29519 GROUP BY doc_id)
        |SELECT COUNT(*) AS n_docs,
        |       CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS sum_tokens
        |FROM hits""".stripMargin)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "encode_dsv2_write" -> (dsv2Write _),
    "encode_dsv2_meta" -> (dsv2Meta _),
    "encode_dsv2_meta_alltypes" -> (dsv2MetaAllTypes _),
    "encode_dsv2_meta_list" -> (dsv2MetaList _),
    "encode_dsv2_meta_map" -> (dsv2MetaMap _),
    "encode_dsv2_meta_struct" -> (dsv2MetaStruct _),
    "encode_dsv2_nested_pushdown" -> (dsv2NestedPushdown _),
    "encode_dsv2_nested_agg" -> (dsv2NestedAgg _),
    "encode_dsv2_nested_prune" -> (dsv2NestedPrune _),
    "encode_dsv2_sorted_write" -> (dsv2SortedWrite _),
    "encode_dsv2_elem_agg" -> (dsv2ElemAgg _),
    "encode_dsv2_map_pushdown" -> (dsv2MapPushdown _),
    "encode_dsv2_schema_evolution" -> (dsv2SchemaEvolution _),
    "encode_compaction_meta" -> (compactionMeta _),
    "encode_dsv2_streaming_write" -> (dsv2StreamingWrite _),
    "encode_dsv2_scan" -> (dsv2Scan _),
    "encode_dsv2_limit" -> (dsv2Limit _),
    "encode_dsv2_tokenrange" -> (dsv2TokenRange _),
    "encode_dsv2_bloom" -> (dsv2Bloom _),
    "encode_dsv2_timetravel" -> (dsv2TimeTravel _),
    "encode_compaction" -> (compaction _),
    "encode_dsv2_spj" -> (dsv2Spj _),
    "encode_projected_scan" -> (projectedScan _),
    "encode_sql_decode" -> (sqlDecode _),
    "encode_streaming_incremental" -> (streamingIncremental _),
    "encode_scan_metrics" -> (scanMetrics _),
    "encode_roundtrip_docs" -> (roundtripDocs _),
    "encode_roundtrip_synthetic" -> (roundtripSynthetic _),
    "encode_codec_mix" -> (codecMix _),
    "encode_compression_stats" -> (compressionStats _),
    "encode_lineage_restart" -> (lineageRestart _),
    "encode_pruned_scan" -> (prunedScan _),
    "encode_pruned_scan_str" -> (prunedScanStr _))
}
