package graft.lineage

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftEncoder, TokenTables}

/** North_rule checkpoint-restart contract: per-partition lineage rows,
  * resume skips committed buckets, replay converges to identical bytes,
  * decode of the committed table is element-for-element equal to the
  * input. */
class LineageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-lineage-spec").toString

  test("kill-and-resume: interrupted run resumes without recomputing committed buckets") {
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 42L)
    val dir = tmp()
    val snap = 7L

    // "crash" after 2 of 6 buckets
    val run1 = SegmentStore.encodeCommit(input, dir, snap, buckets = 6, maxBucketsPerRun = 2)
    assert(run1.size === 2)
    assert(SegmentStore.committedBuckets(spark, dir, snap) === run1)

    // resume: exactly the remaining 4, disjoint from run1
    val run2 = SegmentStore.encodeCommit(input, dir, snap, buckets = 6)
    assert(run2.size === 4)
    assert((run1 & run2).isEmpty)
    assert(SegmentStore.committedBuckets(spark, dir, snap) === (0 until 6).toSet)

    // idempotent: a third run is a no-op
    assert(SegmentStore.encodeCommit(input, dir, snap, buckets = 6).isEmpty)

    // ledger: one committed row per bucket, codecs + chunk offsets recorded
    val ledger = SegmentStore.readLineage(spark, dir).collect()
    assert(ledger.length === 6)
    assert(ledger.forall(_.status === SegmentStore.Committed))
    assert(ledger.forall(_.codecs.contains("tokens:")))
    assert(ledger.forall(r => r.firstChunk.nonEmpty && r.lastChunk >= r.firstChunk))
    assert(ledger.map(_.nRows).sum === 400L)

    // decode of the committed table is bit-identical to the input
    val decoded = SegmentStore.readDecoded(spark, dir, snap)
      .collect().map(r => r.doc_id -> r).toMap
    val expected = input.collect().map(r => r.doc_id -> r).toMap
    assert(decoded.keySet === expected.keySet)
    expected.foreach { case (id, r) =>
      assert(decoded(id).tokens.toSeq === r.tokens.toSeq, s"tokens of $id")
      assert(decoded(id).source === r.source)
    }
  }

  test("replay determinism: interrupted+resumed table equals single-shot table segment-for-segment") {
    val input = TokenTables.synthetic(spark, nDocs = 300, seed = 1L)
    val dirA = tmp()
    val dirB = tmp()
    SegmentStore.encodeCommit(input, dirA, 1L, buckets = 5, maxBucketsPerRun = 1)
    SegmentStore.encodeCommit(input, dirA, 1L, buckets = 5, maxBucketsPerRun = 2)
    SegmentStore.encodeCommit(input, dirA, 1L, buckets = 5)
    SegmentStore.encodeCommit(input, dirB, 1L, buckets = 5)

    def fingerprint(dir: String): Map[String, (Int, Long, Seq[(String, Long)])] =
      SegmentStore.readSegments(spark, dir, 1L).collect().map { s =>
        s.segmentId -> ((s.nRows, s.bytesOut,
          s.cols.map(c => c.col -> java.util.Arrays.hashCode(c.payload).toLong)))
      }.toMap
    assert(fingerprint(dirA) === fingerprint(dirB),
      "segments must be byte-identical regardless of restart schedule")
  }

  test("separate snapshots never clobber each other") {
    val in1 = TokenTables.synthetic(spark, nDocs = 100, seed = 2L)
    val in2 = TokenTables.synthetic(spark, nDocs = 120, seed = 3L)
    val dir = tmp()
    SegmentStore.encodeCommit(in1, dir, 10L, buckets = 3)
    SegmentStore.encodeCommit(in2, dir, 11L, buckets = 3)
    assert(SegmentStore.readDecoded(spark, dir, 10L).count() === 100L)
    assert(SegmentStore.readDecoded(spark, dir, 11L).count() === 120L)
  }

  test("empty buckets commit too: restart converges when buckets outnumber docs") {
    // 5 docs into 64 buckets: most buckets are empty. Every bucket must
    // still get a committed ledger row, or the restart protocol livelocks
    // (every later run re-lists the empty buckets as pending forever).
    val input = TokenTables.synthetic(spark, nDocs = 5, seed = 8L)
    val dir = tmp()
    val run1 = SegmentStore.encodeCommit(input, dir, 1L, buckets = 64, maxBucketsPerRun = 10)
    assert(run1.size === 10)
    val run2 = SegmentStore.encodeCommit(input, dir, 1L, buckets = 64)
    assert(run2.size === 54)
    // converged: nothing pending
    assert(SegmentStore.encodeCommit(input, dir, 1L, buckets = 64).isEmpty)
    val ledger = SegmentStore.readLineage(spark, dir).collect()
    assert(ledger.length === 64)
    assert(ledger.forall(_.status === SegmentStore.Committed))
    assert(ledger.map(_.nRows).sum === 5L)
    assert(ledger.count(_.nSegments == 0L) === 64 - ledger.count(_.nSegments > 0L))
    // decode still exact
    assert(SegmentStore.readDecoded(spark, dir, 1L).count() === 5L)
  }

  test("min/max chunk skipping prunes segments and never loses a match") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 400, seed = 5L)
    val segs = GraftEncoder.encode(input, buckets = 4, tokensPerChunk = 2048).persist()
    val lo = 50000L
    val hi = 50256L
    val total = segs.count()
    val scanned = GraftEncoder.decodeWhereTokenRange(segs, lo, hi)
    val scannedSegIds = segs.filter(
      org.apache.spark.sql.functions.exists($"cols", c =>
        c.getField("col") === org.apache.spark.sql.functions.lit("tokens") &&
          c.getField("minV") <= hi && c.getField("maxV") >= lo)).count()
    assert(scannedSegIds < total, "pruning must actually skip segments on zipf data")
    // exactness: every truly-matching doc survives pruning
    val exact = GraftEncoder.decode(segs)
      .filter(_.tokens.exists(t => t >= lo && t <= hi)).collect().map(_.doc_id).toSet
    val viaPruned = scanned
      .filter(_.tokens.exists(t => t >= lo && t <= hi)).collect().map(_.doc_id).toSet
    assert(viaPruned === exact, "pruning is inexact-but-superset by contract")
    segs.unpersist()
  }

  test("compaction of a METADATA table preserves every stream (stored-domain re-chunk)") {
    import spark.implicits._
    def metaDf(lo: Int, hi: Int) = (lo until hi).map { i =>
      (f"doc$i%05d", Seq(i, i + 1), 2, if (i % 2 == 0) "web" else "book",
        if (i % 7 == 0) None else Some(i / 10.0 - 5.0),
        if (i % 5 == 0) None else Some(s"lang${i % 3}"),
        i.toLong * 1000L)
    }.toDF("doc_id", "tokens", "n_tok", "source", "quality", "lang", "views")
    val dir = tmp()
    // three appends (the streaming-accretion shape), schema fixed at creation
    for (r <- 0 until 3)
      metaDf(r * 100, (r + 1) * 100).write.format("graft")
        .option("buckets", "4").option("tokensPerChunk", "64")
        .mode("append").save(dir)
    val before = spark.read.format("graft").load(dir).collect().toSet
    assert(before.size === 300)

    // wrong bucket count refuses by name (stored bucket ids are reused)
    val eb = intercept[IllegalArgumentException] {
      SegmentStore.compact(spark, dir, upTo = 3L, buckets = 8)
    }
    assert(eb.getMessage.contains("bucket count"), eb.getMessage)

    val cid = SegmentStore.compact(spark, dir, upTo = 3L, buckets = 4,
      tokensPerChunk = 64)
    assert(cid === Some(SegmentStore.CompactionBase))
    // readers see the identical table, served by ONE generation
    val after = spark.read.format("graft").load(dir).collect().toSet
    assert(after === before, "metadata compaction changed the visible rows")
    val ledger = SegmentStore.readLineage(spark, dir).collect()
    val sup = ledger.flatMap(r => SegmentStore.supersededBy(r.status)
      .map(_ => (r.snapshotId, r.bucket))).toSet
    val visible = ledger.filter(_.status == SegmentStore.Committed)
      .map(r => (r.snapshotId, r.bucket)).toSet -- sup
    assert(visible.forall(_._1 == SegmentStore.CompactionBase),
      s"old generation still visible: $visible")
    // metadata aggregate pushdown still answers from the compacted headers
    val got = spark.read.format("graft").load(dir)
      .agg(org.apache.spark.sql.functions.min($"views"),
        org.apache.spark.sql.functions.count($"quality")).collect()(0)
    assert(got.getLong(0) === 0L)
    assert(got.getLong(1) === (0 until 300).count(_ % 7 != 0).toLong)
    // time travel to a pre-compaction snapshot still reads the old world
    assert(spark.read.format("graft").option("snapshotId", "1").load(dir)
      .count() === 100L)
  }

  test("compaction: N snapshots fold into one, old generation superseded, bytes deterministic") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 300, seed = 11L)
    val dir = tmp()
    // three small snapshots (the streaming-accretion shape)
    for (r <- 0 until 3)
      SegmentStore.encodeCommit(input.filter(_.n_tok % 3 == r), dir,
        snapshotId = r + 1L, buckets = 4, tokensPerChunk = 4096)
    val beforeRows = SegmentStore.readSegmentsAll(spark, dir)
      .transform(GraftEncoder.decode).collect().map(r => r.doc_id -> r).toMap
    assert(beforeRows.size === 300)

    val cid = SegmentStore.compact(spark, dir, upTo = 3L, buckets = 4,
      tokensPerChunk = 4096)
    assert(cid === Some(SegmentStore.CompactionBase))

    // visible world is unchanged for readers...
    val afterRows = SegmentStore.readSegmentsAll(spark, dir)
      .transform(GraftEncoder.decode).collect()
    assert(afterRows.length === 300)
    afterRows.foreach { r =>
      val e = beforeRows(r.doc_id)
      assert(r.tokens.sameElements(e.tokens) && r.source == e.source)
    }
    // ...but is served by the single compacted generation
    val ledger = SegmentStore.readLineage(spark, dir).collect()
    val sup = ledger.flatMap(r => SegmentStore.supersededBy(r.status)
      .map(c => (r.snapshotId, r.bucket) -> c)).toMap
    assert(sup.nonEmpty && sup.values.forall(_ == SegmentStore.CompactionBase))
    val visible = ledger.filter(_.status == SegmentStore.Committed)
      .map(r => (r.snapshotId, r.bucket)).toSet -- sup.keySet
    assert(visible.forall(_._1 == SegmentStore.CompactionBase), s"old generation still visible: $visible")

    // compacted bytes == what one direct batch encode of the same rows
    // produces (segment determinism contract survives the maintenance op)
    val direct = GraftEncoder.encode(input, buckets = 4, tokensPerChunk = 4096)
      .collect().map(s => s.segmentId -> s.cols.map(_.payload.toSeq)).toMap
    val compacted = SegmentStore.readSegments(spark, dir, SegmentStore.CompactionBase)
      .collect().map(s => s.segmentId -> s.cols.map(_.payload.toSeq)).toMap
    assert(compacted.keySet === direct.keySet)
    compacted.foreach { case (id, payloads) => assert(payloads === direct(id), id) }

    // re-compacting the already-compacted horizon is a no-op
    assert(SegmentStore.compact(spark, dir, upTo = 3L, buckets = 4).isEmpty)

    // ---- expire: reclaim the superseded generations ----
    val conf = spark.sessionState.newHadoopConf()
    // pre-expire, time travel to the old world still works
    assert(spark.read.format("graft").option("snapshotId", "2").load(dir).count() > 0L)
    val removed = SegmentStore.expireSuperseded(spark, dir)
    assert(removed > 0L, "expire should reclaim superseded partition dirs")
    // current read is untouched (served by the compacted generation)...
    assert(SegmentStore.readSegmentsAll(spark, dir)
      .transform(GraftEncoder.decode).count() === 300L)
    assert(spark.read.format("graft").load(dir).count() === 300L)
    // ...but time travel to the expired generation fails fast, by name
    val e = intercept[IllegalStateException] {
      spark.read.format("graft").option("snapshotId", "2").load(dir).count()
    }
    assert(e.getMessage.contains("expired"))
    // the ENGINE-path as-of read fails fast too (round-3 advisor: the
    // semi-join path used to silently return whatever partitions remained)
    val e2 = intercept[IllegalStateException] {
      SegmentStore.readSegmentsVisible(spark, dir, asOf = Some(2L)).count()
    }
    assert(e2.getMessage.contains("expired"))
    // expire is idempotent
    assert(SegmentStore.expireSuperseded(spark, dir) === 0L)
  }

  test("maintenance reads the ledger fold: expire runs no Spark job, compact sees a fresh marker") {
    val input = TokenTables.synthetic(spark, nDocs = 200, seed = 5L)
    val dir = tmp()
    for (r <- 0 until 3)
      SegmentStore.encodeCommit(input.filter(_.n_tok % 3 == r), dir,
        snapshotId = r + 1L, buckets = 2)
    val conf = spark.sessionState.newHadoopConf()
    // memoize the fold over the three snapshots...
    val before = graft.sources.GraftLayout.committedPairs(dir, conf).get
    assert(before.committed.size === 6 && before.superseded.isEmpty)
    // ...then another maintainer supersedes one pair behind its back
    val gone = (1L, 0)
    assert(before.rows(gone) > 0L)
    graft.sources.GraftWriteCommit.appendLedgerRows(dir, Seq(
      LineageRow(gone._1, gone._2, 0L, 0L, 0L, 0L, 0L, "", "", "",
        s"${SegmentStore.SupersededPrefix}3")), conf)

    // compact must exclude the freshly superseded pair, not re-publish it
    val cid = SegmentStore.compact(spark, dir, upTo = 3L, buckets = 2).get
    val ledger = SegmentStore.readLineage(spark, dir).collect()
    val markedByCompact = ledger
      .filter(_.status == s"${SegmentStore.SupersededPrefix}$cid")
      .map(r => (r.snapshotId, r.bucket)).toSet
    assert(markedByCompact === before.committed - gone)
    val compactedRows = ledger
      .filter(r => r.snapshotId == cid && r.status == SegmentStore.Committed)
      .map(_.nRows).sum
    assert(compactedRows === 200L - before.rows(gone))
    assert(spark.read.format("graft").load(dir).count() === compactedRows)

    // expire submits no Spark job: count the jobs of its thread's job
    // group, then wait for a sentinel job — listener events arrive in
    // order, so once the sentinel is seen every earlier job has been too
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val removed =
      try {
        sc.setJobGroup("graft-expire-probe", "expireSuperseded")
        val n = try SegmentStore.expireSuperseded(spark, dir) finally sc.clearJobGroup()
        sc.setJobGroup("graft-expire-sentinel", "sentinel")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!groups.contains("graft-expire-sentinel") && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(groups.contains("graft-expire-sentinel"), "listener never saw the sentinel job")
        n
      } finally sc.removeSparkListener(listener)
    assert(!groups.contains("graft-expire-probe"), "expireSuperseded submitted a Spark job")
    // every superseded pair with data had a partition dir to remove
    assert(removed === before.committed.count(p => before.rows(p) > 0L).toLong)
    assert(spark.read.format("graft").load(dir).count() === compactedRows)
  }
}
