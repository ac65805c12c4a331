package graft.lineage

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.engine.{GraftEncoder, PackedRow, Segment, TokenPack, TokenRow}

/** One committed lineage row per (snapshot, bucket) — the Iceberg-shaped
  * commit record demanded by the north_rule: input snapshot-id, chunk
  * offsets, codecs chosen, bytes in/out. Plays the role the reference's
  * per-file metrics play on the read side
  * (/root/reference/src/metrics.rs:57-218: bytes_scanned, rows_decoded,
  * stripes pruned/matched) — ours is the write-side ledger.
  *
  * No wall-clock fields: lineage content is a pure function of the input,
  * so replays of the same snapshot produce identical ledgers (testable). */
final case class LineageRow(
    snapshotId: Long,
    bucket: Int,
    nSegments: Long,
    nRows: Long,
    nTokens: Long,
    bytesIn: Long,
    bytesOut: Long,
    firstChunk: String,
    lastChunk: String,
    codecs: String, // "col:codec=nChunks,..." sorted — the per-chunk choice ledger
    status: String)

/** Iceberg-shaped segment table over Parquet (no Iceberg runtime jar ships
  * in this sandbox — SURVEY §7.6; the layout keeps the same contract:
  * snapshot id, per-partition commits, an append-only lineage ledger, and
  * idempotent restart — so a real catalog can replace the seam).
  *
  * Layout:
  * {{{
  *   tableDir/data/snapshotId=S/bucket=N/  (parquet)  // encoded segments
  *   tableDir/lineage/                     (parquet)  // append-only commit ledger
  * }}}
  *
  * Both are read through the connector's one parquet reader
  * ([[graft.sources.GraftLayout.RecordCursor]]): [[readSegmentsAll]] over
  * the visible part-files, [[readLineage]] over the ledger.
  *
  * Restart protocol (north_rule "idempotent checkpoint-restart"):
  *  1. committed = lineage rows for this snapshotId with status=committed
  *  2. pending   = all buckets minus committed
  *  3. encode ONLY pending buckets (input filtered by the deterministic
  *     bucket function — no recompute of finished work)
  *  4. publish ([[graft.sources.GraftWriteCommit.publish]]): each pending
  *     bucket dir is cleared, then its staged part-file moves in; a crashed
  *     attempt's files are replaced by byte-identical segments (Segment
  *     determinism contract), and committed buckets are never touched
  *  5. append lineage rows — the commit point. A crash between 4 and 5
  *     leaves data without a ledger entry; the next run redoes that bucket,
  *     converging to the same bytes. Exactly-once by determinism, not locks.
  */
object SegmentStore {

  final val Committed = "committed"

  /** Supersede marker written by [[compact]]: a ledger row with
    * `snapshotId = S, bucket = b, status = "superseded@C"` hides the
    * committed (S, b) partition for every read AT OR AFTER compaction
    * snapshot C, while a time-travel read as of N < C still sees it —
    * Iceberg's snapshot-isolation stance (old snapshots stay readable at
    * their own point in history until expired). */
  final val SupersededPrefix = "superseded@"

  def supersededBy(status: String): Option[Long] =
    if (status != null && status.startsWith(SupersededPrefix))
      status.stripPrefix(SupersededPrefix).toLongOption
    else None

  /** Floor of the compaction snapshot-id space — above the batch space
    * ([1, StreamEpochBase)) and the streaming epoch space
    * ([StreamEpochBase, CompactionBase)), see [[compact]]. */
  final val CompactionBase: Long = 1L << 50

  def dataDir(tableDir: String): String = s"$tableDir/data"
  def lineageDir(tableDir: String): String = s"$tableDir/lineage"

  /** The ledger's visibility facts through the memoized driver-side fold
    * ([[graft.sources.GraftLayout.committedPairs]]) — no Spark job; a
    * table without a ledger has no pairs. */
  private def ledgerPairs(tableDir: String, conf: org.apache.hadoop.conf.Configuration)
      : graft.sources.GraftLayout.LedgerPairs =
    graft.sources.GraftLayout.committedPairs(tableDir, conf)
      .getOrElse(graft.sources.GraftLayout.LedgerPairs(Set.empty, Map.empty, Map.empty))

  /** Every ledger row, all fields, read on the driver through the one
    * parquet reader ([[graft.sources.GraftLayout.readLedger]]) and handed
    * back as a local Dataset — no Spark job. A table without a ledger
    * gives an empty Dataset. */
  def readLineage(spark: SparkSession, tableDir: String): Dataset[LineageRow] = {
    import spark.implicits._
    spark.createDataset(
      graft.sources.GraftLayout.readLedger(tableDir, spark.sessionState.newHadoopConf()))
  }

  /** Buckets already committed for a snapshot — read through the MEMOIZED
    * driver-side ledger walk ([[graft.sources.GraftLayout.committedPairs]]),
    * not a Spark job: this runs once per restart probe AND once per
    * streaming micro-batch, and the Spark-job version was the dominant
    * fixed overhead of the streaming sink (~seconds per epoch of job
    * scheduling to read a KB-scale ledger). */
  def committedBuckets(spark: SparkSession, tableDir: String, snapshotId: Long): Set[Int] =
    graft.sources.GraftLayout
      .committedPairs(tableDir, spark.sessionState.newHadoopConf())
      .map(_.committed.collect { case (s, b) if s == snapshotId => b })
      .getOrElse(Set.empty)

  /** Encode pending buckets of `input` and commit them. Returns the buckets
    * committed by THIS call (empty = nothing left to do; the job is
    * restart-complete).
    *
    * One task per pending bucket: the pending rows are clustered by
    * `doc_id` into `buckets` partitions — the hash the DSv2 write declares,
    * so partition i holds exactly bucket i — only the pending partitions
    * are scheduled, and each task encodes its bucket through the append
    * writer
    * ([[graft.sources.GraftSegmentWriter.writeBucket]]). The driver then
    * publishes the staged files and the ledger rows in one
    * [[graft.sources.GraftWriteCommit.publish]].
    *
    * @param maxBucketsPerRun cap on buckets processed per invocation — the
    *   incremental-processing knob, and the hook the kill-and-resume test
    *   uses to simulate a mid-job failure.
    */
  def encodeCommit(input: Dataset[TokenRow],
                   tableDir: String,
                   snapshotId: Long,
                   buckets: Int,
                   tokensPerChunk: Int = GraftEncoder.DefaultTokensPerChunk,
                   maxBucketsPerRun: Int = Int.MaxValue): Set[Int] = {
    val spark = input.sparkSession
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()

    // Version gate (advisor finding): stamp lineage/_meta on a fresh
    // table; fail fast on a ledgered table whose bucket function / id
    // space cannot be verified — the restart filter below keys on the
    // CURRENT bucket function, and resuming a table bucketed under a
    // different one would silently re-encode the wrong buckets.
    graft.sources.GraftTableMeta.ensureForCommit(tableDir, conf)
    val done = committedBuckets(spark, tableDir, snapshotId)
    val pending = (0 until buckets).filterNot(done).take(maxBucketsPerRun)
    if (pending.isEmpty) return Set.empty

    val pendingSet = pending.toSet
    // tokens are varint-packed before the one shuffle (see PackedRow)
    val rows = GraftEncoder.bucketed(input, buckets)
      .filter($"bucket".isin(pending.map(Int.box): _*))
      .map(r => PackedRow(r.doc_id, TokenPack.pack(r.tokens), r.n_tok, r.source, r.bucket))
      .repartition(buckets, $"doc_id")
    val stagingDir = s"$tableDir/_staging/commit-$snapshotId-${java.util.UUID.randomUUID()}"
    val hconf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(conf))
    try {
      // only the pending buckets' partitions are scheduled: the pruned
      // RDD keeps them in parent order, so its partition i is bucket
      // pending(i) (`pending` ascends)
      val messages = org.apache.spark.rdd.PartitionPruningRDD.create(rows.rdd, pendingSet)
        .mapPartitionsWithIndex { (i, it) =>
          Iterator(graft.sources.GraftSegmentWriter.writeBucket(
            pending(i), stagingDir, graft.sources.GraftTable.TokenSchema, tokensPerChunk,
            graft.codec.CodecConf.Default, hconf.value.value)(w => it.foreach(w.writePacked)))
        }.collect()
      graft.sources.GraftWriteCommit.publish(tableDir, stagingDir, snapshotId, messages, conf)
    } catch {
      case e: Throwable =>
        graft.sources.GraftWriteCommit.dropStaging(stagingDir, conf)
        throw e
    } finally hconf.destroy() // the job is done; free every block manager's copy
    pendingSet
  }

  /** Compact every visible snapshot ≤ `upTo` into ONE fresh snapshot —
    * the table-maintenance half of the streaming path (one ledgered
    * snapshot per micro-batch is exactly-once but accretes small
    * part-files and under-filled chunks; at the 10^12-sequence scale the
    * small-file problem dominates scan cost long before data volume does).
    *
    * ONE Spark job, one task per bucket, no shuffle: each task reads its
    * bucket's input part-files directly, decodes them to the stored domain
    * and re-encodes the rows through the append path's writer
    * ([[graft.sources.GraftSegmentWriter.rewriteBucket]]). So compaction
    * RE-CHUNKS to full token budgets, re-runs codec selection over the
    * merged value distributions, re-sorts `sortBy` tables by their recorded
    * order and writes the footer file blooms an append writes; the payload
    * bytes of every segment are what one batch encode of the same rows
    * produces (segment determinism contract). Files written before a
    * metadata column existed decode it as nulls.
    *
    * Buckets are kept, never re-hashed: `buckets` must equal every input
    * snapshot's bucket count. A change of bucket count goes through the
    * connector (`read.format("graft")` → `write.format("graft")
    * .option("buckets", n)`).
    *
    * Atomicity: the compacted snapshot's commit rows and the
    * `superseded@C` markers for the old snapshots land in one ledger
    * append ([[graft.sources.GraftWriteCommit.publish]]), which first
    * clears each bucket dir of whatever a crashed earlier attempt left
    * there. A crash before the append leaves the new
    * data files invisible; there is no window where both generations are
    * readable. Time travel to a snapshot before C still reads the
    * pre-compaction layout ([[SupersededPrefix]]).
    *
    * Returns the compaction snapshot id, or None if nothing was visible
    * to compact. */
  def compact(spark: SparkSession,
              tableDir: String,
              upTo: Long,
              buckets: Int,
              tokensPerChunk: Int = GraftEncoder.DefaultTokensPerChunk): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = graft.sources.GraftTableMeta.read(tableDir, conf)
    val ledger = ledgerPairs(tableDir, conf)
    // EXACTLY the pair set this compaction supersedes — NOT the historical
    // as-of view: visibleAt(upTo) would resurrect partitions a LATER
    // compaction already superseded (its markers carry C > upTo), silently
    // duplicating their rows into the new snapshot while the earlier
    // compaction's copy stays visible.
    val visible = ledger.committed.filter(_._1 <= upTo) -- ledger.superseded.keySet
    if (visible.isEmpty) return None
    // Compaction ids live in their OWN space above both batch ids and
    // streaming epoch ids (a max-over-everything+1 on a streaming table
    // would allocate the NEXT EPOCH's id — that epoch's replay check would
    // then discard its own data as a duplicate). Logically a compaction is
    // "after" everything it supersedes, so the highest space also keeps
    // time travel consistent: as-of any pre-compaction snapshot id, both
    // the markers and the compacted snapshot are invisible.
    val compactionId = math.max(CompactionBase - 1L,
      (ledger.committed.iterator ++ ledger.superseded.keysIterator).map(_._1).max) + 1L
    // Each task reuses its segments' stored bucket id — valid only while
    // the bucket count is unchanged (bucket is pmod(hash(doc_id), n)).
    val visibleSnapshots = visible.map(_._1)
    val off = ledger.committed
      .filter(p => visibleSnapshots(p._1))
      .groupBy(_._1).view.mapValues(_.map(_._2).max + 1)
      .filter(_._2 != buckets).toMap
    require(off.isEmpty,
      s"compact($tableDir): compaction reuses stored bucket ids, so the " +
        s"target bucket count ($buckets) must equal every input snapshot's " +
        s"(mismatches: ${off.take(3).mkString(", ")}); re-bucketing a table " +
        "requires a decode through the connector")
    val schemaDdl = meta.flatMap(_.schemaDdl)
    graft.sources.GraftTableMeta.ensureForCommit(tableDir, conf, schemaDdl)
    val schema = graft.sources.MetaColumns.parseDdl(
      schemaDdl.getOrElse(graft.sources.MetaColumns.CanonicalDdl))
    // the table's recorded (advisory) sort order survives compaction: the
    // writer re-sorts each bucket by it, so the clustering that made the
    // sort column's stats prune stays tight across generations
    val codecConf = graft.codec.CodecConf.Default.copy(
      sortBy = meta.flatMap(_.sortBy).toSeq
        .flatMap(_.split(',').iterator.map(_.trim).filter(_.nonEmpty)))
    val inputs = graft.sources.GraftLayout.listParquetFiles(dataDir(tableDir), conf)
      .flatMap(f => graft.sources.GraftLayout.partitionOf(f).filter(visible).map(_._2 -> f))
      .groupMap(_._1)(_._2)
    val stagingDir = s"$tableDir/_staging/compact-$compactionId-${java.util.UUID.randomUUID()}"
    val hconf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(conf))
    try {
      // one element per slice: task i is bucket i, so the partition id the
      // encoder records is the bucket's, as in an append
      val messages = spark.sparkContext
        .parallelize((0 until buckets).map(b => b -> inputs.getOrElse(b, Nil)), buckets)
        .map { case (b, files) =>
          graft.sources.GraftSegmentWriter.rewriteBucket(files, b, stagingDir, schema,
            tokensPerChunk, codecConf, hconf.value.value)
        }
        .collect()
      // Concurrency guard (advisor finding): compaction is a single-
      // maintainer operation by design — but rather than trust the
      // assumption, re-read the ledger AFTER the rewrite job and abort if a
      // concurrent compact/expire superseded any input pair in the interim
      // (committing would double-count every row of the doubly-compacted
      // partitions). The fold re-lists the ledger dir, so any file appended
      // since the first read is folded in — never a stale answer. The
      // window between this check and the ledger append is milliseconds; a
      // maintenance scheduler must still not run two compactions of one
      // table deliberately in parallel.
      val clash = visible.intersect(ledgerPairs(tableDir, conf).superseded.keySet)
      if (clash.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"compact($tableDir): ${clash.size} input partition(s) were superseded " +
            s"by a concurrent maintenance operation (e.g. ${clash.take(3).mkString(", ")}); " +
            "aborting this compaction — re-run to compact the current state")
      val markers = visible.toSeq.sorted.map { case (s, b) =>
        LineageRow(s, b, 0L, 0L, 0L, 0L, 0L, "", "", "",
          s"$SupersededPrefix$compactionId")
      }
      graft.sources.GraftWriteCommit.publish(tableDir, stagingDir, compactionId,
        messages, conf, markers)
    } catch {
      case e: Throwable =>
        graft.sources.GraftWriteCommit.dropStaging(stagingDir, conf)
        throw e
    } finally hconf.destroy()
    Some(compactionId)
  }

  /** Delete the data files of superseded (snapshot, bucket) partitions —
    * the `expire_snapshots` half of the maintenance story ([[compact]]
    * supersedes logically but keeps bytes so time travel still works;
    * expire reclaims the storage and, with it, as-of readability of the
    * expired generations — the same trade Iceberg's expire makes). The
    * ledger keeps the superseded rows as history; a time-travel read that
    * needs an expired partition fails fast naming the snapshot
    * ([[graft.sources.GraftLayout.listDataFiles]]) instead of silently
    * returning partial data. Returns the number of partition directories
    * removed.
    *
    * Single-maintainer operation, like [[compact]]: run at most one
    * compact/expire per table at a time (the standard table-maintenance
    * stance; Iceberg's expire_snapshots carries the same contract). */
  def expireSuperseded(spark: SparkSession, tableDir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var removed = 0L
    ledgerPairs(tableDir, conf).superseded.keysIterator.foreach { case (s, b) =>
      val dir = new org.apache.hadoop.fs.Path(
        s"${dataDir(tableDir)}/snapshotId=$s/bucket=$b")
      val fs = dir.getFileSystem(conf)
      if (fs.exists(dir)) {
        fs.delete(dir, true)
        removed += 1
      }
    }
    // expire deletes files WITHOUT a ledger append — drop the cached
    // data-file listings so same-JVM readers re-list
    graft.sources.GraftLayout.invalidateDataFiles(tableDir)
    removed
  }

  /** The visible segments of a table as typed segments: committed,
    * non-superseded partitions only — the connector's rule
    * ([[graft.sources.GraftLayout.listDataFiles]], which also reads a bare
    * dump whole) — so crash-window data and pre-compaction generations
    * never double-count. One task per visible part-file reads it through
    * [[graft.sources.GraftLayout.foreachSegment]]; `bucket` comes from the
    * file's partition directory (-1 for a bare dump's file outside one). */
  def readSegmentsAll(spark: SparkSession, tableDir: String): Dataset[Segment] = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val files = graft.sources.GraftLayout.listDataFiles(tableDir, conf)
    val hconf = new org.apache.spark.util.SerializableConfiguration(conf)
    spark.createDataset(spark.sparkContext.parallelize(files, math.max(1, files.length))
      .flatMap { f =>
        val segs = scala.collection.mutable.ArrayBuffer.empty[Segment]
        graft.sources.GraftLayout.foreachSegment(f, hconf.value,
          graft.sources.GraftLayout.partitionOf(f).fold(-1)(_._2))(segs += _)
        segs
      })
  }
}
