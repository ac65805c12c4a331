package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Expression => VExpression}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.codec.CodecConf
import graft.engine.{GraftConf, GraftEncoder, PackedRow, RowBuffer, Segment}

/** The write half of the graft connector: `df.write.format("graft")
  * .mode("append").save(dir)` and `df.writeStream.format("graft")` run the
  * engine's encode pipeline through Spark's standard DSv2 write surface.
  *
  * The reference leaves its writer as an explicit TODO stub
  * (/root/reference/src/writer.rs:18-23) — our engine IS the writer, and
  * this class is what makes it reachable without any graft-specific API:
  *
  *  - **the one shuffle is declared, not hand-rolled**:
  *    [[RequiresDistributionAndOrdering]] asks Spark to cluster the input
  *    by `doc_id` into exactly `buckets` partitions, so the bucket exchange
  *    the engine would do itself ([[GraftEncoder.encodeBucketed]]) becomes
  *    part of the write plan — visible in `.explain`, AQE-aware, and not
  *    duplicated when the upstream query already ends in a compatible
  *    exchange. The bucket id is the writer's partition id: a pure function
  *    of doc_id (Spark's deterministic hash clustering), preserving the
  *    determinism the lineage protocol keys on;
  *  - **encode is the task**: each [[GraftSegmentWriter]] buffers its
  *    bucket in one [[graft.engine.RowBuffer]] (the engine's explicit
  *    memory contract: size buckets so one fits in task memory), runs the
  *    engine's one per-partition encoder
  *    ([[GraftEncoder.encodePartition]]; a canonical table is the case
  *    with no metadata columns) and writes its segments as ONE parquet
  *    part-file via the parquet example API — no Spark session, no second
  *    job. The same writer serves
  *    [[graft.lineage.SegmentStore.encodeCommit]] and compaction, so every
  *    segment file of a table comes from this class;
  *  - **commit is atomic through the lineage ledger**: writers stage under
  *    `dir/_staging/<queryId>/`, the driver's `commit()` moves exactly the
  *    files named in the commit messages into
  *    `data/snapshotId=S/bucket=B/` and only then appends the ledger rows
  *    — the commit point. A crash at ANY earlier moment leaves data the
  *    ledger never mentions, which the ledger-aware readers
  *    ([[GraftLayout.listDataFiles]], [[graft.lineage.SegmentStore]])
  *    never surface: Iceberg-snapshot visibility semantics with zero new
  *    reader machinery. Speculative/retried task attempts stage under
  *    distinct taskIds and only the attempt the commit coordinator accepted
  *    is moved;
  *  - **streaming is the same writer**: `toStreaming` commits each epoch as
  *    its own snapshot (`snapshotId = StreamEpochBase + epochId`). A
  *    replayed epoch finds its snapshot already in the ledger and drops its
  *    staged files; one replayed after a crash between the file move and
  *    the ledger append republishes into cleared bucket dirs
  *    ([[GraftWriteCommit.publish]]) — checkpoint replay + ledger
  *    idempotence compose to exactly-once.
  *
  * Write options: `buckets` (bucket/partition count, default
  * [[GraftWriteBuilder.DefaultBuckets]]), `tokensPerChunk`, and the
  * `graft.codec.*` keys accepted by [[GraftConf]] (e.g.
  * `graft.codec.zlibLevel`) — same knobs, same parsing, as the
  * session-conf path.
  */
class GraftWriteBuilder(path: String, info: LogicalWriteInfo,
                        hconf: SerializableConfiguration)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = {
    val schema = info.schema()
    GraftWriteBuilder.validateSchema(schema)
    val opts = info.options()
    // Append default: the EXISTING table's bucket count (uniform across
    // its visible snapshots) — an append silently switching to a different
    // count would make the table a mixed layout that can no longer declare
    // bucket(n, doc_id) for storage-partitioned joins. An explicit
    // `buckets` option still wins (deliberate re-bucketing is legal; the
    // SPJ declaration guards itself against the resulting mix).
    val buckets = Option(opts.get("buckets")).map(_.toInt)
      .orElse(GraftLayout.committedPairs(path, hconf.value).flatMap { lp =>
        val visible = lp.committed -- lp.superseded.keySet
        val counts = visible.groupBy(_._1).values.map(_.map(_._2).max + 1).toSet
        if (counts.size == 1) Some(counts.head) else None
      })
      .getOrElse(GraftWriteBuilder.DefaultBuckets)
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val conf = {
      val m = scala.collection.mutable.Map.empty[String, String]
      val it = opts.entrySet().iterator()
      while (it.hasNext) { val e = it.next(); if (e.getKey.startsWith("graft.")) m += e.getKey -> e.getValue }
      GraftConf.fromMap(m.toMap)
    }
    val tokensPerChunk = Option(opts.get("tokensPerChunk")).map(_.toInt)
      .getOrElse(conf.tokensPerChunk)
    // Sort order (ORC `orc.sort.columns` / Iceberg sort-order analog,
    // comma-separated multi-key): explicit `sortBy` option >
    // `graft.write.sortBy` session default > the order recorded at table
    // creation (appends inherit clustering without restating the knob).
    // Each key resolves here to its ENGINE stream (`info.score` ->
    // `info__f_score`) and is validated against the schema.
    val sortStreams: Seq[String] =
      Option(opts.get("sortBy")).map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty)
        .orElse(conf.sortBy)
        .orElse(GraftTableMeta.read(path, hconf.value).flatMap(_.sortBy))
        .toSeq
        .flatMap(_.split(',').iterator.map(_.trim).filter(_.nonEmpty))
        .map(GraftWriteBuilder.resolveSortStream(schema, _))
    // bloomColumns may name struct members as `col.member`: resolve them
    // to the member's engine stream here (the encoder keys blooms by
    // stream name; the read side already renames member predicates onto
    // the same stream, so build and probe meet with no further mapping)
    val bloomCols = conf.codec.bloomColumns.map {
      case c if c.contains(".") => GraftWriteBuilder.resolveSortStream(schema, c)
      case c => c
    }
    new GraftWrite(path, schema, buckets, tokensPerChunk,
      conf.codec.copy(sortBy = sortStreams, bloomColumns = bloomCols),
      truncateFirst, info.queryId(), hconf)
  }
}

object GraftWriteBuilder {
  /** Matches the engine's local-mode test default; a real deployment sizes
    * this as totalTokens / (128-256 MiB of tokens) per the capacity plan. */
  final val DefaultBuckets = 16

  /** Canonical four + optional scalar metadata columns ([[MetaColumns]]). */
  def validateSchema(s: StructType): Unit = MetaColumns.validate(s)

  /** Resolve a user sortBy name to its ENGINE stream and validate it
    * against `schema`: a scalar metadata column maps to itself, a struct
    * member path `c.m` to `c__f_m`, and an already-resolved engine name
    * (the `_meta`-recorded form appends inherit) passes through. Must be
    * a scalar (non-list, non-binary, non-map/struct-root) stream — only
    * those have a total stored-domain order to cluster by. */
  def resolveSortStream(schema: StructType, user: String): String = {
    val engine = MetaColumns.metaFields(schema).flatMap(MetaColumns.engineFields)
    val resolved = user.split('.') match {
      case Array(c, m) => s"${c}__f_$m"
      case _ => user
    }
    val f = engine.find(_.name == resolved).getOrElse(throw new IllegalArgumentException(
      s"sortBy '$user' does not name a metadata column or struct member of " +
        s"this table; columns: ${MetaColumns.metaFields(schema).map(_.name).mkString(",")}"))
    require(!MetaColumns.isList(f.dataType) &&
      f.dataType != org.apache.spark.sql.types.BinaryType &&
      !resolved.endsWith("__p"),
      s"sortBy '$user' must be a scalar orderable column (not a list, map, " +
        "binary, or a bare struct — sort by a struct MEMBER as 'col.member')")
    resolved
  }
}

/** One committed writer task's contribution: its bucket's staged file (None
  * when the bucket was empty) plus the lineage stats the ledger records. */
final case class GraftCommitMessage(
    bucket: Int,
    stagedFile: Option[String],
    nSegments: Long,
    nRows: Long,
    nTokens: Long,
    bytesIn: Long,
    bytesOut: Long,
    firstChunk: String,
    lastChunk: String,
    codecs: String) extends WriterCommitMessage

class GraftWrite(path: String, schema: StructType, buckets: Int,
                 tokensPerChunk: Int, codecConf: CodecConf,
                 truncateFirst: Boolean, queryId: String,
                 hconf: SerializableConfiguration)
    extends Write with RequiresDistributionAndOrdering {

  // Cluster by doc_id into exactly `buckets` partitions: the engine's one
  // explicit shuffle, expressed declaratively so Catalyst plans (or elides)
  // the exchange. HashPartitioning computes pmod(Murmur3Hash(doc_id, 42),
  // buckets) — the ENGINE'S OWN bucket function (GraftEncoder.bucketed
  // uses Spark's hash() deliberately so the two coincide): the partition
  // id each writer task receives IS the canonical bucket of every row it
  // holds, both write paths produce one layout, and the catalog's
  // bucket(n, doc_id) declaration stays true for SPJ. Long-token docs
  // spread uniformly (the north_rule's skew clause).
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array[VExpression](Expressions.column("doc_id")))
  override def requiredNumPartitions(): Int = buckets
  // No required ordering: the writer sorts its bucket in task memory
  // (GraftEncoder.encodePartition), skipping Spark's external-sorter
  // serialize/spill layer, which stage telemetry showed dominating GC.
  override def requiredOrdering(): Array[SortOrder] = Array.empty

  private def stagingDir = s"$path/_staging/$queryId"

  override def toBatch: BatchWrite = new GraftBatchWrite(
    path, stagingDir, schema, tokensPerChunk, codecConf, truncateFirst, hconf)

  override def toStreaming: StreamingWrite = new GraftStreamingWrite(
    path, stagingDir, schema, tokensPerChunk, codecConf, hconf)

  override def description(): String =
    s"GraftWrite buckets=$buckets tokensPerChunk=$tokensPerChunk" +
      (if (truncateFirst) " truncate" else "")
}

class GraftBatchWrite(path: String, stagingDir: String, schema: StructType,
                      tokensPerChunk: Int, codecConf: CodecConf,
                      truncateFirst: Boolean, hconf: SerializableConfiguration)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftWriterFactory(stagingDir, schema, tokensPerChunk, codecConf,
      SparkSession.active.sparkContext.broadcast(hconf))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hconf.value
    val fs = GraftLayout.writeFs(new HPath(path), conf)
    if (truncateFirst) {
      fs.delete(new HPath(path, "data"), true)
      fs.delete(new HPath(path, "lineage"), true)
      GraftTableMeta.invalidate(path) // _meta was deleted; restamped below
    }
    // Version gate: stamp lineage/_meta on a fresh table, fail fast on a
    // table whose bucket function / id space cannot be verified (advisor
    // finding: a silently changed bucket function corrupts SPJ and restart)
    // — and record/require the table schema (metadata columns are fixed at
    // creation; mixed stream sets inside one table would corrupt reads).
    GraftTableMeta.ensureForCommit(path, conf, Some(MetaColumns.ddl(schema)),
      Some(codecConf.sortBy.mkString(",")).filter(_.nonEmpty))
    // Snapshot id chosen at commit time so SUCCESSIVE appends
    // monotonically stack (the Iceberg "new snapshot per commit" stance).
    // Batch ids live BELOW StreamEpochBase: the streaming sink derives its
    // snapshot ids from epoch ids, and the two spaces must stay disjoint —
    // a batch commit landing on a future epoch's id would make that
    // epoch's replay check misfire and silently DROP the epoch's data.
    var snapshotId = GraftLayout.committedSnapshots(path, conf)
      .fold(0L)(s => {
        val batchIds = s.filter(_ < GraftWriteCommit.StreamEpochBase)
        if (batchIds.isEmpty) 0L else batchIds.max
      }) + 1L
    // Concurrent appends are made conflict-safe with CAS semantics on the
    // filesystem: CLAIM the id by creating lineage/_commit_<id> exclusively
    // and move to the next id when another writer holds it. Two
    // simultaneous appends thus publish two DISTINCT snapshots (and never
    // clear each other's bucket dirs at publish). Iceberg solves the same
    // race with an atomic catalog swap; this is its catalog-free rendering.
    val ledgerDir = new HPath(path, "lineage")
    fs.mkdirs(ledgerDir)
    var attempts = 0
    while ({
      require(snapshotId < GraftWriteCommit.StreamEpochBase,
        s"batch snapshot-id space exhausted at $snapshotId")
      !GraftWriteCommit.claim(fs, new HPath(ledgerDir, s"_commit_$snapshotId"))
    }) {
      attempts += 1
      if (attempts > 1000)
        throw new java.io.IOException(
          s"graft commit: could not claim a snapshot id under $ledgerDir " +
            s"after $attempts attempts (last tried $snapshotId)")
      snapshotId += 1L
    }
    GraftWriteCommit.publish(path, stagingDir, snapshotId,
      messages.map(_.asInstanceOf[GraftCommitMessage]), conf)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftWriteCommit.dropStaging(stagingDir, hconf.value)
}

/** Streaming sink: each epoch commits as its own ledgered snapshot
  * (snapshotId = StreamEpochBase + epochId — its own id space: a batch
  * append allocating max+1 in a SHARED space could land on a future
  * epoch's id, and that epoch's replay check would then discard real data
  * as a duplicate). Exactly-once = checkpoint replay x ledger idempotence:
  * a replayed epoch sees its snapshot already committed and discards its
  * staged files instead of double-publishing. As-of time travel orders by
  * snapshot id — a LOGICAL clock per id space, not wall time; mixed
  * batch+streaming tables time-travel consistently within each space. */
class GraftStreamingWrite(path: String, stagingDir: String, schema: StructType,
                          tokensPerChunk: Int, codecConf: CodecConf,
                          hconf: SerializableConfiguration)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftWriterFactory(stagingDir, schema, tokensPerChunk, codecConf,
      SparkSession.active.sparkContext.broadcast(hconf))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = hconf.value
    // Version gate BEFORE the replay check: on a pre-versioning table the
    // epoch-id space is unverifiable (epochs may have been committed under
    // raw ids), so the replay check below could misfire either way —
    // fail fast by name instead of double-publishing or dropping data
    // (advisor finding on the r3 id-space rebase).
    GraftTableMeta.ensureForCommit(path, conf, Some(MetaColumns.ddl(schema)),
      Some(codecConf.sortBy.mkString(",")).filter(_.nonEmpty))
    val snapshotId = GraftWriteCommit.StreamEpochBase + epochId
    val already = GraftLayout.committedSnapshots(path, conf)
      .exists(_.contains(snapshotId))
    if (already) GraftWriteCommit.dropStaging(stagingDir, conf)
    else GraftWriteCommit.publish(path, stagingDir, snapshotId,
      messages.map(_.asInstanceOf[GraftCommitMessage]), conf)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftWriteCommit.dropStaging(stagingDir, hconf.value)
}

/** Driver-side publish: move exactly the staged files the commit messages
  * name into their snapshot/bucket dirs, THEN append the lineage rows —
  * the ledger append is the commit point; everything before it is
  * invisible to ledger-aware readers. */
object GraftWriteCommit {

  /** Floor of the streaming sink's snapshot-id space (snapshot =
    * StreamEpochBase + epochId); batch appends allocate strictly below it
    * so the replay-idempotence check can never collide with a batch
    * commit. */
  final val StreamEpochBase: Long = 1L << 40

  /** Create `marker` exclusively: true for exactly one of any number of
    * racing callers. Hadoop's local filesystem checks for existence, then
    * opens, so there the claim is an O_EXCL create of the local file. */
  def claim(fs: FileSystem, marker: HPath): Boolean =
    try {
      fs match {
        case local: org.apache.hadoop.fs.LocalFileSystem =>
          java.nio.file.Files.createFile(local.pathToFile(marker).toPath)
        case _ => fs.create(marker, false).close()
      }
      true
    } catch { case _: java.io.IOException => false }

  /** Move the staged files, then ONE ledger append of the messages' rows
    * plus `extraLedger` (compaction's supersede markers) — the commit
    * point. Each message's `data/snapshotId=S/bucket=B` dir is cleared
    * first: a crashed earlier attempt at this (uncommitted) pair may have
    * moved part-files there without its ledger append, and the rows below
    * would make them visible. */
  def publish(path: String, stagingDir: String, snapshotId: Long,
              messages: Array[GraftCommitMessage], conf: Configuration,
              extraLedger: Seq[graft.lineage.LineageRow] = Nil): Unit = {
    val fs = GraftLayout.writeFs(new HPath(path), conf)
    messages.foreach { m =>
      val dest = new HPath(s"$path/data/snapshotId=$snapshotId/bucket=${m.bucket}")
      fs.delete(dest, true)
      m.stagedFile.foreach { staged =>
        fs.mkdirs(dest)
        val src = new HPath(staged)
        if (!fs.rename(src, new HPath(dest, src.getName)))
          throw new java.io.IOException(s"graft commit: rename failed for $staged")
      }
    }
    appendLedgerRows(path, messages.toSeq.map(m =>
      graft.lineage.LineageRow(snapshotId, m.bucket, m.nSegments, m.nRows,
        m.nTokens, m.bytesIn, m.bytesOut, m.firstChunk, m.lastChunk, m.codecs,
        graft.lineage.SegmentStore.Committed)) ++ extraLedger, conf)
    dropStaging(stagingDir, conf)
  }

  def dropStaging(stagingDir: String, conf: Configuration): Unit = {
    val p = new HPath(stagingDir)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    // remove _staging itself when this was its last query — best-effort
    // and tolerant of races: listStatus (not listFiles, which is blind to
    // subdirectories) decides emptiness, and a concurrent writer staging
    // between the check and the delete just means the cleanup is skipped
    val parent = p.getParent
    try {
      if (fs.exists(parent) && fs.listStatus(parent).isEmpty) fs.delete(parent, false)
    } catch { case _: java.io.IOException => () }
  }

  /** Flat lineage schema — parquet-level twin of
    * [[graft.lineage.LineageRow]], field for field, so the ledger reader
    * ([[GraftLayout.readLedger]]) parses every ledger file the same way. */
  private val LineageSchema: MessageType = {
    val str = LogicalTypeAnnotation.stringType()
    new MessageType("graft_lineage",
      Types.optional(INT64).named("snapshotId"),
      Types.optional(INT32).named("bucket"),
      Types.optional(INT64).named("nSegments"),
      Types.optional(INT64).named("nRows"),
      Types.optional(INT64).named("nTokens"),
      Types.optional(INT64).named("bytesIn"),
      Types.optional(INT64).named("bytesOut"),
      Types.optional(BINARY).as(str).named("firstChunk"),
      Types.optional(BINARY).as(str).named("lastChunk"),
      Types.optional(BINARY).as(str).named("codecs"),
      Types.optional(BINARY).as(str).named("status"))
  }

  /** Append one ledger file holding `rows` — THE commit point of every
    * write path (one file = visibility flips atomically at the file move).
    * Driver-side (no Spark job): a commit's ledger rows are metadata-scale
    * (pending buckets + markers), and the `repartition(1).write` job this
    * replaces was the dominant fixed cost of a streaming micro-batch. */
  def appendLedgerRows(path: String, rows: Seq[graft.lineage.LineageRow],
                       conf: Configuration): Unit = {
    val name = s"part-graft-${UUID.randomUUID()}.parquet"
    val file = new HPath(s"$path/lineage/$name")
    // written under a hidden name, then renamed into place: ledger readers
    // skip `.` files, so a concurrent fold (another append's commit) never
    // opens a half-written file, and a crash mid-write leaves no ledger row
    val tmp = new HPath(s"$path/lineage/.$name.tmp")
    val writer = ExampleParquetWriter.builder(GraftLayout.outputFile(tmp, conf))
      .withConf(conf).withType(LineageSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val f = new SimpleGroupFactory(LineageSchema)
    try {
      rows.sortBy(r => (r.snapshotId, r.bucket)).foreach { r =>
        val g = f.newGroup()
        g.add("snapshotId", r.snapshotId)
        g.add("bucket", r.bucket)
        g.add("nSegments", r.nSegments)
        g.add("nRows", r.nRows)
        g.add("nTokens", r.nTokens)
        g.add("bytesIn", r.bytesIn)
        g.add("bytesOut", r.bytesOut)
        g.add("firstChunk", r.firstChunk)
        g.add("lastChunk", r.lastChunk)
        g.add("codecs", r.codecs)
        g.add("status", r.status)
        writer.write(g)
      }
    } finally writer.close()
    if (!GraftLayout.writeFs(file, conf).rename(tmp, file))
      throw new java.io.IOException(s"graft commit: ledger rename failed for $file")
  }
}

/** Serves both the batch and streaming writer surfaces (the epoch id is
  * commit-time information; the writer itself is identical). The session's
  * Hadoop conf rides as a broadcast: an executor deserializes it once per
  * write, not once per task. */
final case class GraftWriterFactory(stagingDir: String, schema: StructType,
                                    tokensPerChunk: Int, codecConf: CodecConf,
                                    hconf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftSegmentWriter(stagingDir, schema, partitionId, taskId,
      tokensPerChunk, codecConf, hconf.value.value)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

object GraftSegmentWriter {
  /** Row-group size of v2 part-files: smaller than parquet's 128 MiB
    * default so the scan's payload skip has useful granularity (it reads
    * a row group's payloads when any of its segments may match; ~8 MiB ≈
    * tens of segments at the default chunk budget). */
  final val RowGroupBytes: Long = 8L * 1024 * 1024

  /** One bucket's write task outside the DSv2 surface (encodeCommit,
    * compaction): `feed` buffers the bucket's rows into an append's writer
    * — same sort, chunking, kernels, file blooms and staged part-file. */
  def writeBucket(bucket: Int, stagingDir: String, schema: StructType,
                  tokensPerChunk: Int, codecConf: CodecConf, conf: Configuration)(
      feed: GraftSegmentWriter => Unit): GraftCommitMessage = {
    val w = new GraftSegmentWriter(stagingDir, schema, bucket,
      org.apache.spark.TaskContext.get().taskAttemptId(), tokensPerChunk, codecConf, conf)
    try {
      feed(w)
      w.commit()
    } catch {
      case e: Throwable => w.abort(); throw e
    } finally w.close()
  }

  /** One compaction task: decode every segment of one bucket's `files` to
    * the stored domain ([[GraftEncoder.decodeSegmentWithMeta]]; a stream a
    * file lacks decodes as nulls) and re-encode the rows ([[writeBucket]]). */
  def rewriteBucket(files: Seq[String], bucket: Int, stagingDir: String,
                    schema: StructType, tokensPerChunk: Int, codecConf: CodecConf,
                    conf: Configuration): GraftCommitMessage = {
    val specs = MetaColumns.metaFields(schema).flatMap(MetaColumns.specsFor)
    writeBucket(bucket, stagingDir, schema, tokensPerChunk, codecConf, conf) { w =>
      files.foreach(GraftLayout.foreachSegment(_, conf, bucket) { seg =>
        GraftEncoder.decodeSegmentWithMeta(seg, specs).foreach { case (r, m) =>
          w.writeStored(r.doc_id, r.tokens, r.n_tok, r.source, m)
        }
      })
    }
  }
}

/** Buffers one bucket's rows (the engine's explicit task-memory contract),
  * encodes them with the engine's kernels at commit, and writes the
  * segments as one staged parquet part-file — the only writer of segment
  * files. */
class GraftSegmentWriter(stagingDir: String, schema: StructType,
                         partitionId: Int, taskId: Long,
                         tokensPerChunk: Int, codecConf: CodecConf,
                         conf: Configuration)
    extends DataWriter[InternalRow] {

  private val iDoc = schema.fieldIndex("doc_id")
  private val iTok = schema.fieldIndex("tokens")
  private val iN = schema.fieldIndex("n_tok")
  private val iSrc = schema.fieldIndex("source")
  private val stagedFile = s"$stagingDir/part-$partitionId-$taskId.parquet"

  // metadata columns ([[MetaColumns]]): ENGINE fields (maps expand to two
  // list pseudo-fields), engine specs and one extractor per engine field;
  // the buffer holds one stored-domain slot per engine field and row
  private val metaFields = MetaColumns.metaFields(schema)
  private val metaEngineFields: Seq[org.apache.spark.sql.types.StructField] =
    metaFields.flatMap(MetaColumns.engineFields)
  private val metaSpecs: Seq[graft.engine.MetaColSpec] =
    metaFields.flatMap(MetaColumns.specsFor)
  // the bucket's rows, tokens in one block arena (4 B/token); dropped at close
  private var buf = new RowBuffer(metaSpecs.length)

  override def write(row: InternalRow): Unit =
    writeStored(row.getUTF8String(iDoc).toString, row.getArray(iTok).toIntArray(),
      row.getInt(iN), row.getUTF8String(iSrc).toString, metaExtractors.map(_(row)))

  /** Buffer one canonical row whose tokens the engine packed for the
    * shuffle ([[GraftEncoder.bucketed]] rows shuffled to this bucket's
    * task), unpacking them once: the row's bucket must be the writer's. */
  private[graft] def writePacked(row: PackedRow): Unit = {
    require(row.bucket == partitionId,
      s"a row of bucket ${row.bucket} reached the writer of bucket $partitionId")
    buf.appendPacked(row)
  }

  /** Buffer one row already in the stored domain: `meta` holds one slot
    * per engine field, shaped as [[GraftEncoder.decodeSegmentWithMeta]]
    * returns them (ignored on a canonical table). [[write]] converts Spark
    * rows to this; compaction feeds decoded segments straight in. */
  private[sources] def writeStored(docId: String, tokens: Array[Int], nTok: Int,
                                   source: String, meta: Array[AnyRef]): Unit =
    buf.append(docId, tokens, nTok, source, partitionId, meta)

  /** Stored-domain list value of `arr` with element kind `et`. */
  private def listOf(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                     et: org.apache.spark.sql.types.DataType): AnyRef = {
    import org.apache.spark.sql.types._
    et match {
      case StringType =>
        val vs = new Array[String](arr.numElements())
        var k = 0
        while (k < vs.length) {
          if (!arr.isNullAt(k)) vs(k) = arr.getUTF8String(k).toString
          k += 1
        }
        graft.engine.ListStrings(vs)
      case _ =>
        val n = arr.numElements()
        val vs = new Array[Long](n)
        val pr = new Array[Boolean](n)
        var k = 0
        while (k < n) {
          if (!arr.isNullAt(k)) {
            pr(k) = true
            vs(k) = if (et == IntegerType) arr.getInt(k).toLong else arr.getLong(k)
          }
          k += 1
        }
        graft.engine.ListLongs(vs, pr)
    }
  }

  /** Stored-domain value of scalar slot `i` of `g` (non-null slots only;
    * shared by top-level scalar columns and struct members). */
  private def scalarGetter(dt: org.apache.spark.sql.types.DataType, i: Int)
      : org.apache.spark.sql.catalyst.expressions.SpecializedGetters => AnyRef = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => _.getUTF8String(i).toString
      case BinaryType => _.getBinary(i)
      case IntegerType | DateType => g => java.lang.Long.valueOf(g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType =>
        g => java.lang.Long.valueOf(g.getLong(i))
      case DoubleType =>
        g => java.lang.Long.valueOf(MetaColumns.sortableDouble(g.getDouble(i)))
      case BooleanType =>
        g => java.lang.Long.valueOf(if (g.getBoolean(i)) 1L else 0L)
      case ByteType => g => java.lang.Long.valueOf(g.getByte(i).toLong)
      case ShortType => g => java.lang.Long.valueOf(g.getShort(i).toLong)
      case FloatType =>
        g => java.lang.Long.valueOf(MetaColumns.sortableFloat(g.getFloat(i)))
      // stored domain = unscaled long at the column's fixed scale
      case d: DecimalType =>
        g => java.lang.Long.valueOf(g.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case other => throw new IllegalStateException(
        s"unreachable: unvalidated metadata type $other")
    }
  }

  /** One stored-domain extractor per ENGINE field, aligned with
    * [[metaSpecs]] (null = SQL-null column value; maps expand to a keys
    * extractor and a values extractor over the same ordinal, structs to a
    * presence extractor plus one per member). */
  private val metaExtractors: Array[InternalRow => AnyRef] = {
    import org.apache.spark.sql.types._
    metaFields.flatMap { mf =>
      val ord = schema.fieldIndex(mf.name)
      def whenSet(f: InternalRow => AnyRef): InternalRow => AnyRef =
        row => if (row.isNullAt(ord)) null else f(row)
      mf.dataType match {
        case MapType(kt, vt, _) => Seq(
          whenSet(row => listOf(row.getMap(ord).keyArray(), kt)),
          whenSet(row => listOf(row.getMap(ord).valueArray(), vt)))
        case ArrayType(et, _) => Seq(whenSet(row => listOf(row.getArray(ord), et)))
        // STRUCT: `__p` carries 1 where the struct is non-null (its
        // PRESENT mask IS the struct nullability); each member rides its
        // own pseudo-stream, null when the struct OR the member is null
        case st: StructType =>
          val n = st.fields.length
          val presence = whenSet(_ => java.lang.Long.valueOf(1L))
          val members = st.fields.toSeq.zipWithIndex.map { case (m, i) =>
            val get = scalarGetter(m.dataType, i)
            whenSet { row =>
              val s = row.getStruct(ord, n)
              if (s.isNullAt(i)) null else get(s)
            }
          }
          presence +: members
        case dt =>
          val get = scalarGetter(dt, ord)
          Seq(whenSet(row => get(row)))
      }
    }.toArray
  }

  /** File-level folded blooms for the footer metadata: one capped
    * split-block filter per opted-in column over the WHOLE file's values
    * (built from the buffered rows — chunk blooms are sized per chunk and
    * can't be OR-folded across unequal geometries). The planner consults
    * these to skip entire part-files on point predicates before a task is
    * ever scheduled ([[GraftScan.planInputPartitions]]). */
  private def fileBloomMeta(): Map[String, String] = {
    import graft.codec.SegmentBloom
    val n = buf.size
    if (codecConf.fileBloomBytes <= 0 || n == 0) return Map.empty
    val cap = codecConf.fileBloomBytes
    def rows: Iterator[Int] = Iterator.range(0, n)
    codecConf.bloomColumns.toSeq.sorted.flatMap { col =>
      val (hashes, ndv): (Iterator[Long], Int) = col match {
        case "doc_id" => (rows.map(i => SegmentBloom.hashString(buf.docId(i))), n)
        case "source" => (rows.map(i => SegmentBloom.hashString(buf.source(i))), n)
        case "n_tok" => (rows.map(i => SegmentBloom.hashLong(buf.nTok(i).toLong)), n)
        case "tok_len" => (rows.map(i => SegmentBloom.hashLong(buf.tokLen(i).toLong)), n)
        case "tokens" =>
          (buf.tokens.map(t => SegmentBloom.hashLong(t.toLong)),
            math.min(Int.MaxValue.toLong, rows.map(buf.tokLen(_).toLong).sum).toInt)
        // metadata columns: non-null values, int-kinds hashed in the STAT
        // domain (statMap) to match the normalized point predicates.
        // Binary columns are excluded — their predicates never normalize,
        // so a bloom would never be probed. Indexed over the ENGINE fields
        // (the buffer's slots align with the expanded specs).
        case m if metaEngineFields.exists(_.name == m) &&
          !metaSpecs(metaEngineFields.indexWhere(_.name == m)).isBinary =>
          val j = metaEngineFields.indexWhere(_.name == m)
          val spec = metaSpecs(j)
          def slots: Iterator[AnyRef] = rows.map(buf.meta(j, _))
          if (spec.isList) {
            // list columns: file bloom over non-null ELEMENTS (the
            // array_contains membership domain, like the tokens bloom)
            var nElems = 0L
            slots.foreach {
              case l: graft.engine.ListLongs => nElems += l.present.count(identity)
              case l: graft.engine.ListStrings => nElems += l.values.count(_ != null)
              case _ => ()
            }
            val hs = slots.flatMap {
              case l: graft.engine.ListLongs =>
                l.values.indices.iterator.collect {
                  case k if l.present(k) => SegmentBloom.hashLong(l.values(k)) }
              case l: graft.engine.ListStrings =>
                l.values.iterator.collect {
                  case v if v != null => SegmentBloom.hashString(v) }
              case _ => Iterator.empty
            }
            (hs, math.min(Int.MaxValue.toLong, nElems).toInt)
          } else {
            val hs = slots.collect {
              case v: String => SegmentBloom.hashString(v)
              case v: java.lang.Long => SegmentBloom.hashLong(spec.statMap(v.longValue()))
            }
            (hs, slots.count(_ != null))
          }
        case _ => (Iterator.empty, 0)
      }
      if (ndv == 0) None
      else Some(SegmentLayoutV2.bloomMetaKey(col) ->
        java.util.Base64.getEncoder.encodeToString(SegmentBloom.buildCapped(hashes, ndv, cap)))
    }.toMap
  }

  override def commit(): GraftCommitMessage = {
    if (buf.size == 0)
      return GraftCommitMessage(partitionId, None, 0L, 0L, 0L, 0L, 0L, "", "", "")
    val segments = GraftEncoder.encodePartition(buf, metaSpecs, tokensPerChunk, codecConf)
    val s = SegmentLayoutV2.messageType(
      SegmentLayoutV2.CanonicalStreams ++ metaFields.flatMap(MetaColumns.streamsFor))
    // a concurrent append's commit removes `_staging` while it looks empty
    // (GraftWriteCommit.dropStaging), which can land between the local
    // filesystem's mkdir and its (in-process) chmod of the dir here, so
    // the chmod finds no dir: create the dir again
    val file = new HPath(stagedFile)
    val fs = GraftLayout.writeFs(file, conf)
    (0 until 3).exists(_ =>
      try fs.mkdirs(file.getParent) catch { case _: java.io.IOException => false })
    val writer: ParquetWriter[Group] = ExampleParquetWriter.builder(GraftLayout.outputFile(file, conf))
      .withConf(conf).withType(s)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(GraftSegmentWriter.RowGroupBytes)
      .withExtraMetaData(fileBloomMeta().asJava)
      .build()
    val f = new SimpleGroupFactory(s)
    var nSegments = 0L
    var nRows = 0L
    var nTokens = 0L
    var bytesIn = 0L
    var bytesOut = 0L
    var firstChunk: String = null
    var lastChunk: String = null
    val codecCounts = scala.collection.mutable.Map.empty[String, Long]
    try {
      segments.foreach { seg =>
        writer.write(toGroupV2(f, seg))
        nSegments += 1
        nRows += seg.nRows
        nTokens += seg.nTokens
        bytesIn += seg.bytesIn
        bytesOut += seg.bytesOut
        if (firstChunk == null || seg.segmentId < firstChunk) firstChunk = seg.segmentId
        if (lastChunk == null || seg.segmentId > lastChunk) lastChunk = seg.segmentId
        seg.cols.foreach { c =>
          val k = s"${c.col}:${c.codecName}"
          codecCounts.update(k, codecCounts.getOrElse(k, 0L) + 1L)
        }
      }
    } finally writer.close()
    // "col:codec=n,..." sorted — the SegmentStore ledger convention
    val codecs = codecCounts.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(",")
    GraftCommitMessage(partitionId, Some(stagedFile), nSegments, nRows, nTokens,
      bytesIn, bytesOut, firstChunk, lastChunk, codecs)
  }

  private def toGroupV2(f: SimpleGroupFactory, seg: Segment): Group = {
    val g = f.newGroup()
    g.add("segmentId", seg.segmentId)
    g.add("source", seg.source)
    g.add("partitionId", seg.partitionId)
    g.add("chunkIdx", seg.chunkIdx)
    g.add("nRows", seg.nRows)
    g.add("nTokens", seg.nTokens)
    g.add("bytesIn", seg.bytesIn)
    g.add("bytesOut", seg.bytesOut)
    seg.cols.foreach { c =>
      def n(x: String) = SegmentLayoutV2.field(c.col, x)
      g.add(n("codecId"), c.codecId)
      g.add(n("codecName"), c.codecName)
      g.add(n("nValues"), c.nValues)
      g.add(n("bytesIn"), c.bytesIn)
      g.add(n("bytesOut"), c.bytesOut)
      g.add(n("minV"), c.minV)
      g.add(n("maxV"), c.maxV)
      g.add(n("minS"), c.minS)
      g.add(n("maxS"), c.maxS)
      g.add(n("payload"), Binary.fromConstantByteArray(c.payload))
      g.add(n("bloom"), Binary.fromConstantByteArray(c.bloom))
    }
    g
  }

  override def abort(): Unit = {
    val p = new HPath(stagedFile)
    GraftLayout.writeFs(p, conf).delete(p, false)
  }

  override def close(): Unit = buf = null
}
