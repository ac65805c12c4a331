package graft.engine

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.TaskContext

import graft.codec._
import graft.select.CodecSelector

/** One encoded column stream within a segment — the analog of an ORC
  * column chunk with its encoding kind recorded in the stripe footer
  * (SURVEY §1.4; /root/reference/src/lib.rs:30 reads these back via
  * orc-rust). min/max double as the chunk's data-skipping index, the role
  * ORC ROW_INDEX entries play for the reference's stripe pruning
  * (/root/reference/src/predicate.rs:53-245). `bloom` is the optional
  * per-chunk split-block bloom filter ([[graft.codec.SegmentBloom]], the
  * ORC BLOOM_FILTER stream analog; empty = none — readers degrade to
  * may-contain, so pre-bloom files stay readable). */
final case class ColChunk(
    col: String,
    codecId: Int,
    codecName: String,
    nValues: Long,
    bytesIn: Long,
    bytesOut: Long,
    minV: Long,
    maxV: Long,
    minS: String,
    maxS: String,
    payload: Array[Byte],
    bloom: Array[Byte] = Array.emptyByteArray)

/** A segment = one horizontal chunk of rows, all columns encoded. The unit
  * of encode work, lineage, and decode-side skipping.
  *
  * Determinism contract (the basis of idempotent restart, north_rule):
  * `bucket` is a pure function of doc_id (pmod(hash(doc_id), buckets) —
  * Spark's Murmur3 seed 42, the same function HashPartitioning applies),
  * rows are chunked in (source, doc_id) sorted order within their bucket,
  * so segment content and segmentId depend only on the input data — a task
  * retry or a full job replay rewrites byte-identical files. */
final case class Segment(
    segmentId: String,
    source: String,
    bucket: Int,
    partitionId: Int,
    chunkIdx: Int,
    nRows: Int,
    nTokens: Long,
    bytesIn: Long,
    bytesOut: Long,
    cols: Seq[ColChunk])

/** TokenRow + its deterministic bucket (the shuffle/lineage key). */
final case class BucketedRow(
    doc_id: String, tokens: Array[Int], n_tok: Int, source: String, bucket: Int)

/** One metadata stream's values for a chunk, in the stored domain
  * ([[graft.sources.MetaColumns]] does the Spark-type conversions). */
sealed trait ExtraCol { def name: String }

/** Int-kind metadata values (int/long/date/timestamp/double-as-sortable-
  * bits). `statMap` maps a STORED value into the stat domain (identity for
  * everything except double's -0.0 → +0.0 collapse). */
final case class ExtraLongs(name: String, values: Array[Long],
                            present: Array[Boolean], bytesInPerValue: Int = 8,
                            statMap: Long => Long = identity) extends ExtraCol

/** String metadata values; null = SQL null. */
final case class ExtraStrings(name: String, values: Array[String]) extends ExtraCol

/** Binary metadata values; null = SQL null. Rides the string selector's
  * byte path (same payload framing, raw bytes instead of UTF-8-rendered
  * strings) with NO ordered stats — byte blobs carry no SQL order the
  * pruning machinery uses, so chunks record neutral stats and binary
  * predicates never prune (Spark re-filters; null pruning via nValues
  * still applies). */
final case class ExtraBinary(name: String, values: Array[Array[Byte]]) extends ExtraCol

/** One row's int-kind LIST value in the stored domain (`present(i)` false
  * = null ELEMENT); a null list is a null slot, not an empty ListLongs. */
final case class ListLongs(values: Array[Long], present: Array[Boolean])

/** One row's string LIST value; null element = SQL null. */
final case class ListStrings(values: Array[String])

/** List metadata column: LENGTH framing generalized from tokens/tok_len
  * (the map_list fixture's shape, tests/basic_reading.rs:233) — one
  * element stream named `name` (selector-encoded, element stats/bloom)
  * plus one length stream `name__len` whose PRESENT mask carries list
  * nulls. `lists(i)` null = null list. */
final case class ExtraListLongs(name: String, lists: Array[ListLongs],
                                bytesInPerValue: Int = 8) extends ExtraCol

final case class ExtraListStrings(name: String, lists: Array[ListStrings]) extends ExtraCol

/** Engine-facing spec of one metadata column for
  * [[GraftEncoder.encodePartition]]. `isList` columns use
  * `isString` for the ELEMENT kind and occupy TWO disk streams (the
  * element stream plus `<name>__len`). */
final case class MetaColSpec(name: String, isString: Boolean,
                             bytesInPerValue: Int = 8,
                             statMap: Long => Long = identity,
                             isBinary: Boolean = false,
                             isList: Boolean = false) {
  def lenStream: String = s"${name}__len"
}

/** Shuffle wire form of a [[BucketedRow]]: the token array varint-packed
  * map-side, BEFORE the bucket exchange ([[GraftEncoder.encodeBucketed]],
  * [[graft.lineage.SegmentStore.encodeCommit]]). Vocab ids are zipf-heavy
  * small ints, so this moves ~2 B/token through the shuffle instead of the
  * 4 B/token of a raw Array[Int] — stage telemetry attributes the encode
  * job's 16-core efficiency sag to shuffle write/serialization bandwidth
  * (BASELINE.md), and at the 10^12-sequence scale the exchange is the
  * single largest data movement of the whole pipeline. The reduce side
  * unpacks each row once, into its [[RowBuffer]]'s token arena
  * ([[RowBuffer.appendPacked]]); unpacked tokens are bit-identical, so
  * segment bytes and the determinism/restart contract are untouched. */
final case class PackedRow(
    doc_id: String, pack: Array[Byte], n_tok: Int, source: String, bucket: Int)

/** LEB128-style varint codec for the shuffle payload (unsigned form over
  * the int's 32-bit pattern: non-negative vocab ids cost 1-3 bytes;
  * arbitrary negative ints still round-trip, at 5 bytes). */
object TokenPack {
  def pack(tokens: Array[Int]): Array[Byte] = {
    var size = 0
    var i = 0
    while (i < tokens.length) {
      var v = tokens(i) & 0xFFFFFFFFL
      size += 1
      while (v >= 0x80L) { v >>>= 7; size += 1 }
      i += 1
    }
    val out = new Array[Byte](size)
    var o = 0
    i = 0
    while (i < tokens.length) {
      var v = tokens(i) & 0xFFFFFFFFL
      while (v >= 0x80L) { out(o) = ((v & 0x7F) | 0x80).toByte; o += 1; v >>>= 7 }
      out(o) = v.toByte; o += 1
      i += 1
    }
    out
  }

  /** Unpack straight into `dest` at `destPos` (room for `pack.length`
    * values always suffices: each value takes at least one byte); returns
    * the value count. The count is derived from the pack itself (one value
    * per byte with the continuation bit clear) — NOT from a denormalized
    * field like n_tok, which a caller-constructed TokenRow could set
    * inconsistently with tokens.length; trusting it would silently
    * truncate (or index past) the array while the pre-pack shuffle encoded
    * such rows faithfully. */
  def unpackInto(pack: Array[Byte], dest: Array[Int], destPos: Int): Int = {
    var o = destPos
    var i = 0
    while (i < pack.length) {
      var v = 0L
      var shift = 0
      var b = pack(i); i += 1
      while ((b & 0x80) != 0) {
        v |= (b & 0x7FL) << shift; shift += 7
        b = pack(i); i += 1
      }
      v |= (b & 0xFFL) << shift
      dest(o) = v.toInt; o += 1
    }
    o - destPos
  }
}

/** The encode/decode engine: typed Dataset transformations only (input_hint:
  * no RDD unless forced; the chunking inside a partition is genuine
  * per-partition imperative logic, expressed via mapPartitions on the typed
  * Dataset — Spark's sanctioned escape hatch, still one narrow stage).
  *
  * Scale design (the part that must survive 1000 executors x 100 TB):
  *  - rows are salted into `buckets` via a stable hash of doc_id, then
  *    range-partitioned by (source, bucket): long-token documents spread
  *    uniformly, no hot partition (north_rule skew clause);
  *  - chunk boundaries are by TOKEN COUNT, not row count (SURVEY §7.4.3) —
  *    a chunk of 64k tokens costs the same to encode whether it is 4 long
  *    docs or 500 short ones;
  *  - encode is map-side only after the one explicit shuffle; no collect,
  *    no driver-side loops; decode is shuffle-free (flatMap).
  */
object GraftEncoder {

  final val DefaultTokensPerChunk: Int = 64 * 1024

  /** Row cap per chunk, independent of the token budget: rows with few or
    * ZERO tokens (a [[graft.sources.GraftTableBridge]] scalar table rides
    * empty token arrays) would otherwise collapse an entire bucket into one
    * chunk — unbounded encode working set and no intra-file stat pruning.
    * 8192 matches the reference reader's batch granularity
    * (/root/reference/src/opener.rs DEFAULT_BATCH_SIZE). */
  final val MaxRowsPerChunk: Int = 8192

  /** Deterministic bucket assignment + the one explicit shuffle of the
    * encode job. The bucket is a pure function of doc_id (NOT the physical
    * partition id), so restart filtering and replay idempotency hold no
    * matter how Spark schedules tasks; long-token documents spread
    * uniformly across buckets (skew clause).
    *
    * The function is `pmod(hash(doc_id), n)` — Spark's Murmur3 (seed 42),
    * DELIBERATELY the same function `HashPartitioning` uses: a
    * `Distributions.clustered(doc_id)` exchange with n partitions (the
    * DSv2 write path) then lands every row in the partition EQUAL to its
    * bucket, so both write paths produce one canonical layout and the
    * catalog's declared `bucket(n, doc_id)` transform
    * ([[graft.sources.GraftBucketFunction]]) is true for every graft
    * table — the storage-partitioned-join contract. */
  def bucketed(ds: Dataset[TokenRow], buckets: Int): Dataset[BucketedRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.withColumn("bucket", pmod(hash($"doc_id"), lit(buckets)))
      .as[BucketedRow]
  }

  def encode(ds: Dataset[TokenRow],
             buckets: Int,
             tokensPerChunk: Int = DefaultTokensPerChunk,
             codecConf: CodecConf = CodecConf.Default): Dataset[Segment] =
    encodeBucketed(bucketed(ds, buckets), buckets, tokensPerChunk, codecConf)

  /** Conf-driven entry: all knobs from `graft.*` spark-conf keys (the
    * reference's options-plumbing surface, src/options.rs:79-98). The codec
    * conf is an immutable value captured by the task closure — it reaches
    * real-cluster executors AND never races with a concurrent encode using
    * a different conf in the same JVM (no global state anywhere below). */
  def encodeWithConf(ds: Dataset[TokenRow], conf: GraftConf): Dataset[Segment] =
    encode(ds, conf.buckets, conf.tokensPerChunk, conf.codec)

  def encodeBucketed(ds: Dataset[BucketedRow],
                     buckets: Int,
                     tokensPerChunk: Int = DefaultTokensPerChunk,
                     codecConf: CodecConf = CodecConf.Default): Dataset[Segment] = {
    val spark = ds.sparkSession
    import spark.implicits._
    // Varint-pack the token payload in the SAME narrow map stage that feeds
    // the exchange (see [[PackedRow]]): the one shuffle of the job moves
    // ~half the bytes. The reduce side unpacks each row once into its
    // partition's buffer, restoring bit-identical tokens before chunking.
    ds.map(r => PackedRow(r.doc_id, TokenPack.pack(r.tokens), r.n_tok, r.source, r.bucket))
      .repartition(buckets, $"bucket")
      .mapPartitions { rows =>
        val buf = new RowBuffer(0)
        rows.foreach(buf.appendPacked)
        encodePartition(buf, Nil, tokensPerChunk, codecConf)
      }
  }

  /** The per-partition encoder behind every write: sort the buffered rows
    * by (bucket, the [[CodecConf.sortBy]] keys, source, doc_id), cut greedy
    * token-budget chunks (fewer than [[MaxRowsPerChunk]] rows, never across
    * a bucket — a partition may hold several buckets, bucket values hash
    * onto partitions) and encode each through [[encodeColumns]]: the
    * arena's slices as the tokens stream, the metadata slots as
    * [[ExtraCol]]s aligned with `specs` (a canonical table has none).
    * chunkIdx counts within a bucket. Each chunk's segment is
    * byte-identical to [[encodeChunk]] over the same sorted rows (pinned by
    * EnginePipelineSpec).
    *
    * The sortBy keys (ENGINE-stream names in key order) compare by stored
    * value: nulls before values, Long numerically, String in UTF-8 byte
    * order — the stats' own order, so per-chunk [min,max] comes out tight.
    * The (source, doc_id) tiebreak keeps equal-key runs deterministic and
    * segment bytes reproducible. */
  def encodePartition(buf: RowBuffer, specs: Seq[MetaColSpec], tokensPerChunk: Int,
                      codecConf: CodecConf = CodecConf.Default): Iterator[Segment] = {
    val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
    val sortIdxs: Array[Int] = codecConf.sortBy.map { name =>
      val i = specs.indexWhere(_.name == name)
      require(i >= 0 && !specs(i).isList && !specs(i).isBinary,
        s"sortBy '$name' must name a scalar (non-list, non-binary) " +
          s"metadata stream of this table; streams: ${specs.map(_.name).mkString(",")}")
      i
    }.toArray
    val boxed = Array.tabulate[Integer](buf.size)(Int.box)
    java.util.Arrays.sort(boxed, new java.util.Comparator[Integer] {
      def compare(x: Integer, y: Integer): Int = {
        val (a, b) = (x.intValue, y.intValue)
        if (buf.bucket(a) != buf.bucket(b)) return Integer.compare(buf.bucket(a), buf.bucket(b))
        var k = 0
        while (k < sortIdxs.length) {
          val va = buf.meta(sortIdxs(k), a)
          val vb = buf.meta(sortIdxs(k), b)
          val c =
            if (va == null && vb == null) 0
            else if (va == null) -1
            else if (vb == null) 1
            else va match {
              case l: java.lang.Long =>
                java.lang.Long.compare(l.longValue(), vb.asInstanceOf[java.lang.Long].longValue())
              case s: String => compareUtf8(s, vb.asInstanceOf[String])
              case other => throw new IllegalStateException(
                s"unreachable: sortBy value shape ${other.getClass}")
            }
          if (c != 0) return c
          k += 1
        }
        val s = buf.source(a).compareTo(buf.source(b))
        if (s != 0) s else buf.docId(a).compareTo(buf.docId(b))
      }
    })
    val order = boxed.map(_.intValue)
    new Iterator[Segment] {
      private var idx = 0
      private var curBucket = Int.MinValue
      private var chunkIdx = 0
      def hasNext: Boolean = idx < order.length
      def next(): Segment = {
        val bucket = buf.bucket(order(idx))
        if (bucket != curBucket) { curBucket = bucket; chunkIdx = 0 }
        val start = idx
        var tokenCount = 0L
        while (idx < order.length && buf.bucket(order(idx)) == bucket &&
          tokenCount < tokensPerChunk && (idx - start) < MaxRowsPerChunk) {
          tokenCount += buf.tokLen(order(idx))
          idx += 1
        }
        val rows = java.util.Arrays.copyOfRange(order, start, idx)
        val extras = specs.indices.map(j => extraCol(specs(j), rows.map(buf.meta(j, _))))
        val seg = encodeColumns(rows.map(buf.docId), rows.map(buf.source),
          rows.map(buf.nTok), rows.map(buf.tokLen), buf.gather(rows, tokenCount.toInt),
          tokenCount, pid, chunkIdx, bucket, codecConf, extras)
        chunkIdx += 1
        seg
      }
    }
  }

  /** One chunk's slots of metadata column `spec` as its [[ExtraCol]]. */
  private def extraCol(spec: MetaColSpec, slots: Array[AnyRef]): ExtraCol =
    if (spec.isList && spec.isString)
      ExtraListStrings(spec.name, slots.map(_.asInstanceOf[ListStrings]))
    else if (spec.isList)
      ExtraListLongs(spec.name, slots.map(_.asInstanceOf[ListLongs]), spec.bytesInPerValue)
    else if (spec.isBinary) ExtraBinary(spec.name, slots.map(_.asInstanceOf[Array[Byte]]))
    else if (spec.isString) ExtraStrings(spec.name, slots.map(_.asInstanceOf[String]))
    else ExtraLongs(spec.name,
      slots.map(v => if (v == null) 0L else v.asInstanceOf[java.lang.Long].longValue()),
      slots.map(_ != null), spec.bytesInPerValue, spec.statMap)

  /** UTF-8 byte-order string comparison — MUST match Spark SQL's
    * UTF8String binary comparison, because the decode-side skip filter
    * compares the stored minS/maxS with SQL `<=`/`>=`. Scala's natural
    * String ordering is UTF-16 code-unit order, which disagrees for
    * supplementary-plane characters; this one never does.
    *
    * Allocation-free fast path: while both sides are ASCII, char order ==
    * UTF-8 byte order; on the first differing position involving a
    * non-ASCII char, fall back to a real byte compare (encode hot path —
    * the naive two-getBytes version cost 4 array allocations per row). */
  def compareUtf8(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i)
      val cb = b.charAt(i)
      if (ca != cb) {
        if (ca < 0x80 && cb < 0x80) return ca - cb
        return java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      i += 1
    }
    // one is a prefix of the other: shorter sorts first in byte order too
    a.length - b.length
  }

  /** Encode one chunk of rows into a Segment (pure function — unit-tested
    * without Spark). `extras` are optional METADATA streams riding beside
    * the canonical five ([[graft.sources.MetaColumns]]): int-kind values
    * pre-converted to their stored 64-bit domain (`null` slot = SQL null),
    * encoded through the same selector with [[Nullable]] PRESENT framing. */
  def encodeChunk(rows: Array[TokenRow], pid: Int, chunkIdx: Int,
                  bucket: Int = -1,
                  codecConf: CodecConf = CodecConf.Default,
                  extras: Seq[ExtraCol] = Nil): Segment = {
    val n = rows.length
    val docIds = new Array[String](n)
    val sources = new Array[String](n)
    val nToks = new Array[Int](n)
    val tokLens = new Array[Int](n)
    var totalTokens = 0L
    var i = 0
    while (i < n) {
      docIds(i) = rows(i).doc_id
      sources(i) = rows(i).source
      nToks(i) = rows(i).n_tok
      tokLens(i) = rows(i).tokens.length
      totalTokens += rows(i).tokens.length
      i += 1
    }
    // int32 streams stay Array[Int] end-to-end (encodeIntsAutoInt is
    // byte-identical to the widened path): the tokens stream dominates
    // encode bytes, and the Array[Long] widen doubled its memory traffic
    val flat = new Array[Int](totalTokens.toInt)
    var pos = 0
    i = 0
    while (i < n) {
      val t = rows(i).tokens
      System.arraycopy(t, 0, flat, pos, t.length)
      pos += t.length
      i += 1
    }
    encodeColumns(docIds, sources, nToks, tokLens, flat, totalTokens,
      pid, chunkIdx, bucket, codecConf, extras)
  }

  /** Column-level encode core shared by [[encodeChunk]] (row arrays) and
    * [[encodePartition]] (which gathers these arrays from a [[RowBuffer]],
    * the tokens as slices of its arena). */
  private[engine] def encodeColumns(docIds: Array[String], sources: Array[String],
                                    nToks: Array[Int], tokLens: Array[Int],
                                    flat: Array[Int], totalTokens: Long,
                                    pid: Int, chunkIdx: Int, bucket: Int,
                                    codecConf: CodecConf,
                                    extras: Seq[ExtraCol]): Segment = {
    val n = docIds.length

    def intChunk(col: String, values: Array[Int], bytesInPerValue: Int): ColChunk = {
      val (codec, payload) = CodecSelector.encodeIntsAutoInt(values, codecConf)
      var minV = Long.MaxValue
      var maxV = Long.MinValue
      var k = 0
      while (k < values.length) {
        if (values(k) < minV) minV = values(k)
        if (values(k) > maxV) maxV = values(k)
        k += 1
      }
      if (values.isEmpty) { minV = 0; maxV = 0 }
      val bloom = if (codecConf.bloomColumns.contains(col))
        SegmentBloom.buildFromInts(values) else Array.emptyByteArray
      ColChunk(col, codec.id, codec.name, values.length.toLong,
        values.length.toLong * bytesInPerValue, payload.length.toLong,
        minV, maxV, "", "", payload, bloom)
    }
    // String chunks carry real min/max STRING stats (ORC keeps string
    // column min/max in its statistics; the reference converts utf8
    // predicates into that pruning, /root/reference/src/predicate.rs:218-221).
    // Keys here are short (doc ids, source names), so the stat cost is a
    // few bytes per chunk.
    def strChunk(col: String, values: Array[String]): ColChunk = {
      val (codec, payload) = CodecSelector.encodeStringsAuto(values, codecConf)
      var bytesIn = 0L
      var minS: String = if (values.isEmpty) "" else values(0)
      var maxS: String = if (values.isEmpty) "" else values(0)
      var k = 0
      while (k < values.length) {
        bytesIn += values(k).length
        if (compareUtf8(values(k), minS) < 0) minS = values(k)
        if (compareUtf8(values(k), maxS) > 0) maxS = values(k)
        k += 1
      }
      val bloom = if (codecConf.bloomColumns.contains(col))
        SegmentBloom.buildFromStrings(values) else Array.emptyByteArray
      ColChunk(col, codec.id, codec.name, values.length.toLong, bytesIn,
        payload.length.toLong, 0L, 0L, minS, maxS, payload, bloom)
    }

    val cols = Seq(
      strChunk("doc_id", docIds),
      intChunk("tok_len", tokLens, 4),
      intChunk("tokens", flat, 4),
      intChunk("n_tok", nToks, 4),
      strChunk("source", sources)) ++ extras.flatMap(extraChunks(_, codecConf))

    val source = if (n > 0) sources(0) else ""
    val bkt = if (bucket >= 0) bucket else pid
    Segment(
      segmentId = f"b$bkt%05d-c$chunkIdx%06d",
      source = source,
      bucket = bkt,
      partitionId = pid,
      chunkIdx = chunkIdx,
      nRows = n,
      nTokens = totalTokens,
      bytesIn = cols.map(_.bytesIn).sum,
      bytesOut = cols.map(_.bytesOut).sum,
      cols = cols)
  }

  /** Encode one metadata stream: selector-chosen inner codec over the
    * non-null values, [[Nullable]] PRESENT framing outside, stats over the
    * non-null values only (a chunk with zero non-null values records the
    * neutral 0/0 (or ""/"") stats — sound: no row of it can match an
    * equality/range predicate anyway). `nValues` records the NON-NULL
    * count, NOT the slot count: the header fold skips nValues==0 chunks'
    * neutral stats, and COUNT(col) pushdown sums these per file — both
    * need the SQL-visible (null-ignoring) cardinality. */
  /** LIST column -> (element chunk, length chunk). The length stream's
    * PRESENT mask carries list nulls (its nValues = non-null LIST count,
    * the SQL COUNT(col) domain); the element stream carries the flattened
    * elements of the non-null lists with their own null framing (its
    * nValues = non-null ELEMENT count, stats/bloom over elements — the
    * array_contains pruning domain, exactly like tokens). */
  private def listChunks(e: ExtraCol, conf: CodecConf): Seq[ColChunk] = {
    val (name, n, lensOf): (String, Int, Int => Int) = e match {
      case ExtraListLongs(nm, ls, _) =>
        (nm, ls.length, (i: Int) => if (ls(i) == null) -1 else ls(i).values.length)
      case ExtraListStrings(nm, ls) =>
        (nm, ls.length, (i: Int) => if (ls(i) == null) -1 else ls(i).values.length)
      case other => throw new IllegalStateException(s"not a list col: $other")
    }
    // length stream (list-level PRESENT framing)
    val listPresent = new Array[Boolean](n)
    val lens = new Array[Long](n)
    var i = 0
    var nLists = 0
    var nElems = 0
    while (i < n) {
      val l = lensOf(i)
      if (l >= 0) { listPresent(i) = true; lens(i) = l.toLong; nLists += 1; nElems += l }
      i += 1
    }
    val lenCompact = Nullable.compactLongs(lens, listPresent)
    val (lenCodec, lenInner) = CodecSelector.encodeIntsAuto(lenCompact, conf)
    val lenPayload = Nullable.frame(listPresent, lenInner)
    var lenMin = Long.MaxValue
    var lenMax = Long.MinValue
    i = 0
    while (i < lenCompact.length) {
      if (lenCompact(i) < lenMin) lenMin = lenCompact(i)
      if (lenCompact(i) > lenMax) lenMax = lenCompact(i)
      i += 1
    }
    if (lenCompact.isEmpty) { lenMin = 0L; lenMax = 0L }
    val lenName = s"${name}__len"
    val lenChunk = ColChunk(lenName, lenCodec.id, lenCodec.name, nLists.toLong,
      nLists.toLong * 4, lenPayload.length.toLong, lenMin, lenMax, "", "",
      lenPayload, Array.emptyByteArray)
    // element stream (flattened, element-level null framing)
    val elemChunk = e match {
      case ExtraListLongs(_, ls, bytesPer) =>
        val flat = new Array[Long](nElems)
        val flatPresent = new Array[Boolean](nElems)
        var o = 0
        i = 0
        while (i < n) {
          if (ls(i) != null) {
            val v = ls(i)
            var j = 0
            while (j < v.values.length) {
              flat(o) = v.values(j); flatPresent(o) = v.present(j); o += 1; j += 1
            }
          }
          i += 1
        }
        val compacted = Nullable.compactLongs(flat, flatPresent)
        val (codec, inner) = CodecSelector.encodeIntsAuto(compacted, conf)
        val payload = Nullable.frame(flatPresent, inner)
        var minV = Long.MaxValue
        var maxV = Long.MinValue
        var k = 0
        while (k < compacted.length) {
          if (compacted(k) < minV) minV = compacted(k)
          if (compacted(k) > maxV) maxV = compacted(k)
          k += 1
        }
        if (compacted.isEmpty) { minV = 0L; maxV = 0L }
        val bloom =
          if (conf.bloomColumns.contains(name) && compacted.nonEmpty)
            SegmentBloom.buildFromLongs(compacted)
          else Array.emptyByteArray
        ColChunk(name, codec.id, codec.name, compacted.length.toLong,
          compacted.length.toLong * bytesPer, payload.length.toLong,
          minV, maxV, "", "", payload, bloom)
      case ExtraListStrings(_, ls) =>
        val flat = new Array[String](nElems)
        var o = 0
        i = 0
        while (i < n) {
          if (ls(i) != null) {
            val v = ls(i)
            var j = 0
            while (j < v.values.length) { flat(o) = v.values(j); o += 1; j += 1 }
          }
          i += 1
        }
        // reuse the nullable-string meta encode (null elements = null slots)
        extraChunks(ExtraStrings(name, flat), conf).head
      case other => throw new IllegalStateException(s"not a list col: $other")
    }
    Seq(elemChunk, lenChunk)
  }

  private def extraChunks(e: ExtraCol, conf: CodecConf): Seq[ColChunk] = e match {
    case l: ExtraListLongs => listChunks(l, conf)
    case l: ExtraListStrings => listChunks(l, conf)
    case other => Seq(extraChunk(other, conf))
  }

  private def extraChunk(e: ExtraCol, conf: CodecConf): ColChunk = e match {
    case ExtraLongs(name, values, present, bytesInPerValue, statMap) =>
      val compacted = Nullable.compactLongs(values, present)
      val (codec, inner) = CodecSelector.encodeIntsAuto(compacted, conf)
      val payload = Nullable.frame(present, inner)
      var minV = Long.MaxValue
      var maxV = Long.MinValue
      var k = 0
      while (k < compacted.length) {
        val s = statMap(compacted(k))
        if (s < minV) minV = s
        if (s > maxV) maxV = s
        k += 1
      }
      if (compacted.isEmpty) { minV = 0L; maxV = 0L }
      // opt-in chunk bloom, built over the STAT domain (statMap) so the
      // normalized point predicates probe the same representative values
      val bloom =
        if (conf.bloomColumns.contains(name) && compacted.nonEmpty)
          SegmentBloom.buildFromLongs(compacted.map(statMap))
        else Array.emptyByteArray
      ColChunk(name, codec.id, codec.name, compacted.length.toLong,
        compacted.length.toLong * bytesInPerValue, payload.length.toLong,
        minV, maxV, "", "", payload, bloom)
    case ExtraStrings(name, values) =>
      val compacted = values.filter(_ != null)
      val (codec, payload) = nullableBytesStream(StringCodecs.utf8(values), conf)
      var bytesIn = 0L
      var minS = if (compacted.isEmpty) "" else compacted(0)
      var maxS = if (compacted.isEmpty) "" else compacted(0)
      var k = 0
      while (k < compacted.length) {
        bytesIn += compacted(k).length
        if (compareUtf8(compacted(k), minS) < 0) minS = compacted(k)
        if (compareUtf8(compacted(k), maxS) > 0) maxS = compacted(k)
        k += 1
      }
      val bloom =
        if (conf.bloomColumns.contains(name) && compacted.nonEmpty)
          SegmentBloom.buildFromStrings(compacted)
        else Array.emptyByteArray
      ColChunk(name, codec.id, codec.name, compacted.length.toLong, bytesIn,
        payload.length.toLong, 0L, 0L, minS, maxS, payload, bloom)
    case ExtraBinary(name, values) =>
      val compacted = values.filter(_ != null)
      val (codec, payload) = nullableBytesStream(values, conf)
      // neutral stats ("", 0): binary chunks never range-prune; nValues
      // still carries the non-null count for null pruning / COUNT pushdown
      ColChunk(name, codec.id, codec.name, compacted.length.toLong,
        compacted.map(_.length.toLong).sum, payload.length.toLong, 0L, 0L, "", "",
        payload, Array.emptyByteArray)
  }

  /** A nullable string or binary stream: the selector over the non-null
    * values (null = SQL null), [[Nullable]] PRESENT framing outside. */
  private def nullableBytesStream(values: Array[Array[Byte]],
                                  conf: CodecConf): (StringCodec, Array[Byte]) = {
    val (codec, inner) = CodecSelector.encodeBytesAuto(values.filter(_ != null), conf)
    (codec, Nullable.frame(values.map(_ != null), inner))
  }

  /** Decode one segment INCLUDING its metadata streams, in the STORED
    * domain: per row a [[BucketedRow]] (bucket = the segment's own — valid
    * while the table's bucket count is unchanged, since bucket is a pure
    * function of doc_id) plus one slot per `specs` entry holding
    * java.lang.Long (int-kind stored 64-bit value) or String, null = SQL
    * null. This is EXACTLY the shape a [[RowBuffer]] holds for
    * [[encodePartition]], so compaction's decode -> re-chunk -> re-encode
    * round-trips metadata without ever rendering external Spark types. */
  def decodeSegmentWithMeta(seg: Segment,
                            specs: Seq[MetaColSpec]): Iterator[(BucketedRow, Array[AnyRef])] = {
    val byCol = seg.cols.map(c => c.col -> c).toMap
    val docIds = StringCodecs.decodeChunkBytes(byCol("doc_id").payload).strings()
    val sources = StringCodecs.decodeChunkBytes(byCol("source").payload).strings()
    val nToks = IntCodecs.decodeChunkInt(byCol("n_tok").payload)
    val tokLens = IntCodecs.decodeChunkInt(byCol("tok_len").payload)
    val flat = IntCodecs.decodeChunkInt(byCol("tokens").payload)
    // list columns decode lengths + flattened elements and re-slice per
    // row (nulls preserved at both list and element level); the per-column
    // running element offset lives in `listPos`
    final case class DecodedList(lens: Array[Long], listPresent: Array[Boolean],
                                 elems: AnyRef)
    val metaCols: Array[AnyRef] = specs.map { s =>
      // schema evolution: a pre-evolution segment has no stream for a
      // later-added column — it decodes all-null (compaction then
      // re-encodes the column as explicit nulls, normalizing generations)
      if (!byCol.contains(s.name)) {
        val n = seg.nRows
        if (s.isList) DecodedList(new Array[Long](n), new Array[Boolean](n), null): AnyRef
        else if (s.isBinary) new Array[Array[Byte]](n): AnyRef
        else if (s.isString) new Array[String](n): AnyRef
        else (new Array[Long](n), new Array[Boolean](n)): AnyRef
      } else {
      val payload = byCol(s.name).payload
      if (s.isList) {
        val (lens, lp) = Nullable.decodeInts(byCol(s.lenStream).payload)
        val elems: AnyRef =
          if (s.isString) Nullable.decodeRows[String](payload)(_.strings())
          else Nullable.decodeInts(payload)
        DecodedList(lens, lp, elems): AnyRef
      }
      else if (s.isBinary)
        Nullable.decodeRows[Array[Byte]](payload)(c => Array.tabulate(c.size)(c.bytes)): AnyRef
      else if (s.isString) Nullable.decodeRows[String](payload)(_.strings()): AnyRef
      else Nullable.decodeInts(payload): AnyRef
      }
    }.toArray
    val listPos = new Array[Int](specs.length)
    var pos = 0
    (0 until seg.nRows).iterator.map { i =>
      val len = tokLens(i)
      val toks = java.util.Arrays.copyOfRange(flat, pos, pos + len)
      pos += len
      val metas = new Array[AnyRef](specs.length)
      var j = 0
      while (j < specs.length) {
        metaCols(j) match {
          case dl: DecodedList =>
            if (dl.listPresent(i)) {
              val l = dl.lens(i).toInt
              val from = listPos(j)
              listPos(j) = from + l
              metas(j) = dl.elems match {
                case ss: Array[String] =>
                  ListStrings(java.util.Arrays.copyOfRange(ss, from, from + l))
                case ep: (Array[Long], Array[Boolean]) @unchecked =>
                  ListLongs(java.util.Arrays.copyOfRange(ep._1, from, from + l),
                    java.util.Arrays.copyOfRange(ep._2, from, from + l))
              }
            }
          case ss: Array[String] => metas(j) = ss(i)
          case bb: Array[Array[Byte]] => metas(j) = bb(i)
          case lp: (Array[Long], Array[Boolean]) @unchecked =>
            if (lp._2(i)) metas(j) = java.lang.Long.valueOf(lp._1(i))
        }
        j += 1
      }
      (BucketedRow(docIds(i), toks, nToks(i), sources(i), seg.bucket), metas)
    }
  }

  def decode(segments: Dataset[Segment]): Dataset[TokenRow] = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.flatMap(decodeSegment _)
  }

  /** Pure segment decode (unit-tested without Spark): the canonical
    * columns of [[decodeSegmentWithMeta]], no metadata streams. */
  def decodeSegment(seg: Segment): Iterator[TokenRow] =
    decodeSegmentWithMeta(seg, Nil).map { case (r, _) =>
      TokenRow(r.doc_id, r.tokens, r.n_tok, r.source)
    }
}
