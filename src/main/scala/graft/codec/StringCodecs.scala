package graft.codec

import java.nio.charset.StandardCharsets

/** Per-chunk string codecs for `doc_id` / `source` and the string and
  * binary metadata columns.
  *
  * The dict variant mirrors ORC DICTIONARY_V2: sorted symbol table with a
  * LENGTH stream + RLE-encoded indexes (SURVEY §1.4 item 4; fixture dump
  * shows utf8 cols as DATA+LENGTH streams). FSST targets high-cardinality
  * strings where dictionaries lose (doc ids with shared prefixes).
  *
  * Every codec works on byte strings only: one encoder over per-value
  * byte arrays and one decoder to a [[Utf8Chunk]] (one blob plus offsets,
  * the shape of an Arrow `Utf8` column). Text is UTF-8 encoded once, at
  * [[StringCodecs.encodeChunk]] or the selector's
  * `encodeStringsAuto`; callers build a `String` (or a Spark `UTF8String`)
  * only where they need one. Arbitrary bytes (BINARY columns, UTF-8-invalid
  * values) round-trip bit-exactly. Dictionary variants order their table
  * by unsigned bytes, which for UTF-8 is code-point order.
  */
trait StringCodec extends Serializable {
  def id: Int
  def name: String
  def encodeBytes(values: Array[Array[Byte]]): Array[Byte]
  def decodeBytes(bytes: Array[Byte]): Utf8Chunk
}

/** A decoded string chunk as one UTF-8 blob + per-value (offset, len) —
  * value i = blob[offsets(i), offsets(i)+lens(i)). Dictionary codecs point
  * many values into the same dictionary blob (zero per-value copies). */
final class Utf8Chunk(val blob: Array[Byte], val offsets: Array[Int],
                      val lens: Array[Int]) {
  def size: Int = lens.length
  def string(i: Int): String =
    new String(blob, offsets(i), lens(i), StandardCharsets.UTF_8)
  /** Every value as a `String`. In a dictionary view (values overlapping
    * in the blob) each entry is decoded once and its `String` shared by
    * every value that points at it. */
  def strings(): Array[String] = {
    val out = new Array[String](size)
    var total = 0L
    var i = 0
    while (i < size) { total += lens(i); i += 1 }
    if (total <= blob.length) {
      i = 0
      while (i < size) { out(i) = string(i); i += 1 }
    } else {
      // the value last built at each offset, and its byte length
      val atOff = new Array[String](blob.length + 1)
      val lenAt = new Array[Int](blob.length + 1)
      i = 0
      while (i < size) {
        val o = offsets(i)
        if (atOff(o) == null || lenAt(o) != lens(i)) { atOff(o) = string(i); lenAt(o) = lens(i) }
        out(i) = atOff(o)
        i += 1
      }
    }
    out
  }
  /** A copy of value i's bytes. */
  def bytes(i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(blob, offsets(i), offsets(i) + lens(i))
}

object Utf8Chunk {
  /** Consecutive values: offsets are the prefix sums of `lens`, which must
    * cover the blob exactly (a short or padded payload fails here). */
  def fromBlob(blob: Array[Byte], lens: Array[Long]): Utf8Chunk = {
    val offs = new Array[Int](lens.length)
    val ls = new Array[Int](lens.length)
    var pos = 0L
    var i = 0
    while (i < lens.length) {
      // an explicit throw, not `require`: its by-name message would be a
      // closure per value on the scan's decode path
      if (lens(i) < 0 || pos + lens(i) > blob.length)
        throw new IllegalArgumentException(
          s"string lengths overrun a ${blob.length}-byte blob at value $i")
      offs(i) = pos.toInt
      ls(i) = lens(i).toInt
      pos += ls(i)
      i += 1
    }
    require(pos == blob.length, s"string lengths sum to $pos, blob holds ${blob.length} bytes")
    new Utf8Chunk(blob, offs, ls)
  }

  /** Dictionary view: value i = dictionary entry idx(i). */
  def fromDict(dict: Utf8Chunk, idx: Array[Long]): Utf8Chunk = {
    val offs = new Array[Int](idx.length)
    val ls = new Array[Int](idx.length)
    var i = 0
    while (i < idx.length) {
      val d = idx(i).toInt
      offs(i) = dict.offsets(d)
      ls(i) = dict.lens(d)
      i += 1
    }
    new Utf8Chunk(dict.blob, offs, ls)
  }
}

private[codec] object StrUtil {
  /** One blob of the values back to back, plus their lengths. */
  def concatBytes(values: Array[Array[Byte]]): (Array[Byte], Array[Long]) = {
    val lens = new Array[Long](values.length)
    var total = 0
    var i = 0
    while (i < values.length) {
      lens(i) = values(i).length.toLong
      total += values(i).length
      i += 1
    }
    val blob = new Array[Byte](total)
    var pos = 0
    i = 0
    while (i < values.length) {
      System.arraycopy(values(i), 0, blob, pos, values(i).length)
      pos += values(i).length
      i += 1
    }
    (blob, lens)
  }

  /** Distinct values sorted by unsigned byte order (code-point order for
    * UTF-8, the order ORC's dictionary writer uses) + per-value dict index. */
  def dictBytes(values: Array[Array[Byte]]): (Array[Array[Byte]], Array[Long]) = {
    val cmp = new java.util.Comparator[Array[Byte]] {
      def compare(a: Array[Byte], b: Array[Byte]): Int =
        java.util.Arrays.compareUnsigned(a, b)
    }
    val distinct = new java.util.TreeMap[Array[Byte], Integer](cmp)
    var i = 0
    while (i < values.length) { distinct.put(values(i), 0); i += 1 }
    val dict = new Array[Array[Byte]](distinct.size)
    val it = distinct.keySet().iterator()
    i = 0
    while (it.hasNext) { val k = it.next(); dict(i) = k; distinct.put(k, i); i += 1 }
    val idx = new Array[Long](values.length)
    i = 0
    while (i < values.length) { idx(i) = distinct.get(values(i)).toLong; i += 1 }
    (dict, idx)
  }
}

/** [rle(lengths)][utf8 blob] */
object RawStringCodec extends StringCodec {
  val id = 10
  val name = "raw_str"
  def encodeBytes(values: Array[Array[Byte]]): Array[Byte] = {
    val (blob, lens) = StrUtil.concatBytes(values)
    val lenBytes = RleV2.encode(lens)
    val out = new ByteWriter(blob.length + lenBytes.length + 16)
    out.writeVarLong(lenBytes.length.toLong)
    out.writeBytes(lenBytes)
    out.writeBytes(blob)
    out.toArray
  }
  def decodeBytes(bytes: Array[Byte]): Utf8Chunk = {
    val in = new ByteReader(bytes)
    val lenLen = in.readVarLong().toInt
    val lens = RleV2.decode(new ByteReader(in.readBytes(lenLen)))
    Utf8Chunk.fromBlob(in.readBytes(in.remaining), lens)
  }
}

/** Sorted dictionary + RLE v2 indexes (sorted table keeps index streams
  * RLE-friendly on clustered data, the reason ORC sorts its tables). */
object DictStringCodec extends StringCodec {
  val id = 11
  val name = "dict_str"
  def encodeBytes(values: Array[Array[Byte]]): Array[Byte] = {
    val (dict, idx) = StrUtil.dictBytes(values)
    val (dictBlob, dictLens) = StrUtil.concatBytes(dict)
    val dictLenBytes = RleV2.encode(dictLens)
    val idxBytes = RleV2.encode(idx)
    val out = new ByteWriter(dictBlob.length + dictLenBytes.length + idxBytes.length + 24)
    out.writeVarLong(dict.length.toLong)
    out.writeVarLong(dictLenBytes.length.toLong)
    out.writeBytes(dictLenBytes)
    out.writeVarLong(dictBlob.length.toLong)
    out.writeBytes(dictBlob)
    out.writeVarLong(idxBytes.length.toLong)
    out.writeBytes(idxBytes)
    out.toArray
  }
  def decodeBytes(bytes: Array[Byte]): Utf8Chunk = {
    val in = new ByteReader(bytes)
    in.readVarLong() // dict size
    val dictLenLen = in.readVarLong().toInt
    val dictLens = RleV2.decode(new ByteReader(in.readBytes(dictLenLen)))
    val dictBlobLen = in.readVarLong().toInt
    val dict = Utf8Chunk.fromBlob(in.readBytes(dictBlobLen), dictLens)
    val idxLen = in.readVarLong().toInt
    Utf8Chunk.fromDict(dict, RleV2.decode(new ByteReader(in.readBytes(idxLen))))
  }
}

/** [rle(lengths)][fsst(blob)] — symbol compression over the concatenated
  * UTF-8 payload. */
object FsstStringCodec extends StringCodec {
  val id = 12
  val name = "fsst_str"
  def encodeBytes(values: Array[Array[Byte]]): Array[Byte] = {
    val (blob, lens) = StrUtil.concatBytes(values)
    val lenBytes = RleV2.encode(lens)
    val fsst = Fsst.compress(blob)
    val out = new ByteWriter(fsst.length + lenBytes.length + 16)
    out.writeVarLong(lenBytes.length.toLong)
    out.writeBytes(lenBytes)
    out.writeBytes(fsst)
    out.toArray
  }
  def decodeBytes(bytes: Array[Byte]): Utf8Chunk = {
    val in = new ByteReader(bytes)
    val lenLen = in.readVarLong().toInt
    val lens = RleV2.decode(new ByteReader(in.readBytes(lenLen)))
    Utf8Chunk.fromBlob(Fsst.decompress(in), lens)
  }
}

/** Dictionary whose blob is additionally FSST-compressed: wins on
  * mid-cardinality columns with long shared-prefix values. */
object DictFsstStringCodec extends StringCodec {
  val id = 13
  val name = "dict_fsst_str"
  def encodeBytes(values: Array[Array[Byte]]): Array[Byte] = {
    val (dict, idx) = StrUtil.dictBytes(values)
    val dictPayload = FsstStringCodec.encodeBytes(dict)
    val idxBytes = RleV2.encode(idx)
    val out = new ByteWriter(dictPayload.length + idxBytes.length + 16)
    out.writeVarLong(dictPayload.length.toLong)
    out.writeBytes(dictPayload)
    out.writeVarLong(idxBytes.length.toLong)
    out.writeBytes(idxBytes)
    out.toArray
  }
  def decodeBytes(bytes: Array[Byte]): Utf8Chunk = {
    val in = new ByteReader(bytes)
    val dictLen = in.readVarLong().toInt
    val dict = FsstStringCodec.decodeBytes(in.readBytes(dictLen))
    val idxLen = in.readVarLong().toInt
    Utf8Chunk.fromDict(dict, RleV2.decode(new ByteReader(in.readBytes(idxLen))))
  }
}

object StringCodecs {
  val all: Seq[StringCodec] =
    Seq(RawStringCodec, DictStringCodec, FsstStringCodec, DictFsstStringCodec)
  private val byId: Map[Int, StringCodec] = all.map(c => c.id -> c).toMap

  def forId(id: Int): StringCodec =
    byId.getOrElse(id, throw new IllegalArgumentException(s"unknown string codec id $id"))

  /** Each value's UTF-8 bytes; a null value stays null. */
  def utf8(values: Array[String]): Array[Array[Byte]] = {
    val out = new Array[Array[Byte]](values.length)
    var i = 0
    while (i < values.length) {
      if (values(i) != null) out(i) = values(i).getBytes(StandardCharsets.UTF_8)
      i += 1
    }
    out
  }

  /** Text entry point: [[encodeChunkBytes]] over the values' UTF-8. */
  def encodeChunk(values: Array[String], codec: StringCodec,
                  conf: CodecConf = CodecConf.Default): Array[Byte] =
    encodeChunkBytes(utf8(values), codec, conf)

  /** Self-describing chunk: [codec id:1B][block-compressed payload]. */
  def encodeChunkBytes(values: Array[Array[Byte]], codec: StringCodec,
                       conf: CodecConf = CodecConf.Default): Array[Byte] = {
    val payload = BlockCompression.wrap(codec.encodeBytes(values), conf)
    val out = new Array[Byte](payload.length + 1)
    out(0) = codec.id.toByte
    System.arraycopy(payload, 0, out, 1, payload.length)
    out
  }

  def decodeChunkBytes(bytes: Array[Byte]): Utf8Chunk = {
    val codec = forId(bytes(0).toInt)
    codec.decodeBytes(BlockCompression.unwrap(bytes, 1))
  }
}
