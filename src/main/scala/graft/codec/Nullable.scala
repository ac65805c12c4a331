package graft.codec

/** PRESENT-bitmap framing for nullable columns — the ORC PRESENT stream
  * analog (SURVEY §1.4 item 6: nullability is a bit-RLE stream per column,
  * OMITTED when the column has no nulls; the reference's fixtures show
  * PRESENT streams appearing exactly on columns with NULL rows,
  * tests/basic_reading.rs:259-277).
  *
  * Framing: `[flag:1B]` then
  *  - flag 0 (dense, no nulls): `[chunk(values)]` — zero overhead, the
  *    same bytes a non-nullable chunk would ship;
  *  - flag 1 (sparse): `[n varint][bitpacked present bits][chunk(non-null
  *    values, compacted)]`.
  *
  * Metadata columns ([[graft.sources.MetaColumns]]) ride this framing: the
  * engine encodes the non-null values through the selector and wraps the
  * chunk with [[frame]].
  */
object Nullable {

  final val FlagDense = 0
  final val FlagSparse = 1

  /** Non-null values in order (the payload the inner codec encodes). */
  def compactLongs(values: Array[Long], present: Array[Boolean]): Array[Long] = {
    var n = 0
    var i = 0
    while (i < present.length) { if (present(i)) n += 1; i += 1 }
    val out = new Array[Long](n)
    i = 0
    var j = 0
    while (i < values.length) {
      if (present(i)) { out(j) = values(i); j += 1 }
      i += 1
    }
    out
  }

  /** Frame an ALREADY-ENCODED chunk of the non-null values with the
    * PRESENT bitmap — lets callers choose the inner codec with the
    * selector's full auto logic (raw-fallback guard included) and reuse
    * the encoded bytes without a second kernel pass. Decodes with
    * [[decodeInts]]/[[decodeStringsBytes]]. */
  def frame(present: Array[Boolean], encodedCompacted: Array[Byte]): Array[Byte] = {
    var nPresent = 0
    var i = 0
    while (i < present.length) { if (present(i)) nPresent += 1; i += 1 }
    if (nPresent == present.length) {
      val out = new Array[Byte](encodedCompacted.length + 1)
      out(0) = FlagDense.toByte
      System.arraycopy(encodedCompacted, 0, out, 1, encodedCompacted.length)
      out
    } else {
      val bits = new Array[Long](present.length)
      i = 0
      while (i < present.length) { bits(i) = if (present(i)) 1L else 0L; i += 1 }
      val w = new ByteWriter(encodedCompacted.length + present.length / 8 + 16)
      w.writeByte(FlagSparse)
      w.writeVarLong(present.length.toLong)
      BitPack.pack(bits, 0, present.length, 1, w)
      w.writeBytes(encodedCompacted)
      w.toArray
    }
  }

  /** Returns (values, present); absent slots hold 0L. */
  def decodeInts(bytes: Array[Byte]): (Array[Long], Array[Boolean]) = {
    val in = new ByteReader(bytes)
    in.readByte() match {
      case FlagDense =>
        val values = IntCodecs.decodeChunk(in.readBytes(in.remaining))
        (values, Array.fill(values.length)(true))
      case FlagSparse =>
        val n = in.readVarLong().toInt
        val bits = new Array[Long](n)
        BitPack.unpack(in, n, 1, bits, 0)
        val compacted = IntCodecs.decodeChunk(in.readBytes(in.remaining))
        val values = new Array[Long](n)
        val present = new Array[Boolean](n)
        var i = 0
        var j = 0
        while (i < n) {
          if (bits(i) == 1L) { present(i) = true; values(i) = compacted(j); j += 1 }
          i += 1
        }
        (values, present)
      case other => throw new IllegalStateException(s"bad nullable flag $other")
    }
  }

  /** String and binary streams: the COMPACTED non-null values as a
    * [[Utf8Chunk]] plus the PRESENT mask and a row -> compacted-index map
    * (identity for dense chunks, represented as null). */
  def decodeStringsBytes(bytes: Array[Byte]): (Utf8Chunk, Array[Boolean], Array[Int]) = {
    val in = new ByteReader(bytes)
    in.readByte() match {
      case FlagDense =>
        val chunk = StringCodecs.decodeChunkBytes(in.readBytes(in.remaining))
        (chunk, Array.fill(chunk.size)(true), null)
      case FlagSparse =>
        val n = in.readVarLong().toInt
        val bits = new Array[Long](n)
        BitPack.unpack(in, n, 1, bits, 0)
        val chunk = StringCodecs.decodeChunkBytes(in.readBytes(in.remaining))
        val present = new Array[Boolean](n)
        val toCompact = new Array[Int](n)
        var i = 0
        var j = 0
        while (i < n) {
          if (bits(i) == 1L) { present(i) = true; toCompact(i) = j; j += 1 }
          i += 1
        }
        (chunk, present, toCompact)
      case other => throw new IllegalStateException(s"bad nullable flag $other")
    }
  }

  /** Per-row values of a string or binary stream, absent slots null:
    * `values(chunk)` builds the compacted values of [[decodeStringsBytes]]. */
  def decodeRows[T >: Null <: AnyRef : scala.reflect.ClassTag](bytes: Array[Byte])(
      values: Utf8Chunk => Array[T]): Array[T] = {
    val (chunk, present, toCompact) = decodeStringsBytes(bytes)
    val compacted = values(chunk)
    if (toCompact == null) compacted
    else Array.tabulate(present.length)(i => if (present(i)) compacted(toCompact(i)) else null)
  }
}
