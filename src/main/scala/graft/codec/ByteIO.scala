package graft.codec

/** Growable little-endian byte writer used by all codec kernels.
  *
  * Pure JVM, no Spark imports — mirrors the reference's layering where the
  * encoding kernels live below the engine (see /root/reference/src/opener.rs
  * delegating decode to the orc-rust kernels). Varints are unsigned LEB128;
  * signed values go through zigzag (same framing family the ORC v1 spec's
  * RLE v2 uses for DELTA bases).
  */
final class ByteWriter(initialCapacity: Int = 64) {
  private var buf = new Array[Byte](math.max(initialCapacity, 16))
  private var pos = 0

  def size: Int = pos

  private def ensure(n: Int): Unit = {
    if (pos + n > buf.length) {
      var cap = buf.length * 2
      while (cap < pos + n) cap *= 2
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  }

  def writeByte(b: Int): Unit = { ensure(1); buf(pos) = b.toByte; pos += 1 }

  /** Make room for `n` more bytes, so the next `n` [[putByte]]s need no
    * capacity check (kernels whose output size is known up front). */
  def reserve(n: Int): Unit = ensure(n)

  /** Append one byte into room made by [[reserve]]. */
  def putByte(b: Int): Unit = { buf(pos) = b.toByte; pos += 1 }

  def writeBytes(src: Array[Byte], from: Int, len: Int): Unit = {
    ensure(len); System.arraycopy(src, from, buf, pos, len); pos += len
  }
  def writeBytes(src: Array[Byte]): Unit = writeBytes(src, 0, src.length)

  /** Unsigned LEB128. */
  def writeVarLong(v0: Long): Unit = {
    var v = v0
    ensure(10)
    while ((v & ~0x7fL) != 0) {
      buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1
      v >>>= 7
    }
    buf(pos) = v.toByte; pos += 1
  }

  def writeZigZag(v: Long): Unit = writeVarLong(ZigZag.encode(v))

  def toArray: Array[Byte] = java.util.Arrays.copyOf(buf, pos)
}

/** Positional reader over an encoded byte array. */
final class ByteReader(val buf: Array[Byte], private var pos: Int = 0) {
  def position: Int = pos
  def remaining: Int = buf.length - pos

  def readByte(): Int = { val b = buf(pos) & 0xff; pos += 1; b }

  /** The next `len` bytes; a length past the end fails instead of padding
    * with zeros (a truncated payload must never decode to values). */
  def readBytes(len: Int): Array[Byte] = {
    if (len < 0 || len > remaining)
      throw new IllegalArgumentException(s"read of $len bytes at $pos, $remaining remain")
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
    pos += len
    out
  }
  def skip(n: Int): Unit = pos += n

  def readVarLong(): Long = {
    var result = 0L
    var shift = 0
    var b = 0
    do {
      b = buf(pos) & 0xff; pos += 1
      result |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    result
  }

  def readZigZag(): Long = ZigZag.decode(readVarLong())
}

object ZigZag {
  @inline def encode(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline def decode(v: Long): Long = (v >>> 1) ^ -(v & 1L)
}
