package graft.codec

import java.util.zip.{Deflater, Inflater}

/** General-purpose block compression applied on top of the lightweight
  * encodings — the same layering ORC uses (per-256KiB compression chunks of
  * SNAPPY/zlib over the RLE/dict streams; fixture footer
  * `compression_size: 262144`, SURVEY §1.4 item 7). We use zlib via the
  * JDK's Deflater (no external deps) and keep it OPTIONAL per chunk: the
  * wrapper picks whichever of {raw, deflate} is smaller, so pathological
  * inputs never grow.
  *
  * Wrapper framing: [flag:1B (0=raw,1=deflate)][varint rawLen][body].
  */
object BlockCompression {

  final val FlagRaw = 0
  final val FlagDeflate = 1

  /** Adaptive skip knob (CodecConf.deflateMinGain): deflating an
    * already-entropy-dense payload (bit-packed random tokens) costs ~5x the
    * whole kernel for <8% gain. When deflateMinGain > 0, the head of each
    * large payload is sample-deflated and the full pass is skipped if the
    * sampled gain is below the threshold. DEFAULT 0 = always deflate —
    * ORC's own stance (zlib over every stream) and the best-compression
    * point; set `graft.codec.deflateMinGain=0.125` for ~60% faster encode
    * at ~+8% token-column size. */
  final val SampleLen = 8 * 1024
  final val MinSampledGain = 0.0

  // Per-thread codec reuse (the Hadoop/Parquet codec-pool pattern): a
  // Deflater/Inflater per chunk pays a native malloc + free on every column
  // chunk — at the 10^12-sequence scale that is billions of native
  // allocations for nothing (single-node microbenching on this noisy host
  // can't resolve the delta; the allocation is simply unnecessary work).
  // Spark executor task threads are pooled and bounded, so per-thread
  // natives are bounded too; the level is (re)applied per call, so
  // concurrent jobs with different zlibLevel confs never leak state.
  private val localDeflater: ThreadLocal[Deflater] =
    ThreadLocal.withInitial(() => new Deflater(Deflater.DEFAULT_COMPRESSION, true))
  private val localInflater: ThreadLocal[Inflater] =
    ThreadLocal.withInitial(() => new Inflater(true))

  def deflate(data: Array[Byte], lvl: Int): Array[Byte] = {
    val d = localDeflater.get()
    d.setLevel(lvl) // takes effect at the reset() below (Deflater contract)
    d.reset()
    d.setInput(data)
    d.finish()
    val out = new ByteWriter(math.max(64, data.length / 3))
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val n = d.deflate(buf)
      out.writeBytes(buf, 0, n)
    }
    out.toArray
  }

  def inflate(data: Array[Byte], from: Int, len: Int, rawLen: Int): Array[Byte] = {
    val inf = localInflater.get()
    inf.reset()
    inf.setInput(data, from, len)
    val out = new Array[Byte](rawLen)
    val spare = new Array[Byte](1)
    var pos = 0
    // run to the stream's end: a stream cut short stalls with the inflater
    // asking for input or a dictionary (inflate returns 0 forever), and one
    // cut after its last literal can still fill `out` exactly
    while (!inf.finished()) {
      val n = if (pos < rawLen) inf.inflate(out, pos, rawLen - pos) else inf.inflate(spare)
      if (n == 0 && !inf.finished())
        throw new IllegalArgumentException(s"truncated deflate block: $pos of $rawLen bytes" +
          s" (needs input: ${inf.needsInput()}, dictionary: ${inf.needsDictionary()})")
      require(pos + n <= rawLen, s"deflate block inflates past its $rawLen bytes")
      pos += n
    }
    require(pos == rawLen, s"inflate produced $pos of $rawLen bytes")
    out
  }

  /** Wrap a payload, deflating only when it wins. Payloads well beyond the
    * sample window are first probed: if the head compresses poorly, the
    * whole payload is shipped raw without paying the full deflate. */
  def wrap(payload: Array[Byte], conf: CodecConf = CodecConf.Default): Array[Byte] = {
    val out = new ByteWriter(payload.length + 8)
    val tryDeflate =
      payload.length >= 64 && {
        conf.deflateMinGain <= 0 || payload.length <= 2 * SampleLen || {
          val sample = java.util.Arrays.copyOf(payload, SampleLen)
          val packed = deflate(sample, conf.zlibLevel)
          packed.length.toDouble <= SampleLen * (1.0 - conf.deflateMinGain)
        }
      }
    val compressed =
      if (tryDeflate) deflate(payload, conf.zlibLevel) else payload
    if (compressed.length < payload.length) {
      out.writeByte(FlagDeflate)
      out.writeVarLong(payload.length.toLong)
      out.writeBytes(compressed)
    } else {
      out.writeByte(FlagRaw)
      out.writeVarLong(payload.length.toLong)
      out.writeBytes(payload)
    }
    out.toArray
  }

  def unwrap(bytes: Array[Byte], from: Int): Array[Byte] = {
    val in = new ByteReader(bytes, from)
    val flag = in.readByte()
    val rawLen = in.readVarLong().toInt
    flag match {
      case FlagRaw => in.readBytes(rawLen)
      case FlagDeflate => inflate(bytes, in.position, bytes.length - in.position, rawLen)
      case other => throw new IllegalStateException(s"bad block flag $other")
    }
  }
}
