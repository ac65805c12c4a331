package graft.select

import graft.codec._

/** Per-column-chunk codec auto-selector.
  *
  * Mirrors ORC's encoding-selection heuristics (SURVEY §1.4 item 4: the ORC
  * writer samples distinct/total cardinality with a 0.8 dictionary
  * threshold, and RLE v2 picks sub-encodings from run structure) but
  * generalizes them: cheap sampled statistics (cardinality estimate, mean
  * run length, sortedness, bit widths) pre-filter to a small candidate set,
  * the candidates are trial-encoded on contiguous sample blocks (contiguous,
  * not strided, so run structure survives sampling), and the best
  * bytes-per-value wins. RAW is always a candidate — the selector never
  * fails, it degrades (the reference's graceful-degradation stance for
  * unsupported predicates, /root/reference/src/predicate.rs:74-75).
  */
object CodecSelector {

  final val DictThreshold = 0.8 // ORC orc.dictionary.key.threshold default

  final case class IntStats(
      n: Int,
      sampleSize: Int,
      distinctRatio: Double,
      meanRunLen: Double,
      sortedFrac: Double,
      directWidth: Int,
      forWidth: Int)

  /** Contiguous-block sample: up to `blocks` blocks of `blockLen`, evenly
    * spaced. Returns (sampleArray) — may alias the input when small. */
  def sampleBlocks(values: Array[Long], blocks: Int = 8, blockLen: Int = 512): Array[Long] = {
    val n = values.length
    if (n <= blocks * blockLen) return values
    val out = new Array[Long](blocks * blockLen)
    val stride = (n - blockLen).toLong / (blocks - 1)
    var b = 0
    while (b < blocks) {
      val from = (b * stride).toInt
      System.arraycopy(values, from, out, b * blockLen, blockLen)
      b += 1
    }
    out
  }

  def intStats(values: Array[Long]): IntStats = {
    val s = sampleBlocks(values)
    val n = s.length
    if (n == 0) return IntStats(0, 0, 0, 0, 1.0, 0, 0)
    val distinct = new java.util.HashSet[java.lang.Long]()
    var runs = 1
    var sortedPairs = 0
    var minV = s(0)
    var maxV = s(0)
    var zzMax = 0L
    distinct.add(s(0))
    var i = 1
    while (i < n) {
      distinct.add(s(i))
      if (s(i) != s(i - 1)) runs += 1
      if (s(i) >= s(i - 1)) sortedPairs += 1
      if (s(i) < minV) minV = s(i)
      if (s(i) > maxV) maxV = s(i)
      i += 1
    }
    i = 0
    while (i < n) {
      val zz = ZigZag.encode(s(i))
      if (java.lang.Long.compareUnsigned(zz, zzMax) > 0) zzMax = zz
      i += 1
    }
    IntStats(
      n = values.length,
      sampleSize = n,
      distinctRatio = distinct.size.toDouble / n,
      meanRunLen = n.toDouble / runs,
      sortedFrac = if (n > 1) sortedPairs.toDouble / (n - 1) else 1.0,
      directWidth = BitPack.bitWidth(zzMax),
      forWidth = BitPack.bitWidth(maxV - minV))
  }

  /** Pick the int codec for one column chunk. */
  def chooseInt(values: Array[Long], conf: CodecConf = CodecConf.Default): IntCodec = {
    if (values.length < 32) return BitPackCodec
    val stats = intStats(values)
    var candidates: List[IntCodec] = RawIntCodec :: ForCodec :: Nil
    if (stats.meanRunLen >= 1.3 || stats.sortedFrac >= 0.7) candidates ::= RleV2Codec
    if (stats.distinctRatio <= 0.5 && stats.distinctRatio * stats.sampleSize <= 4096)
      candidates ::= DictIntCodec
    if (stats.directWidth <= stats.forWidth) candidates ::= BitPackCodec
    val sample = sampleBlocks(values)
    var best: IntCodec = RawIntCodec
    var bestSize = Long.MaxValue
    candidates.foreach { c =>
      // compare POST-block-compression sizes: byte-aligned codecs often
      // deflate better than bit-packed ones, and the shipped chunk is the
      // wrapped form
      val sz = IntCodecs.encodeChunk(sample, c, conf).length.toLong
      if (sz < bestSize || (sz == bestSize && c.id < best.id)) { best = c; bestSize = sz }
    }
    best
  }

  /** Zigzag-varint bytes per value for the widest value in the chunk — an
    * exact upper bound on raw's per-value cost (raw = zigzag varints). */
  private def maxVarintBytes(values: Array[Long]): Int = {
    var zzMax = 0L
    var i = 0
    while (i < values.length) {
      val zz = ZigZag.encode(values(i))
      if (java.lang.Long.compareUnsigned(zz, zzMax) > 0) zzMax = zz
      i += 1
    }
    math.max(1, (BitPack.bitWidth(zzMax) + 6) / 7)
  }

  /** [[sampleBlocks]] over an Int array, widened — same indices, so the
    * stats (and therefore the codec choice) match the Long path exactly. */
  def sampleBlocksInt(values: Array[Int], blocks: Int = 8, blockLen: Int = 512): Array[Long] = {
    val n = values.length
    if (n <= blocks * blockLen) {
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = values(i).toLong; i += 1 }
      return out
    }
    val out = new Array[Long](blocks * blockLen)
    val stride = (n - blockLen).toLong / (blocks - 1)
    var b = 0
    while (b < blocks) {
      val from = (b * stride).toInt
      var k = 0
      while (k < blockLen) { out(b * blockLen + k) = values(from + k).toLong; k += 1 }
      b += 1
    }
    out
  }

  private def maxVarintBytesInt(values: Array[Int]): Int = {
    var zzMax = 0L
    var i = 0
    while (i < values.length) {
      val zz = ZigZag.encode(values(i).toLong)
      if (java.lang.Long.compareUnsigned(zz, zzMax) > 0) zzMax = zz
      i += 1
    }
    math.max(1, (BitPack.bitWidth(zzMax) + 6) / 7)
  }

  /** Int-domain twin of [[encodeIntsAuto]]: same codec choice (stats run on
    * the widened SAMPLE only — the full array never widens) and
    * byte-identical chunk output via [[IntCodecs.encodeChunkInt]]. This is
    * the encode hot path for the tokens/tok_len/n_tok streams. */
  def encodeIntsAutoInt(values: Array[Int],
                        conf: CodecConf = CodecConf.Default): (IntCodec, Array[Byte]) = {
    val codec =
      if (values.length < 32) BitPackCodec
      else chooseInt(sampleBlocksInt(values), conf) // sample <= 4096: chooseInt re-samples to itself
    val encoded = IntCodecs.encodeChunkInt(values, codec, conf)
    if (codec.id != RawIntCodec.id &&
      encoded.length > maxVarintBytesInt(values).toLong * values.length + 16) {
      val raw = IntCodecs.encodeChunkInt(values, RawIntCodec, conf)
      if (raw.length < encoded.length) return (RawIntCodec, raw)
    }
    (codec, encoded)
  }

  /** Encode one int chunk with the auto-selected codec.
    * Returns (codec, self-describing chunk bytes). */
  def encodeIntsAuto(values: Array[Long],
                     conf: CodecConf = CodecConf.Default): (IntCodec, Array[Byte]) = {
    val codec = chooseInt(values, conf)
    val encoded = IntCodecs.encodeChunk(values, codec, conf)
    // Final guard: never ship a chunk materially larger than the raw
    // fallback. The raw bound comes from the chunk's own widest zigzag
    // varint (exact for this data, not a tokens-only assumption), so a
    // mischosen codec can never ship more than raw + framing; the raw
    // trial itself stays rare — an eager raw encode of every chunk would
    // double kernel cost for nothing.
    if (codec.id != RawIntCodec.id &&
      encoded.length > maxVarintBytes(values).toLong * values.length + 16) {
      val raw = IntCodecs.encodeChunk(values, RawIntCodec, conf)
      if (raw.length < encoded.length) return (RawIntCodec, raw)
    }
    (codec, encoded)
  }

  def sampleStrings(values: Array[String], max: Int = 2048): Array[String] = {
    if (values.length <= max) return values
    val out = new Array[String](max)
    val stride = values.length.toDouble / max
    var i = 0
    while (i < max) { out(i) = values((i * stride).toInt); i += 1 }
    out
  }

  /** Pick the string codec for one column chunk (ORC's 0.8 dict threshold). */
  def chooseString(values: Array[String], conf: CodecConf = CodecConf.Default): StringCodec =
    trialString(values, conf)._1

  /** [[chooseString]] plus, when the sample IS the chunk
    * (`sampleStrings(values) eq values`, at most 2048 values), its trial
    * encodings: the winner's bytes and RAW's when RAW was a candidate
    * (null otherwise). */
  private def trialString(values: Array[String],
                          conf: CodecConf): (StringCodec, Array[Byte], Array[Byte]) = {
    if (values.isEmpty) return (RawStringCodec, null, null)
    val s = sampleStrings(values)
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i < s.length) { distinct.add(s(i)); i += 1 }
    val ratio = distinct.size.toDouble / s.length
    val candidates: List[StringCodec] =
      if (ratio <= conf.dictThreshold) List(DictStringCodec, DictFsstStringCodec)
      else List(RawStringCodec, FsstStringCodec)
    var best: StringCodec = candidates.head
    var bestBytes: Array[Byte] = null
    var raw: Array[Byte] = null
    candidates.foreach { c =>
      val b = StringCodecs.encodeChunk(s, c, conf)
      if (c.id == RawStringCodec.id) raw = b
      if (bestBytes == null || b.length < bestBytes.length) { best = c; bestBytes = b }
    }
    if (s eq values) (best, bestBytes, raw) else (best, null, null)
  }

  /** Encode one string chunk with the selected codec, then the raw guard.
    * Encoding is deterministic, so a trial over the whole chunk IS its
    * encode: FSST builds a small chunk's symbol table once, not twice. */
  def encodeStringsAuto(values: Array[String],
                        conf: CodecConf = CodecConf.Default): (StringCodec, Array[Byte]) = {
    val (codec, trialBytes, trialRaw) = trialString(values, conf)
    val encoded =
      if (trialBytes != null) trialBytes else StringCodecs.encodeChunk(values, codec, conf)
    if (codec.id != RawStringCodec.id) {
      val raw =
        if (trialRaw != null) trialRaw else StringCodecs.encodeChunk(values, RawStringCodec, conf)
      if (raw.length < encoded.length) return (RawStringCodec, raw)
    }
    (codec, encoded)
  }

  /** Byte-domain twin of [[encodeStringsAuto]] (BINARY metadata columns):
    * the same dict-threshold heuristic over sampled distinct ratio (bytes
    * wrapped for hashing), the same raw-fallback guard. */
  def encodeBinaryAuto(values: Array[Array[Byte]],
                       conf: CodecConf = CodecConf.Default): (StringCodec, Array[Byte]) = {
    val codec: StringCodec =
      if (values.isEmpty) RawStringCodec
      else {
        val max = 2048
        val s =
          if (values.length <= max) values
          else {
            val out = new Array[Array[Byte]](max)
            val stride = values.length.toDouble / max
            var i = 0
            while (i < max) { out(i) = values((i * stride).toInt); i += 1 }
            out
          }
        val distinct = new java.util.HashSet[java.nio.ByteBuffer]()
        var i = 0
        while (i < s.length) { distinct.add(java.nio.ByteBuffer.wrap(s(i))); i += 1 }
        val ratio = distinct.size.toDouble / s.length
        val candidates: List[StringCodec] =
          if (ratio <= conf.dictThreshold) List(DictStringCodec, DictFsstStringCodec)
          else List(RawStringCodec, FsstStringCodec)
        var best: StringCodec = candidates.head
        var bestSize = Long.MaxValue
        candidates.foreach { c =>
          val sz = StringCodecs.encodeChunkBytes(s, c, conf).length.toLong
          if (sz < bestSize) { best = c; bestSize = sz }
        }
        best
      }
    val encoded = StringCodecs.encodeChunkBytes(values, codec, conf)
    if (codec.id != RawStringCodec.id) {
      val raw = StringCodecs.encodeChunkBytes(values, RawStringCodec, conf)
      if (raw.length < encoded.length) return (RawStringCodec, raw)
    }
    (codec, encoded)
  }
}
