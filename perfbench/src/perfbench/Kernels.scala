package perfbench

import scala.collection.mutable

import graft.codec.{BitPackCodec, BlockCompression, CodecConf, DictFsstStringCodec, DictIntCodec, DictStringCodec, ForCodec, FsstStringCodec, IntCodec, IntCodecs, RleV2Codec, StringCodec, StringCodecs}
import graft.engine.TokenRow
import graft.select.CodecSelector

/** Single-thread probes of the `graft.codec` kernels and the
  * `graft.select` selector on column chunks cut from the workload's own
  * rows. Kernel timings call the codec objects directly (no block
  * wrapper), so `deflate` is measured on its own over the kernels' output. */
object Kernels {

  /** The fixed single-thread RleV2 workload of `graft.Bench.calibMs`: its
    * time depends only on host conditions, so a run from a noisy window
    * shows up as an inflated value. */
  def calibMs(): Double = {
    val rnd = new java.util.Random(7)
    val chunk = Array.fill(64 * 1024)((rnd.nextDouble() * 50257).toInt.toLong)
    (1 to 3).foreach(_ => IntCodecs.encodeChunk(chunk, RleV2Codec))
    val t0 = System.nanoTime()
    var i = 0
    while (i < 50) { IntCodecs.encodeChunk(chunk, RleV2Codec); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  final case class Chunks(tokens: Seq[Array[Int]], nTok: Seq[Array[Int]],
                          docIds: Seq[Array[String]], sources: Seq[Array[String]])

  /** Token chunks of the engine's default 64k tokens, per-row column
    * chunks of 4096 rows. */
  def chunksOf(rows: Seq[TokenRow], maxChunks: Int): Chunks = {
    val tok = rows.iterator.flatMap(_.tokens.iterator).take(maxChunks * 65536).toArray
    val rowsPerChunk = 4096
    val rs = rows.take(maxChunks * rowsPerChunk).toArray
    Chunks(
      tok.grouped(65536).toSeq,
      rs.grouped(rowsPerChunk).map(_.map(_.n_tok)).toSeq,
      rs.grouped(rowsPerChunk).map(_.map(_.doc_id)).toSeq,
      rs.grouped(rowsPerChunk).map(_.map(_.source)).toSeq)
  }

  /** Seconds per `pass`, the median of 5 timed blocks after a warm-up
    * pass; each block repeats `pass` for at least a fifth of `minMs`. */
  private def secondsPerPass(minMs: Double)(pass: => Unit): Double = {
    pass
    val t0 = System.nanoTime()
    pass
    val onePassMs = math.max(0.01, (System.nanoTime() - t0) / 1e6)
    val passesPerBlock = math.max(1, math.ceil(minMs / 5 / onePassMs).toInt)
    Stats.median((1 to 5).map { _ =>
      val s = System.nanoTime()
      var i = 0
      while (i < passesPerBlock) { pass; i += 1 }
      (System.nanoTime() - s) / 1e9 / passesPerBlock
    })
  }

  private def mbPerS(bytesPerPass: Long, minMs: Double)(pass: => Unit): Double =
    bytesPerPass / 1e6 / secondsPerPass(minMs)(pass)

  private val intKernels: Seq[(String, IntCodec)] =
    Seq("rlev2" -> RleV2Codec, "bitpack" -> BitPackCodec, "for" -> ForCodec, "dict_int" -> DictIntCodec)
  private val strKernels: Seq[(String, StringCodec)] =
    Seq("dict_str" -> DictStringCodec, "fsst" -> FsstStringCodec, "dict_fsst" -> DictFsstStringCodec)

  /** codec.<c>.encode_mb_s / decode_mb_s, in MB of raw column bytes
    * (4 B per int, UTF-8 bytes per string). */
  def codecMetrics(c: Chunks, minMs: Double): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val intBytes = c.tokens.map(_.length * 4L).sum
    intKernels.foreach { case (name, k) =>
      val enc = c.tokens.map(k.encodeInt)
      out(s"codec.$name.encode_mb_s") = mbPerS(intBytes, minMs)(c.tokens.foreach(k.encodeInt))
      out(s"codec.$name.decode_mb_s") = mbPerS(intBytes, minMs)(enc.foreach(k.decodeInt))
    }
    val strs = c.docIds.map(_.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val strBytes = strs.map(_.map(_.length.toLong).sum).sum
    strKernels.foreach { case (name, k) =>
      val enc = strs.map(k.encodeBytes)
      out(s"codec.$name.encode_mb_s") = mbPerS(strBytes, minMs)(strs.foreach(k.encodeBytes))
      out(s"codec.$name.decode_mb_s") = mbPerS(strBytes, minMs)(enc.foreach(k.decodeBytes))
    }
    // deflate over what the engine actually wraps: the chosen kernels' output
    val payloads = c.tokens.map(RleV2Codec.encodeInt) ++ strs.map(DictFsstStringCodec.encodeBytes)
    val payloadBytes = payloads.map(_.length.toLong).sum
    val wrapped = payloads.map(p => BlockCompression.wrap(p))
    out("codec.deflate.encode_mb_s") =
      mbPerS(payloadBytes, minMs)(payloads.foreach(p => BlockCompression.wrap(p)))
    out("codec.deflate.decode_mb_s") =
      mbPerS(payloadBytes, minMs)(wrapped.foreach(w => BlockCompression.unwrap(w, 0)))
    out.toMap
  }

  /** Every codec the selector can choose; counts are reported for all. */
  val chosenNames: Seq[String] = IntCodecs.all.map(_.name) ++ StringCodecs.all.map(_.name)

  /** select.int_ns_per_value / str_ns_per_value: selector time minus the
    * chosen codec's own chunk encode; select.regret: chosen bytes over the
    * smallest candidate's bytes, summed over every chunk; select.chosen.*. */
  def selectorMetrics(c: Chunks, minMs: Double): Map[String, Double] = {
    val conf = CodecConf.Default
    val intChunks = c.tokens ++ c.nTok
    val strChunks = c.docIds ++ c.sources
    val chosen = mutable.LinkedHashMap(chosenNames.map(_ -> 0.0): _*)
    var chosenBytes = 0L
    var bestBytes = 0L
    val intChoice = intChunks.map { v =>
      val (codec, bytes) = CodecSelector.encodeIntsAutoInt(v, conf)
      chosen(codec.name) += 1
      chosenBytes += bytes.length
      bestBytes += IntCodecs.all.map(k => IntCodecs.encodeChunkInt(v, k, conf).length.toLong).min
      codec
    }
    val strChoice = strChunks.map { v =>
      val (codec, bytes) = CodecSelector.encodeStringsAuto(v, conf)
      chosen(codec.name) += 1
      chosenBytes += bytes.length
      bestBytes += StringCodecs.all.map(k => StringCodecs.encodeChunk(v, k, conf).length.toLong).min
      codec
    }
    val intValues = intChunks.map(_.length.toLong).sum
    val strValues = strChunks.map(_.length.toLong).sum
    def nsPerValue(values: Long)(auto: => Unit)(fixed: => Unit): Double =
      math.max(0.0, secondsPerPass(minMs)(auto) - secondsPerPass(minMs)(fixed)) * 1e9 / values
    val intNs = nsPerValue(intValues)(intChunks.foreach(CodecSelector.encodeIntsAutoInt(_, conf)))(
      intChunks.zip(intChoice).foreach { case (v, k) => IntCodecs.encodeChunkInt(v, k, conf) })
    val strNs = nsPerValue(strValues)(strChunks.foreach(CodecSelector.encodeStringsAuto(_, conf)))(
      strChunks.zip(strChoice).foreach { case (v, k) => StringCodecs.encodeChunk(v, k, conf) })
    Map("select.int_ns_per_value" -> intNs, "select.str_ns_per_value" -> strNs,
      "select.regret" -> chosenBytes.toDouble / bestBytes) ++
      chosen.map { case (k, n) => s"select.chosen.$k" -> n }
  }
}
