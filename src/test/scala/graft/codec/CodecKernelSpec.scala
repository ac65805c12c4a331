package graft.codec

import org.scalatest.funsuite.AnyFunSuite

/** Unit layer for the codec kernels — mirrors the reference's co-located
  * module tests (src/predicate.rs:247-427 etc.), pinning the edge values
  * its golden tests pin (SURVEY §1.2). */
class CodecKernelSpec extends AnyFunSuite {

  // ---- ByteIO -------------------------------------------------------------

  test("varint round-trip incl. extremes") {
    val vals = Seq(0L, 1L, 127L, 128L, 300L, Int.MaxValue.toLong, Long.MaxValue, -1L)
    val w = new ByteWriter()
    vals.foreach(v => w.writeVarLong(v))
    val r = new ByteReader(w.toArray)
    vals.foreach(v => assert(r.readVarLong() === v))
  }

  test("zigzag round-trip incl. Long.MinValue/MaxValue") {
    val vals = Seq(0L, -1L, 1L, -2L, 2L, Long.MinValue, Long.MaxValue,
      Int.MinValue.toLong, Int.MaxValue.toLong, -32768L, 32767L, -128L, 127L)
    val w = new ByteWriter()
    vals.foreach(v => w.writeZigZag(v))
    val r = new ByteReader(w.toArray)
    vals.foreach(v => assert(r.readZigZag() === v))
  }

  // ---- BitPack ------------------------------------------------------------

  test("bitpack all widths 0..64") {
    val rnd = new scala.util.Random(42)
    for (width <- 0 to 64) {
      val n = 259 // not a multiple of 8: exercises tail handling
      val mask = if (width == 64) -1L else (1L << width) - 1
      val values = Array.fill(n)(rnd.nextLong() & mask)
      val w = new ByteWriter()
      BitPack.pack(values, 0, n, width, w)
      assert(w.size === BitPack.packedBytes(n, width))
      val out = new Array[Long](n)
      BitPack.unpack(new ByteReader(w.toArray), n, width, out, 0)
      assert(out.toSeq === values.toSeq, s"width=$width")
    }
  }

  test("bitpack sequential streams at mixed widths share one byte stream") {
    val w = new ByteWriter()
    val a = Array(1L, 2L, 3L)
    val b = Array(100L, 200L, 300L)
    BitPack.pack(a, 0, 3, 2, w)
    BitPack.pack(b, 0, 3, 9, w)
    val r = new ByteReader(w.toArray)
    val oa = new Array[Long](3); BitPack.unpack(r, 3, 2, oa, 0)
    val ob = new Array[Long](3); BitPack.unpack(r, 3, 9, ob, 0)
    assert(oa.toSeq === a.toSeq)
    assert(ob.toSeq === b.toSeq)
  }

  // ---- RLE v2 -------------------------------------------------------------

  private def rt(values: Array[Long]): Unit = {
    val enc = RleV2.encode(values)
    assert(RleV2.decode(enc).toSeq === values.toSeq)
  }

  test("rle: empty / single / pair") {
    rt(Array.emptyLongArray)
    rt(Array(42L))
    rt(Array(42L, -42L))
  }

  test("rle: constant run (SHORT_REPEAT path) compresses hard") {
    val values = Array.fill(10000)(7L)
    val enc = RleV2.encode(values)
    assert(RleV2.decode(enc).toSeq === values.toSeq)
    assert(enc.length < 200, s"constant run should be tiny, got ${enc.length}")
  }

  test("rle: arithmetic sequence (fixed DELTA path) compresses hard") {
    val values = Array.tabulate(10000)(i => 100L + 3L * i)
    val enc = RleV2.encode(values)
    assert(RleV2.decode(enc).toSeq === values.toSeq)
    assert(enc.length < 400, s"fixed delta should be tiny, got ${enc.length}")
  }

  test("rle: sorted-with-jitter (variable DELTA path)") {
    val rnd = new scala.util.Random(1)
    var v = 0L
    val values = Array.fill(5000) { v += rnd.nextInt(5); v }
    rt(values)
  }

  test("rle: outlier-heavy (PATCHED_BASE path)") {
    val rnd = new scala.util.Random(2)
    val values = Array.tabulate(5000) { i =>
      if (i % 97 == 0) 1000000L + rnd.nextInt(1000) else rnd.nextInt(64).toLong
    }
    val enc = RleV2.encode(values)
    assert(RleV2.decode(enc).toSeq === values.toSeq)
    // 90% of values need 6 bits; patched should land well under direct's
    // 21 bits/value
    assert(enc.length < 5000 * 2, s"patched base should win, got ${enc.length}")
  }

  test("rle: extremes (reference edge values, SURVEY §1.2)") {
    rt(Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L,
      Int.MinValue.toLong, Int.MaxValue.toLong, -32768L, 32767L, -128L, 127L,
      Long.MinValue, Long.MinValue, Long.MinValue, Long.MinValue, Long.MaxValue))
  }

  test("rle: repeat runs straddling the 512 max run length") {
    rt(Array.fill(513)(9L) ++ Array.fill(1025)(-3L) ++ Array(1L, 2L))
  }

  test("rle: alternating values (worst case for repeat detection)") {
    rt(Array.tabulate(2000)(i => (i % 2).toLong))
  }

  // ---- other int codecs ---------------------------------------------------

  test("all int codecs round-trip on mixed payloads") {
    val rnd = new scala.util.Random(3)
    val payloads = Seq(
      Array.emptyLongArray,
      Array(0L),
      Array.fill(1000)(rnd.nextInt(50000).toLong),
      Array.tabulate(1000)(i => i.toLong * 17),
      Array.fill(1000)(rnd.nextLong()),
      Array.fill(777)(42L),
      Array(Long.MinValue, Long.MaxValue))
    for (codec <- IntCodecs.all; p <- payloads) {
      val enc = IntCodecs.encodeChunk(p, codec)
      assert(IntCodecs.decodeChunk(enc).toSeq === p.toSeq, s"codec=${codec.name}")
    }
  }

  test("dict int: low cardinality beats bitpack") {
    val rnd = new scala.util.Random(4)
    val vocab = Array.fill(16)(rnd.nextLong())
    val values = Array.fill(10000)(vocab(rnd.nextInt(16)))
    val dict = DictIntCodec.encode(values).length
    val pack = BitPackCodec.encode(values).length
    assert(dict < pack, s"dict=$dict pack=$pack")
  }

  // ---- FSST ---------------------------------------------------------------

  test("fsst: round-trips english-ish text and compresses") {
    val text = ("the quick brown fox jumps over the lazy dog and then " * 200).getBytes("UTF-8")
    val enc = Fsst.compress(text)
    assert(Fsst.decompress(enc).toSeq === text.toSeq)
    assert(enc.length < text.length / 2, s"fsst should halve text, got ${enc.length}/${text.length}")
  }

  test("fsst: round-trips all byte values incl. 0xff escape byte") {
    val data = Array.tabulate(1024)(i => (i % 256).toByte)
    val enc = Fsst.compress(data)
    assert(Fsst.decompress(enc).toSeq === data.toSeq)
  }

  test("fsst: empty and tiny inputs") {
    for (d <- Seq(Array.emptyByteArray, Array[Byte](1), "ab".getBytes("UTF-8"))) {
      assert(Fsst.decompress(Fsst.compress(d)).toSeq === d.toSeq)
    }
  }

  test("fsst: table build is deterministic") {
    val text = ("doc_00001 doc_00002 common_prefix/partition=17/file " * 500).getBytes("UTF-8")
    val a = Fsst.compress(text)
    val b = Fsst.compress(text)
    assert(a.toSeq === b.toSeq)
  }

  test("fsst: multi-byte UTF-8 (CJK + emoji, reference edge values)") {
    val s = ("大熊和奏 🤔 änd ascii " * 300).getBytes("UTF-8")
    assert(Fsst.decompress(Fsst.compress(s)).toSeq === s.toSeq)
  }

  // ---- string codecs ------------------------------------------------------

  test("all string codecs round-trip") {
    val rnd = new scala.util.Random(5)
    val payloads = Seq(
      Array.empty[String],
      Array(""),
      Array("", "a", "", "bb"),
      Array.fill(500)(s"src_${rnd.nextInt(4)}"),
      Array.tabulate(500)(i => f"doc_${rnd.nextInt(1000000)}%07d"),
      Array("大熊和奏", "🤔", "", "plain"))
    for (codec <- StringCodecs.all; p <- payloads) {
      val enc = StringCodecs.encodeChunk(p, codec)
      assert(StringCodecs.decodeChunk(enc).toSeq === p.toSeq, s"codec=${codec.name}")
    }
  }

  test("dict string: low-cardinality column compresses to near-nothing") {
    val values = Array.tabulate(10000)(i => s"source_${i % 3}")
    val enc = DictStringCodec.encode(values)
    assert(DictStringCodec.decode(enc).toSeq === values.toSeq)
    assert(enc.length < 4000, s"got ${enc.length}")
  }

  test("TokenPack: shuffle varint pack round-trips, incl. edge ints; vocab ids pack small") {
    import graft.engine.TokenPack
    // a pack holds at most one value per byte: pack.length sizes the target
    def unpack(pack: Array[Byte]): Seq[Int] = {
      val dest = new Array[Int](pack.length)
      dest.take(TokenPack.unpackInto(pack, dest, 0)).toSeq
    }
    val edge = Array(0, 1, 127, 128, 16383, 16384, 50256, Int.MaxValue, Int.MinValue, -1)
    assert(unpack(TokenPack.pack(edge)) === edge.toSeq)
    assert(TokenPack.pack(Array.empty[Int]).length === 0)
    assert(unpack(Array.empty[Byte]).isEmpty)
    val rnd = new java.util.Random(13)
    val vocab = Array.fill(20000)(rnd.nextInt(50257))
    val packed = TokenPack.pack(vocab)
    assert(unpack(packed) === vocab.toSeq)
    // uniform [0,50257): ~1/3 of ids fit 1 byte, rest 2-3 -> well under 4 B/token
    assert(packed.length < vocab.length * 3, s"packed ${packed.length} B for ${vocab.length} tokens")
  }

  test("selector: string encode reusing the trial bytes equals choose + encode + raw guard") {
    import graft.select.CodecSelector
    def reference(values: Array[String]): (StringCodec, Array[Byte]) = {
      val c = CodecSelector.chooseString(values)
      val enc = StringCodecs.encodeChunk(values, c, CodecConf.Default)
      if (c.id != RawStringCodec.id) {
        val raw = StringCodecs.encodeChunk(values, RawStringCodec, CodecConf.Default)
        if (raw.length < enc.length) return (RawStringCodec, raw)
      }
      (c, enc)
    }
    val rnd = new scala.util.Random(7L)
    def randomWord(len: Int): String =
      new String(Array.fill(len)((33 + rnd.nextInt(94)).toChar))
    // one generator per intended winner (at 2047+ values): unique
    // high-entropy words (raw), unique zero-padded ids (FSST), 300 phrases
    // (dict), 600 ids (dict-FSST); the small chunks exercise the raw guard
    val words = Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog")
    val phrases = Array.fill(300)(Seq.fill(6)(words(rnd.nextInt(words.length))).mkString(" "))
    def docId(): String = f"doc_${rnd.nextInt(1000000000)}%012d"
    val ids = Array.fill(600)(docId())
    val gens: Seq[Int => Array[String]] = Seq(
      n => Array.fill(n)(randomWord(10)),
      n => Array.fill(n)(docId()),
      n => Array.fill(n)(phrases(rnd.nextInt(phrases.length))),
      n => Array.fill(n)(ids(rnd.nextInt(ids.length))))
    val winners = scala.collection.mutable.Set.empty[String]
    for (n <- Seq(1, 2047, 2048, 2049, 5000); gen <- gens) {
      val values = gen(n)
      val (c, bytes) = CodecSelector.encodeStringsAuto(values)
      val (rc, rbytes) = reference(values)
      assert(c.id === rc.id, s"codec at n=$n")
      assert(java.util.Arrays.equals(bytes, rbytes), s"bytes at n=$n, codec ${c.name}")
      winners += c.name
    }
    assert(winners === StringCodecs.all.map(_.name).toSet, s"winners seen: $winners")
  }
}
