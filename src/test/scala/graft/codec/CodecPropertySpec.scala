package graft.codec

import org.scalacheck.{Gen, Properties, Prop}
import org.scalacheck.Prop.forAll
import graft.select.CodecSelector

/** Property layer — an upgrade over the reference's assertion-only tests
  * (SURVEY §5): every codec round-trips on adversarial generators covering
  * skewed lengths, constant runs, sorted runs, high-cardinality randoms,
  * empty and single-element arrays. */
object CodecPropertySpec extends Properties("codecs") {

  // pinned seed: the gate must be deterministic run-to-run (the reference
  // keeps its fixtures frozen for the same reason, AGENTS.md:47); bump the
  // seed deliberately when hunting for new edge cases
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withInitialSeed(org.scalacheck.rng.Seed(42L)).withMinSuccessfulTests(200)

  private val genConstant: Gen[Array[Long]] = for {
    n <- Gen.chooseNum(0, 3000)
    v <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
  } yield Array.fill(n)(v)

  private val genSorted: Gen[Array[Long]] = for {
    n <- Gen.chooseNum(0, 3000)
    base <- Gen.chooseNum(-1000000L, 1000000L)
    steps <- Gen.listOfN(n, Gen.chooseNum(0L, 100L))
  } yield steps.scanLeft(base)(_ + _).tail.toArray

  private val genRuns: Gen[Array[Long]] = for {
    runs <- Gen.listOf(Gen.zip(Gen.chooseNum(1, 50), Gen.chooseNum(-100000L, 100000L)))
  } yield runs.flatMap { case (len, v) => Seq.fill(len)(v) }.toArray

  private val genRandom: Gen[Array[Long]] = for {
    n <- Gen.chooseNum(0, 3000)
    vs <- Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue))
  } yield vs.toArray

  private val genTokens: Gen[Array[Long]] = for {
    n <- Gen.chooseNum(0, 5000)
    vocab <- Gen.chooseNum(8, 50000)
    vs <- Gen.listOfN(n, Gen.chooseNum(0, vocab))
  } yield vs.map(_.toLong).toArray

  private val genOutliers: Gen[Array[Long]] = for {
    n <- Gen.chooseNum(0, 3000)
    vs <- Gen.listOfN(n, Gen.frequency(
      (95, Gen.chooseNum(0L, 255L)),
      (5, Gen.chooseNum(Long.MinValue, Long.MaxValue))))
  } yield vs.toArray

  private val genAnyInts: Gen[Array[Long]] = Gen.oneOf(
    genConstant, genSorted, genRuns, genRandom, genTokens, genOutliers)

  property("rle_v2 round-trip") = forAll(genAnyInts) { values =>
    RleV2.decode(RleV2.encode(values)).toSeq == values.toSeq
  }

  property("TokenPack (shuffle varint) round-trips any Int array") =
    forAll(genAnyInts) { values =>
      val ints = values.map(_.toInt) // shuffle payload is Array[Int]
      val pack = graft.engine.TokenPack.pack(ints)
      val dest = new Array[Int](pack.length) // one value takes >= 1 byte
      dest.take(graft.engine.TokenPack.unpackInto(pack, dest, 0)).toSeq == ints.toSeq
    }

  property("TokenPack count/unpackInto agree with unpack at any offset") =
    forAll(genAnyInts) { values =>
      val ints = values.map(_.toInt)
      val pack = graft.engine.TokenPack.pack(ints)
      val dest = new Array[Int](pack.length + 3)
      val written = graft.engine.TokenPack.unpackInto(pack, dest, 3)
      written == ints.length &&
        java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(dest, 3, 3 + ints.length), ints)
    }

  property("every int codec round-trips") = forAll(genAnyInts) { values =>
    IntCodecs.all.forall { c =>
      IntCodecs.decodeChunk(IntCodecs.encodeChunk(values, c)).toSeq == values.toSeq
    }
  }

  property("int-domain decode matches the long path narrowed, every codec") =
    forAll(genAnyInts) { longs =>
      // int-domain contract: the caller only uses decodeChunkInt on streams
      // that are int32 by schema, so feed int-valued data
      val values = longs.map(v => v.toInt.toLong)
      IntCodecs.all.forall { c =>
        val enc = IntCodecs.encodeChunk(values, c)
        IntCodecs.decodeChunkInt(enc).toSeq == values.map(_.toInt).toSeq
      }
    }

  property("auto-selected int chunk round-trips and never beats raw by losing") =
    forAll(genAnyInts) { values =>
      val (_, encoded) = CodecSelector.encodeIntsAuto(values)
      val rawSize = IntCodecs.encodeChunk(values, RawIntCodec).length
      // Selector contract: the raw-fallback guard bounds the shipped chunk
      // by the chunk's OWN widest zigzag varint (exact, data-derived — not
      // a tokens-only 3 B assumption), so a mischosen codec can never ship
      // more than raw + framing slack.
      val widest = values.foldLeft(1) { (w, v) =>
        math.max(w, (64 - java.lang.Long.numberOfLeadingZeros(ZigZag.encode(v)) + 6) / 7)
      }
      val bound = math.max(rawSize, widest * values.length + 16)
      Prop(IntCodecs.decodeChunk(encoded).toSeq == values.toSeq) :| "round-trip" &&
        Prop(encoded.length <= bound) :| s"size ${encoded.length} <= bound $bound (raw $rawSize)"
    }

  private val genString: Gen[String] = Gen.frequency(
    (5, Gen.alphaNumStr.map(_.take(40))),
    (2, Gen.identifier.map(id => s"doc_$id")),
    (1, Gen.const("")),
    (1, Gen.const("大熊和奏🤔")),
    (1, Gen.listOf(Gen.chooseNum(0, 0x10ffff)
      .suchThat(cp => cp < 0xd800 || cp > 0xdfff))
      .map(cps => new String(cps.flatMap(Character.toChars(_)).toArray)))
  )

  private val genStrings: Gen[Array[String]] = for {
    n <- Gen.chooseNum(0, 500)
    card <- Gen.oneOf(1, 3, 50, 100000)
    pool <- Gen.listOfN(math.min(card, 64), genString)
    vs <-
      if (card >= 100000) Gen.listOfN(n, genString)
      else Gen.listOfN(n, Gen.oneOf(if (pool.isEmpty) List("") else pool))
  } yield vs.toArray

  // Int-domain generator: the full int32 range (tokens are non-negative in
  // practice, but the codec contract is any int32)
  private val genAnyInts32: Gen[Array[Int]] = Gen.oneOf(
    genConstant, genSorted, genRuns, genRandom, genTokens
  ).map(_.map(v => v.toInt))

  property("int-domain encode is BYTE-identical to the widened path, every codec") =
    forAll(genAnyInts32) { values =>
      val widened = values.map(_.toLong)
      IntCodecs.all.forall { c =>
        java.util.Arrays.equals(c.encodeInt(values), c.encode(widened))
      }
    }

  property("auto int-domain encode picks the same codec and bytes as the widened path") =
    forAll(genAnyInts32) { values =>
      val widened = values.map(_.toLong)
      val (cI, bI) = CodecSelector.encodeIntsAutoInt(values)
      val (cL, bL) = CodecSelector.encodeIntsAuto(widened)
      cI.id == cL.id && java.util.Arrays.equals(bI, bL)
    }

  property("every string codec round-trips") = forAll(genStrings) { values =>
    StringCodecs.all.forall { c =>
      StringCodecs.decodeChunk(StringCodecs.encodeChunk(values, c)).toSeq == values.toSeq
    }
  }

  property("auto-selected string chunk round-trips") = forAll(genStrings) { values =>
    val (_, encoded) = CodecSelector.encodeStringsAuto(values)
    StringCodecs.decodeChunk(encoded).toSeq == values.toSeq
  }

  property("zero-copy byte decode matches String decode, every codec") =
    forAll(genStrings) { values =>
      StringCodecs.all.forall { c =>
        val encoded = StringCodecs.encodeChunk(values, c)
        val chunk = StringCodecs.decodeChunkBytes(encoded)
        chunk.size == values.length &&
          values.indices.forall(i => chunk.string(i) == values(i))
      }
    }

  property("nullable zero-copy string decode matches nullable String decode") = {
    val genNullable: Gen[Array[String]] = for {
      vs <- genStrings
      mask <- Gen.listOfN(vs.length, Gen.prob(0.3))
    } yield vs.zip(mask).map { case (v, isNull) => if (isNull) null else v }
    forAll(genNullable) { values =>
      val encoded = Nullable.encodeStrings(values, RawStringCodec)
      val viaStrings = Nullable.decodeStrings(encoded)
      val (chunk, present, toCompact) = Nullable.decodeStringsBytes(encoded)
      def at(i: Int): String =
        if (!present(i)) null
        else chunk.string(if (toCompact == null) i else toCompact(i))
      present.length == values.length &&
        values.indices.forall(i => at(i) == viaStrings(i) && viaStrings(i) == values(i))
    }
  }

  property("fsst round-trips arbitrary bytes") =
    forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      val arr = bytes.toArray
      Fsst.decompress(Fsst.compress(arr)).toSeq == arr.toSeq
    }
}
