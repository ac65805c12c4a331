package graft.codec

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** PRESENT-bitmap round-trip properties (ORC PRESENT stream analog; the
  * reference's all-NULL-row fixtures pin the same semantics,
  * tests/basic_reading.rs:263-277). */
object NullableSpec extends Properties("nullable") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withInitialSeed(org.scalacheck.rng.Seed(42L)).withMinSuccessfulTests(200)

  private val genIntsWithNulls: Gen[(Array[Long], Array[Boolean])] = for {
    n <- Gen.chooseNum(0, 2000)
    vs <- Gen.listOfN(n, Gen.chooseNum(-100000L, 100000L))
    nullFrac <- Gen.oneOf(0.0, 0.01, 0.5, 1.0)
    bits <- Gen.listOfN(n, Gen.prob(1.0 - nullFrac))
  } yield (vs.toArray, bits.toArray)

  property("nullable int chunks round-trip (values + present bitmap)") =
    forAll(genIntsWithNulls) { case (values, present) =>
      IntCodecs.all.forall { c =>
        val enc = Nullable.frame(present,
          IntCodecs.encodeChunk(Nullable.compactLongs(values, present), c))
        val (vOut, pOut) = Nullable.decodeInts(enc)
        pOut.toSeq == present.toSeq &&
          vOut.indices.forall(i => !present(i) || vOut(i) == values(i))
      }
    }

  property("dense (no-null) framing costs exactly one flag byte") =
    forAll(Gen.listOf(Gen.chooseNum(0L, 50256L))) { vs =>
      val values = vs.toArray
      val enc = Nullable.frame(Array.fill(values.length)(true),
        IntCodecs.encodeChunk(values, RleV2Codec))
      enc.length == IntCodecs.encodeChunk(values, RleV2Codec).length + 1
    }

  private val genStringsWithNulls: Gen[Array[String]] = for {
    n <- Gen.chooseNum(0, 500)
    vs <- Gen.listOfN(n, Gen.frequency(
      (4, Gen.alphaNumStr.map(_.take(20))),
      (1, Gen.const(null: String)),
      (1, Gen.const(""))))
  } yield vs.toArray

  property("nullable string chunks round-trip (null != empty string)") =
    forAll(genStringsWithNulls) { values =>
      StringCodecs.all.forall { c =>
        ChunkValues.nullableStrings(ChunkValues.frameStrings(values, c)) == values.toSeq
      }
    }
}
