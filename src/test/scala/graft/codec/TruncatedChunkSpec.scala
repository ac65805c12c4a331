package graft.codec

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** A chunk cut short must fail to decode: never return values (zero
  * padding or a lost end-of-stream marker used to decode silently), never
  * hang (an inflater starved of input returns 0 forever). */
class TruncatedChunkSpec extends AnyFunSuite with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  private val ints = Array.tabulate(5000)(i => (i * 7919L) % 1000)
  private val strs = Array.tabulate(600)(i => f"doc_${(i * 7919) % 1000}%06d")

  /** Runs `decode` on a daemon thread: a decode that never returns fails
    * the test at the time limit instead of hanging the suite. */
  private def attempt(decode: => Any): Try[Any] = {
    val result = Promise[Try[Any]]()
    val t = new Thread(() => { result.success(Try(decode)); () })
    t.setDaemon(true)
    t.start()
    failAfter(Span(10, Seconds)) { Await.result(result.future, Duration.Inf) }
  }

  private def assertFails(what: String, outcome: Try[Any]): Unit =
    assert(outcome.isFailure, s"$what decoded to values")

  test("every int and string chunk cut by 1-8 bytes throws, deflate off and on") {
    for (conf <- Seq(CodecConf(zlibLevel = 0), CodecConf.Default); cut <- 1 to 8) {
      for (c <- IntCodecs.all) {
        val enc = IntCodecs.encodeChunk(ints, c, conf)
        val cutChunk = enc.take(enc.length - cut)
        assertFails(s"${c.name} level ${conf.zlibLevel} cut $cut",
          attempt(IntCodecs.decodeChunk(cutChunk)))
        assertFails(s"${c.name} (int) level ${conf.zlibLevel} cut $cut",
          attempt(IntCodecs.decodeChunkInt(cutChunk)))
      }
      for (c <- StringCodecs.all) {
        val enc = StringCodecs.encodeChunk(strs, c, conf)
        assertFails(s"${c.name} level ${conf.zlibLevel} cut $cut",
          attempt(StringCodecs.decodeChunkBytes(enc.take(enc.length - cut))))
      }
    }
  }

  test("a truncated deflate block fails instead of spinning") {
    val enc = IntCodecs.encodeChunk(ints, RawIntCodec)
    assert(enc(1) == BlockCompression.FlagDeflate, "the chunk must be deflated")
    attempt(IntCodecs.decodeChunk(enc.take(enc.length - 4))) match {
      case Failure(e) => assert(e.getMessage.contains("truncated deflate block"), e.getMessage)
      case other => fail(s"decoded: $other")
    }
  }

  test("reads past the end throw instead of padding with zeros") {
    val in = new ByteReader(Array[Byte](1, 2, 3))
    assert(in.readBytes(2).toSeq === Seq[Byte](1, 2))
    intercept[IllegalArgumentException](in.readBytes(2))
    intercept[IllegalArgumentException](in.readBytes(-1))
    intercept[IllegalArgumentException](Utf8Chunk.fromBlob(Array[Byte](97, 98), Array(1L)))
    intercept[IllegalArgumentException](Utf8Chunk.fromBlob(Array[Byte](97), Array(1L, 1L)))
  }
}
