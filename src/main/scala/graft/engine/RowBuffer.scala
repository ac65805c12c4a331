package graft.engine

/** One write task's buffered rows, column by column — the input of
  * [[GraftEncoder.encodePartition]]. Per row: doc_id, source, n_tok, the
  * bucket, where its tokens sit in the token arena, and `nMeta` metadata
  * slots in the stored domain, shaped as
  * [[GraftEncoder.decodeSegmentWithMeta]] returns them (none on a
  * canonical table). Tokens cost 4 B each and no row carries an object of
  * its own; the shuffle's varint packs unpack into the arena once
  * ([[appendPacked]]).
  *
  * The arena is a list of [[RowBuffer.BlockInts]]-token blocks, each row
  * contiguous in one block (a longer row gets a block of its own): it
  * grows without copying what it holds, wastes at most one block, and
  * its blocks stay below the size a region-based collector allocates
  * outside the young generation. */
final class RowBuffer(nMeta: Int) {
  private var n = 0
  private var docIds = new Array[String](16)
  private var sources = new Array[String](16)
  private var nToks = new Array[Int](16)
  private var buckets = new Array[Int](16)
  private var blockOf = new Array[Int](16)
  private var starts = new Array[Int](16)
  private var lens = new Array[Int](16)
  private var metas = Array.fill(nMeta)(new Array[AnyRef](16))
  private val blocks = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
  private var fill = 0 // tokens used in blocks.last

  def size: Int = n
  def docId(i: Int): String = docIds(i)
  def source(i: Int): String = sources(i)
  def nTok(i: Int): Int = nToks(i)
  def bucket(i: Int): Int = buckets(i)
  def tokLen(i: Int): Int = lens(i)
  /** Metadata slot `j` of row `i`. */
  def meta(j: Int, i: Int): AnyRef = metas(j)(i)
  /** Every buffered token, in append order. */
  def tokens: Iterator[Int] =
    Iterator.range(0, n).flatMap(i => blocks(blockOf(i)).iterator.slice(starts(i), starts(i) + lens(i)))

  /** The tokens of `rows`, concatenated in that order. */
  def gather(rows: Array[Int], total: Int): Array[Int] = {
    val out = new Array[Int](total)
    var pos = 0
    rows.foreach { i =>
      System.arraycopy(blocks(blockOf(i)), starts(i), out, pos, lens(i))
      pos += lens(i)
    }
    out
  }

  def append(docId: String, toks: Array[Int], nTok: Int, source: String, bucket: Int,
             meta: Array[AnyRef]): Unit = {
    val block = open(docId, nTok, source, bucket, toks.length)
    System.arraycopy(toks, 0, block, fill, toks.length)
    close(toks.length, meta)
  }

  /** Append a shuffled row, unpacking its tokens straight into the arena
    * (a pack holds at most one value per byte). */
  def appendPacked(r: PackedRow): Unit = {
    val block = open(r.doc_id, r.n_tok, r.source, r.bucket, r.pack.length)
    close(TokenPack.unpackInto(r.pack, block, fill), null)
  }

  /** Row `n`'s scalars, with room for `maxTokens` tokens at `fill` of the
    * block it returns. */
  private def open(docId: String, nTok: Int, source: String, bucket: Int,
                   maxTokens: Int): Array[Int] = {
    if (n == docIds.length) {
      val cap = n * 2
      docIds = java.util.Arrays.copyOf(docIds, cap)
      sources = java.util.Arrays.copyOf(sources, cap)
      nToks = java.util.Arrays.copyOf(nToks, cap)
      buckets = java.util.Arrays.copyOf(buckets, cap)
      blockOf = java.util.Arrays.copyOf(blockOf, cap)
      starts = java.util.Arrays.copyOf(starts, cap)
      lens = java.util.Arrays.copyOf(lens, cap)
      metas = metas.map(java.util.Arrays.copyOf(_, cap))
    }
    if (blocks.isEmpty || fill + maxTokens > blocks.last.length) {
      blocks += new Array[Int](math.max(RowBuffer.BlockInts, maxTokens))
      fill = 0
    }
    docIds(n) = docId
    sources(n) = source
    nToks(n) = nTok
    buckets(n) = bucket
    blockOf(n) = blocks.length - 1
    starts(n) = fill
    blocks.last
  }

  private def close(len: Int, meta: Array[AnyRef]): Unit = {
    lens(n) = len
    fill += len
    var j = 0
    while (j < nMeta) { metas(j)(n) = meta(j); j += 1 }
    n += 1
  }
}

object RowBuffer {
  /** Tokens per arena block: 256 KiB, half of G1's smallest region, so a
    * block is an ordinary young allocation (the default chunk budget,
    * [[GraftEncoder.DefaultTokensPerChunk]], is the same size). */
  final val BlockInts: Int = 64 * 1024
}
