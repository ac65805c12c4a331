package graft.codec

/** Decoded string chunks as Scala values, for assertions. */
object ChunkValues {
  def strings(c: Utf8Chunk): Seq[String] = c.strings().toSeq

  /** A self-describing string chunk's values. */
  def strings(chunk: Array[Byte]): Seq[String] = strings(StringCodecs.decodeChunkBytes(chunk))

  /** A [[Nullable]]-framed string stream's rows, absent slots null. */
  def nullableStrings(payload: Array[Byte]): Seq[String] =
    Nullable.decodeRows[String](payload)(_.strings()).toSeq

  /** `values` (null = SQL null) framed over one codec's chunk of the
    * non-null values. */
  def frameStrings(values: Array[String], codec: StringCodec): Array[Byte] =
    Nullable.frame(values.map(_ != null), StringCodecs.encodeChunk(values.filter(_ != null), codec))
}
