package graft.core

/** The size check of every dense family's blob reader. A blob whose length
  * is not its layout's formula (BASELINE.md) is refused before any word of
  * it is read, with an error naming the family, the expected bytes and the
  * actual bytes: a truncated or padded blob never answers a probe.
  */
private[core] object BlobSize {
  /** `blob` must hold the `header` bytes its size formula reads. */
  @inline def checkHeader(family: String, blob: Array[Byte], header: Int): Unit =
    if (blob.length < header) mismatch(family, s"at least $header", blob.length)

  /** `blob` must be exactly `expected` bytes. */
  @inline def check(family: String, blob: Array[Byte], expected: Long): Unit =
    if (blob.length != expected) mismatch(family, expected.toString, blob.length)

  def mismatch(family: String, expected: String, actual: Int): Nothing =
    throw new IllegalArgumentException(
      s"$family blob: expected $expected bytes, got $actual bytes")

  /** A header field no blob of the family can carry. */
  def invalid(family: String, what: String): Nothing =
    throw new IllegalArgumentException(s"$family blob has invalid $what")
}
