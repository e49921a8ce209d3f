package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType}

/** Perceptual fingerprint over media payload bytes — a SimHash vote
  * (Charikar, STOC 2002) over the sliding 8-byte grams of the signal a
  * container carries. Since no codec ships in this environment, the
  * "decoded signal" stand-in is the container's data payload, located
  * by [[graft.llm.MediaHeaders.bodyOffset]]'s real byte walk — header
  * metadata is doc-id-derived and must NOT contaminate a content
  * fingerprint.
  *
  * Gram features rather than position-downsampled cells (the
  * image-dHash grid recipe tried first) because byte streams, unlike
  * pixel grids, suffer INSERTIONS: a tail edit rescales every
  * position-based cell boundary (measured ≥ 10 of 60 bits flipped on
  * the fixture's planted tail-edited clones), while with sliding grams
  * only the windows overlapping the edit change their votes — the
  * planted near-identical pairs land 0–2 bits apart and unrelated docs
  * ~30 apart.
  *
  * Exact recipe, engine-portable by construction:
  *   1. gram w (w = 0..L-8) is the UPPERCASE 16-hex-char rendering of
  *      body bytes w..w+7 — exactly `substr(hex(body), 2w+1, 16)` in
  *      ANSI engines;
  *   2. its 60-bit key is the leading 15 hex chars of `md5(gram)`
  *      (md5 of the hex STRING, so no engine needs binary md5) — the
  *      [[MinHashKernel.simhashMd5]] auditability trade: an xxhash64
  *      keying over the raw window would be the cheaper production
  *      swap, md5 keying buys the bit-exact DuckDB oracle;
  *   3. per-bit ±1 votes over all grams; bit i of the fingerprint is
  *      set iff its vote is positive (ties → 0);
  *   4. 60 bits — deliberately under 63 — pack into a NON-NEGATIVE
  *      long, so the fingerprint, its four 15-bit bands, and every XOR
  *      ride BIGINT in any engine with no sign pitfalls (q45's 64-bit
  *      form needs a HUGEINT detour for bit 63).
  *
  * Banding by 15-bit quarters gives EXACT retrieval at Hamming ≤ 3 by
  * pigeonhole (4 bands, ≤ 3 differing bits ⇒ some band identical) —
  * not a recall gamble like minhash banding. Sentinel -1 (never a
  * valid fingerprint — valid values are non-negative) for malformed
  * containers or bodies shorter than one gram. One static kernel
  * shared by eval and codegen so the paths cannot diverge.
  */
object MediaHashKernel {

  final val GramBytes = 8
  final val Bits = 60

  private val hexChars = "0123456789ABCDEF"
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Container payload → 60-bit gram-SimHash over its body bytes; -1
    * when the container is malformed or the body has < 8 bytes. */
  def payloadPhash(b: Array[Byte]): Long = {
    val off = graft.llm.MediaHeaders.bodyOffset(b)
    if (off < 0) return -1L
    val len = b.length - off
    if (len < GramBytes) return -1L
    val votes = new Array[Int](Bits)
    val md = md5Local.get()
    val gram = new Array[Byte](2 * GramBytes)
    var w = 0
    while (w <= len - GramBytes) {
      var k = 0
      while (k < GramBytes) {
        val v = b(off + w + k) & 0xff
        gram(2 * k) = hexChars.charAt(v >>> 4).toByte
        gram(2 * k + 1) = hexChars.charAt(v & 0xf).toByte
        k += 1
      }
      md.reset()
      val d = md.digest(gram)
      // leading 15 hex chars = first 60 bits: 8 bytes BE, low nibble off
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
      h = h >>> 4
      var i = 0
      while (i < Bits) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      w += 1
    }
    var fp = 0L
    var i = 0
    while (i < Bits) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
    fp
  }

  /** Column form: binary payload → long fingerprint (-1 sentinel). */
  def media_phash(payload: Column): Column =
    GraftSqlBridge.column(MediaPHash(GraftSqlBridge.expression(payload)))

  /** WAV container → 60-bit AUDIO energy-profile fingerprint (the
    * Haitsma & Kalker 2002 shape, energy-band differences → sign
    * bits, reduced to one time-axis band): the data chunk's bytes are
    * read as signed little-endian 16-bit PCM samples, the sample
    * stream is cut into 61 equal time windows (sample j → window
    * ⌊j·61/n⌋), per-window energy Σ s² accumulates in exact BIGINT,
    * and bit i is set iff energy(i+1) > energy(i).
    *
    * Complementary to [[payloadPhash]]'s byte-gram SimHash, not a
    * replacement: grams survive INSERTIONS but break under uniform
    * GAIN (every byte changes); the energy-difference sign is
    * invariant under any positive amplitude scaling (e_i ↦ c²·e_i
    * preserves every comparison — spec-pinned) — the transform a
    * re-encoded/normalized audio clone actually undergoes. All
    * arithmetic is exact integer, so the DuckDB oracle reproduces the
    * fingerprint bit-for-bit from `hex(body)`.
    *
    * Sentinel -1 for non-WAV containers, malformed headers, or fewer
    * than 61 samples. */
  def audioPhash(b: Array[Byte]): Long = {
    if (b == null || b.length < 12 ||
        b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return -1L
    val off = graft.llm.MediaHeaders.bodyOffset(b)
    if (off < 0) return -1L
    // bound by the data chunk's DECLARED size, not end-of-payload: a
    // valid WAV may carry trailing LIST/INFO chunks after `data`, and
    // those bytes are metadata, not PCM (ADVICE r15)
    val n = math.min(b.length - off,
      graft.llm.MediaHeaders.wavDataLen(b, off)) / 2
    val f = Bits + 1
    if (n < f) return -1L
    val e = new Array[Long](f)
    var j = 0
    while (j < n) {
      val w = (j.toLong * f / n).toInt
      val v = (((b(off + 2 * j + 1) & 0xff) << 8)
        | (b(off + 2 * j) & 0xff)).toShort.toLong
      e(w) += v * v
      j += 1
    }
    var fp = 0L
    var i = 0
    while (i < Bits) { if (e(i + 1) > e(i)) fp |= (1L << i); i += 1 }
    fp
  }

  /** Column form: WAV payload → long audio fingerprint (-1 sentinel). */
  def audio_phash(payload: Column): Column =
    GraftSqlBridge.column(AudioPHash(GraftSqlBridge.expression(payload)))
}

/** Catalyst expression: binary container payload → 60-bit perceptual
  * gram-SimHash (-1 for malformed/too-short; null only for null
  * input). */
case class MediaPHash(child: Expression)
    extends UnaryKernel[Array[Byte]]("MediaHashKernel.payloadPhash") {
  override def dataType: DataType = LongType
  override protected def kernel(b: Array[Byte]): Any = MediaHashKernel.payloadPhash(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Catalyst expression: WAV container payload → 60-bit audio
  * energy-profile fingerprint (-1 for non-WAV/malformed/too-short;
  * null only for null input). */
case class AudioPHash(child: Expression)
    extends UnaryKernel[Array[Byte]]("MediaHashKernel.audioPhash") {
  override def dataType: DataType = LongType
  override protected def kernel(b: Array[Byte]): Any = MediaHashKernel.audioPhash(b)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
