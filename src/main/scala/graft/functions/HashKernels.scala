package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused MinHash signature kernel.
  *
  * Algorithms are the published classics: MinHash resemblance sketches
  * (Broder, "On the resemblance and containment of documents", 1997),
  * SimHash (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002), winnowing fingerprints (Schleimer, Wilkerson,
  * Aiken, "Winnowing: local algorithms for document fingerprinting",
  * SIGMOD 2003), and feature hashing (Weinberger et al., ICML 2009).
  *
  * The composed form (k nested `transform`/`array_min` lambdas, one
  * xxhash64 per (shingle, seed)) runs interpreted — higher-order
  * functions are outside whole-stage codegen — and took ~290 s for 50k
  * docs at sf0.1. This kernel makes one pass per shingle: a single
  * XXH64 over the bytes, then k universal-hash perturbations
  * `a_i·h + b_i` (odd multipliers — a bijection on Z/2^64, so min
  * uniformity holds), tracking mins in a primitive array. Same LSH
  * properties (identical shingle sets ⇒ identical signatures; similar
  * sets ⇒ bandwise collisions), ~100× less work. Codegen emits a
  * single static call to the shared kernel so eval and codegen paths
  * cannot diverge.
  */
object MinHashKernel {
  private final val GOLD = 0x9E3779B97F4A7C15L
  private final val MIX  = 0xC2B2AE3D27D4EB4FL

  def multiplier(i: Int): Long = GOLD * (2L * i + 1) | 1L
  def addend(i: Int): Long = MIX * i

  /** One pass over the shingle array → k-long minhash signature.
    * Null (not a MaxValue sentinel) for an empty shingle set — otherwise
    * every shingle-less doc would share one signature and collide in all
    * LSH bands, quadratically exploding false candidates. Matches
    * `shingleSignature`'s null-for-short-docs behavior. */
  def signature(shingles: ArrayData, k: Int): ArrayData = {
    if (shingles.numElements() == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    val n = shingles.numElements()
    while (j < n) {
      val s = shingles.getUTF8String(j)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      accumulate(h, mins, k)
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** Fully fused: raw text → word n-gram shingles → signature, no
    * intermediate arrays. Shingle dedup is skipped on purpose — repeated
    * shingles cannot change a minimum. Returns null when the document has
    * fewer than n tokens (no shingles). Hashes the identical "w1 w2 w3"
    * UTF-8 bytes as the array form, so signatures match `signature`
    * applied to `shingles()` output. */
  def shingleSignature(text: UTF8String, n: Int, k: Int): ArrayData = {
    val words = text.toString.split(' ').filter(_.nonEmpty)
    if (words.length < n) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(j))
      var m = 1
      while (m < n) { sb.append(' ').append(words(j + m)); m += 1 }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
      accumulate(h, mins, k)
      j += 1
    }
    new GenericArrayData(mins)
  }

  /** Fused 64-bit SimHash over whitespace tokens: per token one XXH64
    * (seed 42 — identical to Spark's xxhash64 builtin, so results match
    * the composed expression bit-for-bit), ±1 votes per bit, sign
    * pattern becomes the fingerprint. Empty docs hash to 0. */
  def simhash64(text: UTF8String): Long = {
    val words = text.toString.split(' ')
    val votes = new Array[Int](64)
    var j = 0
    while (j < words.length) {
      if (words(j).nonEmpty) {
        val bytes = words(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val h = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var r = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) r |= (1L << i); i += 1 }
    r
  }

  /** Hashing-trick TF embedding: each whitespace token increments the
    * dimension `hash(token) mod dim` (sign split on another hash bit to
    * reduce bias, as in feature hashing), then L2-normalize. Gives every
    * document a dense `array<float>` representation with cosine ≈ token
    * multiset similarity — the model-free vectorizer that lets text flow
    * into the ANN / embedding-dedup operators. Empty docs → zero vector. */
  def hashedTfVector(text: UTF8String, dim: Int): ArrayData = {
    val acc = new Array[Double](dim)
    val words = text.toString.split(' ')
    var j = 0
    while (j < words.length) {
      if (words(j).nonEmpty) {
        val bytes = words(j).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val h = XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
        val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
        acc(idx) += (if (((h >>> 62) & 1L) == 1L) 1.0 else -1.0)
      }
      j += 1
    }
    var n2 = 0.0
    var i = 0
    while (i < dim) { n2 += acc(i) * acc(i); i += 1 }
    val inv = if (n2 > 0) 1.0 / math.sqrt(n2) else 0.0
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = (acc(i) * inv).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  /** Distinct word n-gram shingles as an array<string> — the fused form
    * of the composed `array_distinct(transform(sequence…))` pipeline in
    * NearDupOps.shingles, which runs interpreted (~11 s for 5k docs at
    * sf0.1 vs <0.1 s here). Insertion-order distinct; set-equal to the
    * composed form (pinned in NearDupSpec), so Jaccard built from it is
    * oracle-identical. Empty array (not null) for short docs, mirroring
    * the composed guard. */
  def shingleArray(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(' ').filter(_.nonEmpty)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]
    var j = 0
    while (j <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(j))
      var m = 1
      while (m < n) { sb.append(' ').append(words(j + m)); m += 1 }
      seen.add(UTF8String.fromString(sb.toString))
      j += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** Signed hashed-TF over word n-gram shingles (feature hashing,
    * Weinberger et al. ICML 2009, applied to n-gram features): each
    * shingle's xxhash64 picks a dimension and a ±1 sign; the counts are
    * L2-normalized. Unlike unigram TF, n-gram features encode local word
    * order, so cosine tracks shingle-multiset Jaccard — the measure that
    * matters for near-dup detection — and vocabulary-dense corpora
    * (many docs sharing one word set) do not collapse into a handful of
    * saturated LSH buckets. Null for docs too short to shingle. */
  def shingleTfVector(text: UTF8String, n: Int, dim: Int): ArrayData = {
    val words = text.toString.split(' ').filter(_.nonEmpty)
    if (words.length < n) return null
    val acc = new Array[Double](dim)
    var j = 0
    while (j <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(j))
      var m = 1
      while (m < n) { sb.append(' ').append(words(j + m)); m += 1 }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
      val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
      acc(idx) += (if (((h >>> 62) & 1L) == 1L) 1.0 else -1.0)
      j += 1
    }
    var n2 = 0.0
    var i = 0
    while (i < dim) { n2 += acc(i) * acc(i); i += 1 }
    val inv = if (n2 > 0) 1.0 / math.sqrt(n2) else 0.0
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = (acc(i) * inv).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint (the MOSS scheme): Karp-Rabin rolling hash
    * over char n-grams, then the minimum hash of every w-hash window,
    * deduplicated. Guarantees any shared substring of length ≥ n+w−1
    * yields a shared fingerprint — robust to insertions that shift the
    * rest of the document, which fixed-stride chunk hashing is not.
    * Returns a sorted distinct array; null for docs shorter than n. */
  def winnowFingerprint(text: UTF8String, n: Int, w: Int): ArrayData = {
    val s = text.toString
    if (s.length < n) return null
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < n - 1) { pow *= B; i += 1 }
    val nHashes = s.length - n + 1
    val hashes = new Array[Long](nHashes)
    var h = 0L
    i = 0
    while (i < n) { h = h * B + s.charAt(i); i += 1 }
    hashes(0) = mix(h)
    i = 1
    while (i < nHashes) {
      h = (h - s.charAt(i - 1) * pow) * B + s.charAt(i + n - 1)
      hashes(i) = mix(h)
      i += 1
    }
    // SLIDING window (stride 1): each position's window picks its local
    // minimum, so selected minima are alignment-independent — a prefix
    // insertion shifts indices but the same local minima win. Fixed-
    // stride chunking (stride w) loses exactly this property.
    val sel = scala.collection.mutable.SortedSet[Long]()
    val lastStart = math.max(0, nHashes - w)
    var start = 0
    while (start <= lastStart) {
      val end = math.min(start + w, nHashes)
      var m = Long.MaxValue
      var j = start
      while (j < end) { if (hashes(j) < m) m = hashes(j); j += 1 }
      sel += m
      start += 1
    }
    new GenericArrayData(sel.toArray)
  }

  private def mix(z0: Long): Long = {
    var z = z0 * GOLD
    z ^= (z >>> 29)
    z * MIX ^ (z >>> 32)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 MD5 bytes of `s` (UTF-8), big-endian signed long — the
    * bit-identical JVM form of SQL `substr(md5(s), 1, 16)` read as a
    * 64-bit value, which is what makes the md5-keyed fingerprints below
    * reproducible in an ANSI engine. */
  private def md5First8(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var b = 0
    while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
    h
  }

  /** md5-keyed SimHash: identical vote/sign structure to [[simhash64]],
    * but each token's 64-bit key is its leading MD5 half instead of
    * xxhash64 — ~2× more hash work per token, bought back as a full
    * DuckDB oracle for q45 (`substr(md5(w),1,16)` reproduces the key
    * exactly; xxhash64 exists in no ANSI engine). Use [[simhash64]]
    * where cross-engine parity is not required. Empty docs hash to 0. */
  def simhashMd5(text: UTF8String): Long = {
    val words = text.toString.split(' ')
    val votes = new Array[Int](64)
    val md = md5Local.get()
    var j = 0
    while (j < words.length) {
      if (words(j).nonEmpty) {
        val h = md5First8(md, words(j))
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var r = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) r |= (1L << i); i += 1 }
    r
  }

  /** Start offset (in UTF-16 code units) of each code point of `s`,
    * with a sentinel end offset — grams indexed through this table are
    * CODE-POINT grams, matching ANSI `substr(text, i, n)`/`length`
    * (DuckDB counts code points) even for non-BMP text, where a raw
    * JVM `substring` would split surrogate pairs and break the claimed
    * exact md5-gram oracle parity. For BMP-only text this is the
    * identity table, so the fast common case costs one linear scan. */
  private def codePointStarts(s: String): Array[Int] = {
    val starts = new Array[Int](s.codePointCount(0, s.length) + 1)
    var cu = 0
    var cp = 0
    while (cu < s.length) {
      starts(cp) = cu
      cu += Character.charCount(s.codePointAt(cu))
      cp += 1
    }
    starts(cp) = s.length
    starts
  }

  /** md5-keyed winnowing: [[winnowFingerprint]]'s sliding-window-minimum
    * selection with the Karp-Rabin rolling hash replaced by per-gram
    * MD5 prefixes kept as fixed-width lowercase hex strings — for which
    * lexicographic order IS unsigned numeric order, so the window
    * minimum is engine-agnostic and the whole stream has an exact
    * `md5(substr(text, i, n))` DuckDB oracle (grams and the length
    * guard count CODE POINTS, via [[codePointStarts]], to match ANSI
    * substr/len on non-BMP text). O(len·n) hashing instead
    * of O(len) — the price of auditability; the Karp-Rabin form remains
    * the throughput path. Sorted distinct array; null below n chars. */
  def winnowFingerprintMd5(text: UTF8String, n: Int, w: Int): ArrayData = {
    // The selection runs on LONGS (optimization r17): the emitted value
    // is the 16-hex-char rendering of each selected gram's first 8 MD5
    // bytes, and fixed-width lowercase hex compares lexicographically
    // exactly as the 8 bytes compare as an UNSIGNED 64-bit integer —
    // so the window minima can be taken with Long.compareUnsigned and
    // only the few distinct SELECTED values are ever hex-rendered. The
    // first cut rendered a hex String per gram position (one String +
    // one StringBuilder per char of corpus text) and compared strings
    // in every window; grams also ran through substring+getBytes. Here
    // the text's own UTF-8 bytes are grammed in place (code-point byte
    // offsets — a UTF-8 continuation byte is (b & 0xC0) == 0x80 — keep
    // ANSI substr parity on non-BMP text) and the MD5 writes into one
    // reused 16-byte buffer. Output is bit-identical.
    val nb = text.numBytes
    val bytes = text.getBytes
    // byte offset of each code point start + sentinel end
    var cpLen = 0
    var i = 0
    while (i < nb) { if ((bytes(i) & 0xC0) != 0x80) cpLen += 1; i += 1 }
    if (cpLen < n) return null
    val off = new Array[Int](cpLen + 1)
    var cp = 0
    i = 0
    while (i < nb) {
      if ((bytes(i) & 0xC0) != 0x80) { off(cp) = i; cp += 1 }
      i += 1
    }
    off(cpLen) = nb
    val md = md5Local.get()
    val dig = new Array[Byte](16)
    val nHashes = cpLen - n + 1
    val hashes = new Array[Long](nHashes)
    i = 0
    while (i < nHashes) {
      md.reset()
      md.update(bytes, off(i), off(i + n) - off(i))
      md.digest(dig, 0, 16)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
      hashes(i) = h
      i += 1
    }
    val lastStart = math.max(0, nHashes - w)
    val mins = new Array[Long](lastStart + 1)
    var start = 0
    while (start <= lastStart) {
      val end = math.min(start + w, nHashes)
      var m = hashes(start)
      var j = start + 1
      while (j < end) {
        if (java.lang.Long.compareUnsigned(hashes(j), m) < 0) m = hashes(j)
        j += 1
      }
      mins(start) = m ^ Long.MinValue // sign-flip: signed sort == unsigned
      start += 1
    }
    java.util.Arrays.sort(mins)
    var distinct = 0
    i = 0
    while (i < mins.length) {
      if (i == 0 || mins(i) != mins(i - 1)) distinct += 1
      i += 1
    }
    val out = new Array[AnyRef](distinct)
    var o = 0
    i = 0
    while (i < mins.length) {
      if (i == 0 || mins(i) != mins(i - 1)) {
        val h = mins(i) ^ Long.MinValue
        val hex = new Array[Byte](16)
        var b = 0
        while (b < 16) {
          val v = ((h >>> ((15 - b) * 4)) & 0xf).toInt
          hex(b) = (if (v < 10) '0' + v else 'a' + v - 10).toByte
          b += 1
        }
        out(o) = UTF8String.fromBytes(hex)
        o += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Deterministic 1/16 sample of a document's char-k-gram MD5 digests
    * (those whose first hex nibble is 0), distinct + sorted lowercase
    * hex. MD5-of-substring is the one gram hash an ANSI-SQL oracle
    * (`md5(substr(text, i, k))`) computes bit-identically, which is
    * what makes exact substring-overlap (q85) fully hash-checkable —
    * unlike the Karp-Rabin winnowing stream (q54), which is
    * engine-specific. Null for docs shorter than k chars; the composed
    * `transform(sequence…md5(substr))` form runs interpreted and
    * materializes EVERY gram digest before filtering — this kernel
    * stays in codegen and allocates only for the 1/16 that survive. */
  def sampledGramDigests(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val starts = codePointStarts(s)
    val cpLen = starts.length - 1
    if (cpLen < k) return null
    val md = md5Local.get()
    val sel = scala.collection.mutable.SortedSet[String]()
    var i = 0
    val last = cpLen - k
    while (i <= last) {
      val d = md.digest(s.substring(starts(i), starts(i + k))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((d(0) & 0xF0) == 0) {
        val sb = new java.lang.StringBuilder(32)
        var j = 0
        while (j < 16) {
          val b = d(j) & 0xff
          sb.append(Character.forDigit(b >> 4, 16))
          sb.append(Character.forDigit(b & 0xf, 16))
          j += 1
        }
        sel += sb.toString
      }
      i += 1
    }
    new GenericArrayData(sel.toArray[Any](scala.reflect.ClassTag.Any)
      .map(x => UTF8String.fromString(x.asInstanceOf[String])))
  }

  /** Positional word-k-gram MD5 digests: element i is the 16-byte MD5
    * of the gram starting at token position i ("w_i … w_{i+k-1}" joined
    * by single spaces — the [[graft.functions.Tokenize]] rule), EVERY
    * occurrence kept in token order so `posexplode` recovers (pos, dg)
    * exactly. The fused form of the span family's composed
    * `posexplode(transform(sequence…, array_join(slice(tokens…))))
    * + md5(gram)` pipeline, which ran interpreted (higher-order
    * functions never enter whole-stage codegen) and shuffled 32-byte
    * hex strings; this kernel stays in codegen and emits 16-byte
    * binaries — digest grouping/joins are unchanged (MD5 is the same
    * injective-in-practice map; only the rendering moved from hex to
    * raw bytes). Empty array (not null) for docs with fewer than k
    * tokens, mirroring the composed `size(tks) >= k` guard. */
  def gramDigests(text: UTF8String, k: Int): ArrayData = {
    // Stay on raw UTF-8 bytes end to end: a String round-trip
    // (UTF-8 → UTF-16 toString/split, then getBytes back per gram)
    // measured SLOWER than the interpreted composed form it replaces —
    // the byte path is what makes the kernel a win. 0x20 never occurs
    // inside a UTF-8 multi-byte sequence, so byte scanning tokenizes
    // exactly like split(' ') + nonEmpty (maximal non-space runs).
    val n = text.numBytes
    val bytes = text.getBytes
    // token start/length within `bytes`
    var nTok = 0
    var i = 0
    val tokStart = new Array[Int](n / 2 + 1)
    val tokLen = new Array[Int](n / 2 + 1)
    while (i < n) {
      if (bytes(i) != 0x20) {
        val s = i
        while (i < n && bytes(i) != 0x20) i += 1
        tokStart(nTok) = s; tokLen(nTok) = i - s; nTok += 1
      } else i += 1
    }
    if (nTok < k) return new GenericArrayData(Array.empty[Any])
    // one normalized buffer: tokens joined by single spaces; each
    // k-gram is then a CONTIGUOUS slice — one MD5 update per gram,
    // zero per-gram allocation beyond the 16-byte digest itself
    var normLen = nTok - 1
    i = 0
    while (i < nTok) { normLen += tokLen(i); i += 1 }
    val norm = new Array[Byte](normLen)
    val off = new Array[Int](nTok)
    var p = 0
    i = 0
    while (i < nTok) {
      if (i > 0) { norm(p) = 0x20; p += 1 }
      off(i) = p
      System.arraycopy(bytes, tokStart(i), norm, p, tokLen(i))
      p += tokLen(i)
      i += 1
    }
    val md = md5Local.get()
    val out = new Array[AnyRef](nTok - k + 1)
    var j = 0
    while (j <= nTok - k) {
      val s = off(j)
      val e = off(j + k - 1) + tokLen(j + k - 1)
      md.update(norm, s, e - s)
      out(j) = md.digest()
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Non-overlapping `size`-token chunks of `text`, each rendered as
    * its tokens joined by single spaces (the [[graft.functions.Tokenize]]
    * rule; the last chunk may be shorter) — the fused form of the
    * paragraph family's composed `transform(sequence…,
    * array_join(slice(tokens…)))`, which runs interpreted. Same
    * byte-path as [[gramDigests]]: tokenize by byte scan, one
    * normalized buffer, each chunk a contiguous slice. Empty array for
    * token-less docs (mirrors the composed `size(toks) > 0` guard). */
  def tokenChunks(text: UTF8String, size: Int): ArrayData = {
    val nb = text.numBytes
    val bytes = text.getBytes
    var nTok = 0
    var i = 0
    val tokStart = new Array[Int](nb / 2 + 1)
    val tokLen = new Array[Int](nb / 2 + 1)
    while (i < nb) {
      if (bytes(i) != 0x20) {
        val s = i
        while (i < nb && bytes(i) != 0x20) i += 1
        tokStart(nTok) = s; tokLen(nTok) = i - s; nTok += 1
      } else i += 1
    }
    if (nTok == 0) return new GenericArrayData(Array.empty[Any])
    var normLen = nTok - 1
    i = 0
    while (i < nTok) { normLen += tokLen(i); i += 1 }
    val norm = new Array[Byte](normLen)
    val off = new Array[Int](nTok + 1)
    var p = 0
    i = 0
    while (i < nTok) {
      if (i > 0) { norm(p) = 0x20; p += 1 }
      off(i) = p
      System.arraycopy(bytes, tokStart(i), norm, p, tokLen(i))
      p += tokLen(i)
      i += 1
    }
    off(nTok) = normLen + 1 // virtual start of a token past the end
    val nChunks = (nTok + size - 1) / size
    val out = new Array[AnyRef](nChunks)
    var c = 0
    while (c < nChunks) {
      val s = off(c * size)
      val lastTok = math.min(c * size + size - 1, nTok - 1)
      val e = off(lastTok) + tokLen(lastTok)
      out(c) = UTF8String.fromBytes(java.util.Arrays.copyOfRange(norm, s, e))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Span surgery: tokens of `text` (the Tokenize rule) with every
    * token whose 0-based position falls inside any [s, e] run removed,
    * returned as (n_tokens, n_cut_tokens, cleaned_text) where
    * cleaned_text is the survivors joined by single spaces — the fused
    * form of the span family's per-row `filter`+`exists` lambda pair,
    * which evaluated an interpreted predicate per token × run. Runs
    * are disjoint (the caller merges them maximal) but arrive in
    * arbitrary collect_list order; one sort + a two-pointer walk makes
    * the cut O(T + R log R). */
  def spanSurgery(text: UTF8String, runs: ArrayData):
      org.apache.spark.sql.catalyst.InternalRow = {
    val nb = text.numBytes
    val bytes = text.getBytes
    var nTok = 0
    var i = 0
    val tokStart = new Array[Int](nb / 2 + 1)
    val tokLen = new Array[Int](nb / 2 + 1)
    while (i < nb) {
      if (bytes(i) != 0x20) {
        val s = i
        while (i < nb && bytes(i) != 0x20) i += 1
        tokStart(nTok) = s; tokLen(nTok) = i - s; nTok += 1
      } else i += 1
    }
    val nR = runs.numElements()
    val rs = new Array[Long](nR)
    val re = new Array[Long](nR)
    i = 0
    while (i < nR) {
      val r = runs.getStruct(i, 2)
      rs(i) = r.getLong(0); re(i) = r.getLong(1); i += 1
    }
    // sort runs by start (parallel insertion sort — R is per-doc small)
    i = 1
    while (i < nR) {
      val ks = rs(i); val ke = re(i)
      var j = i - 1
      while (j >= 0 && rs(j) > ks) { rs(j + 1) = rs(j); re(j + 1) = re(j); j -= 1 }
      rs(j + 1) = ks; re(j + 1) = ke
      i += 1
    }
    val out = new Array[Byte](nb + 1)
    var p = 0
    var cut = 0L
    var r = 0
    var t = 0
    while (t < nTok) {
      while (r < nR && re(r) < t) r += 1
      if (r < nR && rs(r) <= t && t <= re(r)) cut += 1
      else {
        if (p > 0) { out(p) = 0x20; p += 1 }
        System.arraycopy(bytes, tokStart(t), out, p, tokLen(t))
        p += tokLen(t)
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok.toLong, cut,
        UTF8String.fromBytes(java.util.Arrays.copyOfRange(out, 0, p))))
  }

  /** Join the `para` field of (para_idx, para) structs in ascending
    * para_idx order with single spaces — the fused form of the
    * paragraph-dedup tail's `array_join(transform(array_sort(
    * collect_list(...))))` cleaned-text rebuild, whose sort comparator
    * and field-pluck lambdas ran INTERPRETED per doc. para_idx is
    * unique within a doc, so the composed form's (para_idx, para)
    * struct order reduces to para_idx order; null elements (none occur
    * — collect_list skips them) would sort last and be dropped by
    * array_join, so they are skipped here too. */
  def sortedParaJoin(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val key = new Array[Int](n)
    val para = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, 2)
        key(m) = st.getInt(0)
        para(m) = st.getUTF8String(1)
        m += 1
      }
      i += 1
    }
    // insertion sort on para_idx (per-doc arrays are tens of entries)
    i = 1
    while (i < m) {
      val k = key(i); val p = para(i)
      var j = i - 1
      while (j >= 0 && key(j) > k) {
        key(j + 1) = key(j); para(j + 1) = para(j); j -= 1
      }
      key(j + 1) = k; para(j + 1) = p
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "),
      java.util.Arrays.copyOfRange(para, 0, m): _*)
  }

  /** The whitespace tokens of `text` (the Tokenize rule: split on
    * single spaces, drop empties) as an array of UTF8String views over
    * the row's byte array — the fused form of
    * `filter(split(c, " "), x => x =!= "")`, whose ArrayFilter lambda
    * ran INTERPRETED per element on every composed tokenize in the
    * catalog. */
  def tokenArray(text: UTF8String): ArrayData = {
    val nb = text.numBytes
    val bytes = text.getBytes
    var nTok = 0
    var i = 0
    val tokStart = new Array[Int](nb / 2 + 1)
    val tokLen = new Array[Int](nb / 2 + 1)
    while (i < nb) {
      if (bytes(i) != 0x20) {
        val s = i
        while (i < nb && bytes(i) != 0x20) i += 1
        tokStart(nTok) = s; tokLen(nTok) = i - s; nTok += 1
      } else i += 1
    }
    val out = new Array[Any](nTok)
    var t = 0
    while (t < nTok) {
      out(t) = UTF8String.fromBytes(bytes, tokStart(t), tokLen(t))
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Count whitespace tokens of `text` (the Tokenize rule) that equal
    * any of the fixed `words` — the fused form of
    * `size(filter(tokens(c), x => x.isin(words…)))`, whose ArrayFilter
    * lambda ran INTERPRETED per token (q31/q36/q102/classifier stop
    * counts). One byte pass, bytewise compares against the precomputed
    * word byte arrays, zero per-token allocation. */
  def tokenHits(text: UTF8String, words: Array[Array[Byte]]): Int = {
    val nb = text.numBytes
    val bytes = text.getBytes
    var hits = 0
    var i = 0
    while (i < nb) {
      if (bytes(i) != 0x20) {
        val s = i
        while (i < nb && bytes(i) != 0x20) i += 1
        val len = i - s
        var w = 0
        var matched = false
        while (w < words.length && !matched) {
          val wb = words(w)
          if (wb.length == len) {
            var j = 0
            while (j < len && bytes(s + j) == wb(j)) j += 1
            matched = j == len
          }
          w += 1
        }
        if (matched) hits += 1
      } else i += 1
    }
    hits
  }

  /** Adjacent-token pairs of `text` (the Tokenize rule) as
    * (w1, w2) structs in document order, duplicates preserved — the
    * fused form of the q89/q95 `explode(zip_with(slice(tokens…),
    * slice(tokens…)))` bigram emission, whose zip_with lambda ran
    * INTERPRETED per pair. One byte pass; each token is an immutable
    * UTF8String view over the row's byte array (no per-token copy). */
  def tokenBigrams(text: UTF8String): ArrayData = {
    val nb = text.numBytes
    val bytes = text.getBytes
    var nTok = 0
    var i = 0
    val tokStart = new Array[Int](nb / 2 + 1)
    val tokLen = new Array[Int](nb / 2 + 1)
    while (i < nb) {
      if (bytes(i) != 0x20) {
        val s = i
        while (i < nb && bytes(i) != 0x20) i += 1
        tokStart(nTok) = s; tokLen(nTok) = i - s; nTok += 1
      } else i += 1
    }
    val nPairs = math.max(nTok - 1, 0)
    val out = new Array[Any](nPairs)
    var t = 0
    while (t < nPairs) {
      out(t) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          UTF8String.fromBytes(bytes, tokStart(t), tokLen(t)),
          UTF8String.fromBytes(bytes, tokStart(t + 1), tokLen(t + 1))))
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Count sliding 3-byte windows of `text` whose packed key appears in
    * the sorted key array — every occurrence counts, matching
    * `len(list_filter(trigrams, t -> t IN set))` for ASCII profiles
    * (a 3-ASCII-byte window is exactly a 3-ASCII-char window; windows
    * touching multi-byte sequences can never match an ASCII key).
    * Operates on raw UTF-8 bytes: zero allocation per window, no
    * toString copy. */
  def trigramHits(text: UTF8String, sortedKeys: Array[Int]): Int = {
    val n = text.numBytes
    if (n < 3) return 0
    var hits = 0
    var i = 0
    val last = n - 3
    while (i <= last) {
      val key = ((text.getByte(i) & 0xff) << 16) |
        ((text.getByte(i + 1) & 0xff) << 8) | (text.getByte(i + 2) & 0xff)
      if (java.util.Arrays.binarySearch(sortedKeys, key) >= 0) hits += 1
      i += 1
    }
    hits
  }

  /** Pack an ASCII trigram into the binary-search key format. */
  def trigramKey(t: String): Int = {
    require(t.length == 3 && t.forall(_ < 128),
      s"trigram profile entries must be 3 ASCII chars, got '$t'")
    (t.charAt(0) << 16) | (t.charAt(1) << 8) | t.charAt(2)
  }

  /** Per-document repetition counters in one pass (the Gopher-family
    * repetition heuristics — Rae et al., "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", 2021, Appendix
    * A1: fraction of duplicated tokens / most frequent n-gram): token
    * count, distinct-token count, and the count of the most frequent
    * word bigram. Entirely per-row, no shuffle — the composed
    * alternative (posexplode + window lead + double groupBy) shuffles
    * every bigram of the corpus twice. The ratios the filters threshold
    * (distinct/total, top/total) are left to downstream exact integer
    * divisions, which both engines evaluate identically. */
  def repetitionStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val words = text.toString.split(' ').filter(_.nonEmpty)
    val n = words.length
    val distinct = new java.util.HashSet[String]()
    var i = 0
    while (i < n) { distinct.add(words(i)); i += 1 }
    var top = 0
    if (n >= 2) {
      val counts = new java.util.HashMap[String, Integer]()
      i = 0
      while (i < n - 1) {
        val bg = words(i) + " " + words(i + 1)
        val c: Int = counts.merge(bg, 1, (x, y) => x + y)
        if (c > top) top = c
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, distinct.size.toLong, top.toLong))
  }

  /** Character-distribution stats in one pass: char count, distinct
    * chars, and Shannon entropy in nats. The entropy sum runs in
    * ASCENDING char-code order so the floating-point accumulation is
    * reproducible and matches a DuckDB `list_sum` over a char-ordered
    * list term-for-term (float addition is order-sensitive; a hash
    * aggregation order would not be cross-engine stable). `0.0 - s`
    * rather than `-s` so a single-char doc yields +0.0, not -0.0
    * (the two hash differently downstream). The unit is the Unicode
    * CODE POINT (iterated via codePointAt, accumulated in ascending
    * code-point order), matching DuckDB's `length`/`string_split` —
    * UTF-16 code units would silently break oracle parity on any
    * non-BMP text (emoji, rare CJK), so the kernel does not depend on
    * the fixtures staying ASCII. */
  def charStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val sgl = text.toString
    val len = sgl.length
    if (len == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L, 0.0))
    // ASCII fast path (dense array IS ascending order); sorted-map
    // overflow for anything above 0x7F keeps code-point order without
    // a sort.
    val ascii = new Array[Long](128)
    var over: java.util.TreeMap[Integer, java.lang.Long] = null
    var n = 0L
    var i = 0
    while (i < len) {
      val c = sgl.codePointAt(i)
      if (c < 128) ascii(c) += 1
      else {
        if (over == null) over = new java.util.TreeMap[Integer, java.lang.Long]()
        over.merge(c, 1L, (a, b) => a + b)
      }
      n += 1
      i += Character.charCount(c)
    }
    var s = 0.0
    var distinct = 0L
    val nd = n.toDouble
    i = 0
    while (i < 128) {
      if (ascii(i) > 0) {
        val p = ascii(i) / nd
        s += p * math.log(p)
        distinct += 1
      }
      i += 1
    }
    if (over != null) {
      distinct += over.size()
      val it = over.values().iterator()
      while (it.hasNext) { val p = it.next().longValue() / nd; s += p * math.log(p) }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, distinct, 0.0 - s))
  }

  private def accumulate(h: Long, mins: Array[Long], k: Int): Unit = {
    var i = 0
    while (i < k) {
      val hi = h * multiplier(i) + addend(i)
      if (hi < mins(i)) mins(i) = hi
      i += 1
    }
  }
}

/** Catalyst expression: array<string> shingles → array<long> signature
  * (null for an empty shingle set). */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.signature(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.MinHashKernel.signature($c, $k);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text string → array<long> signature (nullable:
  * null when the document is too short to shingle). */
case class ShingleMinHash(child: Expression, n: Int, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.shingleSignature(input.asInstanceOf[UTF8String], n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.MinHashKernel.shingleSignature($c, $n, $k);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)
    code
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text string → 64-bit simhash fingerprint. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.simhash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → md5-keyed 64-bit simhash (oracle-safe). */
case class SimHashMd5(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.simhashMd5(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.simhashMd5($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → sorted distinct md5-keyed winnowing
  * fingerprints as 16-hex-char strings (null below n chars). */
case class WinnowFingerprintMd5(child: Expression, n: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.winnowFingerprintMd5(input.asInstanceOf[UTF8String], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.MinHashKernel.winnowFingerprintMd5($c, $n, $w);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → array<string> distinct word n-grams. */
case class ShingleArray(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.shingleArray(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.shingleArray($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → array<binary> positional word-k-gram MD5
  * digests (index = token start position; empty for short docs). */
case class GramDigests(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.gramDigests(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.gramDigests($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: (text, runs array<struct<s,e>>) →
  * struct(n_tokens, n_cut_tokens, cleaned_text) span surgery. */
case class SpanSurgery(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_cut_tokens", LongType, nullable = false),
    StructField("cleaned_text", StringType, nullable = false)))

  override def nullSafeEval(text: Any, runs: Any): Any =
    MinHashKernel.spanSurgery(
      text.asInstanceOf[UTF8String], runs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, r) =>
      s"graft.functions.MinHashKernel.spanSurgery($t, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Catalyst expression: text → array<string> non-overlapping
  * `size`-token chunks (tokens joined by single spaces; empty for
  * token-less docs). */
case class TokenChunks(child: Expression, size: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.tokenChunks(input.asInstanceOf[UTF8String], size)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.tokenChunks($c, $size)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → L2-normalized array<float> embedding over
  * word n-gram features (nullable: null when too short to shingle). */
case class ShingleTfVector(child: Expression, n: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.shingleTfVector(input.asInstanceOf[UTF8String], n, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.MinHashKernel.shingleTfVector($c, $n, $dim);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → L2-normalized array<float> embedding. */
case class HashedTfVector(child: Expression, dim: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.hashedTfVector(input.asInstanceOf[UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.hashedTfVector($c, $dim)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashKernels {
  def minhash_signature(shingles: Column, k: Int): Column =
    GraftSqlBridge.column(MinHashSignature(GraftSqlBridge.expression(shingles), k))

  def shingle_minhash(text: Column, n: Int, k: Int): Column =
    GraftSqlBridge.column(ShingleMinHash(GraftSqlBridge.expression(text), n, k))

  def simhash64(text: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(text)))

  def simhash_md5(text: Column): Column =
    GraftSqlBridge.column(SimHashMd5(GraftSqlBridge.expression(text)))

  def winnow_fingerprint_md5(text: Column, n: Int, w: Int): Column =
    GraftSqlBridge.column(WinnowFingerprintMd5(GraftSqlBridge.expression(text), n, w))

  def hashed_tf_vector(text: Column, dim: Int): Column =
    GraftSqlBridge.column(HashedTfVector(GraftSqlBridge.expression(text), dim))

  def shingle_tf_vector(text: Column, n: Int, dim: Int): Column =
    GraftSqlBridge.column(ShingleTfVector(GraftSqlBridge.expression(text), n, dim))

  def shingle_array(text: Column, n: Int): Column =
    GraftSqlBridge.column(ShingleArray(GraftSqlBridge.expression(text), n))

  def winnow_fingerprint(text: Column, n: Int, w: Int): Column =
    GraftSqlBridge.column(WinnowFingerprint(GraftSqlBridge.expression(text), n, w))

  def span_surgery(text: Column, runs: Column): Column =
    GraftSqlBridge.column(SpanSurgery(
      GraftSqlBridge.expression(text), GraftSqlBridge.expression(runs)))

  def token_chunks(text: Column, size: Int): Column =
    GraftSqlBridge.column(TokenChunks(GraftSqlBridge.expression(text), size))

  def gram_digests(text: Column, k: Int): Column =
    GraftSqlBridge.column(GramDigests(GraftSqlBridge.expression(text), k))

  def sampled_gram_digests(text: Column, k: Int): Column =
    GraftSqlBridge.column(SampledGramDigests(GraftSqlBridge.expression(text), k))

  def trigram_hits(text: Column, trigrams: Seq[String]): Column =
    GraftSqlBridge.column(TrigramHits(GraftSqlBridge.expression(text), trigrams))

  def repetition_stats(text: Column): Column =
    GraftSqlBridge.column(RepetitionStats(GraftSqlBridge.expression(text)))

  def char_stats(text: Column): Column =
    GraftSqlBridge.column(CharStats(GraftSqlBridge.expression(text)))

  def sorted_para_join(arr: Column): Column =
    GraftSqlBridge.column(SortedParaJoin(GraftSqlBridge.expression(arr)))

  def token_bigrams(text: Column): Column =
    GraftSqlBridge.column(TokenBigrams(GraftSqlBridge.expression(text)))

  def token_array(text: Column): Column =
    GraftSqlBridge.column(TokenArray(GraftSqlBridge.expression(text)))

  /** Count of whitespace tokens (the Tokenize rule) equal to any of
    * `words`. */
  def token_hits(text: Column, words: Seq[String]): Column =
    GraftSqlBridge.column(TokenHits(GraftSqlBridge.expression(text), words))
}

/** Catalyst expression: count of whitespace tokens equal to any of the
  * fixed word list, one codegen'd byte pass per row. */
case class TokenHits(child: Expression, words: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  @transient private lazy val wordBytes: Array[Array[Byte]] =
    words.map(_.getBytes("UTF-8")).toArray

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.tokenHits(input.asInstanceOf[UTF8String], wordBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wordsRef = ctx.addReferenceObj("tokenHitWords", wordBytes, "byte[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.tokenHits($c, $wordsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → array<string> whitespace tokens (the
  * Tokenize rule), one codegen'd byte pass per row. */
case class TokenArray(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.tokenArray(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.tokenArray($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → array<struct<w1,w2>> adjacent-token
  * pairs (document order, duplicates preserved; empty below 2 tokens). */
case class TokenBigrams(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.tokenBigrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.tokenBigrams($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: array<struct<para_idx:int, para:string>> →
  * the para fields joined by single spaces in para_idx order (the
  * paragraph-dedup cleaned-text rebuild, one codegen'd pass per doc). */
case class SortedParaJoin(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.sortedParaJoin(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.sortedParaJoin($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → struct(n_chars, n_distinct_chars,
  * entropy_nats) character-distribution stats, one pass per row. */
case class CharStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct_chars", LongType, nullable = false),
    StructField("entropy_nats", DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.charStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.charStats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → struct(n_tokens, n_distinct,
  * top_bigram_n) repetition counters, one pass per row. */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_bigram_n", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.repetitionStats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.repetitionStats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: count of 3-char windows present in a fixed
  * ASCII trigram set (the n-gram language-ID evidence counter). Keys
  * are packed ints in a sorted array shared across rows — the kernel
  * probes by binary search with zero per-window allocation. */
case class TrigramHits(child: Expression, trigrams: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  @transient private lazy val sortedKeys: Array[Int] =
    trigrams.map(MinHashKernel.trigramKey).sorted.toArray

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.trigramHits(input.asInstanceOf[UTF8String], sortedKeys)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keysRef = ctx.addReferenceObj("trigramKeys", sortedKeys, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.trigramHits($c, $keysRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → sorted distinct MD5 hex digests of the
  * deterministic 1/16 char-k-gram sample (null below k chars). */
case class SampledGramDigests(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.sampledGramDigests(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.MinHashKernel.sampledGramDigests($c, $k);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst expression: text → sorted distinct winnowing fingerprints
  * (null for docs shorter than the n-gram size). */
case class WinnowFingerprint(child: Expression, n: Int, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.winnowFingerprint(input.asInstanceOf[UTF8String], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.MinHashKernel.winnowFingerprint($c, $n, $w);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
