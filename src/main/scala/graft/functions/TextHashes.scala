package graft.functions

import java.util.Arrays

/**
 * Tight JVM kernels for shingling and MinHash. Catalyst's higher-order
 * functions (transform/aggregate) evaluate interpreted per element, so a
 * 64-permutation MinHash over ~300 shingles costs ~20k boxed lambda calls
 * per row; these kernels do the same work in one flat loop per row.
 */
object TextHashes {

  /** Overlapping n-char grams of the RAW text as strings (no
    * normalization — the caller decides), in one pass over the bytes: the
    * char start offsets are stepped through once with
    * `UTF8String.numBytesForFirstByte` (the step `substring` and `numChars`
    * use, so surrogate pairs never split and invalid bytes count as
    * `numChars` counts them) and each gram is sliced from two of them. A
    * truncated sequence at the end is cut at the last byte. Static and
    * Java-callable for [[GraftFunctions.CharGramsExpr]]'s generated code. */
  def charGrams(s: org.apache.spark.unsafe.types.UTF8String, n: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val chars = s.numChars()
    val m = chars - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val arr = new Array[Any](m)
    if (n <= 0) {
      Arrays.fill(arr.asInstanceOf[Array[AnyRef]], UTF8String.EMPTY_UTF8)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
    val bytes = s.getBytes
    // starts(c): byte offset of char c; starts(chars): the end
    val starts = new Array[Int](chars + 1)
    var i = 0
    var c = 0
    while (c < chars) {
      starts(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    starts(chars) = math.min(i, bytes.length)
    c = 0
    while (c < m) {
      arr(c) = UTF8String.fromBytes(Arrays.copyOfRange(bytes, starts(c), starts(c + n)))
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** Lowercase, collapse whitespace runs to single spaces, trim. */
  def normalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) {
        if (sb.length() > 0) pendingSpace = true
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(Character.toLowerCase(c))
      }
      i += 1
    }
    sb.toString
  }

  /** 64-bit hash of chars [from, from+n) — FNV-1a over UTF-16 code units.
    * Deterministic, seedable, no allocation. */
  private def hashWindow(s: String, from: Int, n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    val end = from + n
    while (i < end) {
      val c = s.charAt(i)
      h ^= (c & 0xFF); h *= 0x100000001b3L
      h ^= (c >>> 8); h *= 0x100000001b3L
      i += 1
    }
    // final avalanche (xorshift-multiply) to spread FNV's weak low bits
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  /** Distinct, sorted hashes of all n-char shingles of normalize(text).
    * Sorted so set intersection is a linear merge. */
  def shingleHashesSorted(text: String, n: Int): Array[Long] = {
    val s = normalize(text)
    val count = s.length - n + 1
    if (count <= 0) return Array.emptyLongArray
    val hs = new Array[Long](count)
    var i = 0
    while (i < count) { hs(i) = hashWindow(s, i, n); i += 1 }
    Arrays.sort(hs)
    // in-place dedup of the sorted array
    var w = 1
    i = 1
    while (i < count) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    if (w == count) hs else Arrays.copyOf(hs, w)
  }

  private val Prime = 2147483647L // 2^31 - 1: a*x+b stays inside a long

  /** Exact `v mod (2^31-1)` by Mersenne shift-fold — bit-identical to
    * `v % Prime` for 0 <= v < 2^62 but with no hardware division, which
    * matters because the MinHash kernel runs numHashes × shingles of these
    * per row (~20k divs/row otherwise, the single hottest op in the dedup
    * family's scan stage). Two folds bring v under 2^31 + 1; one
    * conditional subtract finishes. */
  @inline private def modPrime(v: Long): Long = {
    var r = (v & Prime) + (v >>> 31)
    r = (r & Prime) + (r >>> 31)
    if (r >= Prime) r - Prime else r
  }

  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()

  /** Deterministic (a, b) coefficient pairs in the mod-p space — memoized,
    * the kernel runs once per row and must not regenerate them. */
  def coefficients(numHashes: Int, seed: Long): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent((numHashes, seed), { case (n, s) => generate(n, s) })

  private def generate(numHashes: Int, seed: Long): (Array[Long], Array[Long]) = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      as(i) = java.lang.Math.floorMod(next(), Prime - 1) + 1
      bs(i) = java.lang.Math.floorMod(next(), Prime)
      i += 1
    }
    (as, bs)
  }

  /**
   * MinHash signature: one pass over the shingle windows updating all
   * numHashes minima. null (meaning: no shingles) for too-short text, so
   * callers can filter rather than index empty signatures.
   */
  def minHashSig(text: String, shingleN: Int, numHashes: Int, seed: Long): Array[Long] = {
    val s = normalize(text)
    val count = s.length - shingleN + 1
    if (count <= 0) return null
    val (as, bs) = TextHashes.coefficients(numHashes, seed)
    val mins = new Array[Long](numHashes)
    Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < count) {
      val x = java.lang.Math.floorMod(hashWindow(s, i, shingleN), Prime)
      var j = 0
      while (j < numHashes) {
        // a <= p-1, x <= p-1, b <= p-1 → a*x+b < 2^62: modPrime stays exact
        val v = modPrime(as(j) * x + bs(j))
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    mins
  }

  /**
   * 64-bit SimHash: whitespace tokens of the normalized text, each distinct
   * token hashed once; every hash bit votes ±1 on its output bit, sign wins.
   * One pass, no explode/shuffle. Returns 0 for token-less text.
   */
  def simHash64(text: String): Long = {
    val s = normalize(text)
    if (s.isEmpty) return 0L
    val weights = new Array[Int](64)
    val seen = new java.util.HashSet[Long]()
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (i > start) {
          val h = hashWindow(s, start, i - start)
          if (seen.add(h)) {
            var b = 0
            while (b < 64) {
              if (((h >>> b) & 1L) == 1L) weights(b) += 1 else weights(b) -= 1
              b += 1
            }
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (weights(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** splitmix64 finalizer — decorrelates the high word's votes from the
    * low word's so the 128 SimHash bits are 128 distinct coin flips. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /**
   * 128-bit SimHash as two longs `[w0, w1]` over distinct char n-gram
   * features: each gram contributes `(h, mix64(h))` and every bit votes ±1,
   * sign wins. Char grams, NOT the unigram tokens of [[simHash64]], on
   * purpose: over a small shared vocabulary most documents contain nearly
   * every distinct token, so token-voted hashes collapse onto a handful of
   * values and any banding scheme degenerates to all-pairs. Char-gram
   * feature sets differ wherever the texts differ (they are the same
   * feature space as the n-gram-Jaccard ground truth), measured here:
   * unrelated docs at Hamming 33-54 of 128, near-dups (gram-Jaccard>=0.9)
   * at <=14 — populations a 32-bit band key separates cleanly.
   */
  def simHash128(text: String, gramN: Int = 4): Array[Long] = {
    val s = normalize(text)
    val count = s.length - gramN + 1
    if (count <= 0) return new Array[Long](2)
    // 16-bit ones-count lanes hold up to 65535 grams; anything bigger
    // (normalized text past ~64 KB) takes the plain per-bit loop
    if (count < 60000) simHash128Packed(s, gramN, count)
    else simHash128Loop(s, gramN, count)
  }

  /** For nibble value 0..15: its 4 bits spread into 4 16-bit lanes. */
  private val NibbleSpread: Array[Long] = Array.tabulate(16) { nib =>
    ((nib & 1).toLong) | ((nib >> 1) & 1).toLong << 16 |
      ((nib >> 2) & 1).toLong << 32 | ((nib >> 3) & 1).toLong << 48
  }

  /** Packed-counter kernel: instead of 128 per-bit votes per gram, add 32
    * nibble-indexed table entries, each carrying 4 ones-counters in 16-bit
    * lanes (lanes can't overflow below 65536 grams, and ones-counts are
    * non-negative so no cross-lane borrow exists). sign(weight) comes out
    * as `2*ones > grams`. ~4x fewer kernel ops per gram than the loop —
    * this is the per-row scan cost at corpus scale. Bit-identical to
    * [[simHash128Loop]] (suite-asserted). */
  private def simHash128Packed(s: String, gramN: Int, count: Int): Array[Long] = {
    val ones = new Array[Long](32)
    val seen = new java.util.HashSet[Long]()
    var grams = 0
    var i = 0
    while (i < count) {
      val h = hashWindow(s, i, gramN)
      if (seen.add(h)) {
        grams += 1
        val h2 = mix64(h)
        var n = 0
        while (n < 16) {
          ones(n) += NibbleSpread(((h >>> (n * 4)) & 15L).toInt)
          ones(16 + n) += NibbleSpread(((h2 >>> (n * 4)) & 15L).toInt)
          n += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](2)
    var b = 0
    while (b < 128) {
      val lane = (ones(b >>> 2) >>> ((b & 3) * 16)) & 0xffffL
      if (2 * lane > grams) out(b >>> 6) |= (1L << (b & 63))
      b += 1
    }
    out
  }

  /** Plain per-bit voting loop — the reference semantics of the packed
    * kernel and the fallback for huge documents. */
  private[functions] def simHash128Loop(s: String, gramN: Int, count: Int): Array[Long] = {
    val out = new Array[Long](2)
    val weights = new Array[Int](128)
    val seen = new java.util.HashSet[Long]()
    var i = 0
    while (i < count) {
      val h = hashWindow(s, i, gramN)
      if (seen.add(h)) {
        val h2 = mix64(h)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) weights(b) += 1 else weights(b) -= 1
          if (((h2 >>> b) & 1L) == 1L) weights(64 + b) += 1 else weights(64 + b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var b = 0
    while (b < 128) {
      if (weights(b) > 0) out(b >>> 6) |= (1L << (b & 63))
      b += 1
    }
    out
  }

  /** Test hook: run the loop kernel on raw text (normalize included). */
  private[functions] def simHash128ViaLoop(text: String, gramN: Int = 4): Array[Long] = {
    val s = normalize(text)
    val count = s.length - gramN + 1
    if (count <= 0) new Array[Long](2) else simHash128Loop(s, gramN, count)
  }

  /**
   * Banding keys for a 128-bit SimHash: `rotations` layouts (r = 0..rot-1),
   * each of 4 contiguous 32-bit bands, layout r offset by r*32/rotations
   * bits around the 128-bit ring (offsets spread evenly in [0,32), so every
   * layout's band boundaries differ — offset 32 would reproduce layout 0's
   * bit ranges shifted by one band). Key = globalBandId << 32 | bandBits,
   * so one long equi-join column covers band identity and content. One
   * error-free band catches a pair; more rotations = more catch chances
   * (the multi-probe recall knob) at linear cost in candidate volume.
   * 32-bit content per key is the scale choice: measured on the documents
   * corpus, 16-bit bands admit ~3% of ALL pairs as candidates (a constant
   * fraction — still quadratic growth, 99x across a 10x corpus), while
   * 32-bit bands admit ~5e-5 of pairs (11.7x across the same 10x — linear).
   */
  def simHashBandKeys128(w0: Long, w1: Long, rotations: Int): Array[Long] = {
    require(rotations >= 1 && rotations <= 32, s"rotations out of range: $rotations")
    val out = new Array[Long](rotations * 4)
    var k = 0
    while (k < out.length) {
      val lo = ((k % 4) * 32 + (k / 4) * 32 / rotations) % 128
      var v = 0L
      var i = 0
      while (i < 32) {
        val bit = (lo + i) % 128
        if ((((if (bit < 64) w0 else w1) >>> (bit & 63)) & 1L) == 1L) v |= (1L << i)
        i += 1
      }
      out(k) = (k.toLong << 32) | v
      k += 1
    }
    out
  }

  /** Fraction of equal components between two equal-length signatures —
    * the MinHash Jaccard estimate. Throws on length mismatch: comparing
    * signatures from different numHashes configurations would produce a
    * plausible-looking but meaningless estimate. */
  def sigEqualFraction(a: Array[Long], b: Array[Long]): Double = {
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"signature length mismatch: ${a.length} vs ${b.length}")
    var i = 0; var eq = 0
    val n = a.length
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    if (n == 0) 0.0 else eq.toDouble / n
  }

  /** Adjacent element pairs of a token array as struct rows — the fused
    * one-loop form of `transform(sequence(1, size(t)-1), i ->
    * struct(element_at(t, i), element_at(t, i+1)))`, whose interpreted
    * per-window lambda (boxed sequence ints, two element_at calls, a
    * struct allocation through the lambda variable machinery) dominated
    * the bigram census scans. Element REFERENCES are carried, exactly as
    * element_at does — no byte copies. n < 2 yields the empty array (the
    * callers' `size >= 2` filter already excludes it; `sequence(1, 0)`
    * would DESCEND, see bpePairCounts). Static and Java-callable for
    * [[GraftFunctions.AdjacentPairsExpr]]'s generated code. */
  def adjacentPairs(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = arr.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val out = new Array[Any](n - 1)
    var prev = if (arr.isNullAt(0)) null else arr.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      out(i - 1) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** |a ∩ b| for two sorted long arrays — linear merge, no allocation. */
  def sortedIntersectSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var common = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { common += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    common
  }

  /** Unsigned lexicographic order over md5 digests — identical to comparing
    * their lowercase-hex encodings as strings, because each byte maps to two
    * hex chars monotonically. Comparing raw 16-byte digests lets the sliding
    * window and the distinct-set work without ever materializing hex. */
  private val digestOrder: java.util.Comparator[Array[Byte]] =
    new java.util.Comparator[Array[Byte]] {
      override def compare(a: Array[Byte], b: Array[Byte]): Int = {
        var i = 0
        while (i < a.length && i < b.length) {
          val d = (a(i) & 0xFF) - (b(i) & 0xFF)
          if (d != 0) return d
          i += 1
        }
        a.length - b.length
      }
    }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def toHexUtf8(d: Array[Byte]): org.apache.spark.unsafe.types.UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xF).toByte
      out(2 * i + 1) = hexDigits(d(i) & 0xF).toByte
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }

  /**
   * Winnowing fingerprint selection (Schleimer et al. 2003) in ONE flat
   * pass over the already-normalized UTF-8 bytes: md5 each overlapping
   * `k`-char gram (char = UTF-8 sequence, matching Spark's `length`/
   * `substring` code-point semantics), slide a `w`-gram window keeping each
   * window's minimum digest via a monotonic deque (O(n) total, vs the
   * O(n·w) slice-and-array_min formulation whose per-window array
   * allocations dominated the previous higher-order-expression version),
   * and return the distinct selected fingerprints as SORTED lowercase-hex
   * strings. One reused MessageDigest per row, raw-digest comparisons
   * throughout, hex materialized only for the ~2/(w+1)·distinct survivors.
   *
   * Semantics are pinned to [[graft.operators.TextAnalysis.winnowFingerprints]]'s
   * documented contract (and its DuckDB oracle replay): n_grams = 0 → empty;
   * 0 < n_grams < w → the single all-grams window; ties collapse under the
   * distinct-set semantics.
   */
  def winnowFpsHex(utf8: Array[Byte], k: Int, w: Int)
      : Array[org.apache.spark.unsafe.types.UTF8String] = {
    val n = utf8.length
    // char start offsets: a UTF-8 leading byte is any byte not 10xxxxxx
    val starts = new Array[Int](n + 1)
    var nChars = 0
    var i = 0
    while (i < n) {
      if ((utf8(i) & 0xC0) != 0x80) { starts(nChars) = i; nChars += 1 }
      i += 1
    }
    starts(nChars) = n
    val nGrams = nChars - k + 1
    if (nGrams <= 0) return Array.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val digests = new Array[Array[Byte]](nGrams)
    var g = 0
    while (g < nGrams) {
      md.update(utf8, starts(g), starts(g + k) - starts(g))
      digests(g) = md.digest() // digest() also resets for the next gram
      g += 1
    }
    val selected = new java.util.TreeSet[Array[Byte]](digestOrder)
    if (nGrams < w) {
      var m = digests(0)
      var j = 1
      while (j < nGrams) {
        if (digestOrder.compare(digests(j), m) < 0) m = digests(j)
        j += 1
      }
      selected.add(m)
    } else {
      // deque of candidate indices, digests strictly increasing head→tail
      val deque = new Array[Int](nGrams)
      var head = 0
      var tail = 0 // window is deque[head, tail)
      var j = 0
      while (j < nGrams) {
        while (tail > head &&
            digestOrder.compare(digests(deque(tail - 1)), digests(j)) >= 0) tail -= 1
        deque(tail) = j
        tail += 1
        if (deque(head) <= j - w) head += 1
        if (j >= w - 1) selected.add(digests(deque(head)))
        j += 1
      }
    }
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](selected.size)
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) { out(o) = toHexUtf8(it.next()); o += 1 }
    out
  }

  /**
   * Distinct md5 hex digests of the sliding word `n`-grams of `text` in
   * first-occurrence order — the fused one-loop form of
   * `array_distinct(transform(sequence(1, size(w)-n+1), i =>
   * md5(array_join(slice(w, i, n), " "))))` over `w = split(text, " ")`,
   * whose interpreted per-window lambdas + string materialization dominated
   * the containment gram explode. Split semantics match Spark's
   * `split(str, " ")` (limit -1: trailing empty words kept); each digest is
   * fed word bytes + separator directly, so no gram string is ever built.
   */
  def wordGramMd5s(text: String, n: Int): Array[org.apache.spark.unsafe.types.UTF8String] = {
    val words = text.split(" ", -1)
    if (words.length < n)
      return Array.empty[org.apache.spark.unsafe.types.UTF8String]
    val wb = new Array[Array[Byte]](words.length)
    var i = 0
    while (i < words.length) {
      wb(i) = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8); i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val space = ' '.toByte
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    i = 0
    while (i <= words.length - n) {
      md.reset()
      var j = i
      while (j < i + n) {
        md.update(wb(j))
        if (j < i + n - 1) md.update(space)
        j += 1
      }
      seen.add(toHexUtf8(md.digest()))
      i += 1
    }
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    out
  }
}
