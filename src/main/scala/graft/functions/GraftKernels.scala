package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static scalar kernels invoked from generated code (whole-stage codegen
  * emits a single static call per row — no virtual dispatch, no boxing of
  * the string arguments).
  */
object GraftKernels {

  /** Jaro similarity. Semantics pinned to the public Jaro definition as
    * implemented by DuckDB/RapidFuzz (so our DuckDB oracle agrees to the
    * last double): either side empty -> 0.0; match window =
    * max(len)/2 - 1 (floor, min 0); transpositions counted over matched
    * sequences; (m/l1 + m/l2 + (m-t)/m) / 3 with t = half the out-of-order
    * count. Replaces the reference's learned classifier distance as one of
    * the scoring features (SURVEY.md par.2.9 M2).
    */
  def jaro(s1: String, s2: String): Double = {
    val len1 = s1.length
    val len2 = s2.length
    if (len1 == 0 || len2 == 0) return 0.0
    if (len1 == 1 && len2 == 1) return if (s1.charAt(0) == s2.charAt(0)) 1.0 else 0.0
    val window = math.max(math.max(len1, len2) / 2 - 1, 0)
    val matched1 = new Array[Boolean](len1)
    val matched2 = new Array[Boolean](len2)
    var m = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - window)
      val hi = math.min(len2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched2(j) && s1.charAt(i) == s2.charAt(j)) {
          matched1(i) = true
          matched2(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars of s1 vs matched chars of s2, in order
    var transpositions = 0
    var j = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(j)) j += 1
        if (s1.charAt(i) != s2.charAt(j)) transpositions += 1
        j += 1
      }
      i += 1
    }
    // DuckDB/RapidFuzz floor the out-of-order count: t = raw/2 (integer
    // division) — verified vs duckdb on 'abcdef'/'bcadef' (raw=3 -> t=1).
    val t = transpositions / 2
    val md = m.toDouble
    (md / len1 + md / len2 + (md - t) / md) / 3.0
  }

  /** Jaro-Winkler: prefix boost (scale 0.1, prefix capped at 4) applied
    * only when jaro > 0.7 — matches DuckDB's jaro_winkler_similarity
    * (verified empirically against duckdb 'crate'/'trace',
    * 'aaxxxxxx'/'aayyyyyy': no boost at jaro <= 0.7).
    */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) return j
    var prefix = 0
    val max = math.min(4, math.min(s1.length, s2.length))
    while (prefix < max && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  def jaroWinkler(s1: UTF8String, s2: UTF8String): Double = {
    val b1 = s1.getBytes
    val b2 = s2.getBytes
    if (allAscii(b1) && allAscii(b2)) jaroWinklerBytes(b1, b2)
    else jaroWinkler(s1.toString, s2.toString)
  }

  private def allAscii(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) { if (b(i) < 0) return false; i += 1 }
    true
  }

  /** ASCII fast path: identical algorithm over raw bytes (1 byte = 1 char),
    * no String materialization in the per-pair hot loop.
    */
  private def jaroWinklerBytes(s1: Array[Byte], s2: Array[Byte]): Double = {
    val len1 = s1.length
    val len2 = s2.length
    if (len1 == 0 || len2 == 0) return 0.0
    if (len1 == 1 && len2 == 1) return if (s1(0) == s2(0)) 1.0 else 0.0
    val window = math.max(math.max(len1, len2) / 2 - 1, 0)
    val matched1 = new Array[Boolean](len1)
    val matched2 = new Array[Boolean](len2)
    var m = 0
    var i = 0
    while (i < len1) {
      val lo = math.max(0, i - window)
      val hi = math.min(len2 - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matched2(j) && s1(i) == s2(j)) {
          matched1(i) = true
          matched2(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var transpositions = 0
    var j = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(j)) j += 1
        if (s1(i) != s2(j)) transpositions += 1
        j += 1
      }
      i += 1
    }
    val t = transpositions / 2
    val md = m.toDouble
    val jaro = (md / len1 + md / len2 + (md - t) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val max = math.min(4, math.min(len1, len2))
    while (prefix < max && s1(prefix) == s2(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  /** Char tokenizer (reference: idrt/data.py:216-242): normalized text ->
    * exactly `maxLength` token ids, right-filled with the PAD token.
    * Out-of-vocabulary chars map to -1 (callers filter them out with the
    * validity gate first).
    */
  def tokenize(s: UTF8String, maxLength: Int): ArrayData = {
    val str = s.toString
    val out = new Array[Int](maxLength)
    val n = math.min(str.length, maxLength)
    var i = 0
    while (i < n) {
      val c = str.charAt(i).toInt
      out(i) = if (c < 128) Normalize.TokenOf(c) else -1
      i += 1
    }
    i = n
    while (i < maxLength) { out(i) = Normalize.PadToken; i += 1 }
    new GenericArrayData(out)
  }

  /** Cosine similarity over two float vectors, accumulated in double.
    * Replaces the reference's embedding-space comparison
    * (idrt/cosine_metric.py:9-44). Returns 0.0 if either norm is 0.
    */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Euclidean (L2) distance over two float vectors
    * (reference: idrt/contrastive_metric.py:10-43).
    */
  def l2F(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** Annoy angular distance -> cosine similarity: (2 - d^2) / 2
    * (reference: idrt/algorithm/run_search.py:159-161).
    */
  def angularToCosine(d: Double): Double = (2.0 - d * d) / 2.0

  /** 64-bit SimHash over whitespace words: sign-aggregate each word's
    * xxhash-style mix. Deterministic (no seed state).
    */
  def simhash64(s: UTF8String): Long = {
    val str = s.toString
    val counts = new Array[Int](64)
    var start = 0
    val len = str.length
    var i = 0
    while (i <= len) {
      if (i == len || str.charAt(i) == ' ') {
        if (i > start) {
          var h = 1125899906842597L // FNV-ish polynomial over the word
          var k = start
          while (k < i) { h = 31 * h + str.charAt(k); k += 1 }
          h = mix64(h)
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
            bit += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** splitmix64 finalizer — public-domain mixing constants. */
  def mix64(z0: Long): Long = {
    var z = z0 + -7046029254386353131L // 0x9E3779B97F4A7C15
    z = (z ^ (z >>> 30)) * -4658895280553007687L // 0xBF58476D1CE4E5B9
    z = (z ^ (z >>> 27)) * -7723592293110705685L // 0x94D049BB133111EB
    z ^ (z >>> 31)
  }

  /** Seeded 64-bit hash of a string — the MinHash base hash. */
  def hash64(s: String, seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
    mix64(h)
  }

  /** Deterministic char-trigram hashed embedding: each trigram of the
    * input is hashed to a (bucket, sign) pair; the accumulated vector is
    * L2-normalized. This replaces the reference's learned character
    * transformer encoder (idrt/model.py:292-393) with a pure function of
    * the normalized text — same role (compact blocking signature), no
    * model artifact, embarrassingly parallel, codegen-friendly.
    */
  def embedF(s: UTF8String, dim: Int): ArrayData = {
    val str = s.toString
    val acc = new Array[Double](dim)
    val n = str.length
    if (n >= 3) {
      var i = 0
      while (i + 3 <= n) {
        var h = 0L
        var k = i
        while (k < i + 3) { h = 31 * h + str.charAt(k); k += 1 }
        h = mix64(h)
        val bucket = ((h % dim).toInt + dim) % dim
        val sign = if (((h >>> 62) & 1L) == 1L) 1.0 else -1.0
        acc(bucket) += sign
        i += 1
      }
    } else if (n > 0) {
      val h = hash64(str, 7L)
      acc(((h % dim).toInt + dim) % dim) += 1.0
    }
    var norm = 0.0
    var i = 0
    while (i < dim) { norm += acc(i) * acc(i); i += 1 }
    val inv = if (norm == 0.0) 0.0 else 1.0 / math.sqrt(norm)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = (acc(i) * inv).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  /** Random-hyperplane LSH bucket key over a float vector: `bits` sign
    * bits of pseudo-random projections (hyperplane components derived from
    * mix64(seed, bit, dim) — deterministic, no stored model). Cosine-similar
    * vectors collide with probability (1 - theta/pi)^bits; use several
    * seeds (tables) and union the candidates. Distributed analogue of the
    * reference's Annoy forest (idrt/algorithm/run_search.py:110-204):
    * n_trees -> number of tables, threshold applied after the bucket join.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Double]]()

  /** Deterministic hyperplane components for (seed, bits, dim), built once
    * per JVM — the per-row cost is then a pure dot-product loop.
    */
  private def planes(seed: Long, bits: Int, dim: Int): Array[Double] = {
    val key = (seed, bits, dim)
    // lock-free fast path: computeIfAbsent's bin lock contends badly when
    // 32 codegen threads hit the same hot key every row
    val cached = planeCache.get(key)
    if (cached != null) return cached
    val p = new Array[Double](bits * dim)
    var b = 0
    while (b < bits) {
      var i = 0
      while (i < dim) {
        val h = mix64(seed * 1315423911L + b * 2654435761L + i)
        p(b * dim + i) = h.toDouble / Long.MaxValue.toDouble
        i += 1
      }
      b += 1
    }
    planeCache.putIfAbsent(key, p)
    p
  }

  def rhpKey(v: ArrayData, bits: Int, seed: Long): Long = {
    val n = v.numElements()
    val p = planes(seed, bits, n)
    var key = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      val off = b * n
      while (i < n) {
        dot += p(off + i) * v.getFloat(i)
        i += 1
      }
      if (dot >= 0) key |= (1L << b)
      b += 1
    }
    key
  }

  /** Per-k affine permutation coefficients (odd multiplier + offset),
    * derived deterministically from splitmix64 — the standard
    * pairwise-independent MinHash family h_t(x) = a_t*x + b_t over one
    * strong hash per shingle. Cached per k: the hot loop is then one
    * multiply-add per (shingle, t) instead of a full mix64.
    */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def perms(k: Int): (Array[Long], Array[Long]) = {
    val cached = permCache.get(k)
    if (cached != null) return cached
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var t = 0
    while (t < k) {
      a(t) = mix64(0xA5EED * k + t) | 1L // odd -> bijective mod 2^64
      b(t) = mix64(0xB0FFE * k + t)
      t += 1
    }
    permCache.putIfAbsent(k, (a, b))
    (a, b)
  }

  /** MinHash signature over word w-shingles: one strong (splitmix64) hash
    * per shingle, then k affine permutations of it. Returns a long[k]
    * signature. Distributed LSH banding happens on top of this in
    * operators.Dedup (band keys -> equi self-join) — the classic
    * shingle -> minhash -> band -> bucket-join near-dup pipeline.
    */
  def minhashSig(s: UTF8String, k: Int, shingleWidth: Int): ArrayData = {
    val words = splitWords(s.toString)
    val sig = Array.fill(k)(Long.MaxValue)
    if (words.isEmpty) return new GenericArrayData(sig)
    val (pa, pb) = perms(k)
    val nSh = math.max(1, words.length - shingleWidth + 1)
    var i = 0
    while (i < nSh) {
      var base = 1469598103934665603L
      var j = i
      val end = math.min(words.length, i + shingleWidth)
      while (j < end) {
        val w = words(j)
        var c = 0
        while (c < w.length) { base = 31 * base + w.charAt(c); c += 1 }
        base = base * 1099511628211L + 0x20
        j += 1
      }
      val h = mix64(base)
      var t = 0
      while (t < k) {
        val v = pa(t) * h + pb(t)
        if (v < sig(t)) sig(t) = v
        t += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Sorted DISTINCT 64-bit hashes of the word w-shingles of an
    * already-canonical (lowercased, single-spaced) string — the one-pass
    * kernel behind Similarity.shingleHashes. Semantics mirror the Catalyst
    * composition it replaces: fewer than w words (including the empty
    * string) yield exactly one shingle over all words, so set cardinality
    * — the only thing Jaccard sees — is identical; hash values only need
    * to be injective on distinct shingles, not to match any external hash.
    */
  def shingleHashes64(s: UTF8String, w: Int): ArrayData = {
    val words = splitWords(s.toString)
    val nSh = math.max(1, words.length - w + 1)
    val out = new Array[Long](nSh)
    var i = 0
    while (i < nSh) {
      var h = 1469598103934665603L
      var j = i
      val end = math.min(words.length, i + w)
      while (j < end) {
        val word = words(j)
        var c = 0
        while (c < word.length) { h = 31 * h + word.charAt(c); c += 1 }
        h = h * 1099511628211L + 0x20
        j += 1
      }
      out(i) = mix64(h)
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted array
    var n = 0
    i = 0
    while (i < nSh) {
      if (n == 0 || out(i) != out(n - 1)) { out(n) = out(i); n += 1 }
      i += 1
    }
    new GenericArrayData(if (n == nSh) out else java.util.Arrays.copyOf(out, n))
  }

  private def splitWords(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (i > start) out += s.substring(start, i)
        start = i + 1
      }
      i += 1
    }
    out.toArray
  }

  /** Count of common elements between two SORTED long arrays (merge scan,
    * O(n+m), zero allocation) — the hot kernel of set-Jaccard over hashed
    * shingle sets.
    */
  def sortedOverlap(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Polynomial rolling-hash document fingerprint over char shingles of
    * width w: min of the rolling window hashes (a 1-perm MinHash); used as
    * a cheap near-dup fingerprint.
    */
  def rollingMinHash(s: UTF8String, w: Int): Long = {
    val str = s.toString
    if (str.length < w) return mix64(hash64(str, 0L))
    var min = Long.MaxValue
    var i = 0
    while (i + w <= str.length) {
      var h = 0L
      var k = i
      while (k < i + w) { h = 31 * h + str.charAt(k); k += 1 }
      val m = mix64(h)
      if (m < min) min = m
      i += 1
    }
    min
  }
}
