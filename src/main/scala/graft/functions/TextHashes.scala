package graft.functions

/** Deterministic text-hashing kernels shared by the custom Catalyst
  * expressions, the ScalaTest oracles, the synthetic data's seeds
  * ([[graft.synth.Rng]]) and the snapshot id. FNV-1a (public domain
  * algorithm) everywhere — no engine-specific hash so results are
  * reproducible in any runtime.
  */
object TextHashes {

  /** FNV-1a 64-bit over the string's UTF-16 chars. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** SplitMix64 finalizer — derives per-seed hash families, and is the
    * output step of [[graft.synth.Rng]]. */
  @inline def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val ws = java.util.regex.Pattern.compile("\\s+")

  def tokens(text: String): Array[String] =
    ws.split(text).filter(_.nonEmpty)

  /** Word n-gram shingle hashes (distinct). */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val ts = tokens(text)
    if (ts.length < n) return Array.empty
    val out = new Array[Long](ts.length - n + 1)
    var i = 0
    while (i + n <= ts.length) {
      val sb = new StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(ts(i + j))
        j += 1
      }
      out(i) = fnv64(sb.toString)
      i += 1
    }
    out.distinct
  }

  /** 64-bit SimHash over whitespace tokens. */
  def simHash64(text: String): Long = {
    val counts = new Array[Int](64)
    for (t <- tokens(text)) {
      val h = fnv64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Sorted distinct word n-gram shingle hashes — the one-pass-per-doc
    * column d7 verification joins (never raw text: a doc in k candidate
    * buckets must not re-tokenize k times). Sorted so candidate overlap
    * is a linear merge walk ([[sortedIntersectCount]]). */
  def shingleHashesSorted(text: String, n: Int): Array[Long] = {
    val a = shingleHashes(text, n)
    java.util.Arrays.sort(a)
    a
  }

  /** Count of common elements of two sorted distinct long arrays. */
  def sortedIntersectCount(a: Array[Long], b: Array[Long]): Long = {
    var i = 0
    var j = 0
    var c = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    c
  }

  /** MinHash signature from a precomputed (distinct) shingle-hash set —
    * order-insensitive, so it composes with [[shingleHashesSorted]]
    * without re-tokenizing. */
  def minHashFromShingles(sh: Array[Long], k: Int): Array[Long] = {
    val sig = new Array[Long](k)
    var s = 0
    while (s < k) {
      var m = Long.MaxValue
      var i = 0
      while (i < sh.length) {
        val v = mix(sh(i) ^ (0x9E3779B97F4A7C15L * (s + 1)))
        if (v < m) m = v
        i += 1
      }
      sig(s) = m
      s += 1
    }
    sig
  }

  /** MinHash signature: k minimums over per-seed mixed shingle hashes. */
  def minHashSig(text: String, k: Int, shingleN: Int): Array[Long] =
    minHashFromShingles(shingleHashes(text, shingleN), k)

  /** Sign-random-projection LSH bucket for a float vector: bit b = sign of
    * dot(v, h_b) where h_b is a deterministic pseudo-random hyperplane. */
  def lshSignBucket(vec: Array[Float], nbits: Int, seed: Long): Long = {
    var bucket = 0L
    var b = 0
    while (b < nbits) {
      var dot = 0.0
      var d = 0
      while (d < vec.length) {
        val h = mix(seed ^ (b.toLong << 32) ^ d.toLong)
        // map to [-1, 1)
        val coef = (h >>> 11).toDouble / (1L << 52).toDouble - 1.0
        dot += vec(d) * coef
        d += 1
      }
      if (dot > 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  /** Karp-Rabin rolling-hash document fingerprint: min `w` hashes of each
    * token-window (winnowing-style robust fingerprint). */
  def fingerprint(text: String, window: Int): Long = {
    val sh = shingleHashes(text, window)
    if (sh.isEmpty) 0L
    else {
      var m = Long.MaxValue
      for (h <- sh) { val v = mix(h); if (v < m) m = v }
      m
    }
  }
}
