package graft.functions

/**
 * Deterministic integer hash primitives shared by the dedup/fingerprint
 * operators. Deliberately simple positional-weight polynomials over ASCII
 * codes: every formula here is also expressible in plain integer SQL, so
 * the DuckDB oracles replicate them exactly (engine-native hash functions
 * like xxhash64 differ between engines and would be unverifiable).
 *
 * All arithmetic stays far below 2^63 (codes ≤ 127, weights ≤ 301,
 * lengths ≤ a few hundred), so overflow semantics never matter.
 */
object Hashes {

  val P: Long = 1000003L   // string-hash modulus
  val P2: Long = 1000033L  // minhash permutation modulus

  /** strhash(s) = (Σ_{i=1..len} code(s_i) · ((i² mod 251) + i)) mod P */
  def strhash(s: String): Long = {
    var acc = 0L
    var i = 1
    val n = s.length
    while (i <= n) {
      acc += s.charAt(i - 1).toLong * (((i.toLong * i) % 251) + i)
      i += 1
    }
    acc % P
  }

  /** k-th minhash permutation applied to a shingle hash x:
    * ((2k+3)·x + k²+7) mod P2. */
  def minhashPerm(k: Int, x: Long): Long =
    ((2L * k + 3L) * x + (k.toLong * k + 7L)) % P2

  /** Document fingerprint: Σ over 0-based token index j of
    * strhash(token)·((j mod 16)+1), mod P — a cheap rolling-style hash. */
  def fingerprint(tokens: Seq[String]): Long = {
    var acc = 0L
    var j = 0
    tokens.foreach { t =>
      acc = (acc + strhash(t) * ((j % 16) + 1)) % P
      j += 1
    }
    acc
  }

  /** 32-bit SimHash: token strhash widened by a Knuth multiplicative step
    * (strhash alone is < 2^20, which would leave the high bits degenerate);
    * bit b is set iff more tokens have bit b set than clear. */
  def simhash32(tokens: Seq[String]): Long = {
    val acc = new Array[Long](32)
    tokens.foreach { t =>
      val h = (strhash(t) * 2654435761L) % 4294967296L
      var b = 0
      while (b < 32) {
        acc(b) += ((h >> b) & 1L) * 2L - 1L
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Distinct word-trigram shingles of a whitespace-tokenized text, in
    * first-occurrence order. Must stay in lockstep with the SQL derivation
    * (sequence over token windows + array_distinct). */
  def shingles(text: String, n: Int = 3): Seq[String] = {
    val toks = text.split(" ")
    if (toks.length < n) Seq.empty
    else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
  }

  /** MinHash signature of a pre-computed shingle set. */
  def minhashSigOf(sh: Seq[String], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { s =>
      val x = strhash(s)
      var k = 0
      while (k < numHashes) {
        val v = minhashPerm(k, x)
        if (v < sig(k)) sig(k) = v
        k += 1
      }
    }
    sig
  }
}
