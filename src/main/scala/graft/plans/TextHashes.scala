package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Shared kernels for the text-hash functions. Static methods so the
  * generated code is a single call — no lambda dispatch, no boxing per
  * element, and the expression stays inside whole-stage codegen.
  *
  * Null policy: every token kernel here drops a null token slot, so
  * `k(a) == k(filter(a, x -> x is not null))` ([[nonNull]]; for hashes
  * [[minhashFromHashes]] skips null slots the same way).
  *
  * Hashing matches Spark's `xxhash64` (XXH64 over UTF8String bytes,
  * seed 42), so these are drop-in replacements for the HOF
  * formulations they supersede (which evaluated 32 interpreted lambda
  * passes per row for minhash, and an explode + 64-column aggregate
  * SHUFFLE for simhash — measured ~10x slower at sf0.1).
  */
object GraftHashes {

  final val MersennePrime = 2147483647L // 2^31 - 1

  /** Shared separator — r18 (ADVICE): the span/shingle builders used to
    * allocate `UTF8String.fromString(" ")` per TOKEN inside the hot
    * per-row loops. */
  private val Space = UTF8String.fromString(" ")

  /** The `n` tokens at `start` space-joined in ONE concat — same bytes
    * as the old pairwise-concat chain (so every downstream hash/string
    * is unchanged) without its O(n²)-bytes copying. */
  private def joinTokens(toks: ArrayData, start: Int, n: Int): UTF8String = {
    if (n == 1) return toks.getUTF8String(start)
    val parts = new Array[UTF8String](2 * n - 1)
    var j = 0
    while (j < n) {
      parts(2 * j) = toks.getUTF8String(start + j)
      if (j < n - 1) parts(2 * j + 1) = Space
      j += 1
    }
    UTF8String.concat(parts: _*)
  }

  /** `toks` without its null slots — the same object when it has none. */
  private[plans] def nonNull(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    var i = 0
    while (i < n && !toks.isNullAt(i)) i += 1
    if (i == n) return toks
    val out = Array.newBuilder[Any]
    i = 0
    while (i < n) { if (!toks.isNullAt(i)) out += toks.getUTF8String(i); i += 1 }
    new GenericArrayData(out.result())
  }

  /** Full-width XXH64 of the `n`-token shingle at `start` — the
    * identity basis for [[shingleHashes]]. NOT Mersenne-reduced: set
    * arithmetic over these hashes stands in for set arithmetic over
    * the shingle strings, and the collision exposure quoted by the
    * consumers (~|union|²/2⁶⁴ per pair) requires the full 64-bit
    * space — the earlier mod-2³¹−1 basis put per-corpus collisions
    * at ~d²/2³² (expected ≥1 at rung doc counts, r14 ADVICE). Only
    * [[minhash]] needs the reduction, for its permutation arithmetic. */
  private def shingleHash64(toks: ArrayData, start: Int, n: Int): Long = {
    // n-token shingle joined by ' ' — same bytes as concat_ws(" ", slice)
    val s = joinTokens(toks, start, n)
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
  }

  /** `graft_minhash_hashes(hashes array<long>, numHashes) ->
    * array<long>` — MinHash signature computed FROM the distinct
    * shingle-hash array (r18): `minhash(toks, n, k)` folds min over every shingle
    * POSITION, but a min over a multiset equals the min over its
    * distinct set, so folding over [[shingleHashes]]' output — the same
    * 64-bit values, deduped — yields the identical signature while
    * skipping a second concat+hash pass over every position (the
    * LSH/keeper tier computes both representations per row; PlansSpec
    * pins `graft_minhash_hashes(graft_shingle_hashes(t, n), k) ==
    * graft_minhash(t, n, k)` on the real corpus). Null slots are
    * skipped, so the signature is that of the non-null hashes (empty
    * when there are none). */
  def minhashFromHashes(hashes: ArrayData, numHashes: Int): ArrayData = {
    val nSh = hashes.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < nSh) {
      if (!hashes.isNullAt(i)) {
        seen = true
        val m = hashes.getLong(i) % MersennePrime
        val h = if (m < 0) m + MersennePrime else m
        var k = 0
        while (k < numHashes) {
          val v = (h * (1L + 2L * k) + 7919L * (k + 1)) % MersennePrime
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(if (seen) mins else Array.empty[Long])
  }

  /** [[shingleHash64]] reduced mod 2³¹−1 — the minhash-permutation
    * domain (`(h*(1+2k) + c_k) mod p` needs h in [0, p)). */
  private def shingleHash(toks: ArrayData, start: Int, n: Int): Long = {
    val h = shingleHash64(toks, start, n)
    val m = h % MersennePrime
    if (m < 0) m + MersennePrime else m
  }

  /** `graft_minhash(tokens array<string>, nShingle, numHashes) ->
    * array<long>` — MinHash signature over `nShingle`-token shingles:
    * permutation k approximated by `(h*(1+2k) + 7919*(k+1)) mod p`.
    * One pass over the shingles, all `numHashes` minima in the same
    * loop. Empty result when the doc has no shingles. */
  def minhash(tokens: ArrayData, nShingle: Int, numHashes: Int): ArrayData = {
    val toks = nonNull(tokens)
    val nTok = toks.numElements()
    val nSh = nTok - nShingle + 1
    if (nSh <= 0) return new GenericArrayData(Array.empty[Long])
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < nSh) {
      val h = shingleHash(toks, i, nShingle)
      var k = 0
      while (k < numHashes) {
        val v = (h * (1L + 2L * k) + 7919L * (k + 1)) % MersennePrime
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** `graft_shingle_hashes(tokens array<string>, n) -> array<long>` —
    * DISTINCT hashes of the `n`-token shingles, first-seen
    * order (deterministic given the token array). The long-keyed basis
    * for the exact inverted-index Jaccard tier: joining/sorting 8-byte
    * hashes instead of 20-40 byte shingle STRINGS more than halves the
    * self-join's shuffle and comparator cost, and the concat+hash loop
    * here replaces an interpreted `transform` HOF pass per row. Set
    * arithmetic over hashes equals set arithmetic over shingles absent
    * an intra-pair collision — FULL 64-bit XXH64 (not the minhash
    * tiers' mod-2³¹−1 reduction), so that's ~|union|²/2⁶⁴ per pair —
    * vanishing, and the DuckDB oracle would surface one as a hash
    * mismatch. */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val toks = nonNull(tokens)
    val nTok = toks.numElements()
    val nSh = nTok - n + 1
    if (nSh <= 0) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < nSh) {
      seen.add(shingleHash64(toks, i, n))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** `graft_span_strings(tokens array<string>, w) -> array<string>` —
    * POSITIONAL `w`-token span strings (space-joined, one per
    * start position, duplicates kept) — the span-dedup tiers' window
    * basis. Byte-identical to the
    * `transform(sequence(1, n-w+1), i -> array_join(slice(toks,i,w), " "))`
    * HOF formulation it supersedes, which evaluated an interpreted
    * lambda (slice + array_join) per POSITION (r17, guide §4 — same
    * fix as [[shingleHashes]] but keeping position order and repeats,
    * which the coverage/lag arithmetic of the consumers needs). */
  def spanStrings(tokens: ArrayData, w: Int): ArrayData = {
    val toks = nonNull(tokens)
    val nTok = toks.numElements()
    val nSp = nTok - w + 1
    if (nSp <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nSp)
    var i = 0
    while (i < nSp) {
      out(i) = joinTokens(toks, i, w)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_shingle_strings(tokens array<string>, n) -> array<string>`
    * — DISTINCT `n`-token shingle STRINGS, first-seen order —
    * [[shingleHashes]]'s string twin, for the tiers whose oracle
    * replays md5(shingle_string) and therefore cannot key on hashes
    * (dedup_minhash_portable, distinct_kmv_portable). Byte-identical
    * to `array_distinct(transform(sequence, i -> concat_ws(...)))` —
    * UTF8String equality is byte equality, and first-seen order
    * matches array_distinct's. */
  def shingleStrings(tokens: ArrayData, n: Int): ArrayData = {
    val toks = nonNull(tokens)
    val nTok = toks.numElements()
    val nSh = nTok - n + 1
    if (nSh <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < nSh) {
      seen.add(joinTokens(toks, i, n))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** `graft_span_hashes(tokens array<string>, w) -> array<long>` —
    * POSITIONAL span HASHES: `xxhash64` (seed 42) of each
    * [[spanStrings]] element — bit-identical to
    * `xxhash64(array_join(slice(toks,i,w), " "))` per position, so the
    * hashed span tier keeps its string-tier oracle unchanged. */
  def spanHashes(tokens: ArrayData, w: Int): ArrayData = {
    val toks = nonNull(tokens)
    val nTok = toks.numElements()
    val nSp = nTok - w + 1
    if (nSp <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](nSp)
    var i = 0
    while (i < nSp) {
      out(i) = shingleHash64(toks, i, w)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_simhash(tokens array<string>) -> long` — 64-bit SimHash
    * over the DISTINCT tokens: per-bit ±1
    * votes over token hashes, bit set where votes are positive. One
    * pass, no shuffle (vs the explode + groupBy formulation). */
  def simhash(tokens: ArrayData): Long = {
    val toks = nonNull(tokens)
    val n = toks.numElements()
    val votes = new Array[Int](64)
    val seen = new java.util.HashSet[Long]()
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      if (seen.add(h)) {
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** `graft_simhash_wide(tokens array<string>, words) -> array<long>` —
    * WIDE SimHash: `words` independent 64-bit simhash words over the
    * same distinct-token set, word w voting with hashes under XXH64
    * seed 42 + w — word 0 is bit-identical to [[simhash]] (seed 42),
    * which is what lets a spec anchor the wide tier to the 64-bit one.
    * Distinctness is judged by the word-0 hash, matching [[simhash]]'s
    * dedup rule exactly. One pass over the tokens computes all words. */
  def simhashWide(tokens: ArrayData, words: Int): ArrayData = {
    val toks = nonNull(tokens)
    val n = toks.numElements()
    val votes = new Array[Int](words * 64)
    val seen = new java.util.HashSet[Long]()
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      val h0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      if (seen.add(h0)) {
        var w = 0
        while (w < words) {
          val h = if (w == 0) h0
            else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L + w)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(w * 64 + j) += 1
            else votes(w * 64 + j) -= 1
            j += 1
          }
          w += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](words)
    var w = 0
    while (w < words) {
      var acc = 0L
      var j = 0
      while (j < 64) {
        if (votes(w * 64 + j) > 0) acc |= (1L << j)
        j += 1
      }
      out(w) = acc
      w += 1
    }
    new GenericArrayData(out)
  }
}
