package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Runtime helpers for the scan-local text-scoring kernels (r18,
  * guide §4): `TextFunctions.wordSetCount` / `fingerprint` were
  * higher-order-function chains — `size(filter(tokens, ...))` and
  * `aggregate(transform(tokens, ...))` — and HOFs are CodegenFallback:
  * the interpreted lambda evaluator runs per TOKEN per row, and the
  * language-ID vote evaluates five of them per document. These kernels
  * are one codegen'd pass each, bit-identical by construction
  * (TextFunctionsSpec pins kernel == HOF on the real corpus):
  * `graft_fingerprint` is a [[Kernels]] table row, `graft_word_count` a
  * [[Kernels.invoke]] call on the [[WordTable]] that carries its words. */
object GraftScores {

  /** Count of tokens (occurrences, not distinct) equal to any of
    * `words` — exactly `size(filter(tokens, t => words.exists(t === _)))`
    * (a null token matches nothing, like the HOF's null predicate).
    * `words` is tiny (stopword tables, ≤ 7 entries), so a linear probe
    * over UTF8String byte-equality beats any set. */
  def wordCount(tokens: ArrayData, words: Array[UTF8String]): Int = {
    val n = tokens.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        var j = 0
        while (j < words.length) {
          if (t.equals(words(j))) { c += 1; j = words.length }
          else j += 1
        }
      }
      i += 1
    }
    c
  }

  /** Rolling polynomial fingerprint — bitwise the HOF chain
    * `aggregate(transform(tokens, t => length(t)*131 +
    * ascii(substring(t,1,1))), 0L, (h,x) => (h*31+x) % 1000000007)`:
    * per token code = numChars*131 + first code point (0 for the empty
    * token, exactly `ascii('')`), folded left in array order. All
    * integer arithmetic; h stays < 1e9+7 so h*31+x never overflows.
    * A null token makes the HOF fold NULL; here it returns
    * [[NullFingerprint]], which [[fingerprintOrNull]] maps to NULL. */
  def fingerprint(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var h = 0L
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) return NullFingerprint
      val t = tokens.getUTF8String(i)
      h = (h * 31L + t.numChars().toLong * 131L + firstCodePoint(t)) % 1000000007L
      i += 1
    }
    h
  }

  /** [[fingerprint]] of a token array with a null slot: outside the
    * fold's range [0, 1e9+7). */
  final val NullFingerprint = -1L

  /** `graft_fingerprint(tokens array<string>) -> bigint` — [[fingerprint]]
    * with a null token slot giving NULL, like the HOF fold. */
  def fingerprintOrNull(tokens: ArrayData): java.lang.Long = {
    val h = fingerprint(tokens)
    if (h == NullFingerprint) null else h
  }

  /** First Unicode code point of a UTF8String (0 when empty) — the
    * value `ascii(substring(t, 1, 1))` computes. */
  private def firstCodePoint(t: UTF8String): Long = {
    val nb = t.numBytes()
    if (nb == 0) return 0L
    val b0 = t.getByte(0) & 0xff
    if (b0 < 0x80) b0.toLong
    else {
      // multi-byte UTF-8: decode the first code point
      val len =
        if (b0 >= 0xf0) 4 else if (b0 >= 0xe0) 3 else 2
      var cp = b0 & (0xff >> (len + 1))
      var i = 1
      while (i < len && i < nb) {
        cp = (cp << 6) | (t.getByte(i) & 0x3f)
        i += 1
      }
      cp.toLong
    }
  }
}

/** The word table of `graft_word_count(tokens array<string>) -> int`,
  * the [[Kernels.invoke]] handle of `TextFunctions.wordSetCount`: equal
  * word lists make equal calls. See [[GraftScores.wordCount]]. */
final case class WordTable(words: Seq[String]) {
  @transient private lazy val table: Array[UTF8String] =
    words.map(UTF8String.fromString).toArray
  def count(tokens: ArrayData): Int = GraftScores.wordCount(tokens, table)
  override def toString: String = "graft_word_count"
}
