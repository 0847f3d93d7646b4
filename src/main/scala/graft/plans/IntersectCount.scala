package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Runtime helpers for [[GraftSets.intersectCount]] — a minimal
  * open-addressing long hash set (linear probing, power-of-two table, 0-as-empty
  * sentinel with an explicit zero flag) so the kernel allocates two
  * flat long arrays per evaluation instead of the result array + two
  * boxed sets the built-in `array_intersect` path builds. */
object GraftSets {
  final class LongSet(expected: Int) {
    private[this] val cap = {
      // Long arithmetic: 2·expected overflows Int for huge inputs, and a
      // table that silently shrank would make `add` probe forever once
      // full — fail fast instead, before allocating
      val target = math.max(expected.toLong, 1L) * 2
      require(target <= (1L << 29),
        s"LongSet: $expected elements exceed the ${1 << 28}-element limit")
      var c = 8
      while (c < target) c <<= 1
      c
    }
    private[this] val mask = cap - 1
    private[this] val table = new Array[Long](cap)
    private[this] var hasZero = false

    // finalizer over the raw value: call sites feed xxhash64 output
    // (already uniform) but the function is session-registered, so mix
    // anyway — degenerate keys otherwise cluster probes.
    private def slot(v: Long): Int = {
      val h = v * -7046029254386353131L // Murmur3 fmix64 constant
      ((h ^ (h >>> 32)).toInt) & mask
    }

    /** Adds `v`; returns true iff it was not present. */
    def add(v: Long): Boolean =
      if (v == 0L) { if (hasZero) false else { hasZero = true; true } }
      else {
        var i = slot(v)
        while (table(i) != 0L) {
          if (table(i) == v) return false
          i = (i + 1) & mask
        }
        table(i) = v
        true
      }

    def contains(v: Long): Boolean =
      if (v == 0L) hasZero
      else {
        var i = slot(v)
        while (table(i) != 0L) {
          if (table(i) == v) return true
          i = (i + 1) & mask
        }
        false
      }
  }

  /** `graft_intersect_count(a array<bigint>, b array<bigint>) -> int`
    * — the pair-verify kernel: |distinct(a) ∩ b| with
    * `array_intersect`'s element semantics: distinct elements of `a`
    * that occur in `b`, a null element counted once when both sides
    * contain one — so the result equals `size(array_intersect(a, b))`
    * for every non-null input pair (PlansSpec pins kernel == built-in
    * on the real corpus and on randomized arrays with
    * duplicates/nulls/empties). The built-in path materializes the
    * intersection ARRAY just for `size` to read its length; every
    * near-dup verify join evaluates one intersection per candidate
    * PAIR, so the allocation + copy is pure hot-path overhead.
    * NULL-input note: the kernel is NULL in, NULL out where
    * `size(array_intersect(...))` yields -1 under legacy sizeOfNull —
    * both outcomes fail the `jaccard >= t` verify filter identically,
    * and the call sites feed non-null checkpointed arrays anyway. */
  def intersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 || nb == 0) return 0
    val bs = new LongSet(nb)
    var bNull = false
    var i = 0
    while (i < nb) {
      if (b.isNullAt(i)) bNull = true else bs.add(b.getLong(i))
      i += 1
    }
    // second set dedups a's counted values (array_intersect is distinct
    // on the left operand); bounded by min(|a|, |b|)
    val seen = new LongSet(math.min(na, nb))
    var c = 0
    var nullCounted = false
    i = 0
    while (i < na) {
      if (a.isNullAt(i)) {
        if (bNull && !nullCounted) { c += 1; nullCounted = true }
      } else {
        val v = a.getLong(i)
        if (bs.contains(v) && seen.add(v)) c += 1
      }
      i += 1
    }
    c
  }
}
