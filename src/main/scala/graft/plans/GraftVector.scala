package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Static kernels over vector (and positional token) arrays. For the
  * one-vector-vs-k-centroids kernels the per-centroid loop is the
  * EXACT [[cosine]] fold (same
  * accumulation order over the common prefix), so `graft_cosine_many`
  * / `graft_cosine_argmax` are bitwise-equal to k separate
  * `graft_cosine` calls — PlansSpec pins it. The point of fusing: the
  * IVF assignment used to build an ARRAY OF k STRUCT EXPRESSIONS
  * (k codegen'd kernels + array_max), which at the auto-scaled
  * k ≈ √n (142 at the sf1 rung) blows generated-code size and
  * compile time — the sf1 rung measured the auto knob LOSING time to
  * that (68 s vs 57 fixed). With the centroid matrix as ONE flattened
  * literal the expression tree is constant-size and k lives in data. */
object GraftVector {

  /** `graft_cosine(a array<double>, b array<double>) -> double` — fused
    * cosine similarity: dot product and both norms in ONE loop over the
    * vectors. Vs the HOF formulation (three `aggregate(zip_with(...))`
    * passes) it does a third of the array traversals, and vs a Scala
    * UDF it avoids ser/de and stays inside codegen. Accumulation order
    * matches the HOF/oracle fold exactly, so results are bitwise
    * identical (PlansSpec asserts equality; `sim_topk_native`
    * hash-matches the same DuckDB oracle as `sim_topk_embeddings`).
    * Defined over the common prefix when lengths differ. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** `graft_dot(a array<double>, b array<double>) -> double` — the
    * sequential left-fold dot product alone (the [[cosine]] loop minus
    * the norms): bitwise the HOF `aggregate(zip_with(a, b, _ * _), 0.0,
    * _ + _)` over equal-length inputs (0.0 seed, identical
    * association), defined over the common prefix when lengths differ.
    * The pair-scale scoring kernel (r17): every brute/ANN/near-dup
    * verify join evaluates one dot per PAIR, and the HOF form pays the
    * interpreted lambda evaluator per element there — this is one
    * codegen'd loop. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  /** `graft_dot_int8(a array<int>, b array<int>) -> bigint` — quantized
    * dot: int multiply then the long widen per element, long adds —
    * bitwise the HOF `aggregate(zip_with(a, b, (x,y) =>
    * (x*y).cast(long)), 0L, _ + _)` (quantized components are <= 127,
    * so the int product never overflows); common-prefix rule as
    * [[dot]]. Also serves as the quantized squared norm via
    * graft_dot_int8(v, v). */
  def dotInt8(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L; var i = 0
    while (i < n) { s += (x.getInt(i) * y.getInt(i)).toLong; i += 1 }
    s
  }

  /** `graft_match_count(a array<string>, b array<string>) -> int` —
    * positional equality count over the common prefix: bitwise
    * `size(filter(zip_with(a, b, _ === _), identity))` for equal-length
    * inputs (the MinHash signature estimator's shape). A null slot on
    * either side is a non-match, as `null === x` is NULL there. */
  def matchCount(x: ArrayData, y: ArrayData): Int = {
    val n = math.min(x.numElements(), y.numElements())
    var c = 0; var i = 0
    while (i < n) {
      val s = x.getUTF8String(i)
      if (s != null && s.equals(y.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** `graft_cosine_many(vec array<double>, flatCentroids array<double>,
    * dim) -> array<double>` — cosine of `vec` against every dim-sized
    * row of the flattened centroid matrix, one fused pass. */
  def cosineMany(v: ArrayData, flat: ArrayData, dim: Int): ArrayData = {
    val k = flat.numElements() / dim
    val out = new Array[Double](k)
    // n and the query norm are invariant across centroids — hoisted out
    // of the j loop (k-fold redundant folds in the corpus-scan kernel
    // otherwise, k ≈ √n at the rungs). nx's own fold order is unchanged,
    // and dot/ny still fold per-centroid, so results stay bitwise equal
    // to the unhoisted form (PlansSpec fuzzes this).
    val n = math.min(v.numElements(), dim)
    var nx = 0.0
    var q = 0
    while (q < n) { val xq = v.getDouble(q); nx += xq * xq; q += 1 }
    val snx = math.sqrt(nx)
    var j = 0
    while (j < k) {
      var dot = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = v.getDouble(i); val yi = flat.getDouble(j * dim + i)
        dot += xi * yi; ny += yi * yi
        i += 1
      }
      out(j) = dot / (snx * math.sqrt(ny))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_cosine_argmax(vec array<double>, flatCentroids
    * array<double>, dim) -> int` — index of the most-cosine-similar
    * centroid row in one fused pass; ties -> lowest index (the
    * argmax-projection's old struct-max tie rule). The IVF assignment
    * projection. */
  def cosineArgmax(v: ArrayData, flat: ArrayData, dim: Int): Int = {
    val k = flat.numElements() / dim
    var best = Double.NegativeInfinity
    var bi = 0
    // same hoist as [[cosineMany]]: n and the query norm do not vary
    // per centroid; bitwise-identical scores (identical fold orders).
    val n = math.min(v.numElements(), dim)
    var nx = 0.0
    var q = 0
    while (q < n) { val xq = v.getDouble(q); nx += xq * xq; q += 1 }
    val snx = math.sqrt(nx)
    var j = 0
    while (j < k) {
      var dot = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = v.getDouble(i); val yi = flat.getDouble(j * dim + i)
        dot += xi * yi; ny += yi * yi
        i += 1
      }
      val s = dot / (snx * math.sqrt(ny))
      if (s > best) { best = s; bi = j }
      j += 1
    }
    bi
  }
}
