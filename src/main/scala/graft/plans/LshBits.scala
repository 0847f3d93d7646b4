package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native kernels for hyperplane sign-bit LSH — the hot loop of the
  * cosine-LSH dedup and ANN tiers.
  *
  * The HOF formulation (`functions.SimilarityFunctions.lshBucket`:
  * one `aggregate(zip_with(...))` fold per plane) evaluates an
  * interpreted lambda pass per plane per row — at 12 tables x 8
  * planes + 128 fingerprint planes that is 224 interpreted array
  * traversals per row (measured: ann_lsh_topk 2.3 s -> 6.1 s at sf0.1
  * when the fingerprint ranker landed). These kernels do the same
  * arithmetic in tight codegen'd loops over a cached plane matrix.
  *
  * Accumulation order per plane is the identical sequential fold
  * (`acc += v[i] * plane[i]` in index order) over the identical
  * `planeComponent` double literals, so buckets are BITWISE equal to
  * the HOF tier and to the DuckDB oracle that embeds those literals
  * (PlansSpec asserts both; `dedup_cosine_pairs` stays hash-checked).
  */
object GraftLsh {

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]

  /** Flattened [nPlanes x dim] plane matrix for `planeComponent`
    * rows `offset until offset+nPlanes` — computed once per JVM. */
  private def planes(offset: Int, nPlanes: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((offset, nPlanes, dim), _ => {
      val out = new Array[Double](nPlanes * dim)
      var j = 0
      while (j < nPlanes) {
        var i = 0
        while (i < dim) {
          out(j * dim + i) =
            graft.functions.SimilarityFunctions.planeComponent(offset + j, i)
          i += 1
        }
        j += 1
      }
      out
    })

  /** `graft_lsh_bits(vec array<double>, offset, nPlanes) -> long` —
    * sign bits of `vec` under planes `offset until offset+nPlanes`:
    * bit j set iff fold(vec . plane_{offset+j}) > 0. */
  def lshBits(vec: ArrayData, offset: Int, nPlanes: Int): Long = {
    val dim = vec.numElements()
    val p = planes(offset, nPlanes, dim)
    var bits = 0L
    var j = 0
    while (j < nPlanes) {
      var acc = 0.0
      var i = 0
      while (i < dim) {
        acc += vec.getDouble(i) * p(j * dim + i)
        i += 1
      }
      if (acc > 0.0) bits |= (1L << j)
      j += 1
    }
    bits
  }

  /** `graft_lsh_buckets(vec array<double>, offset, nPlanes, nTables)
    * -> array<long>` — `nTables` independent buckets in one pass:
    * table t uses planes `offset + t*nPlanes until offset + (t+1)*nPlanes`. */
  def lshBuckets(vec: ArrayData, offset: Int, nPlanes: Int, nTables: Int): ArrayData = {
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      out(t) = lshBits(vec, offset + t * nPlanes, nPlanes)
      t += 1
    }
    new GenericArrayData(out)
  }
}
