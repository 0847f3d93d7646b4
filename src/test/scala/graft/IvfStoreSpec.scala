package graft

import graft.queries.SimilarityQueries
import graft.functions.SimilarityFunctions

/** Pins for the IVF coarse-quantizer persistence (the LM/DSIR
  * once-per-corpus store rule applied to k-means): a store round-trip
  * must reproduce the trained centroids bit-exactly, a corrupt store
  * must retrain instead of half-loading, and the probe plan must be
  * deterministic given fixed centroids. */
class IvfStoreSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  test("centroid store: train -> persist -> load round-trips bit-exactly; corrupt retrains") {
    val store = Memo.pathFor("ivf", dir, "embeddings", 16, 3)
    store.delete() // force a fresh training run regardless of prior sessions
    Memo.dropMemory()
    val cent1 = SimilarityQueries.ivfCentroidsMemo(spark, dir, 16)
    assert(store.exists(), "training must persist the store")
    assert(cent1.length == 16 && cent1.head._2.nonEmpty)

    Memo.dropMemory()
    val cent2 = SimilarityQueries.ivfCentroidsMemo(spark, dir, 16)
    assert(cent1.map(_._1).sameElements(cent2.map(_._1)))
    for (((_, a), (_, b)) <- cent1.zip(cent2))
      assert(a.map(java.lang.Double.doubleToRawLongBits)
        .sameElements(b.map(java.lang.Double.doubleToRawLongBits)),
        "store round-trip must reproduce the doubles bit-exactly")

    // corrupt/truncated store: discarded and retrained, never half-loaded
    java.nio.file.Files.write(store.toPath, Array[Byte](9, 9, 9))
    Memo.dropMemory()
    val cent3 = SimilarityQueries.ivfCentroidsMemo(spark, dir, 16)
    assert(cent3.length == 16 && store.exists(),
      "corrupt store must retrain and re-persist")
  }

  test("probe is deterministic given fixed centroids") {
    val cent = SimilarityQueries.ivfCentroidsMemo(spark, dir, 16)
    val e = graft.Catalog.table(spark, dir, "embeddings")
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") % 100 === 0)
    def run() = SimilarityFunctions.annIvfTopK(q, e, 10, trained = Some(cent))
      .orderBy("qid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(run() == run())
  }
}
