package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The prefix-filtered exact Jaccard pair tier
  * (`SimilarityFunctions.jaccardPairsNgramPrefix`) on the driver, for
  * inputs whose postings fit the broadcast budget.
  *
  * Distributed, the tier pays a df aggregate, a window, a prefix
  * self-join, a `distinct` and two verify joins: ten or more Spark jobs,
  * most of them one task, for a slice of a few hundred documents. Here
  * the tier's per-document relation (doc_id, sh: distinct non-null
  * shingle hashes, sz) is materialized once by [[SmallGraph.materialize]]
  * — Spark still computes the shingle hashes — and ONE collect brings it
  * back. The driver builds an inverted index over the postings and
  * counts, per document pair, the shingles they share. Scores are
  * `c.toDouble / (na + nb - c).toDouble`, the IEEE operations of
  * `SimilarityFunctions.jaccardOf`, kept at `>= minJaccard`, and come
  * back as a local relation `(ida < idb, jaccard)` of the id column's
  * type. Pairs that share no shingle are never emitted, as on the
  * distributed side.
  *
  * In scope, with no knob of its own (a broadcast threshold ≤ 0 turns
  * it off, as for every [[SmallGraph]] gate):
  *  - the postings rows (Σ sz) fit [[SmallGraph.fits]] — not the
  *    per-document array rows, whose planner size estimate counts one
  *    element per array;
  *  - the id type compares like Spark's ([[SmallSubset]]'s key types);
  *  - every document id is non-null and distinct (the distributed
  *    window and verify joins are keyed by id);
  *  - no shingle's df exceeds `maxDf`: over the cap the distributed tier
  *    leaves the shingle out of its prefix index only, and keeps that
  *    semantics;
  *  - the index walk, Σ C(df, 2) candidates at 16 bytes each, fits the
  *    same budget;
  *  - the kept pairs, at the planner's size of an output row, fit it
  *    too. The walk keeps them unboxed; building the local relation
  *    holds them as external and as internal rows for a moment.
  * All but the first two are seen only after the collect. Out of
  * scope, the caller runs the distributed rounds over the same
  * materialization, so no pass is added. When the driver answers it
  * frees that materialization.
  */
private[graft] object SmallJaccard {

  /** The pairs of the materialized `base` (doc_id, sh, sz), whose
    * `postings` = Σ sz was observed, or None when out of scope. */
  def prefixTier(base: DataFrame, postings: Long, minJaccard: Double,
                 maxDf: Int): Option[DataFrame] = {
    val spark = base.sparkSession
    val id = base.schema("doc_id")
    val shape = base.select(col("doc_id"), explode(col("sh")).as("tok"))
    if (!SmallSubset.keyType(id.dataType) || !SmallGraph.fits(shape -> postings)) return None
    val rows = base.select("doc_id", "sh").collect()
    val ids = rows.map(_.get(0))
    if (ids.contains(null) || ids.distinct.length < ids.length) return None

    // documents numbered in Spark's id order, so i < j iff id(i) < id(j)
    val docs = rows.sortBy(_.get(0))(SmallSubset.valueOrder)
    val n = docs.length
    val tokNo = mutable.HashMap.empty[Long, Int]
    val toks = docs.map(_.getSeq[Long](1).map(h => tokNo.getOrElseUpdate(h, tokNo.size)).toArray)
    // the postings as (token << 32 | document), sorted: each token's
    // documents ascending, starting at start(token)
    val post = toks.iterator.zipWithIndex
      .flatMap { case (ts, d) => ts.iterator.map(_.toLong << 32 | d) }.toArray
    java.util.Arrays.sort(post)
    val start = new Array[Int](tokNo.size + 1)
    post.foreach(p => start((p >>> 32).toInt + 1) += 1)
    for (t <- 1 to tokNo.size) start(t) += start(t - 1)
    val dfs = (0 until tokNo.size).map(t => start(t + 1) - start(t))
    val walk = dfs.iterator.map(d => BigInt(d) * (d - 1) / 2).sum * 16
    if (dfs.exists(_ > maxDf) || !SmallGraph.fitsBytes(spark, walk)) return None

    val cnt = new Array[Int](n)
    val touched = new Array[Int](n)
    val pairs = mutable.ArrayBuilder.make[Long] // i << 32 | j
    val scores = mutable.ArrayBuilder.make[Double]
    for (i <- 0 until n) {
      var nt = 0
      for (t <- toks(i)) {
        // walk the token's documents down from the last while after i
        var q = start(t + 1) - 1
        while (q >= start(t) && post(q).toInt > i) {
          val j = post(q).toInt
          if (cnt(j) == 0) { touched(nt) = j; nt += 1 }
          cnt(j) += 1
          q -= 1
        }
      }
      for (x <- 0 until nt) {
        val j = touched(x)
        val c = cnt(j)
        cnt(j) = 0
        val jaccard = c.toDouble / (toks(i).length + toks(j).length - c).toDouble
        if (jaccard >= minJaccard) { pairs += i.toLong << 32 | j; scores += jaccard }
      }
    }

    val schema = StructType(Seq(
      id.copy(name = "ida"), id.copy(name = "idb"), StructField("jaccard", DoubleType)))
    val (ps, ss) = (pairs.result(), scores.result())
    val rowSize = EstimationUtils.getSizePerRow(DataTypeUtils.toAttributes(schema))
    if (!SmallGraph.fitsBytes(spark, BigInt(ps.length) * rowSize)) return None
    graft.plans.Checkpoints.unpersist(base)
    val out = ps.indices.map { k =>
      Row(docs((ps(k) >>> 32).toInt).get(0), docs(ps(k).toInt).get(0), ss(k))
    }
    Some(spark.createDataFrame(out.asJava, schema))
  }
}
