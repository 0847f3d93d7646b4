package graft

import graft.queries.TextQueries
import org.apache.spark.sql.functions._

/** The native LM-family scoring kernels (graft_dsir_score,
  * graft_lm_nll) must be BIT-IDENTICAL to the HOF formulations they
  * replaced — the DuckDB oracles and the stream==batch parities are
  * downstream of that identity. Pinned on the real corpus (every doc,
  * including <2-token and all-OOV cases) at the gate SF. */
class LmScoresSpec extends SparkSpecBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  private def bigramsCol = {
    val toks = split(col("text"), " ")
    when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
  }

  test("graft_dsir_score == the element_at HOF on every document") {
    val (ct, cr, v, tTot, rTot) =
      TextQueries.dsirCountsCapped(spark, dir, TextQueries.LmVocabCap)
    val tMap = typedlit(ct); val rMap = typedlit(cr)
    val hof = aggregate(bigramsCol, lit(0L), (acc, b) => {
      val num = (coalesce(element_at(tMap, b), lit(0L)).cast("double") + lit(1.0)) *
        lit((rTot + v).toDouble)
      val den = (coalesce(element_at(rMap, b), lit(0L)).cast("double") + lit(1.0)) *
        lit((tTot + v).toDouble)
      acc + round(log(num / den) * lit(1000000.0), 0).cast("long")
    })
    val (nFeats, w) = TextQueries.dsirCols(spark, dir)
    val d = Catalog.table(spark, dir, "documents")
    val both = d.select(col("doc_id"), hof.as("hof"), w.as("native"),
        size(bigramsCol).cast("long").as("nf_hof"), nFeats.as("nf_native"))
      .filter(col("hof") =!= col("native") || col("nf_hof") =!= col("nf_native"))
    assert(both.isEmpty, s"kernel != HOF on: ${both.limit(5).collect().mkString(", ")}")
    // sanity: scores are not degenerate (some docs differ from 0)
    assert(d.select(w.as("w")).filter(col("w") =!= 0L).count() > 0)
  }

  test("graft_lm_nll == the element_at HOF on every document") {
    val (c2, c1, vocabN) =
      TextQueries.lmCountsCapped(spark, dir, TextQueries.LmVocabCap)
    val bgMap = typedlit(c2); val w1Map = typedlit(c1)
    val hof = aggregate(bigramsCol, lit(0L), (acc, b) => {
      val cbg = coalesce(element_at(bgMap, b), lit(0L))
      val cw1 = coalesce(element_at(w1Map, substring_index(b, " ", 1)), lit(0L))
      acc - round(log((cbg.cast("double") + lit(1.0)) /
        (cw1.cast("double") + lit(vocabN.toDouble))) * lit(1000000.0), 0).cast("long")
    })
    val (nPairs, nll) = TextQueries.perplexityCols(spark, dir)
    val d = Catalog.table(spark, dir, "documents")
    val diff = d.select(col("doc_id"), hof.as("hof"), nll.as("native"),
        size(bigramsCol).cast("long").as("np_hof"), nPairs.as("np_native"))
      .filter(col("hof") =!= col("native") || col("np_hof") =!= col("np_native"))
    assert(diff.isEmpty, s"kernel != HOF on: ${diff.limit(5).collect().mkString(", ")}")
    assert(d.select(nll.as("n")).filter(col("n") =!= 0L).count() > 0)
  }

  test("broadcast transport == literal-children kernels (both models)") {
    // r16: the query layer ships the models via Broadcast
    // (LmScores.Broadcasted handles); the literal forms stay registered
    // for SQL. Both resolve through the same model builders — pinned
    // here end to end on the real corpus.
    graft.plans.GraftExtensions.register(spark)
    val toks = split(col("text"), " ")
    val (ct, cr, v, tTot, rTot) =
      TextQueries.dsirCountsCapped(spark, dir, TextQueries.LmVocabCap)
    val dsirLit = call_function("graft_dsir_score", toks, typedlit(ct),
      typedlit(cr), lit((rTot + v).toDouble), lit((tTot + v).toDouble))
    val (_, dsirBc) = TextQueries.dsirCols(spark, dir)
    val (c2, c1, vocabN) =
      TextQueries.lmCountsCapped(spark, dir, TextQueries.LmVocabCap)
    val nllLit = call_function("graft_lm_nll", toks, typedlit(c2),
      typedlit(c1), lit(vocabN.toDouble))
    val (_, nllBc) = TextQueries.perplexityCols(spark, dir)
    val d = Catalog.table(spark, dir, "documents")
    val diff = d.select(col("doc_id"), dsirLit.as("dl"), dsirBc.as("db"),
        nllLit.as("nl"), nllBc.as("nb"))
      .filter(col("dl") =!= col("db") || col("nl") =!= col("nb"))
    assert(diff.isEmpty,
      s"broadcast != literal on: ${diff.limit(5).collect().mkString(", ")}")
  }

  test("kernels handle edge rows: <2 tokens and fully-OOV text") {
    graft.plans.GraftExtensions.register(spark)
    val (nf, w) = TextQueries.dsirCols(spark, dir)
    val (np, nll) = TextQueries.perplexityCols(spark, dir)
    val edge = Seq("one", "zzqx9 qq7xy unknownword zzqx9", "").toDF("text")
    val rows = edge.select(col("text"), nf.as("nf"), w.as("w"), np.as("np"), nll.as("nll"))
      .collect()
    val one = rows.find(_.getString(0) == "one").get
    assert(one.getLong(1) == 0L && one.getLong(2) == 0L && one.getLong(4) == 0L)
    val oov = rows.find(_.getString(0).startsWith("zzqx9")).get
    assert(oov.getLong(1) == 3L) // 3 bigrams, every one out-of-vocab
    assert(oov.getLong(2) != 0L || oov.getLong(4) != 0L) // constant contributions apply
  }

  test("null token slots are skipped: score(a) == score(filter(a, x -> x is not null))") {
    graft.plans.GraftExtensions.register(spark)
    val rows = Seq(
      (Seq("the", null, "cat"), Seq("the", "cat")),
      (Seq(null, "the", null, null, "cat", "sat", null), Seq("the", "cat", "sat")),
      (Seq("the", null), Seq("the")))
      .toDF("a", "clean").repartition(2)
    def dsir(t: String) = call_function("graft_dsir_score", col(t),
      typedlit(Map("the cat" -> 4L, "cat sat" -> 1L)), typedlit(Map("the cat" -> 1L)),
      lit(30.0), lit(40.0))
    def nll(t: String) = call_function("graft_lm_nll", col(t),
      typedlit(Map("the cat" -> 3L, "cat sat" -> 2L)), typedlit(Map("the" -> 5L, "cat" -> 2L)),
      lit(20.0))
    val got = rows.select(dsir("a"), dsir("clean"), nll("a"), nll("clean")).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"graft_dsir_score: $r")
      assert(r.getLong(2) == r.getLong(3), s"graft_lm_nll: $r")
    }
    // the known bigram "the cat" scores, not two out-of-vocab ones
    assert(got.exists(r => r.getLong(1) != 0L && r.getLong(3) != 0L))
  }
}
