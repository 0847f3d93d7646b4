package graft

import graft.functions.SimilarityFunctions._
import org.apache.spark.sql.functions._

/** Accuracy checks for the scale tiers (minhash/simhash/ANN) against
  * their exact counterparts — these are the queries the DuckDB oracle
  * cannot cover (engine-internal hashes / sketches). */
class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private val vA = Array(1.0f, 0.0f, 0.0f)
  private val vB = Array(0.9f, 0.1f, 0.0f)
  private val vC = Array(0.0f, 1.0f, 0.0f)

  test("cosine: fold matches manual computation") {
    val df = Seq((vA, vB)).toDF("a", "b")
      .select(cosine(toDoubleArr($"a"), toDoubleArr($"b")).as("c"))
    val got = df.as[Double].head()
    val exp = {
      val dot = 1.0 * 0.9f + 0.0 + 0.0
      dot / (1.0 * math.sqrt(0.9f.toDouble * 0.9f.toDouble + 0.1f.toDouble * 0.1f.toDouble))
    }
    assert(math.abs(got - exp) < 1e-12)
  }

  test("cosineTopK: nearest neighbor ranking is correct") {
    val e = Seq((0L, vA), (1L, vB), (2L, vC)).toDF("vec_id", "embedding")
    val top = cosineTopK(e.filter($"vec_id" === 0L), e, 2)
      .select("cid", "rnk").as[(Long, Int)].collect().toMap
    assert(top(1L) == 1) // vB closest to vA
    assert(top(2L) == 2)
  }

  test("jaccardPairs: exact set jaccard") {
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c e"),   // |∩|=3 |∪|=5 -> 0.6
      (3L, "x y z w")).toDF("doc_id", "text")
    val pairs = jaccardPairs(docs, 0.1)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((1L, 2L, 0.6)))
  }

  test("dedup_editdist_pairs: every planted substitution is recovered at distance 1") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Catalog.table(spark, dir, "documents")
    val planted = docs.filter($"doc_id" % 10 === 0).count()
    val pairs = graft.queries.SimilarityQueries.dedupEditdistPairs(spark, dir)
      .as[(Long, Long, Int)].collect()
    // each planted mutation (id+1e6, first char substituted) must pair
    // with its original at exactly distance 1
    val plantedHits = pairs.filter { case (a, b, d) => b == a + 1000000L && d == 1 }
    assert(plantedHits.length == planted)
  }

  test("shingles: trigram set, order-sensitive, short-doc empty") {
    val df = Seq(
      (1L, "a b c d"),        // trigrams: "a b c", "b c d"
      (2L, "d c b a"),        // reversed: disjoint trigram set from doc 1
      (3L, "a b"),            // shorter than n -> empty
      (4L, "x x x x")         // repeated token -> ONE distinct shingle
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", shingles($"text", 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got(1L) == Set("a b c", "b c d"))
    assert(got(2L) == Set("d c b a".split(" ").sliding(3).map(_.mkString(" ")).toSeq: _*))
    assert(got(1L).intersect(got(2L)).isEmpty)
    assert(got(3L).isEmpty)
    assert(got(4L) == Set("x x x"))
  }

  test("shingles kernel == HOF formulation, bit for bit, real corpus") {
    // r17: shingles() is a native kernel (graft_shingle_strings); pin
    // it against the superseded array_distinct(transform(...)) HOF —
    // same strings, same first-seen ORDER (not just set equality).
    import org.apache.spark.sql.functions._
    val d = graft.Catalog.table(spark, "/root/testdata/sf0.01", "documents")
    val ts = col("toks")
    val hof = array_distinct(
      when(size(ts) < 3, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(ts) - 2), i =>
          concat_ws(" ", element_at(ts, i), element_at(ts, i + 1), element_at(ts, i + 2)))))
    val bad = d.select(col("doc_id"), split(col("text"), " ").as("toks"), col("text"))
      .select(when(shingles(col("text"), 3) === hof, 0).otherwise(1).as("bad"))
      .agg(sum(col("bad"))).collect()(0).getLong(0)
    assert(bad == 0, s"$bad docs diverge from the HOF shingle basis")
  }

  test("jaccardPairsNgramLsh: banded+exact-verify tier reproduces the exact tier") {
    // the real corpus: identical (ida, idb, jaccard) rows — the scale
    // tier's scores are exact per pair, and every qualifying pair
    // (j >= 0.8 here) collides in at least one of the 32 bands
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Catalog.table(spark, dir, "documents")
    val exact = jaccardPairsNgram(docs, 3, 0.4)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val lsh = jaccardPairsNgramLsh(docs, 3, 0.4)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(exact.nonEmpty, "fixture must contain near-dup pairs")
    assert(lsh.toSeq == exact.toSeq)
  }

  test("dedupMinhashPortable: verified subset of the exact tier; high-j pairs all recovered") {
    // the portable (md5-window) minhash tier emits exact-verified pairs,
    // so its (ida, idb, jaccard) rows must be a SUBSET of the exact
    // n-gram tier at the same threshold; and every high-j pair (>= 0.8,
    // where a 4x4 banded miss needs all four bands to break) must be
    // recovered — both properties deterministic here since md5 is fixed.
    val dir = "/root/testdata/sf0.001"
    val exact = graft.queries.SimilarityQueries.dedupNgramJaccard(spark, dir)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    val port = graft.queries.SimilarityQueries.dedupMinhashPortable(spark, dir)
      .select("ida", "idb", "est_jaccard", "jaccard")
      .as[(Long, Long, Double, Double)].collect()
    assert(port.nonEmpty, "fixture must contain near-dup pairs")
    port.foreach { case (a, b, est, j) =>
      assert(exact.get((a, b)).contains(j), s"pair ($a,$b) not in exact tier or jaccard differs")
      assert(est >= 0.0 && est <= 1.0)
    }
    val portKeys = port.map(p => (p._1, p._2)).toSet
    val missedHigh = exact.filter { case (_, j) => j >= 0.8 }.keySet.diff(portKeys)
    assert(missedHigh.isEmpty, s"high-jaccard pairs missed by banding: $missedHigh")
  }

  bothGateSides("jaccardPairsNgramPrefix: prefix-filtered tier IS the exact tier on the real corpus") {
    // unlike the LSH tier this equality is a THEOREM (prefix-filter
    // completeness), not a fixture property — but pin it on the real
    // corpus anyway so a broken prefix-length or length-filter edge
    // shows up here before the driver's oracle
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Catalog.table(spark, dir, "documents")
    val exact = jaccardPairsNgram(docs, 3, 0.4)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val pref = jaccardPairsNgramPrefix(docs, 3, 0.4)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(exact.nonEmpty, "fixture must contain near-dup pairs")
    assert(pref.toSeq == exact.toSeq)
  }

  bothGateSides("jaccardPairsNgramPrefix(n=1) == unigram jaccardPairs on the real corpus") {
    // r14: dedup_components' pair stage moved from the inverted-index
    // tier to the prefix tier at the UNIGRAM basis (n=1 shingles ==
    // distinct tokens, hashed). The two tiers must emit the identical
    // exact-Jaccard relation — jaccardPairs scores string token sets,
    // the prefix tier scores their 64-bit hash sets, equal absent an
    // intra-pair collision — so the declared query's oracle (which
    // keeps the string-token inverted-index CTE) stays valid.
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Catalog.table(spark, dir, "documents")
    val exact = jaccardPairs(docs, 0.5)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val pref = jaccardPairsNgramPrefix(docs, 1, 0.5)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(exact.nonEmpty, "fixture must contain unigram near-dup pairs")
    assert(pref.toSeq == exact.toSeq)
  }

  bothGateSides("jaccardPairsNgramPrefix == jaccardPairsNgram on random corpora at several thresholds") {
    // the completeness argument (df-ascending prefix of length
    // |x| - ceil(t|x|) + 1 + length filter) must hold on ANY corpus;
    // drive it with seeded random near-dup-rich corpora across
    // thresholds, including ones where the fixture has no coverage
    val rnd = new scala.util.Random(42)
    val vocab = ('a' to 'k').map(_.toString)
    for (trial <- 1 to 4) {
      val bases = Seq.fill(12)(Seq.fill(6 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
      // mutate each base a few ways: token substitution, prefix chop,
      // duplication — yields pairs across the whole jaccard range
      val corpus = bases.zipWithIndex.flatMap { case (b, i) =>
        val toks = b.split(" ").toSeq
        val sub = toks.updated(rnd.nextInt(toks.size),
          vocab(rnd.nextInt(vocab.size))).mkString(" ")
        val chop = toks.drop(1 + rnd.nextInt(3)).mkString(" ")
        Seq((i * 10L, b), (i * 10L + 1, sub), (i * 10L + 2, chop),
          (i * 10L + 3, b))
      }
      val df = corpus.toDF("doc_id", "text")
      for (t <- Seq(0.3, 0.5, 0.7, 0.9)) {
        val exact = jaccardPairsNgram(df, 3, t)
          .as[(Long, Long, Double)].collect().toSet
        val pref = jaccardPairsNgramPrefix(df, 3, t)
          .as[(Long, Long, Double)].collect().toSet
        assert(pref == exact,
          s"trial $trial t=$t: prefix tier diverged from exact " +
            s"(missing=${(exact -- pref).take(3)}, extra=${(pref -- exact).take(3)})")
      }
    }
  }

  bothGateSides("maxDf over-cap semantics: index tier approximates scores, prefix tier stays exact but can miss") {
    // r14 ADVICE: above the df cap the two exact tiers DIVERGE — the
    // inverted-index tier drops over-cap tokens from index AND sizes
    // (approximate scores), the prefix tier from the index only (exact
    // scores, but a pair whose qualifying support is all over-cap is
    // missed). Oracle-checked callsites therefore pass a cap above the
    // corpus max df (dedupComponentsMod passes Int.MaxValue). This
    // corpus engineers both regimes at maxDf=2: "s" (df=6) and "u"
    // (df=3) are over-cap; "a"/"x" (df=2) are not.
    val docs = Seq(
      (1L, "s a b"), (2L, "s a c"),   // J=0.5 via under-cap "a"
      (3L, "s x y"), (4L, "s x z"),   // J=0.5 via under-cap "x"
      (5L, "s u"), (6L, "s u"),       // J=1.0, support ALL over-cap
      (7L, "u q q2 q3 q4 q5")         // third "u" holder, no pair
    ).toDF("doc_id", "text")
    val uncappedIdx = jaccardPairs(docs, 0.3, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    val uncappedPref = jaccardPairsNgramPrefix(docs, 1, 0.3, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    val expected = Set((1L, 2L, 0.5), (3L, 4L, 0.5), (5L, 6L, 1.0))
    assert(uncappedIdx == expected)
    assert(uncappedPref == expected, "uncapped, the tiers agree exactly")
    // over-cap, inverted-index tier: "s"/"u" leave index AND sizes, so
    // (1,2) rescores as {a,b}~{a,c} = 1/3 and (5,6) vanishes (empty
    // capped sets) — approximate scores, the documented semantics
    val cappedIdx = jaccardPairs(docs, 0.3, maxDf = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(cappedIdx == Set((1L, 2L, 1.0 / 3), (3L, 4L, 1.0 / 3)),
      s"index tier must rescore on capped sets, got $cappedIdx")
    // over-cap, prefix tier: candidates only via under-cap tokens, but
    // verify arrays keep the FULL sets — (1,2)/(3,4) emit at their
    // exact 0.5; (5,6)'s only shared tokens are over-cap -> missed.
    // That is the "strictly broader miss condition" its docstring
    // documents, pinned here.
    val cappedPref = jaccardPairsNgramPrefix(docs, 1, 0.3, maxDf = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(cappedPref == Set((1L, 2L, 0.5), (3L, 4L, 0.5)),
      s"prefix tier must keep exact scores and miss only over-cap-supported pairs, got $cappedPref")
  }

  /** Exact Jaccard of (id, shingle set) documents by brute force; pairs
    * sharing no shingle are not emitted. Jaccard as its bits. */
  private def bruteJaccard(docs: Seq[(Long, Set[String])],
                           t: Double): Set[(Long, Long, Long)] =
    (for ((a, x) <- docs; (b, y) <- docs if a < b) yield {
      val c = (x & y).size
      (a, b, c, c.toDouble / (x.size + y.size - c).toDouble)
    }).collect { case (a, b, c, j) if c > 0 && j >= t =>
      (a, b, java.lang.Double.doubleToLongBits(j)) }.toSet

  bothGateSides("prefix Jaccard tier == brute force, bit for bit, on random corpora") {
    // both gate sides of operators.SmallJaccard against one reference:
    // duplicate documents, documents with no shingles, shuffled ids
    val onDriver = spark.sessionState.conf.autoBroadcastJoinThreshold > 0
    def bits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] = {
      assert(df.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] == onDriver)
      df.as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b, java.lang.Double.doubleToLongBits(j)) }.toSet
    }
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'h').map(_.toString)
    for (trial <- 1 to 2) {
      val bases = Seq.fill(10)(Seq.fill(rnd.nextInt(14))(
        vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val texts = bases.flatMap { b =>
        val toks = b.split(" ").toSeq
        Seq(b, b, toks.drop(1).mkString(" "),
          toks.updated(rnd.nextInt(toks.size), vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val ids = rnd.shuffle(texts.indices.map(i => i * 7L - 50)).toSeq
      val corpus = ids.zip(texts)
      val docs = corpus.toDF("doc_id", "text")
      val shingles3 = corpus.map { case (d, text) =>
        val toks = text.split(" ", -1).toSeq
        d -> (if (toks.size < 3) Set.empty[String] else toks.sliding(3).map(_.mkString(" ")).toSet)
      }
      for (t <- Seq(0.3, 0.5, 0.7, 0.9))
        assert(bits(jaccardPairsNgramPrefix(docs, 3, t)) == bruteJaccard(shingles3, t),
          s"trial $trial t=$t")
    }
  }

  test("prefix Jaccard tier: the driver side keeps the distributed side's schema") {
    val docs = Seq((3, "a b c d"), (1, "a b c e"), (2, "x y")).toDF("doc_id", "text")
    val driver = jaccardPairsNgramPrefix(docs, 1, 0.5)
    val distributed = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      jaccardPairsNgramPrefix(docs, 1, 0.5))
    assert(driver.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(driver.schema == distributed.schema)
    assert(driver.collect().toSet == distributed.collect().toSet)
  }

  test("brute top-k memo: regenerated embeddings invalidate the session cache") {
    // bruteTopk is memoized per (dir, file fingerprint) — same contract
    // as the bigram-LM cache: a fixture regenerated within one JVM
    // session must recompute, never serve stale neighbours
    val tmp = tempDir("graft-brute").toString
    def vec(near: Double): Seq[(Long, Array[Float])] = {
      def v(x: Double) = (0 until 64).map(i => if (i == 0) x.toFloat else 0.1f).toArray
      Seq((0L, v(1.0)), (1L, v(near)), (2L, v(-near)))
    }
    def write(near: Double): Unit = {
      Thread.sleep(1100) // distinct mtime on coarse filesystems
      vec(near).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    }
    // Memo never prunes a store: delete this fingerprint's, either medium
    def dropStores(): Unit = Seq("brute", "brute-rows").foreach(kind =>
      org.apache.commons.io.FileUtils.deleteQuietly(graft.Memo.pathFor(kind, tmp, "embeddings")))
    write(5.0) // cid 1 points the same way as qid 0; cid 2 opposite
    def top1(): Long = graft.queries.SimilarityQueries
      .simTopkEmbeddings(spark, tmp)
      .filter($"qid" === 0L && $"rnk" === 1).select("cid").as[Long].head()
    assert(top1() == 1L)
    dropStores()
    write(-5.0) // now cid 2 is the aligned one
    assert(top1() == 2L,
      "regenerated embeddings must invalidate the brute top-k memo")
    dropStores()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("fixture property the LSH-tier oracle reuse relies on: qualifying pairs sit at j >= 0.8") {
    // dedup_shingle_lsh and dedup_keeper_quality reuse the EXACT tier's
    // DuckDB oracle because every pair the 0.4/0.5 thresholds qualify
    // actually sits at j >= 0.8, where 32 bands of r=4 miss with
    // p < 5e-8. A pair in [0.4, 0.8) would make that mapping
    // probabilistic (band-miss ~13% at j=0.5) — if corpus drift ever
    // introduces one, THIS test fails deterministically instead of the
    // driver's oracle failing intermittently. Pinned at EVERY SF the
    // gates run on — sf0.01 is the driver's oracle SF and sf0.1 the
    // bench SF, so drift at either must fail here, not there. The SF
    // list is the shared Catalog constant — a new rung in the driver's
    // ladder is covered the moment it's added there.
    // (Measured: min qualifying j is 0.889 / 0.90 / 0.80.)
    for (sf <- graft.Catalog.testdataSfDirs) {
      val docs = graft.Catalog.table(spark, sf, "documents")
      val minJ = jaccardPairsNgram(docs, 3, 0.4)
        .agg(min($"jaccard")).as[Double].head()
      assert(minJ >= 0.8,
        s"$sf: qualifying pair at j=$minJ < 0.8: the shared-oracle mapping " +
          "for the banded tier is no longer deterministic — re-derive thresholds")
    }
  }

  test("jaccardPairsNgram: near-dup scores high, same-topic reorder scores zero") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // 1-word edit
      (3L, "dog lazy the over jumps fox brown quick the")  // same words, reordered
    ).toDF("doc_id", "text")
    val pairs = jaccardPairsNgram(df, 3, 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) > 0.4)       // shares 5 of 7+7-5 trigrams
    assert(!pairs.contains((1L, 3L)))   // reorder: zero shared trigrams
  }

  test("cms_heavy_hitters: one-sided count-min error bound holds") {
    val rows = graft.queries.SimilarityQueries
      .cmsHeavyHitters(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val nTotal = Catalog.table(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(split($"text", " ")).as("t")).count()
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"CMS under-estimated ${r.getString(0)}")
      assert(est <= exact + (0.0001 * nTotal).ceil.toLong,
        s"CMS over bound on ${r.getString(0)}: est=$est exact=$exact")
    }
  }

  test("cms_heavy_hitters_portable: one-sided bound; probe set matches the engine tier") {
    // the md5-window sketch is a true count-min: every estimate is the
    // min over 4 bucket counters that each saw the token's full count,
    // so est >= exact is a HARD guarantee (not probabilistic); the
    // probe set (exact top-20, same construction) must equal the
    // engine tier's so both keys answer the same question
    val port = graft.queries.SimilarityQueries
      .cmsHeavyHittersPortable(spark, "/root/testdata/sf0.001").collect()
    assert(port.length == 20)
    port.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"portable CMS under-estimated ${r.getString(0)}")
    }
    val engineToks = graft.queries.SimilarityQueries
      .cmsHeavyHitters(spark, "/root/testdata/sf0.001")
      .collect().map(_.getString(0)).toSet
    assert(port.map(_.getString(0)).toSet == engineToks)
  }

  test("distinct_kmv_portable: estimate lands in the 1/sqrt(k) band of exact") {
    // k=256 -> expected relative error ~6%; 20% is a >3-sigma pin.
    // k_actual must equal k (the fixture's trigram space is 16k+, so a
    // short read here means the shingle basis broke)
    val r = graft.queries.SimilarityQueries
      .distinctKmvPortable(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    val (exact, k, est) = (r(0).getLong(0), r(0).getInt(1), r(0).getDouble(3))
    assert(k == 256)
    assert(math.abs(est - exact) / exact <= 0.2,
      s"KMV estimate off: est=$est exact=$exact")
  }

  test("split_leakage_safe: one split per component; bucket drives the label") {
    val rows = graft.queries.SimilarityQueries
      .splitLeakageSafe(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // leakage-safety is structural: every member of a near-dup
    // component carries the same split label
    val perComp = rows.groupBy(_.getLong(1)).values
    assert(perComp.forall(_.map(_.getString(3)).toSet.size == 1))
    rows.foreach { r =>
      val (b, sp) = (r.getInt(2), r.getString(3))
      assert(b >= 0 && b < 100)
      val expect = if (b < 90) "train" else if (b < 95) "validation" else "test"
      assert(sp == expect, s"bucket $b mislabeled $sp")
    }
  }

  test("jaccardPairs: hot-token cap drops stopword-grade tokens from the index") {
    // "the" appears in every doc — uncapped it alone creates C(4,2)
    // intersection rows; capped at maxDf=3 it is dropped whole and
    // only the genuinely-overlapping pair survives.
    val docs = Seq(
      (1L, "the a b c d"),
      (2L, "the a b c e"),
      (3L, "the x y z w"),
      (4L, "the p q r s")).toDF("doc_id", "text")
    val capped = jaccardPairs(docs, 0.1, maxDf = 3)
      .as[(Long, Long, Double)].collect().toSet
    // with "the" gone both sides have 4 tokens, |∩|=3 -> 3/5 = 0.6
    assert(capped == Set((1L, 2L, 0.6)), s"got $capped")
    // uncapped: every pair shares "the" -> 6 candidate pairs
    assert(jaccardPairs(docs, 0.0).count() == 6)
  }

  test("minhash LSH: near-dups are candidates with high estimate; disjoint docs are not") {
    val near = ("w1 " * 30).trim + " extra"
    val docs = Seq(
      (1L, ("w1 " * 30).trim + " only1 a b c d e f g h"),
      (2L, ("w1 " * 30).trim + " only2 a b c d e f g h"), // high overlap with 1
      (3L, "q r s t u v zz yy xx ww vv uu")).toDF("doc_id", "text")
    val sigs = minhashSignatures(docs, "text", 32)
    assert(sigs.select(size($"sig")).as[Int].head() == 32)
    val pairs = minhashLshPairs(sigs, bands = 8)
      .as[(Long, Long, Double)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.contains((1L, 2L)), s"near-dup pair missing: ${pairs.mkString(",")}")
    assert(m((1L, 2L)) > 0.5)
    assert(!m.contains((1L, 3L)) && !m.contains((2L, 3L)))
  }

  test("minhash estimate tracks exact jaccard") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val overlap = (1 to 30).map(i => s"tok$i").mkString(" ") + " " +
      (100 to 109).map(i => s"tok$i").mkString(" ") // jaccard = 30/50 = 0.6
    val docs = Seq((1L, base), (2L, overlap)).toDF("doc_id", "text")
    val exact = jaccardPairs(docs, 0.0).as[(Long, Long, Double)].head()._3
    val sigs = minhashSignatures(docs, "text", 64)
    val est = sigs.as[(Long, Array[Long])].collect().sortBy(_._1) match {
      case Array((_, s1), (_, s2)) =>
        s1.zip(s2).count { case (x, y) => x == y }.toDouble / s1.length
    }
    assert(math.abs(exact - 0.6) < 1e-9)
    assert(math.abs(est - exact) < 0.25) // 64 hashes -> σ≈0.06; generous bound
  }

  test("native hash kernels: edge cases (short docs, empty, null, SQL callable)") {
    graft.plans.GraftExtensions.register(spark)
    // doc shorter than the shingle width -> empty signature -> filtered out
    val docs = Seq((1L, "a b"), (2L, "a b c d e")).toDF("doc_id", "text")
    val sigs = minhashSignatures(docs, "text", 8, nShingle = 3)
      .as[(Long, Array[Long])].collect().toMap
    assert(!sigs.contains(1L) && sigs(2L).length == 8)
    // signature values are in [0, 2^31-1)
    assert(sigs(2L).forall(v => v >= 0L && v < 2147483647L))
    // null text -> null hash, propagated not thrown
    val withNull = Seq((1L, Option("x y z")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    assert(simhash(withNull, "text").filter($"simhash".isNotNull).count() == 1)
    // callable straight from SQL (registered like any builtin)
    val viaSql = spark.sql(
      "SELECT graft_simhash(array('a','b')) = graft_simhash(array('b','a','a'))")
      .head().getBoolean(0)
    assert(viaSql) // order- and duplicate-insensitive (distinct token set)
  }

  test("simhash: identical docs collide, unrelated docs are far") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val h = simhash(docs, "text").as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    val d13 = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(d13 > 10, s"unrelated docs too close: $d13")
  }

  test("simhashPairs: banded candidates find exactly the all-pairs hamming matches") {
    // 8 docs: two identical pairs, one near pair, rest far apart
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),          // identical to 1
      (3L, "alpha beta gamma delta epsilon eta"),           // near 1/2
      (4L, "one two three four five six seven eight"),
      (5L, "one two three four five six seven eight"),      // identical to 4
      (6L, "red orange yellow green blue indigo violet"),
      (7L, "cat dog fish bird mouse horse cow sheep goat"),
      (8L, "north south east west up down left right")).toDF("doc_id", "text")
    val banded = simhashPairs(docs, "text", maxHamming = 3)
      .select("ida", "idb", "dist").as[(Long, Long, Int)].collect().toSet
    // ground truth: brute-force over all C(8,2) pairs
    val h = simhash(docs, "text").as[(Long, Long)].collect().toMap
    val truth = (for {
      a <- h.keys; b <- h.keys if a < b
      d = java.lang.Long.bitCount(h(a) ^ h(b)) if d <= 3
    } yield (a, b, d)).toSet
    assert(banded == truth) // pigeonhole banding loses nothing at hamming<=3
    assert(truth.exists { case (a, b, d) => d == 0 }) // fixture really has dups
  }

  test("hot-bucket caps bound the candidate space (minhash + simhash)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // identical docs share every band bucket: cap 1 drops all candidates
    val sigs = minhashSignatures(docs, "text", 16, nShingle = 2)
    assert(minhashLshPairs(sigs, bands = 4, maxBucket = 1).count() == 0)
    assert(minhashLshPairs(sigs, bands = 4).count() == 3) // healthy cap keeps them
    assert(simhashPairs(docs, "text", maxBucket = 1).count() == 0)
    assert(simhashPairs(docs, "text").count() == 3)
  }

  test("capHotKeys == the uniform lowest-id bucket cap, as a set, on random over-cap buckets") {
    // the hot-only rewrite (count, broadcast anti/semi, window over hot
    // buckets only) must keep exactly the rows of the uniform
    // row_number() over (keys order by id) <= cap that the oracle twins
    // replay as one QUALIFY — ids are unique per bucket, as in every
    // banded relation (one row per id per table)
    val rnd = new scala.util.Random(17)
    for (_ <- 0 until 4) {
      val cap = 1 + rnd.nextInt(4)
      val rows = for {
        tbl <- 0 until 3
        id <- rnd.shuffle((0L until 60L).toList)
      } yield (id, tbl,
        // a third of the ids crowd two hot buckets; the rest spread thin
        if (rnd.nextInt(3) == 0) rnd.nextInt(2).toLong else 2L + rnd.nextInt(40))
      val byBucket = rows.groupBy(r => (r._2, r._3)).values
      assert(byBucket.exists(_.size > cap), "fixture must hold over-cap buckets")
      val uniform = byBucket.flatMap(_.sortBy(_._1).take(cap)).toSet
      val got = capHotKeys(rows.toDF("id", "tbl", "bucket"), "id",
        Seq("tbl", "bucket"), cap).select("id", "tbl", "bucket")
        .as[(Long, Int, Long)].collect()
      assert(got.length == got.toSet.size, "no row may come back twice")
      assert(got.toSet == uniform, s"cap $cap")
    }
  }

  test("cosineLshPairs: verified subset of brute-force pairs, dups always found") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 30L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    // plant a near-duplicate of vector 0 (tiny perturbation)
    val nearDup = (500L, base.head._2.map(v => v + 0.01f))
    val e = (base :+ nearDup).toDF("vec_id", "embedding")
    val got = cosineLshPairs(e, nTables = 4, planesPerTable = 6, dim = 16, minCos = 0.9)
      .select("ida", "idb", "score").as[(Long, Long, Double)].collect()
    assert(got.exists { case (a, b, _) => a == 0L && b == 500L }) // planted dup found
    // every reported pair genuinely clears the threshold (verify step is exact)
    assert(got.forall(_._3 >= 0.9))
  }

  test("digest dedup == full-text dedup on the real corpus; no collisions") {
    val dir = "/root/testdata/sf0.01"
    val byText = graft.queries.SimilarityQueries.dedupExactDocs(spark, dir)
      .select("keep_id", "dup_cnt").as[(Long, Long)].collect().toSet
    val byDigest = graft.queries.SimilarityQueries.dedupExactDigest(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(byDigest.forall(_._3 == 1L), "xxhash64 collision sentinel tripped")
    assert(byDigest.map(r => (r._1, r._2)).toSet == byText)
  }

  test("normalized dedup merges messy variants that raw exact dedup misses") {
    val dir = "/root/testdata/sf0.001"
    val d = graft.Catalog.table(spark, dir, "documents")
    // the same planted union the query builds: uppercased, double-spaced,
    // punctuation-suffixed copies of every 9th doc under shifted ids
    val messy = d.filter($"doc_id" % 9 === 0)
      .withColumn("doc_id", $"doc_id" + 3000000L)
      .withColumn("text", concat(regexp_replace(upper($"text"), " ", "  "), lit(" !!")))
    val union = d.union(messy)
    val rawGroups = union.groupBy("text").count().filter($"count" > 1).count()
    assert(rawGroups == 0L, "raw exact dedup must NOT merge the messy variants")
    val got = graft.queries.SimilarityQueries.dedupExactNormalized(spark, dir)
      .select("keep_id", "dup_cnt").as[(Long, Long)].collect()
    val expected = d.filter($"doc_id" % 9 === 0).count()
    assert(got.length == expected, s"one group per planted variant: $expected")
    // keeper is always the original (min id); every group is {orig, messy}
    assert(got.forall { case (keep, cnt) => keep < 3000000L && cnt == 2L })
  }

  test("incremental ingest dedup: per-doc statuses match the planted batch") {
    val dir = "/root/testdata/sf0.001"
    val d = graft.Catalog.table(spark, dir, "documents")
    val got = graft.queries.SimilarityQueries.dedupIncremental(spark, dir)
      .as[(Long, String)].collect().toMap
    val n3 = d.filter($"doc_id" % 3 === 0).count()
    val n4 = d.filter($"doc_id" % 4 === 0).count()
    val n6 = d.filter($"doc_id" % 6 === 0).count()
    val n9 = d.filter($"doc_id" % 9 === 0).count()
    assert(got.size == n3 + n4 + n6 + n9, "one status per batch row")
    // fresh-suffixed docs (+6e6) are new to the corpus -> kept
    assert(got.count { case (id, st) =>
      id >= 6000000L && id < 7000000L && st == "kept" } == n3)
    // their second enrollment (+7e6, same fresh text) -> dup_in_batch
    assert(got.count { case (id, st) =>
      id >= 7000000L && st == "dup_in_batch" } == n6)
    // verbatim re-entries (+5e6) -> dup_of_corpus
    assert(got.count { case (id, st) =>
      id >= 5000000L && id < 6000000L && st == "dup_of_corpus" } == n4)
    // messy renderings (+3e6) are caught ONLY via normalization
    assert(got.count { case (id, st) =>
      id >= 3000000L && id < 5000000L && st == "dup_of_corpus" } == n9)
  }

  test("cluster_kmeans: matches an independent Scala reimplementation; Lloyd round improves SSE") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.SimilarityQueries.clusterKmeans(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // independent reimplementation from the raw floats (BigDecimal
    // HALF_UP mirrors Spark's round(,0) exactly, incl. negative ties)
    val raw = graft.Catalog.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().sortBy(_._1)
    val qv = raw.map { case (id, e) => id -> e.map(x =>
      BigDecimal(x.toDouble * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong) }
    def dist(x: Seq[Long], cs: Seq[Long]): Long =
      x.zip(cs).map { case (a, b) => (a * 10000L - b) * (a * 10000L - b) }.sum
    def assign(cents: Seq[(Long, Seq[Long])]) = qv.map { case (id, x) =>
      val (d, c) = cents.map { case (c, cs) => (dist(x, cs), c) }.min
      (id, c, d)
    }
    val c0 = qv.take(8).zipWithIndex.map { case ((_, x), i) =>
      (i.toLong, x.map(_ * 10000L)) }
    val a1 = assign(c0)
    val c1 = a1.zip(qv).groupBy(_._1._2).toSeq.map { case (c, rows) =>
      val n = rows.length.toLong
      val sums = rows.toSeq.map(_._2._2.toSeq).transpose.map(_.sum)
      (c, sums.map(s => Math.floorDiv(s * 10000L, n)))
    }.sortBy(_._1)
    val a2 = assign(c1)
    assert(got.toSeq == a2.toSeq, "engine must equal the reference Lloyd rounds")
    // the M-step strictly improved the fixture's SSE
    assert(a2.map(r => BigInt(r._3)).sum < a1.map(r => BigInt(r._3)).sum)
    // all k clusters populated, none degenerate
    val sizes = got.groupBy(_._2).map(_._2.length)
    assert(sizes.size == 8 && sizes.forall(_ > 0))
  }

  test("sample_negative_pairs: draws replay the Weyl hop; guards hold") {
    val dir = "/root/testdata/sf0.001"
    val n = graft.Catalog.table(spark, dir, "documents").count()
    val got = graft.queries.SimilarityQueries.sampleNegativePairs(spark, dir)
      .select("anchor_id", "negative_id", "slot")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // every draw is exactly the deterministic formula, never the anchor
    got.foreach { case (a, neg, i) =>
      assert(neg == Math.floorMod(a * 2654435761L + i * 40503L, n))
      assert(neg != a && a % 10 == 0 && i >= 1 && i <= 6)
    }
    // at most 6 negatives per anchor; only self-collisions may drop a
    // slot (the corpus has no normalized-digest dups)
    val perAnchor = got.groupBy(_._1).view.mapValues(_.size)
    assert(perAnchor.values.forall(c => c >= 5 && c <= 6))
  }

  test("JL projection: on clustered geometry the 16-dim plane family preserves cluster structure") {
    // the quality pin for sim_topk_projected, on geometry where the
    // lemma applies (the ann_lsh_recall_auto precedent): 8
    // well-separated centers + small deterministic noise. What JL
    // guarantees (and what a pipeline uses a 4x dimension cut for) is
    // COARSE neighbor structure: a query's projected top-10 must stay
    // inside its own cluster. Exact top-10 IDENTITY is noise-ranked
    // within a cluster and not preserved by ANY 4x cut (measured 0.36
    // here, 0.24 on the near-orthogonal fixture — the query scaladoc
    // documents both), so that is deliberately NOT the assertion.
    import graft.functions.SimilarityFunctions.planeComponent
    val dim = 64
    val projDims = 16
    val off = 4096 // ProjPlaneOffset
    def lcg(seed: Long): Iterator[Double] =
      Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L)
        .map(s => ((s >>> 11).toDouble / 9007199254740992.0) - 0.5)
    val centers = (0 until 8).map(c => lcg(c * 7919L + 13L).take(dim).toVector)
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      val noise = lcg(i * 104729L + 7L).take(dim).toVector
      i.toLong -> c.zip(noise).map { case (a, n) => a + 0.08 * n }
    }
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cos(a: Seq[Double], b: Seq[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def project(e: Seq[Double]): Seq[Double] =
      (0 until projDims).map(j =>
        dot(e, (0 until dim).map(i => planeComponent(off + j, i))))
    val full = vecs.toMap
    val projected = vecs.map { case (id, e) => id -> project(e) }.toMap
    val queries = vecs.filter(_._1 % 40 == 0)
    def topk(qid: Long, space: Map[Long, Seq[Double]]) =
      vecs.filter(_._1 != qid)
        .map { case (cid, _) => (cos(space(qid), space(cid)), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(10).map(_._2)
    def sameClusterFrac(qid: Long, ids: Seq[Long]) =
      ids.count(_ % 8 == qid % 8) / 10.0
    val fullPurity = queries.map { case (qid, _) => sameClusterFrac(qid, topk(qid, full)) }
    val projPurity = queries.map { case (qid, _) => sameClusterFrac(qid, topk(qid, projected)) }
    // geometry sanity: the full space ranks own-cluster members on top
    assert(fullPurity.forall(_ == 1.0), s"fixture not separated: $fullPurity")
    // the pin: the 4x-cheaper projected space keeps them there too
    val mean = projPurity.sum / projPurity.size
    assert(mean >= 0.9 && projPurity.forall(_ >= 0.8),
      s"projected top-10 left the cluster: mean $mean (per-q: $projPurity)")
  }

  test("paragraph dedup finds the planted boilerplate footer across documents") {
    val dir = "/root/testdata/sf0.001"
    val d = graft.Catalog.table(spark, dir, "documents")
    val got = graft.queries.SimilarityQueries.dedupParagraphs(spark, dir)
      .select("para_md5", "n_docs", "keep_doc")
      .as[(String, Long, Long)].collect()
    val bpMd5 = spark.range(1)
      .select(md5(lit("subscribe to our newsletter for daily updates")))
      .as[String].head()
    val n5 = d.filter($"doc_id" % 5 === 0).count()
    val bp = got.find(_._1 == bpMd5)
    assert(bp.isDefined, "planted boilerplate paragraph must form a dup group")
    assert(bp.get._2 == n5, s"boilerplate must span all ${n5} planted docs")
    assert(bp.get._3 == 0L, "keeper is the earliest doc (doc 0 is %5==0)")
  }

  test("paragraph clean drops later copies of boilerplate, keeps first doc intact") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.queries.SimilarityQueries.paragraphClean(spark, dir)
      .select("doc_id", "n_paras", "n_kept")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 0 is the globally-first occurrence of both planted footers:
    // every paragraph it has survives
    assert(got(0L)._1 == got(0L)._2, "doc 0 must keep all paragraphs")
    // every LATER %35 doc carries both footers already seen in doc 0 —
    // at least those two paragraphs drop
    val later35 = got.keys.filter(id => id > 0 && id % 35 == 0)
    assert(later35.nonEmpty)
    later35.foreach { id =>
      assert(got(id)._2 <= got(id)._1 - 2, s"doc $id must drop both footers")
    }
    // cleanup never invents paragraphs
    assert(got.values.forall { case (n, k) => k <= n })
  }

  test("IVF recall@10 vs brute force >= 0.9 on the real corpus") {
    // nprobe=12/16 + 256-bit fp rank + 512-candidate cap: measured
    // 0.96 at sf0.01, 0.93 at sf0.1 (the round-7 >=0.9 target)
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val r = graft.queries.SimilarityQueries.annIvfRecall(spark, dir)
        .select("recall").as[Double].head()
      assert(r >= 0.9, s"IVF recall degraded at $dir: $r")
    }
  }

  test("IVF: centroids form, index assigns, and exact duplicates are found") {
    val rnd = new scala.util.Random(13)
    // two well-separated clusters + an exact duplicate of the query
    val clusterA = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => (if (d == 0) 5.0 else 0.0) + rnd.nextGaussian() * 0.1).map(_.toFloat)))
    val clusterB = (100L until 120L).map(i =>
      (i, Array.tabulate(8)(d => (if (d == 7) 5.0 else 0.0) + rnd.nextGaussian() * 0.1).map(_.toFloat)))
    val all = (clusterA ++ clusterB) :+ (999L, clusterA.head._2.clone())
    val e = all.toDF("vec_id", "embedding")
    val cents = cosineTopK(e, e, 1) // warm nothing; just ensure df ok
    assert(cents.count() > 0)
    val got = annIvfTopK(e.filter($"vec_id" === 0L), e, 5, k = 2, nprobe = 1, iters = 2)
      .select("cid").as[Long].collect().toSet
    assert(got.contains(999L)) // the duplicate shares the probed cell
    assert(got.forall(id => id < 20L || id == 999L)) // no cross-cluster noise in top-5
  }

  test("ANN LSH: recall@10 vs brute force >= 0.9 on real near-orthogonal corpus") {
    // The fixture corpus is the hard case for hyperplane LSH
    // (10th-neighbor cosine ~0.32 vs bulk p99 ~0.29). Multiprobe at
    // hamming<=2 lifts candidate-generation recall to ~0.98+, and the
    // 256-bit-fingerprint-ranked 256-vector verify budget
    // (corpus-independent) keeps >=0.9 of it: measured 0.98 at sf0.01,
    // 0.965 at sf0.1 (the round-7 >=0.9 target).
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = Catalog.table(spark, dir, "embeddings")
      val q = e.filter($"vec_id" % 100 === 0)
      val brute = cosineTopK(q, e, 10).select("qid", "cid")
      val ann = annLshTopK(q, e, 10).select("qid", "cid")
      val hits = ann.join(brute, Seq("qid", "cid")).count()
      val recall = hits.toDouble / brute.count()
      assert(recall >= 0.9, s"ANN LSH recall degraded at $dir: $recall")
    }
  }

  test("sim_topk_quantized: int8 tier recall@10 >= 0.9 vs the float brute tier") {
    // symmetric int8 quantization (q = round(x/m*127), one global
    // scale) costs ~1/255 of the value range per component — at 64
    // dims the cosine perturbation is far inside the fixture's
    // neighbor gaps, so the 4x-smaller tier must keep the float
    // ranking almost exactly
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = Catalog.table(spark, dir, "embeddings")
      val q = e.filter($"vec_id" % 100 === 0)
      val brute = cosineTopK(q, e, 10).select("qid", "cid")
      val quant = graft.queries.SimilarityQueries.simTopkQuantized(spark, dir)
        .select("qid", "cid")
      val hits = quant.join(brute, Seq("qid", "cid")).count()
      val recall = hits.toDouble / brute.count()
      assert(recall >= 0.9, s"quantized recall degraded at $dir: $recall")
    }
  }

  test("ann_lsh_topk_portable: recall@10 >= 0.9 vs brute force at the gate SFs") {
    // The oracle-gate tier drops the fingerprint-ranked verify cap (the
    // one step DuckDB can't replay), so it keeps the full ~0.98+
    // candidate-generation recall of the hamming-2 multiprobe — the
    // floor pins that it stays a real ANN, not just an oracle artifact.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = Catalog.table(spark, dir, "embeddings")
      val q = e.filter($"vec_id" % 100 === 0)
      val brute = cosineTopK(q, e, 10).select("qid", "cid")
      val port = graft.queries.SimilarityQueries.annLshTopkPortable(spark, dir)
        .select("qid", "cid")
      val hits = port.join(brute, Seq("qid", "cid")).count()
      val recall = hits.toDouble / brute.count()
      assert(recall >= 0.9, s"portable ANN recall degraded at $dir: $recall")
    }
  }

  test("ANN LSH: identical vector is always found; recall vs brute force is sane") {
    // 40 random-ish deterministic vectors + exact duplicate of query
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat))) :+
      (99L, null.asInstanceOf[Array[Float]])
    val base = vecs.dropRight(1) :+ (99L, vecs.head._2.clone())
    val e = base.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" === 0L)
    val ann = annLshTopK(q, e, 5, nPlanes = 8, dim = 8)
      .select("cid").as[Long].collect().toSet
    assert(ann.contains(99L)) // exact dup lands in same bucket, rank 1
    val exact = cosineTopK(q, e, 5).select("cid").as[Long].collect().toSet
    assert(ann.subsetOf(exact ++ ann)) // ann returns only real vectors
    assert((ann intersect exact).nonEmpty)
  }

  // --- r12 scale knobs (VERDICT r11 item 1) ----------------------------

  test("autoPlanes: floor pins every gate SF to 8; occupancy constant above it") {
    // gate corpora (500 / 2000 embeddings) sit under the floor — the
    // auto operator IS the literal-8 operator where the DuckDB gate runs
    for (n <- Seq(500L, 2000L, 8192L)) assert(autoPlanes(n) == 8, s"n=$n")
    // above the floor: occupancy n / 2^planes stays in [16, 32] at any
    // size — the formula's whole point (constant per-bucket verify cost)
    for (n <- Seq(20000L, 60000L, 1000000L, 1000000000L)) {
      val p = autoPlanes(n)
      val occ = n.toDouble / (1L << p)
      assert(occ > 16.0 - 1e-9 && occ <= 32.0 + 1e-9, s"n=$n planes=$p occ=$occ")
    }
    assert(autoPlanes(20000L) == 10)
  }

  test("cosineLshPairsAuto == cosineLshPairs(8) on the gate corpus") {
    val e = Catalog.table(spark, "/root/testdata/sf0.01", "embeddings")
    val fixed = cosineLshPairs(e, nTables = 4, planesPerTable = 8,
        dim = 64, minCos = 0.35)
      .as[(Long, Long, Double)].collect().toSet
    val auto = cosineLshPairsAuto(e, nTables = 4, dim = 64, minCos = 0.35)
      .as[(Long, Long, Double)].collect().toSet
    assert(auto == fixed,
      "auto plane knob must be bit-identical to the literal-8 oracle at gate SFs")
  }

  test("annLshTopKAuto == annLshTopK(8) on the gate corpus; multiprobe masks are combinatorial") {
    // n <= 8192 sits at the autoPlanes floor, so the auto ANN tier must
    // be bit-identical to the literal-8 one the recall pins bind. The
    // mask generation is also exercised at a width (11 planes) where
    // the old 0..2^p enumeration would have scanned 2048 longs — the
    // combinatorial form must keep candidate output identical at 8.
    val e = Catalog.table(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter($"vec_id" % 100 === 0)
    val fixed = annLshTopK(q, e, 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    val auto = graft.functions.SimilarityFunctions.annLshTopKAuto(q, e, 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(auto == fixed,
      "auto ANN-LSH must be bit-identical to the literal-8 tier at gate SFs")
    // wider-plane path still runs end-to-end (recall trade measured in
    // AnnTune — see annLshTopKAuto scaladoc for why it isn't default)
    assert(annLshTopK(q, e, 10, nPlanes = 11).count() > 0)
  }

  test("auto planes hold bucket occupancy ~constant where fixed 8 grows linearly") {
    // 32768 synthetic vectors: autoPlanes -> 10 (occ ~32/table);
    // literal 8 -> occ ~128 and climbing with n. Measured on the real
    // bucket kernel, not just the formula.
    val rnd = new scala.util.Random(42)
    val n = 32768
    val e = (0 until n).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian())))
      .toDF("vec_id", "e")
    graft.plans.GraftExtensions.register(spark)
    def avgOcc(planes: Int): Double = {
      val occ = e.select(posexplode(call_function("graft_lsh_buckets",
          $"e", lit(0), lit(planes), lit(2))).as(Seq("tbl", "bucket")))
        .groupBy("tbl", "bucket").count()
        .agg(avg("count")).as[Double].head()
      occ
    }
    val auto = autoPlanes(n) // 10
    assert(auto == 10)
    val occAuto = avgOcc(auto)
    val occFixed = avgOcc(8)
    // sign-bit buckets of gaussian vectors are not perfectly uniform;
    // the claim is the RATIO: auto buys back the 2^(auto-8) growth
    assert(occFixed / occAuto > 3.0,
      s"fixed-8 occupancy $occFixed should be ~4x auto's $occAuto at n=$n")
  }

  test("simhashWide: word 0 is the 64-bit fingerprint; words independent") {
    val d = Catalog.table(spark, "/root/testdata/sf0.001", "documents")
    val narrow = simhash(d, "text").as[(Long, Long)].collect().toMap
    val wide = simhashWide(d, "text", 4)
      .as[(Long, Seq[Long])].collect().toMap
    assert(wide.forall { case (id, fps) => fps.length == 4 && fps.head == narrow(id) })
    // seeded words are genuinely different hash functions, not copies
    assert(wide.values.forall(fps => fps.distinct.length == fps.length))
  }

  test("simhashPairsWide: banded candidates find exactly the all-pairs wide-hamming matches") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),          // identical to 1
      (3L, "alpha beta gamma delta epsilon eta"),           // near 1/2
      (4L, "one two three four five six seven eight"),
      (5L, "one two three four five six seven eight"),      // identical to 4
      (6L, "red orange yellow green blue indigo violet"),
      (7L, "cat dog fish bird mouse horse cow sheep goat"),
      (8L, "north south east west up down left right")).toDF("doc_id", "text")
    val banded = simhashPairsWide(docs, "text", maxHamming = 3, words = 4)
      .select("ida", "idb", "dist").as[(Long, Long, Int)].collect().toSet
    val h = simhashWide(docs, "text", 4).as[(Long, Seq[Long])].collect().toMap
    def ham(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    val truth = (for {
      a <- h.keys; b <- h.keys if a < b
      d = ham(h(a), h(b)) if d <= 3
    } yield (a, b, d)).toSet
    assert(banded == truth) // word-pigeonhole loses nothing at hamming <= words-1
    assert(truth.exists { case (_, _, d) => d == 0 }) // fixture really has dups
    // the 2^64 band keys never collide for far-apart docs: cap 1 still
    // keeps healthy buckets at singleton size (only true dups share keys)
    assert(simhashPairsWide(docs, "text", maxHamming = 3, words = 4,
      maxBucket = 2).count() >= 2)
  }

  test("simhash auto-tier: declared key is the 16-bit plan at gate SFs, wide above the ceiling") {
    // crossover pinned without a 16k-doc fixture: the selector is pure
    import graft.functions.SimilarityFunctions.{simhashUseWide, SimhashNarrowMax}
    assert(SimhashNarrowMax == (1L << 14))
    assert(!simhashUseWide(SimhashNarrowMax))
    assert(simhashUseWide(SimhashNarrowMax + 1))
    assert(!simhashUseWide(5000)) // largest gate-SF corpus (sf0.1)
    assert(simhashUseWide(50000)) // sf1 rung: narrow measured 2.4x wide
    // at a gate SF the declared key IS the 16-bit tier, bit for bit
    val d = Catalog.table(spark, "/root/testdata/sf0.001", "documents")
    val declared = graft.queries.SimilarityQueries
      .dedupSimhashDocs(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Int)].collect().toSeq
    val narrow = simhashPairs(d, "text", maxHamming = 3)
      .orderBy("ida", "idb").as[(Long, Long, Int)].collect().toSeq
    assert(declared == narrow)
  }

  test("ngram-jaccard auto-tier: declared key is the index plan at gate SFs, prefix above the ceiling") {
    // same crossover-pinning shape as the simhash selector — but this
    // auto-tier is OUTPUT-INVISIBLE (prefix == index is a theorem,
    // pinned above on the real corpus and on 60 random corpora), so
    // only the selector arithmetic and the gate-SF plan choice need
    // pinning here.
    import graft.functions.SimilarityFunctions.{ngramUsePrefix, NgramIndexMax}
    assert(NgramIndexMax == (1L << 13))
    assert(!ngramUsePrefix(NgramIndexMax))
    assert(ngramUsePrefix(NgramIndexMax + 1))
    assert(!ngramUsePrefix(5000))  // largest gate-SF corpus (sf0.1)
    assert(ngramUsePrefix(50000))  // sf1 rung: index measured 96-191 s vs 76 s prefix
    // at a gate SF the declared key IS the inverted-index tier's rows
    val d = Catalog.table(spark, "/root/testdata/sf0.001", "documents")
    val declared = graft.queries.SimilarityQueries
      .dedupNgramJaccard(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect().toSeq
    val index = jaccardPairsNgram(d, 3, 0.4)
      .orderBy("ida", "idb").as[(Long, Long, Double)].collect().toSeq
    assert(declared == index)
  }

  test("wide simhash bands: occupancy stays near-singleton where 16-bit words saturate") {
    // the knob's occupancy claim, measured on the band relations
    // themselves: synthetic small-vocab corpora (the adversarial case —
    // near-constant docs) at 2k and 20k docs. The 4x16-bit banding's
    // key space is 2^16 per word, so its max bucket grows with n; the
    // wide tier's 64-bit words collide only for (near-)identical
    // fingerprints, so its max bucket tracks the dup-group size, not
    // the corpus.
    // 50-word vocab, 12 tokens/doc: the distinct-set space is huge (no
    // full-fingerprint dups to speak of), but per-bit vote BIAS is
    // vocab-fixed, so 16-bit words concentrate on a few modal values
    // (p_mode ≈ Π|bias| over 16 bits is material) while 64-bit words
    // don't (the same product over 64 bits vanishes) — exactly the
    // corpus shape that saturated the 16-bit banding at the sf1 rung.
    val vocab = Array.tabulate(50)(i => s"w$i")
    def corpus(n: Int) = {
      val rnd = new scala.util.Random(5)
      (0 until n).map(i =>
        (i.toLong, Array.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
        .toDF("doc_id", "text")
    }
    def maxBucket(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy("w", "word").count()
        .agg(max("count")).as[Long].head()
    def narrowWords(d: org.apache.spark.sql.DataFrame) =
      simhash(d, "text").select($"doc_id",
        posexplode(array((0 until 4).map(w =>
          shiftright($"simhash", 16 * w).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("w", "word")))
    def wideWords(d: org.apache.spark.sql.DataFrame) =
      simhashWide(d, "text", 4).select($"doc_id",
        posexplode($"fps").as(Seq("w", "word")))
    val (small, big) = (corpus(2000), corpus(20000))
    val narrowGrowth = maxBucket(narrowWords(big)).toDouble /
      maxBucket(narrowWords(small))
    val wideSmall = maxBucket(wideWords(small))
    val wideBig = maxBucket(wideWords(big))
    // 16-bit words: occupancy grows with the corpus (the r11 sf1 bug)
    assert(narrowGrowth > 3.0, s"expected 16-bit occupancy growth, got $narrowGrowth")
    // 64-bit words: occupancy tracks duplicate-group size only — with
    // 12^8 ≈ 4.3e8 possible docs, 10x the corpus must not 10x the
    // bucket (allow the dup-group statistics to double)
    assert(wideBig.toDouble / wideSmall < 3.0,
      s"wide occupancy must not track corpus size: $wideSmall -> $wideBig")
  }

  test("autoIvfParams: fixed below the threshold, k tracks sqrt(n) above") {
    assert(autoIvfParams(500L) == ((16, 12)))
    assert(autoIvfParams(2000L) == ((16, 12)))   // both gate SFs fixed
    assert(autoIvfParams(8192L) == ((16, 12)))
    val (k1, p1) = autoIvfParams(20000L)
    assert(k1 == math.ceil(math.sqrt(20000.0)).toInt && k1 == 142)
    assert(p1 == math.max(12, math.ceil(k1 * 0.2).toInt))
    // probed CELL fraction falls with n (the sublinearity claim): the
    // per-query ranked-candidate volume is nprobe * n/k = probeFrac * n
    // of a corpus the fixed config scanned 75% of
    assert(p1.toDouble / k1 < 12.0 / 16.0)
    val (k3, p3) = autoIvfParams(60000L)
    assert(k3 == 245 && p3.toDouble / k3 < 12.0 / 16.0)
  }

  test("annIvfTopKAuto == annIvfTopK on the gate corpus (below the threshold)") {
    val e = Catalog.table(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter($"vec_id" % 100 === 0)
    val fixed = annIvfTopK(q, e, 10).as[(Long, Long, Double, Int)].collect().toSet
    val auto = annIvfTopKAuto(q, e, 10).as[(Long, Long, Double, Int)].collect().toSet
    assert(auto == fixed,
      "auto IVF sizing must reduce to the fixed gate-SF config below the threshold")
  }

  test("brute memo: storage path == driver path, and both memoize") {
    val dir = "/root/testdata/sf0.001"
    graft.Memo.dropMemory()
    val viaDriver = graft.queries.SimilarityQueries
      .bruteTopkBudgeted(spark, dir, Long.MaxValue)
      .as[(Long, Long, Double, Int)].collect().toSet
    graft.Memo.dropMemory()
    val viaStore = graft.queries.SimilarityQueries
      .bruteTopkBudgeted(spark, dir, 0L) // force the parquet medium
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaStore == viaDriver,
      "materialized brute memo must be the same relation as the driver memo")
    // second read is a memo hit off the stored file (no recompute path
    // to observe directly, but the read must still be correct)
    val again = graft.queries.SimilarityQueries
      .bruteTopkBudgeted(spark, dir, 0L)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(again == viaDriver)
    graft.Memo.dropMemory()
  }

  // --- r13: pigeonhole-banded editdist tier ----------------------------

  test("editdist banded tier == block tier, incl. ins+del shift-window pairs") {
    // fixture corpora: the declared queries' substitution-planted pairs
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val c = graft.queries.SimilarityQueries.editdistCorpus(spark, dir)
      val blocked = editdistBlockPairs(c, 2).as[(Long, Long, Int)].collect().toSet
      val banded = editdistBandedPairs(c, 2).as[(Long, Long, Int)].collect().toSet
      assert(blocked.nonEmpty, dir)
      assert(banded == blocked, s"$dir: banded must equal the block tier")
    }
    // synthetic corpus whose planted pairs are 1 deletion + 1 append —
    // same length (same block), but the interior SHIFTS by one char, so
    // only the ±shift segment windows can catch them (a substitution
    // pair never exercises that path)
    val rnd = new scala.util.Random(7)
    val base = (0 until 120).map { i =>
      val len = 30 + rnd.nextInt(40)
      (i.toLong, if (i % 2 == 0) "en" else "de",
        (0 until len).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString)
    }
    val planted = base.collect {
      case (id, lang, t) if id % 5 == 0 =>
        (id + 10000L, lang, t.substring(0, 3) + t.substring(4) + "q")
    }
    val all = (base ++ planted)
      .map { case (id, lang, t) => (id, lang, t, t.length.toLong) }
      .toDF("doc_id", "lang", "text", "n_chars")
    val blocked = editdistBlockPairs(all, 2).as[(Long, Long, Int)].collect().toSet
    val banded = editdistBandedPairs(all, 2).as[(Long, Long, Int)].collect().toSet
    assert(banded == blocked)
    // every planted shifted pair is found by the banded candidates
    planted.foreach { case (pid, _, _) =>
      assert(banded.exists(x => x._1 == pid - 10000L && x._2 == pid),
        s"missing shifted pair ${pid - 10000L} <-> $pid")
    }
  }

  // --- r13: gated widen-before-checkpoint (VERDICT r12 item 4) ---------

  test("shouldWiden: narrow+big widens; tiny, already-wide, or in-memory corpora skip") {
    val kb = 1024L; val mb = 1024 * kb
    // the sf10 shape the repartition was built for: 2 scan partitions
    // feeding a 32-wide session over a 55 MB vector corpus
    assert(shouldWiden(scanParts = 2, width = 32, bytes = 55 * mb, minPartBytes = 256 * kb))
    // the gate-SF shape that regressed in BENCH_r12: sub-MB corpus —
    // the shuffle costs more than the parallelism it buys
    assert(!shouldWiden(scanParts = 1, width = 32, bytes = 600 * kb, minPartBytes = 256 * kb))
    // a scan already at >= half the target width gains < 2x — skip
    assert(!shouldWiden(scanParts = 27, width = 32, bytes = 550 * mb, minPartBytes = 256 * kb))
    // in-memory relations report 0 input bytes and never widen
    assert(!shouldWiden(scanParts = 1, width = 32, bytes = 0L, minPartBytes = 256 * kb))
  }

  test("widenForCheckpoint: prep lands at full shuffle width for a rung-shaped corpus, keeps the scan for a gate-SF one") {
    val dir = tempDir("graft-widen").toString
    spark.range(5000)
      .selectExpr("id as vec_id", "array(cast(id as double), cast(id+1 as double)) as e")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(df.rdd.getNumPartitions < width) // single small file -> narrow scan
    // rung shape (byte floor forced under the file size): prep width ==
    // shuffle width — the sf10 parallelism fix stays in place
    val widened = graft.functions.SimilarityFunctions.widenForCheckpoint(df, minPartBytes = 1L)
    assert(widened.rdd.getNumPartitions == width,
      s"rung-shaped prep must widen to $width")
    // gate-SF shape (default floor, tiny file): no shuffle — the
    // partitioning is the scan's own
    val kept = graft.functions.SimilarityFunctions.widenForCheckpoint(df)
    assert(kept.rdd.getNumPartitions == df.rdd.getNumPartitions,
      "tiny corpora must not pay the widen shuffle")
  }

  test("IVF on clustered geometry: recall >= 0.9 at a probed fraction the isotropic fixture cannot reach") {
    // The r12 verdict's missing #4: every prior ANN measurement ran on
    // isotropic vectors, where candidate-gen recall ~= the probed
    // fraction by construction. On the clustered fixture (GenData
    // emb-clustered: 100 Gaussian centers, noise sd 0.5), probing ~7%
    // of k ~= sqrt(n) cells must hold recall@10 >= 0.9 — the floor the
    // BENCH_ivf_clustered_r13 rung measures at 0.999+ for 20k/60k.
    val n = 12288L
    val e = GenData.embeddingsClustered(spark, n).localCheckpoint(true)
    val q = e.filter($"vec_id" % 100 === 0)
    val brute = cosineTopK(q, e, 10).select("qid", "cid").localCheckpoint(true)
    val k = math.ceil(math.sqrt(n.toDouble)).toInt // 111
    val nprobe = 8 // probed fraction 8/111 ~= 7.2%
    val ivf = annIvfTopK(q, e, 10, k = k, nprobe = nprobe)
      .select("qid", "cid").localCheckpoint(true)
    val hits = ivf.join(brute, Seq("qid", "cid")).count()
    val recall = hits.toDouble / brute.count()
    assert(recall >= 0.9,
      f"clustered IVF recall $recall%.3f < 0.9 at probed fraction ${nprobe.toDouble / k}%.3f")
  }

  test("auto-plane LSH on clustered geometry: recall >= 0.9 ABOVE the plane floor") {
    // The declared scale tier (ann_lsh_topk_auto, r13 verdict item 1)
    // sharpens planes as n grows; AnnTune measured that costing recall
    // only on near-orthogonal geometry. On the clustered fixture — the
    // geometry real embedding corpora have — recall must hold at the
    // widened count. n = 12288 -> autoPlanes = 9 (> the 8-plane floor),
    // so this pins the floor exactly where the knob starts to bind.
    val n = 12288L
    assert(autoPlanes(n) > 8, "fixture must sit above the plane floor")
    val e = GenData.embeddingsClustered(spark, n).localCheckpoint(true)
    val q = e.filter($"vec_id" % 100 === 0)
    val brute = cosineTopK(q, e, 10).select("qid", "cid").localCheckpoint(true)
    val ann = annLshTopKAuto(q, e, 10, knownN = Some(n))
      .select("qid", "cid").localCheckpoint(true)
    val recall = ann.join(brute, Seq("qid", "cid")).count().toDouble / brute.count()
    assert(recall >= 0.9,
      f"clustered auto-LSH recall $recall%.3f < 0.9 at ${autoPlanes(n)} planes")
  }

  test("auto knobs pick identical parameters from footer counts as from count() (job-free construction)") {
    for (dir <- Catalog.testdataSfDirs) {
      val e = Catalog.table(spark, dir, "embeddings")
      val footerN = graft.sources.Sources.footerRowCount(spark, s"$dir/embeddings.parquet")
      val countN = e.count()
      assert(footerN == countN, s"$dir: footer $footerN != count $countN")
      assert(autoPlanes(footerN) == autoPlanes(countN))
      assert(autoIvfParams(footerN) == autoIvfParams(countN))
    }
  }
}
