package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("token counting and ratios") {
    val df = Seq("a b b c").toDF("text")
    assert(df.select(tokenCount($"text")).as[Int].head() == 4)
    assert(df.select(distinctTokenCount($"text")).as[Int].head() == 3)
    assert(df.select(uniqRatio($"text")).as[Double].head() == 0.75)
    assert(df.select(avgTokenLen($"text")).as[Double].head() == 1.0)
  }

  test("subword estimate: ceil(len/4) per token") {
    // lengths 1,4,5,9 -> 1 + 1 + 2 + 3 = 7
    val df = Seq("a abcd abcde abcdefghi").toDF("text")
    assert(df.select(subwordEstimate($"text")).as[Long].head() == 7L)
  }

  test("fingerprint: deterministic, order-sensitive") {
    val df = Seq("alpha beta", "beta alpha", "alpha beta").toDF("text")
    val fps = df.select(fingerprint($"text")).as[Long].collect()
    assert(fps(0) == fps(2))
    assert(fps(0) != fps(1)) // rolling hash is order-sensitive
  }

  test("langId: stopword votes pick the obvious language") {
    val df = Seq(
      ("the cat and the dog in a house", "en"),
      ("der hund und die katze ist nicht da", "de"),
      ("el perro y la casa de un gato es", "es"),
      ("le chat et les chiens dans un jardin est", "fr")).toDF("text", "expected")
    val got = df.select(langId($"text"), $"expected").as[(String, String)].collect()
    got.foreach { case (pred, exp) => assert(pred == exp, s"$pred != $exp") }
  }

  test("langId: deterministic tie-break falls to fixed order") {
    // no stopwords at all -> all scores 0 -> first in order wins ('en')
    val df = Seq("zzz qqq www").toDF("text")
    assert(df.select(langId($"text")).as[String].head() == "en")
  }

  test("shard plan: every shard populated, content-hash balance is sane") {
    val dir = "/root/testdata/sf0.01"
    val got = graft.queries.TextQueries.shardPlan(spark, dir)
      .select("shard", "n_docs").as[(Long, Long)].collect().toMap
    assert(got.keySet == (0L until 16L).toSet, "all 16 shards assigned")
    // fingerprint-mod sharding of 500 docs: expect rough uniformity —
    // no shard empty, none hoarding (>4x the fair share flags a broken
    // or degenerate hash, not randomness)
    val fair = got.values.sum / 16.0
    assert(got.values.forall(n => n > 0 && n < fair * 4), got.toString)
  }

  test("train order: a permutation with balanced contiguous shards, not ingest order") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.TextQueries.trainOrder(spark, dir)
      .select("doc_id", "pos", "shard")
      .as[(Long, Long, Int)].collect()
    val n = rows.length
    assert(n > 0)
    // pos is exactly 1..n (the LCG mix is a bijection mod 2^31, so the
    // rank is a permutation)
    assert(rows.map(_._2).sorted.toSeq == (1L to n).toSeq)
    assert(rows.map(_._1).distinct.length == n)
    // contiguous split: shard of pos p is ((p-1)*S) div n — sizes differ
    // by at most 1 and shards are position-contiguous
    val byShard = rows.groupBy(_._3)
    assert(byShard.keySet == (0 until 8).toSet)
    val sizes = byShard.view.mapValues(_.length).values.toSeq
    assert(sizes.max - sizes.min <= 1)
    byShard.foreach { case (_, rs) =>
      val ps = rs.map(_._2).sorted
      assert(ps.last - ps.head == ps.length - 1, "shard positions must be contiguous")
    }
    // it actually shuffles: the order by pos must not be doc_id order
    val inPosOrder = rows.sortBy(_._2).map(_._1).toSeq
    assert(inPosOrder != inPosOrder.sorted, "train order must differ from ingest order")
  }

  test("dup spans: planted cross-doc passage is found; coverage merges overlaps") {
    // w=3 windows. Docs 1 and 2 share the passage "p q r s" (two
    // overlapping 3-token windows: "p q r" at i=2/i=1 and "q r s" at
    // i=3/i=2); doc 3 repeats a window only WITHIN itself (df counts
    // distinct docs, so it must NOT qualify); doc 4 is clean.
    val df = Seq(
      (1L, "a p q r s b"),   // 6 tokens, dup windows at i=2,3
      (2L, "p q r s z"),     // 5 tokens, dup windows at i=1,2
      (3L, "x y z x y z x y z"), // self-repeat only -> no dup
      (4L, "m n o m2 n2 o2")
    ).toDF("doc_id", "text")
    val got = graft.queries.TextQueries.dupSpansOver(df, 3)
      .as[(Long, Long, Long, Long, Double)].collect().toList
    // coverage: two overlapping windows 1 apart = 3 + min(3, 1) = 4
    // tokens ("p q r s"), in both docs
    assert(got == List((1L, 6L, 2L, 4L, 4.0 / 6.0), (2L, 5L, 2L, 4L, 4.0 / 5.0)), got.toString)
  }

  test("span clean: later docs lose the cross-doc passage; keeper and self-repeats untouched") {
    // w=3, same planted shape as the detector fixture: docs 1/2 share
    // "p q r s" (keeper = doc 1, so doc 2 loses positions 1-4 and
    // keeps only "z"); doc 3 repeats a window only WITHIN itself (the
    // cross-doc df signal must not fire); doc 4 is clean.
    val df = Seq(
      (1L, "a p q r s b"),
      (2L, "p q r s z"),
      (3L, "x y z x y z x y z"),
      (4L, "m n o m2 n2 o2")).toDF("doc_id", "text")
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = graft.queries.TextQueries.spanCleanOver(df, 3)
      .as[(Long, Long, Long, String)].collect().toList
    assert(got == List(
      (1L, 6L, 0L, m("a p q r s b")),
      (2L, 5L, 4L, m("z")),
      (3L, 9L, 0L, m("x y z x y z x y z")),
      (4L, 6L, 0L, m("m n o m2 n2 o2"))), got.toString)
  }

  test("mix sample: zh rate clamps at 1, downsampled langs land near target, kept is a subset") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val rows = graft.queries.TextQueries.mixSample(spark, dir)
        .as[(String, Long, Long, Double, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      // zh's weight (0.35) exceeds its corpus share -> the clamp must
      // bind and clamped means keep-everything
      assert(rows("zh")._4 == 1.0, s"$dir: zh rate ${rows("zh")._4}")
      assert(rows("zh")._5 == rows("zh")._2 && rows("zh")._6 == rows("zh")._3,
        s"$dir: clamped lang must keep all docs")
      // downsampled langs: rate in (0,1), kept a strict subset, and the
      // fingerprint gate realizes roughly rate of the tokens (binomial
      // tolerance: +/- 0.25 absolute is far outside noise only if the
      // gate is broken)
      for (l <- Seq("en", "de", "es", "fr")) {
        val (_, ad, at, r, kd, kt) = rows(l)
        assert(r > 0.0 && r < 1.0, s"$dir/$l rate $r")
        assert(kd < ad, s"$dir/$l kept all docs at rate $r")
        val realized = kt.toDouble / at.toDouble
        assert(math.abs(realized - r) < 0.25, s"$dir/$l realized $realized vs rate $r")
      }
    }
  }

  test("dup spans: hashed span keys reproduce the string-keyed tier (the 100 TB key)") {
    // text_dup_spans keys its df agg + semi join on the span STRING so
    // DuckDB reproduces it; at corpus scale the key would be the
    // 8-byte xxhash64 of the span. Pin the equivalence the swap relies
    // on: grouping by xxhash64(span) yields the identical per-doc
    // report on the real corpus (a cross-span collision would break
    // it; vanishing at ~n_spans^2 / 2^64).
    val d = graft.Catalog.table(spark, "/root/testdata/sf0.01", "documents")
    val str = graft.queries.TextQueries.dupSpansOver(d, 8)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val hashed = graft.queries.TextQueries.dupSpansHashedOver(d, 8)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(str.nonEmpty && hashed == str)
  }

  test("span kernels: graft_span_strings/_hashes == the HOF formulation, bit for bit") {
    // r17: the span tiers build their positional window basis with a
    // native codegen kernel; pin it against the superseded
    // transform(sequence, i -> array_join(slice(toks,i,w))) HOF (and
    // xxhash64 of it) on the real corpus, including the empty
    // (size < w) edge.
    import org.apache.spark.sql.functions._
    graft.plans.GraftExtensions.register(spark)
    val w = 8
    val d = graft.Catalog.table(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val toks = col("toks")
    val hof = when(size(toks) < w, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - (w - 1)),
        i => array_join(slice(toks, i, lit(w)), " ")))
    val bad = d.select(
        when(call_function("graft_span_strings", toks, lit(w)) === hof
          && call_function("graft_span_hashes", toks, lit(w)) ===
            transform(hof, s => xxhash64(s)), 0).otherwise(1).as("bad"))
      .agg(sum(col("bad"))).as[Long].collect().head
    assert(bad == 0, s"$bad docs diverge from the HOF span basis")
  }

  test("score kernels: graft_word_count / graft_fingerprint == the HOF formulations, bit for bit") {
    // r18: wordSetCount and fingerprint are native kernels; pin them
    // against the superseded size(filter(...)) / aggregate(transform)
    // HOFs on the real corpus (every language table, zh multi-byte
    // tokens included) plus the empty-token edge.
    import org.apache.spark.sql.functions._
    val d = graft.Catalog.table(spark, "/root/testdata/sf0.01", "documents")
      .select(col("text"))
      .union(Seq("", " ", "x  y").toDF("text")) // empty / empty-token edges
    val toks = split(col("text"), " ")
    val hofFp = aggregate(
      transform(toks, t => (length(t) * lit(131) + ascii(substring(t, 1, 1))).cast("long")),
      lit(0L), (h, x) => (h * lit(31L) + x) % lit(1000000007L))
    val wordChecks = langStopwords.toSeq.map { case (l, words) =>
      val hof = size(filter(toks, t => words.map(t === _).reduce(_ || _)))
      when(wordSetCount(col("text"), words) === hof, 0).otherwise(1).as(s"bad_$l")
    }
    val bad = d.select(
        (wordChecks :+
          when(fingerprint(col("text")) === hofFp, 0).otherwise(1).as("bad_fp"))
          .reduce(_ + _).as("bad"))
      .agg(sum(col("bad"))).as[Long].collect().head
    assert(bad == 0, s"$bad rows diverge from the HOF score basis")
  }

  test("bigram LM: driver-held maps bounded by the vocab cap; tiny cap is exact top-K") {
    import graft.queries.TextQueries
    val dir = "/root/testdata/sf0.01"
    val (c2, c1, nv) = TextQueries.lmCountsCapped(spark, dir, TextQueries.LmVocabCap)
    assert(c2.size <= TextQueries.LmVocabCap, s"bigram map ${c2.size} exceeds cap")
    assert(c1.size <= TextQueries.LmVocabCap, s"unigram map ${c1.size} exceeds cap")
    assert(nv > 0)
    // a cap smaller than the fixture vocabulary must keep exactly the
    // top-K bigrams under the (count DESC, bigram ASC) tiebreak the
    // DuckDB oracle uses — the backoff handles everything below
    val k = 5
    assert(c2.size > k, "fixture must exceed the tiny test cap")
    val (c2k, c1k, nvK) = TextQueries.lmCountsCapped(spark, dir, k)
    assert(nvK == nv, "vocab size is cap-independent")
    val topK = c2.toSeq.sortBy { case (b, c) => (-c, b) }.take(k).toMap
    assert(c2k == topK, s"capped map must be the deterministic top-$k")
    val c1FromTopK = topK.toSeq.groupBy(_._1.takeWhile(_ != ' '))
      .map { case (w, m) => w -> m.map(_._2).sum }
    assert(c1k == c1FromTopK, "c1 must derive from the CAPPED c2")
  }

  test("dsir: driver maps bounded by the cap; vocab is the deterministic raw top-K") {
    import graft.queries.TextQueries
    val dir = "/root/testdata/sf0.01"
    val (ct, cr, v, tTot, rTot) =
      TextQueries.dsirCountsCapped(spark, dir, TextQueries.LmVocabCap)
    assert(cr.size <= TextQueries.LmVocabCap && ct.size <= cr.size)
    assert(ct.keySet.subsetOf(cr.keySet), "target counts restricted to the vocab")
    assert(v == cr.size && tTot > 0 && rTot > 0)
    // a tiny cap keeps exactly the raw-side top-K under the
    // (count DESC, bigram ASC) tiebreak the DuckDB oracle uses
    val k = 5
    assert(cr.size > k, "fixture must exceed the tiny test cap")
    val (ctk, crk, vk, tTotK, rTotK) = TextQueries.dsirCountsCapped(spark, dir, k)
    val topK = cr.toSeq.sortBy { case (b, c) => (-c, b) }.take(k).toMap
    assert(crk == topK, s"capped vocab must be the deterministic top-$k")
    assert(ctk.keySet.subsetOf(crk.keySet))
    assert(vk == k.toLong, "|vocab| follows the cap")
    assert(tTotK == tTot && rTotK == rTot, "totals count ALL occurrences, cap-independent")
  }

  test("dsir: target-like docs outscore raw-only docs") {
    import graft.queries.TextQueries
    val tmp = tempDir("graft-dsir").toString
    // doc 0 is in BOTH slices (raw via %10, target via src0); doc 10 is
    // raw-only; docs 1 and 2 are the scored probes — 1 repeats the
    // target-favored bigram, 2 the raw-only bigram
    Seq(
      (0L, "aa bb aa bb aa bb", "src0"),
      (10L, "cc dd cc dd cc dd", "src9"),
      (1L, "aa bb aa bb", "src9"),
      (2L, "cc dd cc dd", "src9"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextQueries.dsirWeights(spark, tmp)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got(1L) > got(2L),
      s"target-like doc must outscore raw-only doc: ${got(1L)} <= ${got(2L)}")
    assert(got(0L) > got(10L), "same ordering for the training docs themselves")
    dropCorpus(tmp, TextQueries.LmVocabCap)
  }

  test("bigram LM cache: retrains when the corpus files change") {
    import graft.queries.TextQueries
    val tmp = tempDir("graft-lm").toString
    def write(text: String): Unit = {
      Seq((0L, text), (10L, text)).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    }
    write("alpha beta gamma")
    val (a, _, _) = TextQueries.lmCountsCapped(spark, tmp, 100)
    assert(a.keySet == Set("alpha beta", "beta gamma"))
    dropStores(tmp, 100) // this fingerprint's; the rewrite makes another
    Thread.sleep(1100) // ensure a distinct mtime even on coarse filesystems
    write("delta epsilon zeta")
    val (b, _, _) = TextQueries.lmCountsCapped(spark, tmp, 100)
    assert(b.keySet == Set("delta epsilon", "epsilon zeta"),
      "regenerated fixture must invalidate the memoized model")
    dropCorpus(tmp, 100)
  }

  test("trained-model disk store: cross-JVM round trip, corrupt store retrains") {
    // r14 verdict item 6: cold rungs must load the trained maps, not
    // re-run the training jobs. Simulate the fresh-JVM path by dropping
    // the in-memory caches: the second call must serve bit-identical
    // models from the persisted store (both LM and DSIR families).
    import graft.queries.TextQueries
    val tmp = tempDir("graft-lmstore").toString
    Seq((0L, "alpha beta gamma", "src1"), (10L, "alpha beta delta", "src1"),
        (3L, "alpha beta gamma beta", "src3"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val lm1 = TextQueries.lmCountsCapped(spark, tmp, 100)
    val ds1 = TextQueries.dsirCountsCapped(spark, tmp, 100)
    val lmStore = graft.Memo.pathFor("lm", tmp, "documents", 100)
    val dsStore = graft.Memo.pathFor("dsir", tmp, "documents", 100)
    assert(lmStore.exists() && dsStore.exists(), "training must persist the stores")
    graft.Memo.dropMemory()
    assert(TextQueries.lmCountsCapped(spark, tmp, 100) == lm1,
      "store round-trip must reproduce the LM model exactly")
    assert(TextQueries.dsirCountsCapped(spark, tmp, 100) == ds1,
      "store round-trip must reproduce the DSIR model exactly")
    // a corrupt/truncated store must be discarded and retrained, never
    // half-loaded
    java.nio.file.Files.write(lmStore.toPath, Array[Byte](1, 2, 3))
    graft.Memo.dropMemory()
    assert(TextQueries.lmCountsCapped(spark, tmp, 100) == lm1,
      "corrupt store must retrain to the same model")
    assert(lmStore.exists(), "retraining must re-persist the store")
    dropCorpus(tmp, 100)
  }

  /** Deletes the LM and DSIR stores of corpus `dir` at its current
    * fingerprint for each vocabulary cap (Memo never prunes a store). */
  private def dropStores(dir: String, caps: Int*): Unit =
    for (kind <- Seq("lm", "dsir"); cap <- caps)
      org.apache.commons.io.FileUtils.deleteQuietly(graft.Memo.pathFor(kind, dir, "documents", cap))

  /** [[dropStores]], then the corpus itself, which the fingerprint reads. */
  private def dropCorpus(dir: String, caps: Int*): Unit = {
    dropStores(dir, caps: _*)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("canonicalUrl: case-fold, fragment, utm strip, slash trim, preserved differences") {
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // host case folds, path case does NOT
      ("https://SITE-3.Example.COM/Path/X", "https://site-3.example.com/Path/X"),
      // fragment dropped
      ("https://a.example.com/p#frag", "https://a.example.com/p"),
      // trailing slashes trimmed (also multiple)
      ("https://a.example.com/p/", "https://a.example.com/p"),
      ("https://a.example.com/p//", "https://a.example.com/p"),
      // utm params stripped; real params survive in original order
      ("https://a.example.com/p?utm_source=feed", "https://a.example.com/p"),
      ("https://a.example.com/p?id=1&utm_campaign=x&b=2", "https://a.example.com/p?id=1&b=2"),
      ("https://a.example.com/p?utm_a=1&utm_b=2", "https://a.example.com/p"),
      // scheme difference preserved (http is not https)
      ("http://a.example.com/p", "http://a.example.com/p"),
      // bare host
      ("https://A.example.com", "https://a.example.com"),
      // query + fragment together
      ("https://a.example.com/p?id=9#sec", "https://a.example.com/p?id=9"))
    val df = spark.createDataFrame(cases).toDF("raw", "want")
      .withColumn("got", graft.functions.TextFunctions.canonicalUrl(col("raw")))
    val bad = df.collect().filter(r => r.getString(2) != r.getString(1))
    assert(bad.isEmpty, bad.map(r => s"${r.getString(0)} -> ${r.getString(2)}").mkString("; "))
  }
}
