package graft

import graft.functions.SimilarityFunctions
import graft.plans.{GraftExtensions, Kernels}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Native Catalyst expression (graft_cosine) — codegen path, SQL
  * registration, and bitwise agreement with the HOF formulation. */
class PlansSpec extends SparkSpecBase {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.register(spark)
  }

  test("graft_cosine == HOF cosine, bitwise, on float arrays") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 200).map { _ =>
      (Array.fill(64)(rnd.nextGaussian().toFloat), Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("a", "b")
    val rows = df.select(
      call_function("graft_cosine",
        SimilarityFunctions.toDoubleArr($"a"), SimilarityFunctions.toDoubleArr($"b")).as("n"),
      SimilarityFunctions.cosine(
        SimilarityFunctions.toDoubleArr($"a"), SimilarityFunctions.toDoubleArr($"b")).as("h"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) => assert(n == h, s"native $n != hof $h") } // exact
  }

  test("graft_cosine_many/argmax == k separate graft_cosine calls, bitwise") {
    // the fused IVF kernels must reproduce the per-centroid fold
    // exactly (same accumulation order), and argmax must break ties
    // to the lowest id — the guarantees the auto-scaled assignment
    // rests on after the k-struct-literal formulation was retired
    val rnd = new scala.util.Random(23)
    val dim = 16
    val k = 7
    val cents = Array.tabulate(k)(_ => Array.fill(dim)(rnd.nextGaussian()))
    val flat = cents.flatMap(identity).toSeq
    val df = (1 to 100).map(_ => Tuple1(Array.fill(dim)(rnd.nextGaussian())))
      .toDF("v")
    val sep = cents.zipWithIndex.map { case (c, i) =>
      call_function("graft_cosine", $"v", typedlit(c.toSeq)).as(s"s$i")
    }
    val rows = df.select(
      (call_function("graft_cosine_many", $"v", typedlit(flat), lit(dim)).as("many") +:
        call_function("graft_cosine_argmax", $"v", typedlit(flat), lit(dim)).as("am") +:
        sep.toSeq): _*).collect()
    rows.foreach { r =>
      val many = r.getSeq[Double](0)
      val am = r.getInt(1)
      val seps = (0 until k).map(i => r.getDouble(2 + i))
      assert(many == seps, "fused sims must be bitwise-equal to separate kernels")
      val best = seps.zipWithIndex.maxBy { case (s, i) => (s, -i) }._2
      assert(am == best, s"argmax $am != $best (ties must go to lowest id)")
    }
  }

  test("graft_minhash_hashes(graft_shingle_hashes(t,n),k) == graft_minhash(t,n,k) on the real corpus") {
    // r18: the LSH/keeper tier folds the signature over the distinct
    // shingle-hash array it already computes — min over a multiset ==
    // min over its distinct set, so the signatures must be bitwise
    // equal, including docs shorter than n (both empty).
    val d = graft.Catalog.table(spark, "/root/testdata/sf0.01", "documents")
      .select(split(col("text"), " ").as("toks"))
    val bad = d.select(
        when(call_function("graft_minhash_hashes",
            call_function("graft_shingle_hashes", $"toks", lit(3)), lit(128))
          === call_function("graft_minhash", $"toks", lit(3), lit(128)), 0)
          .otherwise(1).as("bad"))
      .agg(sum($"bad")).as[Long].collect().head
    assert(bad == 0, s"$bad docs diverge from the direct minhash signature")
  }

  test("graft_intersect_count == size(array_intersect) on random long arrays") {
    // the near-dup verify kernel: distinct-on-left count, duplicates,
    // zeros (the set's sentinel value), null elements, empties, and
    // disjoint/identical extremes — every case must match the built-in
    val rnd = new scala.util.Random(37)
    val df = (1 to 400).map { i =>
      def arr(n: Int) = Array.fill(n)(
        if (rnd.nextInt(10) == 0) 0L else rnd.nextInt(40).toLong)
      val a = arr(rnd.nextInt(30))
      val b = if (i % 7 == 0) a.clone() else arr(rnd.nextInt(30))
      (a, b)
    }.toDF("a", "b")
    val rows = df.select(
      call_function("graft_intersect_count", $"a", $"b").as("k"),
      size(array_intersect($"a", $"b")).as("s")).as[(Int, Int)].collect()
    rows.foreach { case (k, s) => assert(k == s, s"kernel $k != builtin $s") }
    // null elements: counted once iff present in both (array_intersect rule)
    val withNulls = Seq(
      (Array[java.lang.Long](1L, null, 2L, null), Array[java.lang.Long](null, 3L, 1L)),
      (Array[java.lang.Long](1L, null), Array[java.lang.Long](2L, 3L)),
      (Array[java.lang.Long](), Array[java.lang.Long](null))
    ).toDF("a", "b")
    val nrows = withNulls.select(
      call_function("graft_intersect_count", $"a", $"b").as("k"),
      size(array_intersect($"a", $"b")).as("s")).as[(Int, Int)].collect()
    nrows.foreach { case (k, s) => assert(k == s, s"null-case kernel $k != builtin $s") }
  }

  test("graft_editdist == builtin bounded levenshtein on random mutations") {
    val rnd = new scala.util.Random(37)
    val alphabet = "abcdefg xyz"
    def randStr(n: Int) = (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    def mutate(s: String): String = {
      val sb = new StringBuilder(s)
      (0 until rnd.nextInt(5)).foreach { _ =>
        if (sb.isEmpty) sb.append('q')
        else rnd.nextInt(3) match {
          case 0 => sb.setCharAt(rnd.nextInt(sb.length), alphabet(rnd.nextInt(alphabet.length)))
          case 1 => sb.deleteCharAt(rnd.nextInt(sb.length))
          case 2 => sb.insert(rnd.nextInt(sb.length + 1), alphabet(rnd.nextInt(alphabet.length)))
        }
      }
      sb.toString
    }
    val base = (1 to 300).map(_ => randStr(5 + rnd.nextInt(60)))
    val cases = base.map(s => (s, mutate(s))) ++
      Seq(("", ""), ("", "ab"), ("abc", ""), ("café", "cafe"), ("日本語", "日本誤"))
    val rows = cases.toDF("a", "b").select(
      call_function("graft_editdist", $"a", $"b", lit(3)).as("n"),
      levenshtein($"a", $"b", 3).as("h"))
      .as[(Int, Int)].collect()
    rows.foreach { case (n, h) => assert(n == h, s"native $n != builtin $h") }
    // threshold contract: above-bound pairs report -1, like the builtin
    val far = Seq(("aaaaaaaaaa", "bbbbbbbbbb")).toDF("a", "b")
      .select(call_function("graft_editdist", $"a", $"b", lit(3)).as("n")).as[Int].head()
    assert(far == -1)
  }

  test("graft_lsh_bits/buckets == HOF lshBucket, bitwise") {
    val rnd = new scala.util.Random(23)
    val df = (1 to 100).map(_ => Tuple1(Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("embedding")
    val e = SimilarityFunctions.toDoubleArr($"embedding")
    val rows = df.select(
      call_function("graft_lsh_bits", e, lit(0), lit(8)).as("n0"),
      SimilarityFunctions.lshBucket($"embedding", 8, 16, planeOffset = 0).as("h0"),
      call_function("graft_lsh_bits", e, lit(4096), lit(64)).as("n1"),
      SimilarityFunctions.lshBucket($"embedding", 64, 16, planeOffset = 4096).as("h1"),
      call_function("graft_lsh_buckets", e, lit(0), lit(8), lit(3)).as("nb"),
      array((0 until 3).map(t =>
        SimilarityFunctions.lshBucket($"embedding", 8, 16, planeOffset = t * 8)): _*).as("hb"))
      .as[(Long, Long, Long, Long, Array[Long], Array[Long])].collect()
    rows.foreach { case (n0, h0, n1, h1, nb, hb) =>
      assert(n0 == h0 && n1 == h1, s"single-table mismatch: $n0/$h0 $n1/$h1")
      assert(nb.sameElements(hb), s"multi-table mismatch")
    }
  }

  test("graft_cosine is callable from SQL") {
    val v = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))").as[Double].head()
    assert(v == 1.0)
  }

  test("graft_cosine: NULL propagation and interpreted (non-codegen) path") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0))),
      (None, Some(Array(1.0, 2.0)))).toDF("a", "b")
    val got = df.select(call_function("graft_cosine", $"a", $"b")).collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).isNullAt(0))
    // interpreted path agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val arr = Literal.create(Array(3.0, 4.0), ArrayType(DoubleType))
    val e = Kernels.build("graft_cosine", Seq(arr, arr)).replacement
    assert(math.abs(e.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("graft_minhash_hashes skips null slots: == the signature of the non-null hashes") {
    val df = Seq(
      Seq[java.lang.Long](5L, null, 17L, 0L, -3L),
      Seq[java.lang.Long](null, null),
      Seq[java.lang.Long](),
      Seq[java.lang.Long](null, 9L)).toDF("h")
    val rows = df.select(
      call_function("graft_minhash_hashes", $"h", lit(16)).as("k"),
      call_function("graft_minhash_hashes", filter($"h", _.isNotNull), lit(16)).as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (k, ref) => assert(k == ref) }
    assert(rows(1)._1.isEmpty, "all-null input has no signature")
  }

  test("graft_fingerprint: a null token slot is NULL, like the HOF it replaced") {
    val df = Seq(Seq("ab", null, "c"), Seq(null), Seq("ab", "c"), Seq.empty[String]).toDF("t")
    val hof = aggregate(
      transform($"t", t => (length(t) * lit(131) + ascii(substring(t, 1, 1))).cast("long")),
      lit(0L), (h, x) => (h * lit(31L) + x) % lit(1000000007L))
    val kernel = Kernels.call("graft_fingerprint", $"t")
    val rows = df.select(kernel.as("k"), hof.as("h"))
      .as[(Option[Long], Option[Long])].collect()
    rows.foreach { case (k, h) => assert(k == h, s"kernel $k != HOF $h") }
    assert(rows.map(_._1.isEmpty).toSeq == Seq(true, true, false, false))
    // interpreted path agrees with codegen
    val lit3 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array("ab", null, "c"), ArrayType(StringType))
    assert(Kernels.build("graft_fingerprint", Seq(lit3)).replacement.eval(null) == null)
  }

  // A null token slot: the seven token kernels drop it, so
  // k(t) == k(filter(t, x -> x is not null)) (the rule graft_minhash_hashes
  // pins for null hashes); graft_match_count counts it as a non-match.
  private val nullSlotTokens =
    Seq(Seq("the", null, "cat", "sat", null, "the", "cat"), Seq(null, null), Seq("a", null))
  for ((name, params) <- Seq(
      "graft_shingle_hashes" -> Seq(2), "graft_shingle_strings" -> Seq(2),
      "graft_span_strings" -> Seq(2), "graft_span_hashes" -> Seq(2),
      "graft_minhash" -> Seq(2, 8), "graft_simhash" -> Nil, "graft_simhash_wide" -> Seq(2)))
    test(s"$name drops a null token slot: == $name(filter(t, x -> x is not null))") {
      val ps = params.map(lit(_))
      val rows = nullSlotTokens.toDF("t").select(
        call_function(name, $"t" +: ps: _*),
        call_function(name, filter($"t", _.isNotNull) +: ps: _*)).collect()
      rows.foreach(r => assert(r.get(0) == r.get(1), s"$name: ${r.get(0)} != ${r.get(1)}"))
    }

  test("graft_match_count counts a null slot as a non-match, like its HOF") {
    val df = Seq(
      (Seq("a", null, "c", null, "e"), Seq("a", null, "x", "d", "e")),
      (Seq[String](null), Seq[String](null))).toDF("a", "b")
    val rows = df.select(
      call_function("graft_match_count", $"a", $"b"),
      size(filter(zip_with($"a", $"b", _ === _), m => m))).as[(Int, Int)].collect()
    assert(rows.toSeq == Seq((2, 2), (0, 0)))
  }

  test("kernel parameters must be integer literals, through SQL and Kernels.call") {
    val df = Seq((Seq("a", "b", "c"), 2)).toDF("t", "n")
    def rejects(param: String)(body: => Any): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException](body)
      assert(e.getMessage.contains(s"$param must be an integer literal"), e.getMessage)
    }
    rejects("n")(df.select(Kernels.call("graft_shingle_hashes", $"t", $"n")))
    rejects("nPlanes")(df.select(Kernels.call("graft_lsh_buckets",
      $"t".cast("array<double>"), lit(0), lit(8L), lit(2))))
    df.createOrReplaceTempView("kernel_params")
    rejects("nShingle")(spark.sql("SELECT graft_minhash(t, n, 8) FROM kernel_params"))
    rejects("threshold")(df.select(call_function("graft_editdist", $"t"(0), $"t"(1), $"n")))
    // the literal forms of the same calls analyze
    df.select(Kernels.call("graft_shingle_hashes", $"t", lit(2)),
      call_function("graft_editdist", $"t"(0), $"t"(1), lit(2)))
  }

  test("LongSet: a capacity past the table limit fails fast instead of wrapping") {
    // 2·Int.MaxValue overflowed Int into an 8-slot table that `add`
    // probed forever once full; now it throws before allocating
    intercept[IllegalArgumentException](new graft.plans.GraftSets.LongSet(Int.MaxValue))
    intercept[IllegalArgumentException](new graft.plans.GraftSets.LongSet((1 << 28) + 1))
    val set = new graft.plans.GraftSets.LongSet(20)
    assert((1L to 20L).forall(set.add) && (1L to 20L).forall(set.contains))
  }
}
