package graft

import graft.queries.GraphQueries

/** PageRank pins: the distributed power iteration must reproduce a
  * driver-side scalar replay of the SAME pinned integer arithmetic on a
  * hand-built graph (an independent implementation, not the plan run
  * twice), plus structural invariants on the declared query's fixture.
  */
class GraphSpec extends SparkSpecBase {

  /** Scalar reference replay of the pinned semantics (r0 = S div n;
    * c = (r*w) div W; r' = (15*(S div n)) div 100 + (85*Σc) div 100). */
  private def referenceRanks(edges: Seq[(String, String, Long)],
                             iters: Int): Map[String, Long] = {
    val scale = 1000000000L
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = verts.size.toLong
    val outW = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val base = (15L * (scale / n)) / 100L
    var rank = verts.map(v => v -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = edges
        .map { case (s, d, w) => d -> (rank(s) * w) / outW(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      rank = verts.map(v => v -> (base + (85L * contrib.getOrElse(v, 0L)) / 100L)).toMap
    }
    rank
  }

  test("pageRankEdges == scalar reference replay on a hand-built graph") {
    // a hub (a), a sink-ish cycle (b<->c), and an asymmetric feeder (d)
    val edges = Seq(
      ("a", "b", 6L), ("a", "c", 2L), ("b", "c", 3L), ("c", "b", 5L),
      ("c", "a", 1L), ("d", "a", 4L), ("d", "d", 1L))
    val df = spark.createDataFrame(edges).toDF("src", "dst", "w")
    val got = GraphQueries.pageRankEdges(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = referenceRanks(edges, 5)
    assert(got.keySet == want.keySet)
    for ((v, r) <- want) assert(got(v)._1 == r, s"rank($v)")
    assert(got("a")._2 == 8L && got("d")._2 == 5L) // out-weights
    // total order of the declared output: rank DESC, domain ASC
    val ordered = GraphQueries.pageRankEdges(df).collect()
      .map(r => (r.getLong(1), r.getString(0)))
    assert(ordered.sameElements(ordered.sortBy { case (r, d) => (-r, d) }))
  }

  test("trianglesEdges: hand-built graph with known counts, dup/reverse/self-loop input") {
    // triangles: {a,b,c} and {a,c,d}; e touches no triangle
    val trans = Seq(
      ("a", "b"), ("b", "a"),          // duplicate + reversed
      ("b", "c"), ("a", "c"), ("c", "d"), ("a", "d"),
      ("d", "e"), ("e", "e"))          // self-loop must be dropped
    val df = spark.createDataFrame(trans).toDF("src", "dst")
    val got = graft.queries.GraphQueries.trianglesEdges(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 1L, "c" -> 2L, "d" -> 1L, "e" -> 0L))
  }

  bothGateSides("labelPropEdges: hand-built two-community graph with a weak bridge") {
    // two triangles (strong, w=3 each edge) joined by one weak edge —
    // LPA must keep them separate where connected components would
    // merge them into one
    val trans = Seq.fill(3)(Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"))).flatten :+ ("c", "x")
    val df = spark.createDataFrame(trans).toDF("src", "dst")
    val got = GraphQueries.labelPropEdges(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val left = Set("a", "b", "c").map(got)
    val right = Set("x", "y", "z").map(got)
    assert(left.size == 1 && right.size == 1, s"each triangle one label: $got")
    assert(left != right, s"weak bridge must not merge the communities: $got")
  }

  bothGateSides("LPA convergence probe: fixpoint stops the loop early, output == full-K unroll") {
    // the two-triangle graph converges in 2 rounds; a 10-round budget
    // must stop at the probe (round 3 observes zero changes) and the
    // early-stopped labels must equal the fully-unrolled ones — the
    // property that lets the DECLARED key keep its K-round oracle while
    // the operator stops early on real graphs
    val trans = Seq.fill(3)(Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"))).flatten :+ ("c", "x")
    val df = spark.createDataFrame(trans).toDF("src", "dst")
    val (probed, rounds) = GraphQueries.labelPropEdgesProbed(df, maxIters = 10)
    assert(rounds == 3, s"probe fired after $rounds rounds, not at round 3")
    val full = GraphQueries.labelPropEdges(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val early = probed.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(early == full, "early stop changed the labels")
  }

  test("labelPropEdgesProbed: driver vote == distributed rounds on random multigraphs") {
    // duplicate/reversed/self-loop transitions, null endpoints, weight
    // ties, and labels whose binary UTF-8 order differs from UTF-16
    // order (U+FF5E vs U+10000): labels AND round counts must agree
    val rnd = new scala.util.Random(5)
    val names = Vector("a", "b", "B", "c", "\uff5e", "\ud800\udc00", "dd", "e", "f")
    def v(): String = if (rnd.nextInt(15) == 0) null else names(rnd.nextInt(names.size))
    for (trial <- 1 to 4; fixpoint <- Seq(true, false)) {
      val df = spark.createDataFrame(Seq.fill(10 + rnd.nextInt(30))((v(), v())))
        .toDF("src", "dst")
      def run() = {
        val (lbl, rounds) = GraphQueries.labelPropEdgesProbed(df, 6, fixpoint)
        (lbl.collect().map(r => (r.getString(0), r.getString(1))).toSeq, rounds)
      }
      val driver = run()
      val distributed = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
      assert(driver == distributed, s"trial $trial fixpoint=$fixpoint")
    }
  }

  test("graph_label_propagation fixture: blocks recovered, hub keeps the graph connected") {
    val out = GraphQueries.labelPropagation(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val byVertex = out.toMap
    assert(byVertex.contains("hub"))
    // communities are non-trivial: more than one, far fewer than vertices
    val nLabels = out.map(_._2).distinct.length
    assert(nLabels > 1 && nLabels < out.length,
      s"$nLabels labels over ${out.length} vertices")
    // block purity: every non-hub vertex's label belongs to its OWN
    // block (intra-block weights outvote the weak hub bridges)
    out.filter(_._1 != "hub").foreach { case (v, lbl) =>
      val block = v.drop(1).takeWhile(_ != '_')
      assert(lbl == "hub" || lbl.startsWith(s"h${block}_"),
        s"$v labeled $lbl — crossed its block")
    }
  }

  test("declared fixture: 13 planted domains, mass conserved up to div truncation") {
    val out = GraphQueries.pageRank(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 13)
    assert(out.forall(_.getString(0).matches("site-\\d+\\.example\\.com")))
    val total = out.map(_.getLong(1)).sum
    // each div truncates < 1 unit per vertex/edge per iteration; with
    // 1e9 mass units the loss bound is vanishingly small relative slack
    assert(total > 990000000L && total <= 1000000000L, s"total=$total")
    assert(out.forall(_.getLong(1) > 0L))
    // the skewed (2k+1) plant makes the largest domain strictly dominant
    assert(out.head.getLong(1) > out.last.getLong(1))
  }
}
