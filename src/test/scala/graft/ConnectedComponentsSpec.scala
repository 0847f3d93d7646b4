package graft

import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  bothGateSides("components: chains, cycles, isolated nodes, min-label canonicals") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L).toDF("id")
    val edges = Seq(
      (3L, 2L), (2L, 1L),            // chain 1-2-3
      (4L, 5L), (5L, 6L), (6L, 4L),  // cycle 4-5-6
      (8L, 9L)                       // pair; 7 isolated
    ).toDF("src", "dst")
    val got = ConnectedComponents.components(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 8L, 9L -> 8L))
  }

  bothGateSides("components: long path (diameter >> maxIters without jumping) converges") {
    // path 1-2-...-80: propagation alone would need 79 rounds — far
    // past the default maxIters=25. Pointer jumping covers it in
    // O(log 80) rounds, so this converges (and proves the jump works).
    val n = 80L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ConnectedComponents.components(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 80 && got.values.toSet == Set(1L))
  }

  bothGateSides("dupGroups: only multi-member components, with keeper and size") {
    val nodes = Seq(1L, 2L, 3L, 10L).toDF("id")
    val edges = Seq((2L, 3L)).toDF("src", "dst")
    val got = ConnectedComponents.dupGroups(nodes, edges)
      .select("id", "keep_id", "group_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((2L, 2L, 2L), (3L, 2L, 2L))) // 1 and 10 are not dups
  }

  private def labels(nodes: Seq[Option[Long]], edges: Seq[(Option[Long], Option[Long])])
      : Set[(Option[Long], Long)] =
    ConnectedComponents.components(nodes.toDF("id"), edges.toDF("src", "dst"))
      .as[(Option[Long], Long)].collect().toSet

  bothGateSides("components: endpoints missing from nodes, null endpoints, node-less components") {
    val nodes = Seq(Some(5L), Some(9L), Some(9L), None, Some(20L))
    val edges = Seq(
      (Some(5L), Some(1L)),  // 1 is no node: labeled 5, its component's min NODE id
      (Some(1L), Some(2L)),  // 2 reached through a missing endpoint
      (Some(30L), Some(31L)), // no node in this component: no rows
      (Some(9L), None),      // null endpoint: takes its neighbors' min label
      (None, Some(2L)),
      (None, None),
      (Some(20L), Some(20L))) // self-loop
    assert(labels(nodes, edges) == Set(
      (Some(5L), 5L), (Some(1L), 5L), (Some(2L), 5L),
      (Some(9L), 9L), (Some(20L), 20L), (None, 5L)))
    // a round whose new rows' labels exactly offset the other rows'
    // label drops leaves sum(label) unchanged short of the fixpoint
    def some(xs: Long*) = xs.map(Some(_))
    def pairs(es: (Long, Long)*) = es.map { case (a, b) => (Some(a), Some(b)) }
    assert(labels(some(4, 2), pairs((2, 4), (7, 8), (5, 8), (5, 6), (8, 3), (2, 8))) ==
      Set(2L, 3L, 4L, 5L, 6L, 7L, 8L).map(i => (Some(i), 2L)))
    assert(labels(some(5, 5), pairs((5, 9), (9, 12))) ==
      Set(5L, 9L, 12L).map(i => (Some(i), 5L)))
  }

  test("components: driver fixpoint == distributed rounds on random hostile graphs") {
    // self-loops, duplicate and reversed edges, null endpoints, null
    // and duplicate node ids, negative ids, endpoints missing from
    // nodes — both sides of the size gate must agree row for row
    val rnd = new scala.util.Random(11)
    def id(): Option[Long] = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(40) - 5L)
    for (trial <- 1 to 6) {
      val nodes = Seq.fill(rnd.nextInt(30))(id())
      val base = Seq.fill(rnd.nextInt(40))((id(), id()))
      val edges = base ++ base.take(5).map(_.swap) ++ base.take(3) ++
        nodes.take(3).map(n => (n, n))
      val driver = labels(nodes, edges)
      val distributed =
        withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(labels(nodes, edges))
      assert(driver == distributed, s"trial $trial: nodes=$nodes edges=$edges")
    }
  }
}
