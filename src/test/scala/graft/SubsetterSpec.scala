package graft

import graft.operators.Subsetter
import org.apache.spark.sql.DataFrame

/** Mirrors the reference's own test shapes (test_subsetter.py —
  * SURVEY.md §5): FK chains, a self-referential table, NULL FKs, target
  * fraction edge cases, and the golden RI postcondition. */
class SubsetterSpec extends SparkSpecBase {
  import spark.implicits._

  /** Orphan counts from the audit's driver side (graft.operators.SmallAudit)
    * when the broadcast threshold is on — checked against validateRI —
    * and from validateRI alone when it is off. */
  private def audit(tables: Map[String, DataFrame], graph: FkGraph): Seq[Long] = {
    def orphans(r: DataFrame) = r.select("orphans").as[Long].collect().toSeq
    val distributed = orphans(Subsetter.validateRI(tables, graph))
    val driver = graft.operators.SmallAudit.orphans(tables, graph,
      tables.map { case (t, df) => t -> df.count() })
    assert(driver.isDefined == (spark.sessionState.conf.autoBroadcastJoinThreshold > 0))
    driver.foreach(r => assert(orphans(r) == distributed))
    distributed
  }

  // --- target sizing: Db.assign_target semantics ----------------------
  test("targetSize: linear / logarithmic / full / edge cases") {
    assert(Subsetter.targetSize(0, 0.5) == 0)                    // empty source
    assert(Subsetter.targetSize(1, 0.001) == 1)                  // min 1 when non-empty
    assert(Subsetter.targetSize(1000, 0.25) == 250)
    assert(Subsetter.targetSize(1001, 0.25) == 251)              // ceil
    assert(Subsetter.targetSize(1000, 1.0) == 1000)              // fraction=1 → full
    assert(Subsetter.targetSize(1000, 0.25, full = true) == 1000)
    // logarithmic: ceil(10^(log10(1000)*0.5)) = ceil(10^1.5) = 32
    assert(Subsetter.targetSize(1000, 0.5, logarithmic = true) == 32)
    assert(Subsetter.targetSize(10, 2.0) == 10)                  // capped at n
  }

  test("globMatch: fnmatch semantics") {
    assert(Subsetter.globMatch(Seq("line*"), "lineitem"))
    assert(Subsetter.globMatch(Seq("*item"), "lineitem"))
    assert(Subsetter.globMatch(Seq("l?neitem"), "lineitem"))
    assert(!Subsetter.globMatch(Seq("order*"), "lineitem"))
    assert(!Subsetter.globMatch(Nil, "lineitem"))
  }

  // --- tiny 3-level graph: grand(gid) <- mid(mid,gid) <- leaf(lid,mid)
  private def tinyGraph: (Map[String, DataFrame], FkGraph) = {
    val grand = Seq((1L, "g1"), (2L, "g2"), (3L, "g3")).toDF("gid", "gname")
    val mid = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("mid", "gid")
    val leaf = Seq((100L, 10L), (101L, 10L), (102L, 11L)).toDF("lid", "mid")
    val graph = FkGraph(
      pks = Map("grand" -> Seq("gid"), "mid" -> Seq("mid"), "leaf" -> Seq("lid")),
      fks = Seq(
        Fk("leaf", Seq("mid"), "mid", Seq("mid")),
        Fk("mid", Seq("gid"), "grand", Seq("gid"))))
    (Map("grand" -> grand, "mid" -> mid, "leaf" -> leaf), graph)
  }

  test("parentClosure: multi-hop chain pulls exactly the needed ancestors") {
    val (tables, graph) = tinyGraph
    val seeds = Map("leaf" -> tables("leaf").filter($"lid" === 100L))
    val keys = Subsetter.parentClosure(tables, graph, seeds)
    assert(keys("leaf").as[Long].collect().toSet == Set(100L))
    assert(keys("mid").as[Long].collect().toSet == Set(10L))
    assert(keys("grand").as[Long].collect().toSet == Set(1L))
  }

  test("parentClosure: self-referential FK terminates and closes the chain") {
    // emp(id, mgr) with 1 <- 2 <- 3 and a cycle 5 <-> 6
    val emp = Seq(
      (1L, Option.empty[Long]), (2L, Some(1L)), (3L, Some(2L)),
      (5L, Some(6L)), (6L, Some(5L))).toDF("id", "mgr")
    val graph = FkGraph(
      pks = Map("emp" -> Seq("id")),
      fks = Seq(Fk("emp", Seq("mgr"), "emp", Seq("id"))))
    val keys = Subsetter.parentClosure(
      Map("emp" -> emp), graph, Map("emp" -> emp.filter($"id" === 3L)))
    assert(keys("emp").as[Long].collect().toSet == Set(1L, 2L, 3L))
    val keys2 = Subsetter.parentClosure(
      Map("emp" -> emp), graph, Map("emp" -> emp.filter($"id" === 5L)))
    assert(keys2("emp").as[Long].collect().toSet == Set(5L, 6L))
    // a 60-deep chain 1 <- 2 <- ... <- 60 seeded at its tail takes 59
    // semi-naive rounds, more than the 50 the closure once stopped at
    val chain = (1L to 60L).map(i => (i, Option.when(i > 1L)(i - 1L))).toDF("id", "mgr")
    val keys3 = Subsetter.parentClosure(
      Map("emp" -> chain), graph, Map("emp" -> chain.filter($"id" === 60L)))
    assert(keys3("emp").as[Long].collect().toSet == (1L to 60L).toSet)
  }

  test("parentClosure: NULL FK values require no parent") {
    val child = Seq((1L, Option.empty[Long]), (2L, Some(20L)))
      .toDF("cid", "pid")
    val parent = Seq((20L, "p"), (21L, "q")).toDF("pid", "pname")
    val graph = FkGraph(
      pks = Map("child" -> Seq("cid"), "parent" -> Seq("pid")),
      fks = Seq(Fk("child", Seq("pid"), "parent", Seq("pid"))))
    val keys = Subsetter.parentClosure(
      Map("child" -> child, "parent" -> parent), graph,
      Map("child" -> child))
    assert(keys("parent").as[Long].collect().toSet == Set(20L))
  }

  test("closureFrom: incremental deltas only expand from the delta") {
    val (tables, graph) = tinyGraph
    // fixpoint over leaf 100 …
    val keys1 = Subsetter.parentClosure(tables, graph,
      Map("leaf" -> tables("leaf").filter($"lid" === 100L)))
    // … then add leaf 102 as a delta: mid 11 and grand 2 must appear,
    // prior keys must persist
    val delta = Map("leaf" -> tables("leaf").filter($"lid" === 102L).select("lid"))
    val keys2 = Subsetter.closureFrom(tables, graph,
      keys1 + ("leaf" -> keys1("leaf").union(delta("leaf"))), delta)
    assert(keys2("mid").as[Long].collect().toSet == Set(10L, 11L))
    assert(keys2("grand").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("parentClosure: composite-column FK edges") {
    val parent = Seq((1L, 10L, "p1"), (2L, 20L, "p2"), (3L, 30L, "p3"))
      .toDF("x", "y", "pname")
    val child = Seq((100L, 1L, 10L), (101L, 3L, 30L), (102L, 1L, 10L))
      .toDF("cid", "a", "b")
    val graph = FkGraph(
      pks = Map("child" -> Seq("cid"), "parent" -> Seq("x", "y")),
      fks = Seq(Fk("child", Seq("a", "b"), "parent", Seq("x", "y"))))
    val keys = Subsetter.parentClosure(
      Map("child" -> child, "parent" -> parent), graph,
      Map("child" -> child.filter($"cid" =!= 101L)))
    assert(keys("parent").as[(Long, Long)].collect().toSet == Set((1L, 10L)))
  }

  test("childTopK: bounded deterministic child pull") {
    val lines = Seq(
      (1L, 1, "a"), (1L, 2, "b"), (1L, 3, "c"), (1L, 4, "d"),
      (2L, 1, "e")).toDF("okey", "lnum", "v")
    val fk = Fk("lines", Seq("okey"), "orders", Seq("okey"))
    val parents = Seq(Tuple1(1L)).toDF("okey")
    val picked = Subsetter.childTopK(lines, Seq("okey", "lnum"), fk, parents, 3)
      .select("okey", "lnum").as[(Long, Int)].collect().toSet
    assert(picked == Set((1L, 1), (1L, 2), (1L, 3))) // first 3 by PK, order 2 absent
  }

  bothGateSides("subset: output satisfies the RI postcondition (zero orphans)") {
    val (tables, graph) = tinyGraph
    val out = Subsetter.subset(tables, graph, Subsetter.Config(fraction = 0.5))
    val orphans = Subsetter.validateRI(out, graph)
      .select("orphans").as[Long].collect()
    assert(orphans.forall(_ == 0L))
    // every included table kept at least one row (min-1 rule)
    assert(out("leaf").count() >= 1 && out("mid").count() >= 1 && out("grand").count() >= 1)
  }

  bothGateSides("subsetDelta: second run into a non-empty dest inserts only the referentially-closed gap") {
    val (tables, graph) = tinyGraph
    val dest = Subsetter.subset(tables, graph, Subsetter.Config(fraction = 0.4))
      .map { case (t, df) => t -> df.localCheckpoint() } // freeze the first run
    val delta = Subsetter.subsetDelta(tables, graph,
      Subsetter.Config(fraction = 1.0), dest)
    for (t <- tables.keys) {
      // disjoint: nothing re-inserted
      assert(delta(t).join(dest(t), graph.pks(t), "left_semi").count() == 0L,
        s"$t delta overlaps dest")
    }
    val merged = tables.keys.map(t => t -> dest(t).union(delta(t))).toMap
    val orphans = Subsetter.validateRI(merged, graph)
      .select("orphans").as[Long].collect()
    assert(orphans.forall(_ == 0L), "dest ∪ delta must be referentially closed")
    // fraction 1.0: the union reaches the full source on every table
    for (t <- tables.keys)
      assert(merged(t).count() == tables(t).count(), s"$t not grown to target")
  }

  bothGateSides("subsetDelta: already-at-target dest yields an empty delta") {
    val (tables, graph) = tinyGraph
    val dest = tables // dest == full source
    val delta = Subsetter.subsetDelta(tables, graph,
      Subsetter.Config(fraction = 1.0), dest)
    for (t <- tables.keys)
      assert(delta(t).count() == 0L, s"$t delta should be empty")
  }

  test("subset_delta audit query: zero overlap, zero orphans, real growth on the fixture") {
    val rows = graft.queries.CoreQueries
      .subsetDeltaAudit(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("overlap_rows") == 0L), "delta must not re-insert")
    assert(rows.forall(_.getAs[Long]("orphans") == 0L), "dest ∪ delta must stay closed")
    assert(rows.exists(_.getAs[Long]("delta_rows") > 0L), "f 0.05 → 0.1 must grow")
  }

  bothGateSides("validateRI: detects orphans on broken data") {
    val child = Seq((1L, 99L)).toDF("cid", "pid") // 99 has no parent
    val parent = Seq((20L, "p")).toDF("pid", "pname")
    val graph = FkGraph(
      pks = Map("child" -> Seq("cid"), "parent" -> Seq("pid")),
      fks = Seq(Fk("child", Seq("pid"), "parent", Seq("pid"))))
    assert(audit(Map("child" -> child, "parent" -> parent), graph) == Seq(1L))
  }

  bothGateSides("validateRI: string-keyed FK edges use native types (no long cast)") {
    val child = Seq((1L, "US"), (2L, "FR"), (3L, "XX")).toDF("cid", "ccode")
    val parent = Seq(("US", "United States"), ("FR", "France")).toDF("code", "cname")
    val graph = FkGraph(
      pks = Map("child" -> Seq("cid"), "parent" -> Seq("code")),
      fks = Seq(Fk("child", Seq("ccode"), "parent", Seq("code"))))
    // only "XX" is orphaned; a long-cast would orphan all 3
    assert(audit(Map("child" -> child, "parent" -> parent), graph) == Seq(1L))
  }

  bothGateSides("subset + validateRI: string-keyed graph end to end") {
    val parent = ('a' to 'z').map(c => (c.toString, s"p$c")).toDF("code", "pname")
    val child = (1L to 52L).map(i => (i, ('a' + ((i - 1) % 26).toInt).toChar.toString))
      .toDF("cid", "code")
    val graph = FkGraph(
      pks = Map("parent" -> Seq("code"), "child" -> Seq("cid")),
      fks = Seq(Fk("child", Seq("code"), "parent", Seq("code"))))
    val out = Subsetter.subset(Map("parent" -> parent, "child" -> child), graph,
      Subsetter.Config(fraction = 0.25, children = 0))
    assert(out("child").count() == 13) // exact target via top-up
    assert(audit(out, graph) == Seq(0L))
  }

  bothGateSides("subset: forced rows are present with their parent closure") {
    val (tables, graph) = tinyGraph
    val out = Subsetter.subset(tables, graph,
      Subsetter.Config(fraction = 0.34, force = Map("leaf" -> Seq(102L))))
    assert(out("leaf").filter($"lid" === 102L).count() == 1)
    assert(out("mid").filter($"mid" === 11L).count() == 1)   // 102's parent
    assert(out("grand").filter($"gid" === 2L).count() == 1)  // grandparent
  }

  test("subset: --force naming a table outside the run fails loudly") {
    val (tables, graph) = tinyGraph
    for (cfg <- Seq(
           Subsetter.Config(fraction = 0.5, force = Map("lef" -> Seq(100L))), // typo
           Subsetter.Config(fraction = 0.5, excludeTables = Seq("leaf"),
             forceComposite = Map("leaf" -> Seq(Seq(100L)))))) {          // excluded
      val e = intercept[IllegalArgumentException](Subsetter.subset(tables, graph, cfg))
      assert(e.getMessage.contains("not an included table"))
    }
  }

  // --- composite-PK force ----------------------------------------------
  // orders(oid) <- lines(oid, lnum): lines' PK is composite
  private def compositeGraph: (Map[String, DataFrame], FkGraph) = {
    val orders = (1L to 20L).map(i => (i, s"o$i")).toDF("oid", "oname")
    val lines = (1L to 20L).flatMap(o => (1 to 3).map(l => (o, l, s"v$o-$l")))
      .toDF("oid", "lnum", "v")
    val graph = FkGraph(
      pks = Map("orders" -> Seq("oid"), "lines" -> Seq("oid", "lnum")),
      fks = Seq(Fk("lines", Seq("oid"), "orders", Seq("oid"))))
    (Map("orders" -> orders, "lines" -> lines), graph)
  }

  bothGateSides("subset: composite-PK forced tuples survive with their parent closure") {
    val (tables, graph) = compositeGraph
    val out = Subsetter.subset(tables, graph,
      Subsetter.Config(fraction = 0.1, children = 0,
        forceComposite = Map("lines" -> Seq(Seq(17L, 2)))))
    assert(out("lines").filter($"oid" === 17L && $"lnum" === 2).count() == 1)
    assert(out("orders").filter($"oid" === 17L).count() == 1) // closure pulled parent
    val orphans = Subsetter.validateRI(out, graph).select("orphans").as[Long].collect()
    assert(orphans.forall(_ == 0L))
  }

  bothGateSides("subset: single-column --force on a composite-PK table fails loudly") {
    val (tables, graph) = compositeGraph
    val e = intercept[IllegalArgumentException] {
      Subsetter.subset(tables, graph,
        Subsetter.Config(fraction = 0.1, force = Map("lines" -> Seq(17L))))
    }
    assert(e.getMessage.contains("composite PK"))
  }

  // --- completeness top-up ---------------------------------------------
  bothGateSides("subset: completeness top-up hits targets exactly (no-FK tables)") {
    val a = (1L to 100L).map(i => (i, s"a$i")).toDF("aid", "av")
    val b = (1L to 40L).map(i => (i, s"b$i")).toDF("bid", "bv")
    val graph = FkGraph(pks = Map("a" -> Seq("aid"), "b" -> Seq("bid")), fks = Nil)
    val out = Subsetter.subset(Map("a" -> a, "b" -> b), graph,
      Subsetter.Config(fraction = 0.3))
    assert(out("a").count() == 30) // ceil(100*0.3) — exactly, not binomially near
    assert(out("b").count() == 12) // ceil(40*0.3)
  }

  bothGateSides("subset: top-up re-closes parents; child exact, parent at-least, RI holds") {
    val parent = (1L to 50L).map(i => (i, s"p$i")).toDF("pid", "pname")
    val child = (1L to 100L).map(i => (i, (i - 1) / 2 + 1)).toDF("cid", "pid")
    val graph = FkGraph(
      pks = Map("parent" -> Seq("pid"), "child" -> Seq("cid")),
      fks = Seq(Fk("child", Seq("pid"), "parent", Seq("pid"))))
    val out = Subsetter.subset(Map("parent" -> parent, "child" -> child), graph,
      Subsetter.Config(fraction = 0.2, children = 0))
    assert(out("child").count() == 20)   // exactly ceil(100*0.2)
    assert(out("parent").count() >= 10)  // target met; closure may overfill
    val orphans = Subsetter.validateRI(out, graph).select("orphans").as[Long].collect()
    assert(orphans.forall(_ == 0L))
  }

  bothGateSides("subset: top-up stops at source exhaustion (target unreachable)") {
    // exclude-nothing, but fraction > 1 is capped; instead: tiny table,
    // full-tables glob forces n, while a sibling at fraction 0.5 tops up
    val a = (1L to 7L).map(i => (i, s"a$i")).toDF("aid", "av")
    val graph = FkGraph(pks = Map("a" -> Seq("aid")), fks = Nil)
    val out = Subsetter.subset(Map("a" -> a), graph, Subsetter.Config(fraction = 0.99))
    assert(out("a").count() == 7) // ceil(7*0.99)=7 == n, reached by exhaustion path
  }

  bothGateSides("subset: topUpRounds = -1 loops until complete where bounded rounds fall short") {
    // binomial sampling is biased ~3σ under target, so with the top-up
    // disabled (0 rounds) the count falls short of the exact target;
    // until-complete (-1) repairs it to exactly ceil(200*0.3) = 60.
    val a = (1L to 200L).map(i => (i, s"a$i")).toDF("aid", "av")
    val graph = FkGraph(pks = Map("a" -> Seq("aid")), fks = Nil)
    val none = Subsetter.subset(Map("a" -> a), graph,
      Subsetter.Config(fraction = 0.3, topUpRounds = 0))
    assert(none("a").count() < 60) // bounded-rounds shortfall is real
    val full = Subsetter.subset(Map("a" -> a), graph,
      Subsetter.Config(fraction = 0.3, topUpRounds = -1))
    assert(full("a").count() == 60)
  }

  bothGateSides("subset: exclude and full-table globs") {
    val (tables, graph) = tinyGraph
    val out = Subsetter.subset(tables, graph,
      Subsetter.Config(fraction = 0.34, fullTables = Seq("gra*"), excludeTables = Seq("leaf")))
    assert(!out.contains("leaf"))
    assert(out("grand").count() == 3) // full copy
  }

  test("randSample: upstream ORDER BY random() parity — exact k, seeded, spread") {
    val orders = Catalog.table(spark, "/root/testdata/sf0.001", "orders")
    val n = orders.count()
    val a = Subsetter.randSample(orders, 50, seed = 7)
    val aKeys = a.select("o_orderkey").as[Long].collect().toSet
    assert(aKeys.size == 50, "exact k distinct rows")
    // same seed reproduces; a fresh seed is the upstream's fresh draw
    val a2 = Subsetter.randSample(orders, 50, seed = 7)
      .select("o_orderkey").as[Long].collect().toSet
    assert(a2 == aKeys)
    val b = Subsetter.randSample(orders, 50, seed = 8)
      .select("o_orderkey").as[Long].collect().toSet
    assert(b != aKeys, "different seed must draw a different sample")
    // distribution sanity: a uniform draw spans the key range instead
    // of clustering in a prefix (both halves represented)
    val mid = orders.agg(org.apache.spark.sql.functions.max($"o_orderkey"))
      .head().getLong(0) / 2
    assert(aKeys.exists(_ < mid) && aKeys.exists(_ > mid))
    assert(n > 50) // the sample is a strict subset
    // scale shape: per-partition top-k heap + driver merge, never a
    // global sort
    a.collect()
    assert(a.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }
}
