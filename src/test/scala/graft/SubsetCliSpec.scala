package graft

import graft.operators.Subsetter
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** End-to-end CLI parity: subset the sf0.001 star schema into a
  * destination directory, reload it, and assert the reference's
  * postconditions on the WRITTEN copy. */
class SubsetCliSpec extends SparkSpecBase {
  import spark.implicits._

  test("parse: flags map to Config") {
    val a = SubsetCli.parse(Seq("/src", "/dst", "0.25",
      "--logarithmic", "--children", "5",
      "--full-tables", "region,nation", "--exclude-tables", "embeddings",
      "--force", "customer:1,customer:42,orders:7,lineitem:3+2"))
    assert(a.src == "/src" && a.dest == "/dst")
    assert(a.cfg.fraction == 0.25 && a.cfg.logarithmic && a.cfg.children == 5)
    assert(a.cfg.fullTables == Seq("region", "nation"))
    assert(a.cfg.excludeTables == Seq("embeddings"))
    assert(a.cfg.force == Map("customer" -> Seq(1L, 42L), "orders" -> Seq(7L)))
    assert(a.cfg.forceComposite == Map("lineitem" -> Seq(Seq(3L, 2L))))
  }

  test("parse: --config loads extra pseudo-FK edges from JSON") {
    val f = tempFile("graft-config", ".json")
    Files.writeString(f,
      """[{"childTable": "documents", "childCols": ["doc_id"],
        |  "parentTable": "customer", "parentCols": ["c_custkey"]}]""".stripMargin)
    val a = SubsetCli.parse(Seq("/s", "/d", "0.1", "--config", f.toString))
    assert(a.extraFks == Seq(
      Fk("documents", Seq("doc_id"), "customer", Seq("c_custkey"), pseudo = true)))
    // malformed config fails loudly
    val bad = tempFile("graft-config-bad", ".json")
    Files.writeString(bad, """{"not": "an array"}""")
    intercept[IllegalArgumentException] {
      SubsetCli.parse(Seq("/s", "/d", "0.1", "--config", bad.toString))
    }
  }

  test("parse: --yes skips the confirmation prompt") {
    assert(!SubsetCli.parse(Seq("/s", "/d", "0.1")).yes)
    assert(SubsetCli.parse(Seq("/s", "/d", "0.1", "--yes")).yes)
  }

  test("plan: per-table targets from footers, globs applied, stable rendering") {
    val args = SubsetCli.parse(Seq("/root/testdata/sf0.001", "/tmp/unused", "0.1",
      "--full-tables", "region", "--exclude-tables", "embeddings", "--yes"))
    val rows = SubsetCli.plan(spark, args)
    val byTable = rows.map(r => r._1 -> r).toMap
    assert(!byTable.contains("embeddings"))          // excluded
    assert(byTable("region") == ("region", 5L, 5L))  // full glob -> n
    assert(byTable("nation") == ("nation", 25L, 3L)) // ceil(25*0.1)
    val rendered = SubsetCli.renderPlan(rows)
    assert(rendered.contains("region") && rendered.contains("-> "))
    assert(rendered.linesIterator.size == rows.size)
  }

  test("second run into a non-empty dest appends only the gap; RI holds on the total") {
    val dest = tempDir("graft-subset-redest").toString
    val src = "/root/testdata/sf0.001"
    val first = SubsetCli.run(spark, SubsetCli.parse(Seq(src, dest, "0.05")))
    val second = SubsetCli.run(spark, SubsetCli.parse(Seq(src, dest, "0.1")))
    // totals grew to (at least) the f=0.1 targets and never shrank
    for ((t, n1) <- first) assert(second(t) >= n1, s"$t shrank")
    for (t <- Catalog.tableNames) {
      val srcN = graft.sources.Sources.footerRowCount(spark, s"$src/$t.parquet")
      assert(second(t) >= Subsetter.targetSize(srcN, 0.1), s"$t below target")
    }
    // nothing re-inserted: no full row appears twice after the append
    // (PK-distinctness would be wrong here — lineitem's declared key,
    // l_orderkey, is non-unique by design: key-closed subsetting keeps
    // every line of a kept order)
    for (t <- Catalog.tableNames) {
      val df = spark.read.parquet(s"$dest/$t.parquet")
      assert(df.count() == df.distinct().count(),
        s"$t has duplicate rows after the second run")
    }
    val orphans = SubsetCli.validateDest(spark, dest, Catalog.tableNames.toSet)
      .select("orphans").as[Long].collect()
    assert(orphans.forall(_ == 0L))
  }

  test("partial dest (interrupted first run) is treated as unclosed; merged result has no orphans") {
    // Simulate a first run that crashed mid-write: only SOME tables'
    // files exist in dest (here: the child-heavy ones, whose keys
    // demand parents in the MISSING tables). The next run must not
    // assume closure — it re-walks the parent closure over the partial
    // dest's keys, so the merged dest is referentially complete.
    val dest = tempDir("graft-subset-partial").toString
    val src = "/root/testdata/sf0.001"
    val full = Subsetter.subset(Catalog.load(spark, src), FkGraph.default,
      Subsetter.Config(fraction = 0.05))
    // write ONLY orders+lineitem: their keys demand customer/part/
    // supplier parents that no dest file provides
    for (t <- Seq("orders", "lineitem"))
      graft.sources.Sources.writeParquet(full(t), s"$dest/$t.parquet")
    val written = SubsetCli.run(spark, SubsetCli.parse(Seq(src, dest, "0.1")))
    assert(written.keySet == Catalog.tableNames.toSet)
    val orphans = SubsetCli.validateDest(spark, dest, Catalog.tableNames.toSet)
      .select("orphans").as[Long].collect()
    assert(orphans.forall(_ == 0L),
      "partial dest must be re-closed, not assumed referentially complete")
  }

  test("crash during delta STAGING: uncommitted staging is discarded, dest untouched") {
    val dest = tempDir("graft-atomic1").toString
    val src = "/root/testdata/sf0.001"
    val first = SubsetCli.run(spark, SubsetCli.parse(Seq(src, dest, "0.05")))
    // simulate a crash mid-staging: staged files present, NO manifest
    val pending = new java.io.File(dest, "_delta_pending")
    new java.io.File(pending, "customer.parquet").mkdirs()
    Files.writeString(
      new java.io.File(pending, "customer.parquet/part-junk.parquet").toPath, "junk")
    assert(!SubsetCli.recoverPendingDelta(dest), "uncommitted staging is not a recovery")
    assert(!pending.exists(), "staging discarded")
    for ((t, n) <- first)
      assert(graft.sources.Sources.footerRowCount(spark, s"$dest/$t.parquet") == n,
        s"$t changed despite the delta never committing")
  }

  test("crash mid-APPLY: committed delta recovers on the next run; result equals an uninterrupted run") {
    val src = "/root/testdata/sf0.001"
    val crashed = tempDir("graft-atomic2").toString
    val control = tempDir("graft-atomic2c").toString
    for (d <- Seq(crashed, control))
      SubsetCli.run(spark, SubsetCli.parse(Seq(src, d, "0.05")))
    // the control gets the SAME number of delta passes as the crashed
    // side (2): a delta pass on an at-target dest is not a strict
    // no-op — the bounded child pull may legitimately top up children
    // for parents that arrived in the previous wave — so parity means
    // same-passes, not fewer
    SubsetCli.run(spark, SubsetCli.parse(Seq(src, control, "0.1")))
    SubsetCli.run(spark, SubsetCli.parse(Seq(src, control, "0.1")))
    // die after the SECOND staged-file move — manifest is committed,
    // apply is half done
    SubsetCli.moveHook =
      (_, i) => if (i >= 1) throw new RuntimeException("simulated crash")
    try intercept[RuntimeException] {
      SubsetCli.run(spark, SubsetCli.parse(Seq(src, crashed, "0.1")))
    } finally SubsetCli.moveHook = (_, _) => ()
    val pending = new java.io.File(crashed, "_delta_pending")
    assert(pending.exists() &&
      new java.io.File(pending, "MANIFEST.json").exists(),
      "crash left a committed, partially-applied delta")
    // the next PLAIN run recovers first (finishes the moves), then
    // computes a now-empty delta — no special flag needed
    SubsetCli.run(spark, SubsetCli.parse(Seq(src, crashed, "0.1")))
    assert(!pending.exists(), "recovery cleans the staging dir")
    for (t <- Catalog.tableNames) {
      val a = spark.read.parquet(s"$crashed/$t.parquet")
      val b = spark.read.parquet(s"$control/$t.parquet")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t differs from the uninterrupted run")
    }
    val orphans = SubsetCli.validateDest(spark, crashed, Catalog.tableNames.toSet)
      .select("orphans").as[Long].collect()
    assert(orphans.forall(_ == 0L))
  }

  test("--validate mode parses; validateOnly audits a dest standalone") {
    assert(SubsetCli.parse(Seq("/s", "/d", "0.1", "--validate")).validateOnly)
    assert(!SubsetCli.parse(Seq("/s", "/d", "0.1")).validateOnly)
    val dest = tempDir("graft-validate-only").toString
    val src = "/root/testdata/sf0.001"
    SubsetCli.run(spark, SubsetCli.parse(Seq(src, dest, "0.1")))
    assert(SubsetCli.validateOnly(spark, dest) == ((0L, Nil)), "clean dest audits clean")
    // inject an orphan: a lineitem row whose l_orderkey no order has
    val orphanRow = spark.read.parquet(s"$dest/lineitem.parquet")
      .limit(1).withColumn("l_orderkey", lit(999999999L))
    orphanRow.write.mode("append").parquet(s"$dest/lineitem.parquet")
    assert(SubsetCli.validateOnly(spark, dest)._1 > 0L, "injected orphan detected")
    // partial dest: audits what's present WITHOUT crashing, but reports
    // the missing tables — main turns that into a non-zero exit, because
    // "0 orphans among what exists" does not certify closure
    val partial = tempDir("graft-validate-partial").toString
    spark.read.parquet(s"$dest/orders.parquet").write.parquet(s"$partial/orders.parquet")
    val (orphans, missing) = SubsetCli.validateOnly(spark, partial)
    assert(orphans == 0L && missing.nonEmpty)
    // a present-but-EMPTY table (zero-row parquet from a crashed write)
    // audits as 0 orphans for its edges, not an NPE
    val withEmpty = tempDir("graft-validate-empty").toString
    for (t <- Catalog.tableNames)
      spark.read.parquet(s"$dest/$t.parquet").write.parquet(s"$withEmpty/$t.parquet")
    spark.read.parquet(s"$dest/lineitem.parquet").filter(lit(false))
      .write.mode("overwrite").parquet(s"$withEmpty/lineitem.parquet")
    assert(SubsetCli.validateOnly(spark, withEmpty)._1 >= 0L, "empty table must not crash the audit")
  }

  test("subset sf0.001 -> destination parquet: RI holds on the written copy") {
    val dest = tempDir("graft-subset-dest").toString
    val args = SubsetCli.parse(Seq("/root/testdata/sf0.001", dest, "0.1",
      "--full-tables", "region,nation", "--force", "customer:1"))
    val written = SubsetCli.run(spark, args)
    // every table written, with at least one row (min-1 rule)
    assert(written.keySet == Catalog.tableNames.toSet)
    assert(written.values.forall(_ >= 1L))
    // full-table globs copied entirely
    assert(written("region") == 5L && written("nation") == 25L)
    // forced row present in the destination
    val cust = spark.read.parquet(s"$dest/customer.parquet")
    assert(cust.filter($"c_custkey" === 1L).count() == 1)
    // the reference's golden postcondition on the RELOADED output
    val orphans = SubsetCli.validateDest(spark, dest, written.keySet)
      .select("orphans").as[Long].collect()
    assert(orphans.forall(_ == 0L))
    // subset is a real subset
    assert(written("lineitem") < 6000L)
  }

  test("summaryJson: one parseable line with per-table rows, orphans and the gate side") {
    val line = SubsetCli.summaryJson(
      Seq(("customer", 150L, 60L), ("nation", 25L, 10L)),
      Map("customer" -> 60L, "nation" -> 12L, "region" -> 3L), orphans = 0L, onDriver = true,
      rowsOnDriver = true, auditOnDriver = false)
    assert(!line.contains("\n"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(root.get("orphans").asLong == 0L && root.get("key_sets").asText == "driver" &&
      root.get("rows").asText == "driver" && root.get("audit").asText == "distributed")
    val rows = root.get("tables")
    assert(rows.size == 3)
    assert(rows.get(0).get("table").asText == "customer" &&
      rows.get(0).get("source_rows").asLong == 150L &&
      rows.get(0).get("target_rows").asLong == 60L &&
      rows.get(0).get("written_rows").asLong == 60L)
    // a table written without a plan row (an excluded parent) has written rows only
    assert(rows.get(2).get("table").asText == "region" && !rows.get(2).has("source_rows") &&
      rows.get(2).get("written_rows").asLong == 3L)
    val other = SubsetCli.summaryJson(Nil, Map.empty, 2L, onDriver = false,
      rowsOnDriver = false, auditOnDriver = true)
    assert(other.contains("\"key_sets\":\"distributed\"") &&
      other.contains("\"rows\":\"source\"") && other.contains("\"audit\":\"driver\""))
  }
}
