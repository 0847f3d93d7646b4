package graft

import graft.sources.Sources
import java.nio.file.Files

class SourcesSpec extends SparkSpecBase {
  import spark.implicits._

  test("csv and json roundtrip preserve data under explicit schemas") {
    val dir = tempDir("graft-sources").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -0.25), (3L, "gamma", 0.0))
      .toDF("id", "name", "score")
    Sources.writeCsv(df, s"$dir/csv")
    Sources.writeJson(df, s"$dir/json")
    val backCsv = Sources.readCsv(spark, s"$dir/csv", df.schema)
    val backJson = Sources.readJson(spark, s"$dir/json", df.schema)
    assert(backCsv.collect().toSet == df.collect().toSet)
    assert(backJson.collect().toSet == df.collect().toSet)
    // nullability flags legitimately widen on file read; names+types hold
    assert(backCsv.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
  }

  test("orc roundtrip preserves data and schema (self-describing)") {
    val dir = tempDir("graft-orc").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -0.25), (3L, "gamma", 0.0))
      .toDF("id", "name", "score")
    Sources.writeOrc(df, s"$dir/orc")
    val back = Sources.readOrc(spark, s"$dir/orc")
    assert(back.collect().toSet == df.collect().toSet)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    // pushdown reaches the ORC scan like parquet
    val p = back.filter($"id" > 1L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"), p)
  }

  test("binaryFile + text sources: per-file binary rows, per-line text rows") {
    val dir = tempDir("graft-bin").toString
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    Files.write(java.nio.file.Paths.get(dir, "a.png"), png)
    Files.write(java.nio.file.Paths.get(dir, "b.txt"),
      "line one\nline two\n".getBytes("UTF-8"))
    // glob bounds the binary scan to the wanted extension
    val bin = Sources.readBinaryFiles(spark, dir, "*.png")
      .select("path", "length", "content").collect()
    assert(bin.length == 1)
    assert(bin.head.getAs[String]("path").endsWith("a.png"))
    assert(bin.head.getAs[Long]("length") == png.length.toLong)
    assert(bin.head.getAs[Array[Byte]]("content").sameElements(png))
    val lines = Sources.readText(spark, s"$dir/b.txt")
      .collect().map(_.getString(0)).toSet
    assert(lines == Set("line one", "line two"))
    val whole = Sources.readText(spark, s"$dir/b.txt", wholeFile = true)
      .collect().map(_.getString(0))
    assert(whole.length == 1 && whole.head.startsWith("line one\n"))
  }

  test("partitioned parquet: directory pruning at planning time") {
    val dir = tempDir("graft-part").toString
    val df = Catalog.table(spark, "/root/testdata/sf0.001", "events")
    Sources.writePartitioned(df, s"$dir/events", Seq("event_type"))
    val back = Sources.readParquet(spark, s"$dir/events")
    val clicks = back.filter($"event_type" === "click")
    // the partition predicate must land in PartitionFilters (pruned at
    // planning), NOT PushedFilters (evaluated against row groups)
    val scan = clicks.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"), scan)
    assert(clicks.count() ==
      df.filter($"event_type" === "click").count())
    // only the click directory's files are planned
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collectLeaves()
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles }.sum
    val planned = plannedFiles(clicks)
    val all = plannedFiles(back)
    assert(planned < all, s"planned=$planned all=$all")
  }

  test("footerRowCount: exact counts from parquet metadata, no scan") {
    val expected = Map("region" -> 5L, "nation" -> 25L, "customer" -> 150L)
    expected.foreach { case (t, n) =>
      assert(Sources.footerRowCount(spark, s"/root/testdata/sf0.001/$t.parquet") == n)
    }
  }

  test("completeness scheduling: argmin pick with deterministic ties") {
    import graft.operators.Subsetter
    assert(Subsetter.completenessScore(0, 10) == 0.0)
    assert(Subsetter.completenessScore(5, 10) == 0.5)
    assert(Subsetter.completenessScore(20, 10) == 1.0)
    assert(Subsetter.completenessScore(0, 0) == 1.0)
    val pick = Subsetter.pickNextTable(Map(
      "a" -> ((5L, 10L)), "b" -> ((1L, 10L)), "c" -> ((10L, 10L))))
    assert(pick.contains("b"))
    // tie: same score -> lexicographic
    val tie = Subsetter.pickNextTable(Map("z" -> ((1L, 2L)), "a" -> ((2L, 4L))))
    assert(tie.contains("a"))
    assert(Subsetter.pickNextTable(Map("a" -> ((3L, 3L)))).isEmpty)
  }

  // --- footer-derived scan-split sizing (r12 VERDICT item 5) -----------

  test("scanSplitBytes: high- and low-compression dirs land within 2x of the same decompressed bytes per split") {
    import org.apache.spark.sql.functions._
    val base = tempDir("graft-split").toString
    // fixture-like compressible text: 100 words from a 32-word vocab
    // (the driver corpus measures ~20x); incompressible: hex of hashes
    val vocabArr = array((0 until 32).map(i => lit(s"w$i")): _*)
    spark.range(20000)
      .select(col("id"), array_join(transform(sequence(lit(1), lit(100)),
        p => element_at(vocabArr,
          (pmod(xxhash64(col("id"), p), lit(32)) + 1).cast("int"))), " ").as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/hi")
    spark.range(20000)
      .select(col("id"), concat((1 to 12).map(t =>
        hex(xxhash64(col("id"), lit(t)))): _*).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/lo")
    val target = 40L * 1024 * 1024
    val (hiSplit, loSplit) = (Sources.scanSplitBytes(spark, s"$base/hi", target),
      Sources.scanSplitBytes(spark, s"$base/lo", target))
    def decompressedPerSplit(dir: String, split: Long): Double = {
      val (c, u) = Sources.footerByteSizes(spark, dir)
      split.toDouble * u / c
    }
    val hiD = decompressedPerSplit(s"$base/hi", hiSplit)
    val loD = decompressedPerSplit(s"$base/lo", loSplit)
    // the invariant the constant 2 MB could not give: both corpora get
    // the same decompressed compute per task, whatever their ratio
    assert(hiD >= target / 2.0 && hiD <= target * 2.0, s"hi: $hiD vs $target")
    assert(loD >= target / 2.0 && loD <= target * 2.0, s"lo: $loD vs $target")
    // and the ratio genuinely differentiates the FILE-byte splits
    // (snappy on encoded pages: the vocab text measures ~2.2x, the hex
    // ~1x — footer "uncompressed" is post-encoding, so ratios are far
    // milder than raw-text intuition; see scanSplitBytes scaladoc)
    assert(hiSplit * 3 < loSplit * 2,
      s"compressible dir must take smaller file-byte splits ($hiSplit vs $loSplit)")
  }

  test("calibrateScanSplit: sets session conf from the dir's footers, clamped; restores cleanly") {
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      val v = Sources.calibrateScanSplit(spark, "/root/testdata/sf0.01")
      assert(v >= 1L * 1024 * 1024 && v <= 128L * 1024 * 1024)
      assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == v.toString)
      // the min rule: documents (text, ~20x) must not be out-voted by
      // lineitem's milder ratio — the chosen value is <= each table's own
      for (t <- Seq("documents", "lineitem")) {
        val own = Sources.scanSplitBytes(spark, s"/root/testdata/sf0.01/$t.parquet")
        assert(v <= own, s"$t: chosen $v > own $own")
      }
      // a dir with none of the calibration tables leaves the conf as-is
      val empty = tempDir("graft-nocal").toString
      val kept = Sources.calibrateScanSplit(spark, empty)
      assert(kept == spark.sessionState.conf.filesMaxPartitionBytes)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
  }

  test("capability sinks: a second dir with a claimed basename fails loudly, a repeat is a no-op") {
    import graft.queries.CoreQueries.CapabilitySinks
    val bn = s"graft-runonce-${java.util.UUID.randomUUID()}"
    def dirWithOrders(): String = {
      val d = tempDir("graft-runonce").resolve(bn).toString
      Seq((1L, "F"), (2L, "O"), (3L, "F")).toDF("o_orderkey", "o_orderstatus")
        .write.parquet(s"$d/orders.parquet")
      d
    }
    val (a, b) = (dirWithOrders(), dirWithOrders())
    try {
      CapabilitySinks.ensurePartitioned(spark, a)
      val written = new java.io.File(CapabilitySinks.partPath(a))
      val stamp = written.lastModified()
      CapabilitySinks.ensurePartitioned(spark, a)
      assert(written.lastModified() == stamp, "a repeat call must not rewrite the layout")
      val e = intercept[IllegalStateException](CapabilitySinks.ensurePartitioned(spark, b))
      assert(e.getMessage.contains("basename collision"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(CapabilitySinks.root, bn))
  }
}
