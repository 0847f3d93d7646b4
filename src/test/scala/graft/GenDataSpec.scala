package graft

import org.apache.spark.sql.functions._

/** Pins the two properties the sf1 scale rung rests on (VERDICT r10
  * item 1): the generator's output is SCHEMA-IDENTICAL to the driver's
  * testdata (so every query/oracle runs unchanged at a generated rung)
  * and fully DETERMINISTIC (two generations produce identical rows —
  * every column is a pure function of the row id, independent of
  * partitioning), at the smallest rung so the spec stays fast. */
class GenDataSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val genDir = {
    val d = tempDir("graft-gendata").toString
    GenData.generate(spark, 0.001, d)
    d
  }

  test("generated tables are schema-identical to the driver's testdata") {
    for (t <- Catalog.tableNames) {
      val gen = spark.read.parquet(s"$genDir/$t.parquet").schema
      val ref = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").schema
      assert(gen == ref, s"$t: generated $gen != driver $ref")
    }
  }

  test("row counts scale like the driver's (exact dims, ~ratio facts)") {
    def n(t: String) = spark.read.parquet(s"$genDir/$t.parquet").count()
    assert(n("region") == 5L && n("nation") == 25L)
    assert(n("customer") == 150L && n("supplier") == 10L && n("part") == 200L)
    assert(n("orders") == 1500L && n("events") == 1000L)
    // embeddings floor (driver has 500 even at sf0.001-adjacent rungs)
    assert(n("embeddings") == 500L)
    // lineitem ≈ 4.07 lines/order like the driver data (±15%)
    val l = n("lineitem").toDouble / 1500.0
    assert(l > 3.4 && l < 4.7, s"lines/order $l")
  }

  test("generation is deterministic: a second run produces identical rows") {
    val d2 = tempDir("graft-gendata2").toString
    GenData.generate(spark, 0.001, d2)
    for (t <- Seq("lineitem", "documents", "embeddings", "events")) {
      val a = spark.read.parquet(s"$genDir/$t.parquet")
      val b = spark.read.parquet(s"$d2/$t.parquet")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t: generated content differs between runs")
    }
  }

  test("docs-planted: Jaccard pair graph is EXACTLY the planted edge set") {
    // The sparse-components rung stands on this identity: with a
    // 4,194,304-word vocabulary no accidental J >= 0.5 pair exists, so
    // |E| == n/dupEvery and every edge is (base, base + n) — which is
    // what lets the probe attribute cost to |E| instead of geometry.
    val n = 2000L; val dupEvery = 50L
    val d = GenData.documentsPlanted(spark, n, dupEvery).localCheckpoint(true)
    assert(d.count() == n + n / dupEvery)
    // name+type identity (nullability differs between an in-memory
    // relation and a parquet round-trip; writeTable flattens it anyway)
    val ref = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").schema
    assert(d.schema.map(f => (f.name, f.dataType)) == ref.map(f => (f.name, f.dataType)))
    val pairs = graft.functions.SimilarityFunctions.jaccardPairs(d, 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val want = (0L until n by dupEvery).map(i => (i, i + n)).toSet
    assert(pairs == want,
      s"pair graph must be exactly the ${n / dupEvery} planted edges; got ${pairs.size}")
    // and components over it: every planted pair collapses to the base
    // id, everything else is a singleton
    val cc = graft.operators.ConnectedComponents.components(
        d.select(col("doc_id").as("id")),
        graft.functions.SimilarityFunctions.jaccardPairs(d, 0.5)
          .select(col("ida").as("src"), col("idb").as("dst")))
      .as[(Long, Long)].collect().toMap
    assert(cc.size == n + n / dupEvery)
    for (i <- 0L until n by dupEvery) assert(cc(i + n) == i && cc(i) == i)
    assert(cc(1L) == 1L)
  }

  test("FK-validity: every generated foreign key resolves") {
    def tbl(t: String) = spark.read.parquet(s"$genDir/$t.parquet")
    val orphans = Seq(
      tbl("lineitem").join(tbl("orders"),
        col("l_orderkey") === col("o_orderkey"), "left_anti"),
      tbl("orders").join(tbl("customer"),
        col("o_custkey") === col("c_custkey"), "left_anti"),
      tbl("customer").join(tbl("nation"),
        col("c_nationkey") === col("n_nationkey"), "left_anti"),
      tbl("nation").join(tbl("region"),
        col("n_regionkey") === col("r_regionkey"), "left_anti"))
    orphans.zip(Seq("lineitem→orders", "orders→customer",
      "customer→nation", "nation→region")).foreach { case (df, edge) =>
      assert(df.isEmpty, s"orphaned FK rows on $edge")
    }
  }
}
