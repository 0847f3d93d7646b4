package graft

import graft.operators.Subsetter
import graft.sources.Sources
import java.util.Properties
import org.apache.spark.sql.graftshim.ActionPlans

/** Grounds the real-DB parity claim: the upstream tool's entire habitat
  * is a live RDBMS reached over a DB-API connection. Embedded Apache
  * Derby (in the Spark distribution's jars — pure JVM, in-memory) plays
  * that role here: parquet fixtures go INTO Derby over JDBC, the
  * subsetter reads its sources back OVER JDBC, and the subset is written
  * and re-read over JDBC before the RI postcondition is checked. */
class JdbcRoundTripSpec extends SparkSpecBase {

  private val url = "jdbc:derby:memory:graftdb;create=true"
  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private val graph = FkGraph(
    pks = Map("region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
      "customer" -> Seq("c_custkey")),
    fks = Seq(
      Fk("nation", Seq("n_regionkey"), "region", Seq("r_regionkey")),
      Fk("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey"))))

  bothGateSides("JDBC round-trip: parquet -> Derby -> subset over JDBC -> Derby -> RI") {
    val src = "/root/testdata/sf0.001"
    val tables = Seq("region", "nation", "customer")

    // load the DB like a reference user's source database
    tables.foreach { t =>
      Sources.writeJdbc(spark.read.parquet(s"$src/$t.parquet"), url, t, props)
    }

    // sources read over JDBC, not parquet
    val jdbcTables = tables.map(t => t -> Sources.readJdbc(spark, url, t, props)).toMap
    assert(jdbcTables("region").count() == 5L)
    assert(jdbcTables("nation").count() == 25L)
    assert(jdbcTables("customer").count() == 150L)

    // children = 0 isolates sampling+closure+top-up so the leaf count
    // is exact (the bounded child pull legitimately adds rows past it)
    val out = Subsetter.subset(jdbcTables, graph,
      Subsetter.Config(fraction = 0.4, children = 0))

    // subset written back over JDBC (the reference writes into a dest DB)
    out.foreach { case (t, df) => Sources.writeJdbc(df, url, s"sub_$t", props) }
    val reloaded = tables.map(t =>
      t -> Sources.readJdbc(spark, url, s"sub_$t", props)).toMap

    // targets met exactly on the sampled leaves; RI holds on the copy
    assert(reloaded("customer").count() == 60L) // ceil(150*0.4)
    assert(reloaded("nation").count() >= 10L)   // target; closure may add
    assert(reloaded("region").count() >= 2L)
    val orphans = Subsetter.validateRI(reloaded, graph)
      .select("orphans").collect().map(_.getLong(0))
    assert(orphans.forall(_ == 0L))
  }

  // real DDL with enforced PK/FK constraints — the catalog facts the
  // reference reflects with SQLAlchemy and we reflect with
  // java.sql.DatabaseMetaData
  private val ddl = Seq(
    """CREATE TABLE region (
      |  r_regionkey INT NOT NULL PRIMARY KEY,
      |  r_name VARCHAR(64))""".stripMargin,
    """CREATE TABLE nation (
      |  n_nationkey INT NOT NULL PRIMARY KEY,
      |  n_name VARCHAR(64),
      |  n_regionkey INT REFERENCES region (r_regionkey))""".stripMargin,
    """CREATE TABLE customer (
      |  c_custkey BIGINT NOT NULL PRIMARY KEY,
      |  c_name VARCHAR(64),
      |  c_nationkey INT REFERENCES nation (n_nationkey),
      |  c_acctbal DOUBLE,
      |  c_mktsegment VARCHAR(32))""".stripMargin)

  // each run of a case below creates its schema in fresh databases
  private val dbRuns = new java.util.concurrent.atomic.AtomicInteger()

  /** Fresh in-memory source and destination URLs; the source holds the
    * sf0.001 region, nation and customer rows under [[ddl]], the
    * destination the same empty schema when `destDdl`, else nothing. */
  private def liveDbs(destDdl: Boolean): (String, String) = {
    val run = dbRuns.incrementAndGet()
    val srcUrl = s"jdbc:derby:memory:graftsrc$run;create=true"
    val dstUrl = s"jdbc:derby:memory:graftdst$run;create=true"
    for (url <- if (destDdl) Seq(srcUrl, dstUrl) else Seq(srcUrl)) {
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        ddl.foreach(st.executeUpdate)
      } finally conn.close()
    }
    // populate the SOURCE db only, parents first (the FKs are enforced)
    val src = "/root/testdata/sf0.001"
    Seq("region", "nation", "customer").foreach { t =>
      Sources.appendJdbc(spark.read.parquet(s"$src/$t.parquet"), srcUrl, t, props)
    }
    (srcUrl, dstUrl)
  }

  bothGateSides("catalog reflection: subset a live Derby DB end-to-end with ZERO declared edges") {
    val (srcUrl, dstUrl) = liveDbs(destDdl = true)

    // reflection discovers the whole graph from the catalog
    val graph = FkGraph.reflect(srcUrl)
    assert(graph.pks == Map("region" -> Seq("r_regionkey"),
      "nation" -> Seq("n_nationkey"), "customer" -> Seq("c_custkey")))
    assert(graph.fks.toSet == Set(
      Fk("nation", Seq("n_regionkey"), "region", Seq("r_regionkey")),
      Fk("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey"))))
    assert(graph.insertionOrder == Seq("region", "nation", "customer"))

    // CLI path end-to-end: JDBC src -> JDBC dest, zero declared edges;
    // the dest schema pre-exists empty (the upstream contract) and its
    // enforced FKs accept the inserts because they land parents-first
    val args = SubsetCli.CliArgs(srcUrl, dstUrl,
      Subsetter.Config(fraction = 0.4, children = 0), yes = true)
    assert(SubsetCli.plan(spark, args).map(_._1) ==
      Seq("customer", "nation", "region"))
    val written = SubsetCli.run(spark, args)
    assert(written("customer") == 60L) // ceil(150*0.4), exact on the leaf
    assert(written("nation") >= 10L && written("region") >= 2L)
    // the audit's driver side, or [distributed] its key-column snapshot
    val orphans = SubsetCli
      .validateDest(spark, dstUrl, written.keySet, SubsetCli.sourceGraph(args))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(orphans.map(_._1) ==
      Seq("customer->nation(c_nationkey)", "nation->region(n_regionkey)") &&
      orphans.forall(_._2 == 0L), orphans)
  }

  test("a driver-side run reads each source table once: the rows written are the rows read") {
    val (srcUrl, dstUrl) = liveDbs(destDdl = true)
    val args = SubsetCli.CliArgs(srcUrl, dstUrl,
      Subsetter.Config(fraction = 0.4, children = 1), yes = true)
    // the executed plan of every action the run starts (a write command
    // prints its input's plan), AQE's initial plan dropped
    val plans = ActionPlans.of(spark) { SubsetCli.run(spark, args); () }
      .map(_.split("== Initial Plan ==").head)
    val scans = Seq("region", "nation", "customer").map { t =>
      t -> plans.map(_.split(java.util.regex.Pattern.quote(s"JDBCRelation($t)"), -1)
        .length - 1).sum
    }.toMap
    assert(scans.values.forall(_ == 1), scans)
  }

  test("a source row re-pointed after the subset is computed cannot orphan the written copy") {
    val (srcUrl, dstUrl) = liveDbs(destDdl = false)
    val graph = FkGraph.reflect(srcUrl)
    val src = graph.tables.map { t =>
      val df = Sources.readJdbc(spark, srcUrl, t, props)
      t -> df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
    }.toMap
    val counts = src.map { case (t, df) => t -> df.count() }
    // children = 0: a few customers close over a handful of nations
    val out = Subsetter.subset(src, graph,
      Subsetter.Config(fraction = 0.05, children = 0), counts)
    val kept = out("nation").select("n_nationkey").collect().map(_.getInt(0)).toSet
    val outside = (0 until 25).find(n => !kept(n)).get
    val cust = out("customer").select("c_custkey").head().getLong(0)
    // a concurrent writer re-points a kept customer at a nation the
    // subset does not hold, between the subset and its write
    val conn = java.sql.DriverManager.getConnection(srcUrl)
    try assert(conn.createStatement().executeUpdate(
      s"UPDATE customer SET c_nationkey = $outside WHERE c_custkey = $cust") == 1)
    finally conn.close()
    graph.insertionOrder.filter(out.contains)
      .foreach(t => Sources.writeJdbc(out(t), dstUrl, t, props))
    val orphans = SubsetCli.validateDest(spark, dstUrl, out.keySet, graph)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(orphans.nonEmpty && orphans.forall(_._2 == 0L), orphans)
  }

  test("reflection groups composite FK columns by KEY_SEQ runs") {
    val url = "jdbc:derby:memory:graftcomp;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        """CREATE TABLE par (a INT NOT NULL, b INT NOT NULL, v VARCHAR(8),
          |  PRIMARY KEY (a, b))""".stripMargin)
      st.executeUpdate(
        """CREATE TABLE chi (id INT NOT NULL PRIMARY KEY, a INT, b INT,
          |  FOREIGN KEY (a, b) REFERENCES par (a, b))""".stripMargin)
      val g = FkGraph.reflect(conn, null)
      assert(g.pks("par") == Seq("a", "b"))
      assert(g.fks == Seq(Fk("chi", Seq("a", "b"), "par", Seq("a", "b"))))
    } finally conn.close()
  }
}
