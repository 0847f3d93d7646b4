package graft.queries

import graft.{Catalog, FkGraph}
import graft.operators.Subsetter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Subsetter-derived queries — SURVEY.md §2a: the reference's own
  * operator surface re-expressed set-at-a-time on Spark. Each query key
  * maps 1:1 to a §2a row. */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  // --- §2a row 2: exact row counts ------------------------------------
  def countExact(s: SparkSession, dir: String): DataFrame =
    Catalog.tableNames.map { n =>
      t(s, dir, n).agg(count(lit(1)).as("cnt")).select(lit(n).as("table_name"), col("cnt"))
    }.reduce(_ union _).orderBy("table_name")

  val countExactSql: String =
    Catalog.tableNames.map(n => s"SELECT '$n' AS table_name, count(*) AS cnt FROM $n")
      .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  // --- §2a row 4: target-size computation (Db.assign_target) ----------
  // linear ceil(n*f), logarithmic ceil(10^(log10 n * f)), both min-1.
  def targetSizes(s: SparkSession, dir: String): DataFrame = {
    val f = 0.1
    countExact(s, dir)
      .withColumn("t_linear",
        greatest(lit(1L), ceil(col("cnt").cast("double") * lit(f))))
      .withColumn("t_log",
        greatest(lit(1L), ceil(pow(lit(10.0), log10(col("cnt").cast("double")) * lit(f)))))
      .withColumn("t_full", col("cnt"))
      .orderBy("table_name")
  }

  val targetSizesSql: String =
    s"""SELECT table_name, cnt,
       |  GREATEST(1, CAST(CEIL(CAST(cnt AS DOUBLE) * 0.1) AS BIGINT)) AS t_linear,
       |  GREATEST(1, CAST(CEIL(POW(10.0, LOG10(CAST(cnt AS DOUBLE)) * 0.1)) AS BIGINT)) AS t_log,
       |  cnt AS t_full
       |FROM ($countExactSql)
       |ORDER BY table_name""".stripMargin

  // --- §2a row 5: deterministic sampling (oracle-safe modulus) --------
  def sampleOrders(s: SparkSession, dir: String): DataFrame =
    Subsetter.modSample(t(s, dir, "orders"), "o_orderkey", 20)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")

  val sampleOrdersSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey""".stripMargin

  // --- stratified sampling: exact k per stratum -----------------------
  /** Exactly 5 orders per priority stratum, picked in a deterministic
    * pseudo-random order — Weyl-multiplier BIGINT arithmetic, not an
    * engine hash, so the oracle reproduces the pick bitwise. The window
    * is one shuffle on the stratum key; at 100 TB this is the textbook
    * distributed stratified sampler (per-stratum heap, no global sort).
    * Training-data pipelines use this shape to balance classes. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(pmod(col("o_orderkey") * lit(2654435761L), lit(1000003L)),
        col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        col("rn"))
      .orderBy("o_orderpriority", "rn")
  }

  val sampleStratifiedSql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
      |FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY (o_orderkey * 2654435761) % 1000003, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 5
      |ORDER BY o_orderpriority, rn""".stripMargin

  // --- weighted sampling: PPS systematic, exact arithmetic ------------
  /** Probability-proportional-to-size systematic sample of k=50 orders
    * weighted by o_totalprice: a row is picked iff its weight interval
    * [cum-w, cum) on the cumulative-cents axis crosses a multiple of
    * total/k. All arithmetic is BIGINT cents (the fp-free form of the
    * classic PPS selector: floor(cum*k/total) increments), so both
    * engines agree bitwise. The running total comes from
    * PrefixSum.runningSum — range-sharded partial sums, NOT a
    * single-partition window — so the plan holds at 100 TB where a
    * global `ORDER BY` window funnels everything through one task.
    * Training-data pipelines use this shape for size-weighted corpus
    * sampling. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val k = 50
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("cents", (Det.dec2(col("o_totalprice")) * lit(100)).cast("long"))
    val withCum = graft.operators.PrefixSum.runningSum(o, "o_orderkey", "cents")
    val total = o.agg(sum(col("cents")).as("__total"))
    withCum.crossJoin(broadcast(total))
      .withColumn("pick_no", expr(s"(cum * $k) div __total"))
      .filter(expr(s"(cum * $k) div __total > ((cum - cents) * $k) div __total"))
      .select(col("o_orderkey"), col("o_totalprice"), col("pick_no"))
      .orderBy("o_orderkey")
  }

  val sampleWeightedSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |mx AS (SELECT max(o_orderkey) AS mx FROM o),
      |sh AS (SELECT o.*, LEAST((o_orderkey * 32) // (mx + 1), 31) AS shard FROM o, mx),
      |part AS (
      |  SELECT *, CAST(SUM(cents) OVER (PARTITION BY shard ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS part
      |  FROM sh),
      |off AS (
      |  SELECT shard, CAST(COALESCE(SUM(stot) OVER (ORDER BY shard
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM (SELECT shard, CAST(SUM(cents) AS BIGINT) AS stot FROM sh GROUP BY shard)),
      |c AS (
      |  SELECT part.o_orderkey, part.o_totalprice, part.cents, part.part + off.off AS cum
      |  FROM part JOIN off USING (shard)),
      |tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM o)
      |SELECT o_orderkey, o_totalprice, CAST((cum * 50) // total AS BIGINT) AS pick_no
      |FROM c, tot
      |WHERE (cum * 50) // total > ((cum - cents) * 50) // total
      |ORDER BY o_orderkey""".stripMargin

  // --- MERGE / upsert: the set-at-a-time generalization of rows 8-9 ---
  /** MERGE INTO semantics as one full-outer shuffle join (the core of
    * every lakehouse upsert): matched rows take the source's values,
    * source-only rows are inserts, target-only rows are kept. Source
    * updates are decimal-exact ((12,2)x(4,2) stays inside exact range)
    * so the whole merge is oracle-checked. At scale this is one
    * key-partitioned join — broadcastable when the changeset is small,
    * AQE-skew-safe otherwise. */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val target = o.filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey").as("t_key"), col("o_totalprice").as("t_price"),
        col("o_orderpriority").as("t_prio"))
    val source = o.filter(col("o_orderkey") % 30 === 0)
      .select(col("o_orderkey").as("s_key"),
        (Det.dec2(col("o_totalprice")) * Det.rate2(lit(1.10))).cast("double").as("s_price"),
        concat(lit("M-"), col("o_orderpriority")).as("s_prio"))
    target.join(source, col("t_key") === col("s_key"), "full_outer")
      .select(
        coalesce(col("t_key"), col("s_key")).as("o_orderkey"),
        when(col("t_key").isNotNull && col("s_key").isNotNull, lit("updated"))
          .when(col("t_key").isNull, lit("inserted"))
          .otherwise(lit("kept")).as("merge_action"),
        coalesce(col("s_price"), col("t_price")).as("o_totalprice"),
        coalesce(col("s_prio"), col("t_prio")).as("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  val mergeUpsertSql: String =
    """WITH target AS (
      |  SELECT o_orderkey AS t_key, o_totalprice AS t_price, o_orderpriority AS t_prio
      |  FROM orders WHERE o_orderkey % 20 = 0),
      |source AS (
      |  SELECT o_orderkey AS s_key,
      |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.10 AS DECIMAL(4,2)) AS DOUBLE) AS s_price,
      |    'M-' || o_orderpriority AS s_prio
      |  FROM orders WHERE o_orderkey % 30 = 0)
      |SELECT COALESCE(t_key, s_key) AS o_orderkey,
      |  CASE WHEN t_key IS NOT NULL AND s_key IS NOT NULL THEN 'updated'
      |       WHEN t_key IS NULL THEN 'inserted' ELSE 'kept' END AS merge_action,
      |  COALESCE(s_price, t_price) AS o_totalprice,
      |  COALESCE(s_prio, t_prio) AS o_orderpriority
      |FROM target FULL OUTER JOIN source ON t_key = s_key
      |ORDER BY o_orderkey""".stripMargin

  // --- §2a row 6: conjunctive filters, pushed to the scan -------------
  def filterPushdown(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_returnflag") === "A")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_shipdate").cast("date").as("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")

  val filterPushdownSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_returnflag = 'A'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // --- §2a row 7: point lookup by PK ----------------------------------
  // The key is discovered declaratively (broadcast single-row min join)
  // — no driver-side collect.
  def pointLookup(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val mk = o.agg(min(col("o_orderkey")).as("__mk"))
    o.join(broadcast(mk), col("o_orderkey") === col("__mk")).drop("__mk")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  val pointLookupSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  // --- §2a rows 8–9: existence / insert-dedup as semi & anti joins ----
  def semijoinExists(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .orderBy("c_custkey")

  val semijoinExistsSql: String =
    """SELECT c.* FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderkey % 4 = 0)
      |ORDER BY c_custkey""".stripMargin

  def antijoinMissing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_orderkey") % 4 === 0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .orderBy("c_custkey")

  val antijoinMissingSql: String =
    """SELECT c.* FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderkey % 4 = 0)
      |ORDER BY c_custkey""".stripMargin

  // --- §2a row 10: FK parent closure (the heart) ----------------------
  // Runs the generic fixpoint engine from a lineitem seed and reports
  // the per-ancestor-table key counts; the oracle reproduces the same
  // closure as explicit joins over the star schema.
  def fkClosureParents(s: SparkSession, dir: String): DataFrame = {
    val tables = Catalog.load(s, dir)
    val seed = Subsetter.modSample(tables("lineitem"), "l_orderkey", 100)
    // materialize=false: the single union-agg count job below computes
    // (and persists) every key set itself — no separate barrier needed.
    val keys = Subsetter.parentClosure(tables, FkGraph.default,
      Map("lineitem" -> seed), materialize = false)
    val ancestors = Seq("customer", "nation", "orders", "part", "region", "supplier")
    ancestors.map { tn =>
      keys(tn).agg(count(lit(1)).as("key_count"))
        .select(lit(tn).as("table_name"), col("key_count"))
    }.reduce(_ union _).orderBy("table_name")
  }

  val fkClosureParentsSql: String =
    """WITH seed AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0),
      |ok AS (SELECT DISTINCT l_orderkey AS k FROM seed),
      |pk AS (SELECT DISTINCT l_partkey AS k FROM seed),
      |sk AS (SELECT DISTINCT l_suppkey AS k FROM seed),
      |ck AS (SELECT DISTINCT o_custkey AS k FROM orders JOIN ok ON o_orderkey = ok.k),
      |nk AS (SELECT DISTINCT c_nationkey AS k FROM customer JOIN ck ON c_custkey = ck.k
      |       UNION
      |       SELECT DISTINCT s_nationkey AS k FROM supplier JOIN sk ON s_suppkey = sk.k),
      |rk AS (SELECT DISTINCT n_regionkey AS k FROM nation JOIN nk ON n_nationkey = nk.k)
      |SELECT 'customer' AS table_name, count(*) AS key_count FROM ck
      |UNION ALL SELECT 'nation', count(*) FROM nk
      |UNION ALL SELECT 'orders', count(*) FROM ok
      |UNION ALL SELECT 'part', count(*) FROM pk
      |UNION ALL SELECT 'region', count(*) FROM rk
      |UNION ALL SELECT 'supplier', count(*) FROM sk
      |ORDER BY table_name""".stripMargin

  // --- §2a row 11: bounded child pull ---------------------------------
  // The window tiebreaker chain covers every projected column: the
  // testdata's (l_orderkey, l_linenumber) is NOT unique, so any shorter
  // ordering would let the two engines pick different tied rows.
  def childrenPerParentTopk(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val parents = Subsetter.modSample(t(s, dir, "orders"), "o_orderkey", 100)
      .select("o_orderkey")
    val fk = FkGraph.default.fks.find(f =>
      f.childTable == "lineitem" && f.parentTable == "orders").get
    Subsetter.childTopK(li,
        Seq("l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"),
        fk, parents, 3)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
  }

  val childrenPerParentTopkSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
      |FROM (SELECT l.*, row_number() OVER (PARTITION BY l_orderkey
      |        ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
      |      FROM lineitem l WHERE l_orderkey % 100 = 0)
      |WHERE rn <= 3
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""".stripMargin

  // --- §2a row 13: forced seed rows (--force) -------------------------
  def forcedRows(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    c.filter(col("c_custkey").isin(1L, 42L, 99L))
      .union(Subsetter.modSample(c, "c_custkey", 200))
      .distinct()
      .orderBy("c_custkey")
  }

  val forcedRowsSql: String =
    """SELECT DISTINCT * FROM customer
      |WHERE c_custkey IN (1, 42, 99) OR c_custkey % 200 = 0
      |ORDER BY c_custkey""".stripMargin

  // --- §2a row 16: referential-integrity guarantee --------------------
  def riValidate(s: SparkSession, dir: String): DataFrame =
    Subsetter.validateRI(Catalog.load(s, dir), FkGraph.default)

  val riValidateSql: String = FkGraph.default.fks.map { fk =>
    val conds = fk.childCols.zip(fk.parentCols)
      .map { case (c, p) => s"p.$p = c.$c" }.mkString(" AND ")
    val notNull = fk.childCols.map(c => s"c.$c IS NOT NULL").mkString(" AND ")
    s"""SELECT '${fk.name}' AS edge, count(*) AS orphans
       |FROM ${fk.childTable} c
       |WHERE $notNull AND NOT EXISTS (SELECT 1 FROM ${fk.parentTable} p WHERE $conds)""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY edge")

  // --- §2a row 17: config-declared pseudo-FK --------------------------
  // Closure/joins across an edge only the config knows about:
  // events.user_id -> customer -> nation.
  def configPseudoFk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .join(t(s, dir, "customer"), col("user_id") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("events_cnt"), Det.moneySum(col("value")).as("sum_value"))
      .orderBy("n_name")

  val configPseudoFkSql: String = {
    import Det.sql._
    s"""SELECT n_name, count(*) AS events_cnt, ${moneySum("value")} AS sum_value
       |FROM events
       |JOIN customer ON user_id = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin
  }

  // --- §2a row 18: multi-schema union ---------------------------------
  def multiSchemaUnion(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    c.select(lit("a").as("schema_name"), col("c_custkey"), col("c_name"), col("c_nationkey"))
      .union(c.select(lit("b"), col("c_custkey"), col("c_name"), col("c_nationkey")))
      .orderBy("schema_name", "c_custkey")
  }

  val multiSchemaUnionSql: String =
    """SELECT 'a' AS schema_name, c_custkey, c_name, c_nationkey FROM customer
      |UNION ALL
      |SELECT 'b', c_custkey, c_name, c_nationkey FROM customer
      |ORDER BY schema_name, c_custkey""".stripMargin

  private def sfDirName(dir: String): String = new java.io.File(dir).getName

  /** Once-per-JVM writers of session layouts (the subset dumps and the
    * capability sinks): each (step, dir) runs once. The layouts are
    * keyed by the dir's BASENAME (the oracle SQL pins static paths), so
    * a second dir sharing a basename already claimed in this namespace
    * would silently clobber and cross-read the first one's files — it
    * fails loudly instead. */
  private final class RunOnce(what: String) {
    private val done = scala.collection.mutable.Set[(String, String)]()
    private val byBasename = scala.collection.mutable.Map[String, String]()
    def apply(step: String, dir: String)(write: => Unit): Unit = synchronized {
      if (!done((step, dir))) {
        val bn = sfDirName(dir)
        byBasename.get(bn).filter(_ != dir).foreach(prev =>
          throw new IllegalStateException(s"$what basename collision: '$bn' " +
            s"already written from $prev, refusing to overwrite with $dir"))
        byBasename(bn) = dir
        write
        done += ((step, dir))
      }
    }
  }

  /** `target/<name>` under the working directory, absolute: where the
    * once-per-session dumps and sinks below are written, and where the
    * oracle SQL built from the same value reads them. */
  private def runDir(name: String): String =
    new java.io.File("target", name).getAbsolutePath

  // --- §3b: end-to-end subsetter postcondition, ORACLE-checked --------
  // The flagship pipeline's output dumped to parquet once per session,
  // then audited from BOTH engines over the same files: DuckDB
  // recomputes the orphan counts and completeness targets itself, so
  // the reference's two guarantees (zero orphaned FKs; every table at
  // target when the source suffices) are driver-verified artifacts,
  // not just scalatest assertions.
  private object SubsetDump {
    val root: String = runDir("subset_oracle")
    val fraction = 0.1
    // The dump is SF-scoped (…/subset_oracle/sf0.01/<table>) so a Bench
    // run at another SF between Verify and the driver's DuckDB compare
    // cannot overwrite the files the (static) oracle SQL reads. The
    // oracle pins the driver's correctness SF, sf0.01.
    val oracleSf = "sf0.01"
    private val once = new RunOnce("subset dump")
    def ensure(s: SparkSession, dir: String): Unit = once("dump", dir) {
      val counts = Catalog.tableNames.map(t =>
        t -> graft.sources.Sources.footerRowCount(s, s"$dir/$t.parquet")).toMap
      val out = Subsetter.subset(Catalog.load(s, dir), FkGraph.default,
        Subsetter.Config(fraction = fraction, force = Map("customer" -> Seq(1L, 42L))),
        rowCounts = counts)
      out.toSeq.sortBy(_._1).foreach { case (t, df) =>
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$root/${sfDirName(dir)}/$t")
      }
    }
    def table(s: SparkSession, dir: String, t: String): DataFrame =
      s.read.parquet(s"$root/${sfDirName(dir)}/$t")
    def glob(t: String): String = s"$root/$oracleSf/$t/*.parquet"
  }

  /** Per-FK-edge orphan counts over the DUMPED subset — all zero iff
    * the subsetter kept referential integrity (§2a row 16 applied to
    * the pipeline's own output). The oracle recomputes each edge's
    * orphans in DuckDB from the same parquet files. */
  def subsetOrphans(s: SparkSession, dir: String): DataFrame = {
    SubsetDump.ensure(s, dir)
    val tables = Catalog.tableNames.map(t => t -> SubsetDump.table(s, dir, t)).toMap
    Subsetter.validateRI(tables, FkGraph.default)
  }

  val subsetOrphansSql: String = FkGraph.default.fks.map { fk =>
    val conds = fk.childCols.zip(fk.parentCols)
      .map { case (c, p) => s"p.$p = c.$c" }.mkString(" AND ")
    val notNull = fk.childCols.map(c => s"c.$c IS NOT NULL").mkString(" AND ")
    s"""SELECT '${fk.name}' AS edge, count(*) AS orphans
       |FROM read_parquet('${SubsetDump.glob(fk.childTable)}') c
       |WHERE $notNull AND NOT EXISTS (
       |  SELECT 1 FROM read_parquet('${SubsetDump.glob(fk.parentTable)}') p WHERE $conds)""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY edge")

  /** Per-table (rows, target, meets_target) over the dumped subset —
    * the reference's completeness guarantee as data. The oracle gets
    * `subset_rows` from the dump and recomputes `target` from the BASE
    * tables with the same min-1/cap-n ceil formula, so a subsetter that
    * under-fills any table (or a target formula drift) fails the
    * driver's hash compare. Parent tables may legitimately exceed
    * target (closure demands are never trimmed), hence >=. */
  def subsetCounts(s: SparkSession, dir: String): DataFrame = {
    SubsetDump.ensure(s, dir)
    Catalog.tableNames.sorted.map { t =>
      val n = graft.sources.Sources.footerRowCount(s, s"$dir/$t.parquet")
      val target = Subsetter.targetSize(n, SubsetDump.fraction)
      SubsetDump.table(s, dir, t).agg(count(lit(1)).as("subset_rows"))
        .select(lit(t).as("table_name"), col("subset_rows"),
          lit(target).as("target"),
          (col("subset_rows") >= lit(target)).as("meets_target"))
    }.reduce(_ union _).orderBy("table_name")
  }

  val subsetCountsSql: String = {
    val branches = Catalog.tableNames.sorted.map { t =>
      s"""SELECT '$t' AS table_name,
         |  (SELECT count(*) FROM read_parquet('${SubsetDump.glob(t)}')) AS subset_rows,
         |  (SELECT CASE WHEN count(*) <= 0 THEN 0
         |     ELSE GREATEST(1, LEAST(count(*),
         |       CAST(CEIL(CAST(count(*) AS DOUBLE) * ${SubsetDump.fraction}) AS BIGINT)))
         |   END FROM $t) AS target""".stripMargin
    }.mkString("", "\nUNION ALL\n", "")
    s"""SELECT table_name, subset_rows, target, subset_rows >= target AS meets_target
       |FROM ($branches)
       |ORDER BY table_name""".stripMargin
  }

  // --- §3b: the whole pipeline (non-oracle; rows-only check) ----------
  // Full subset at fraction 0.1 with forced rows and child pull; the
  // RI property is scalatest-verified, the oracle-expressible pieces
  // are covered by the queries above. The pipeline output is SubsetDump's
  // materialization — the session runs the subsetter once and every
  // audit query (this one, subset_orphans, subset_counts) reads the same
  // dumped parquet instead of re-running the closure (round-5 cost
  // finding: three audits each rebuilding the same subset).
  def subsetStar(s: SparkSession, dir: String): DataFrame = {
    SubsetDump.ensure(s, dir)
    Catalog.tableNames.sorted.map { tn =>
      SubsetDump.table(s, dir, tn).agg(count(lit(1)).as("rows"))
        .select(lit(tn).as("table_name"), col("rows"))
    }.reduce(_ union _).orderBy("table_name")
  }

  // --- subset_delta dumps: dest (f=0.05) + delta (refresh to f=0.1) ---
  // The incremental-refresh twin of SubsetDump: ONE dest subset at
  // f=0.05 is materialized per session, read BACK from parquet (the
  // real second-run habitat — dest arrives as files, exactly like
  // SubsetCli's append mode), and the delta to f=0.1 is computed
  // against it and materialized next to it. All three delta audits
  // (subset_delta, subset_delta_orphans, subset_delta_counts) and the
  // DuckDB oracle read these same files — the round-5 fix for the
  // audit rebuilding a fresh f=0.05 pipeline inside every query call.
  private object DeltaDump {
    val root: String = runDir("subset_delta_oracle")
    val destFraction = 0.05
    val fraction = 0.1
    // SF-scoped like SubsetDump: the oracle SQL pins the driver's
    // correctness SF so a Bench run at another SF can't overwrite the
    // files the (static) SQL reads.
    val oracleSf = "sf0.01"
    private val once = new RunOnce("delta dump")
    def ensure(s: SparkSession, dir: String): Unit = once("dump", dir) {
      val sf = sfDirName(dir)
      val counts = Catalog.tableNames.map(t =>
        t -> graft.sources.Sources.footerRowCount(s, s"$dir/$t.parquet")).toMap
      val tables = Catalog.load(s, dir)
      val dest = Subsetter.subset(tables, FkGraph.default,
        Subsetter.Config(fraction = destFraction), rowCounts = counts)
      dest.toSeq.sortBy(_._1).foreach { case (t, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$root/$sf/dest/$t")
      }
      // dest re-read from its files: the delta's anti-joins run against
      // the materialized parquet, never the live pipeline lineage
      val destRead = Catalog.tableNames.map(t =>
        t -> s.read.parquet(s"$root/$sf/dest/$t")).toMap
      val delta = Subsetter.subsetDelta(tables, FkGraph.default,
        Subsetter.Config(fraction = fraction), destRead, rowCounts = counts)
      delta.toSeq.sortBy(_._1).foreach { case (t, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$root/$sf/delta/$t")
      }
    }
    def dest(s: SparkSession, dir: String, t: String): DataFrame =
      s.read.parquet(s"$root/${sfDirName(dir)}/dest/$t")
    def delta(s: SparkSession, dir: String, t: String): DataFrame =
      s.read.parquet(s"$root/${sfDirName(dir)}/delta/$t")
    // footer-exact row counts of the dumped halves — a driver metadata
    // read (r17: the audits' per-table count() aggregates were ~40 tiny
    // stages of pure scheduling overhead; the parquet footer carries the
    // same exact number, the way the row-count operator already counts)
    def destRows(s: SparkSession, dir: String, t: String): Long =
      graft.sources.Sources.footerRowCount(s, s"$root/${sfDirName(dir)}/dest/$t")
    def deltaRows(s: SparkSession, dir: String, t: String): Long =
      graft.sources.Sources.footerRowCount(s, s"$root/${sfDirName(dir)}/delta/$t")
    def destGlob(t: String): String = s"$root/$oracleSf/dest/$t/*.parquet"
    def deltaGlob(t: String): String = s"$root/$oracleSf/delta/$t/*.parquet"
  }

  /** Per-FK-edge orphan counts over dest ∪ delta — the reference's RI
    * postcondition applied to the SECOND run's merged output. DuckDB
    * recomputes every edge's orphans from the same dumped files, so a
    * delta that demanded a parent the dest never had (or vice versa)
    * fails the driver's hash compare, not just a scalatest assertion. */
  def subsetDeltaOrphans(s: SparkSession, dir: String): DataFrame = {
    DeltaDump.ensure(s, dir)
    val merged = Catalog.tableNames.map(t =>
      t -> DeltaDump.dest(s, dir, t).unionByName(DeltaDump.delta(s, dir, t))).toMap
    Subsetter.validateRI(merged, FkGraph.default)
  }

  val subsetDeltaOrphansSql: String = FkGraph.default.fks.map { fk =>
    val conds = fk.childCols.zip(fk.parentCols)
      .map { case (c, p) => s"p.$p = c.$c" }.mkString(" AND ")
    val notNull = fk.childCols.map(c => s"c.$c IS NOT NULL").mkString(" AND ")
    s"""SELECT '${fk.name}' AS edge, count(*) AS orphans
       |FROM read_parquet(['${DeltaDump.destGlob(fk.childTable)}',
       |                   '${DeltaDump.deltaGlob(fk.childTable)}']) c
       |WHERE $notNull AND NOT EXISTS (
       |  SELECT 1 FROM read_parquet(['${DeltaDump.destGlob(fk.parentTable)}',
       |                              '${DeltaDump.deltaGlob(fk.parentTable)}']) p
       |  WHERE $conds)""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY edge")

  /** Per-table delta bookkeeping, ORACLE-checked: dest and delta row
    * counts, their PK overlap (MUST be 0 — the delta is the disjoint
    * gap), the merged total, and the f=0.1 target recomputed from the
    * BASE tables — `meets_target` asserts the refresh topped every
    * table up to the second run's target (≥: closure demands are never
    * trimmed). DuckDB recomputes every column from the dumps + base. */
  def subsetDeltaCounts(s: SparkSession, dir: String): DataFrame = {
    DeltaDump.ensure(s, dir)
    // r17: dest/delta row counts come from the dump footers (driver
    // metadata, exact — the values DuckDB recomputes from the same
    // files), so the only per-table JOB is the PK-overlap semi-join;
    // the plan drops from three agg subtrees per table to one.
    Catalog.tableNames.sorted.map { t =>
      val n = graft.sources.Sources.footerRowCount(s, s"$dir/$t.parquet")
      val target = Subsetter.targetSize(n, DeltaDump.fraction)
      val pk = FkGraph.default.pks(t)
      val destN = DeltaDump.destRows(s, dir, t)
      val deltaN = DeltaDump.deltaRows(s, dir, t)
      DeltaDump.delta(s, dir, t).join(DeltaDump.dest(s, dir, t), pk, "left_semi")
        .agg(count(lit(1)).as("overlap_rows"))
        .select(lit(t).as("table_name"), lit(destN).as("dest_rows"),
          lit(deltaN).as("delta_rows"), col("overlap_rows"),
          lit(destN + deltaN).as("total_rows"),
          lit(target).as("target"),
          lit(destN + deltaN >= target).as("meets_target"))
    }.reduce(_ union _).orderBy("table_name")
  }

  val subsetDeltaCountsSql: String = {
    val branches = Catalog.tableNames.sorted.map { t =>
      val pk = FkGraph.default.pks(t)
      val conds = pk.map(c => s"y.$c = x.$c").mkString(" AND ")
      s"""SELECT '$t' AS table_name,
         |  (SELECT count(*) FROM read_parquet('${DeltaDump.destGlob(t)}')) AS dest_rows,
         |  (SELECT count(*) FROM read_parquet('${DeltaDump.deltaGlob(t)}')) AS delta_rows,
         |  (SELECT count(*) FROM read_parquet('${DeltaDump.deltaGlob(t)}') x
         |   WHERE EXISTS (SELECT 1 FROM read_parquet('${DeltaDump.destGlob(t)}') y
         |                 WHERE $conds)) AS overlap_rows,
         |  (SELECT CASE WHEN count(*) <= 0 THEN 0
         |     ELSE GREATEST(1, LEAST(count(*),
         |       CAST(CEIL(CAST(count(*) AS DOUBLE) * ${DeltaDump.fraction}) AS BIGINT)))
         |   END FROM $t) AS target""".stripMargin
    }.mkString("", "\nUNION ALL\n", "")
    s"""SELECT table_name, dest_rows, delta_rows, overlap_rows,
       |  dest_rows + delta_rows AS total_rows, target,
       |  dest_rows + delta_rows >= target AS meets_target
       |FROM ($branches)
       |ORDER BY table_name""".stripMargin
  }

  // --- subset_delta: incremental refresh into a non-empty dest --------
  // The reference's second-run semantics end to end at query scale:
  // subset at f=0.05, refresh to f=0.1, and emit the per-table audit —
  // dest/delta/overlap row counts plus the orphan count of dest UNION
  // delta. SELF-VALIDATING output: overlap_rows and orphans must read 0
  // on every row (asserted in SubsetterSpec; rows-only here — the
  // pipeline itself is not SQL-expressible, but its two postconditions
  // ARE, as subset_delta_orphans / subset_delta_counts below). Both
  // pipelines run ONCE per session via DeltaDump (round-5 cost fix:
  // this audit used to rebuild the f=0.05 dest on every call — 23.7 s
  // quiet-window; reading the dump makes re-runs parquet-scan cheap).
  def subsetDeltaAudit(s: SparkSession, dir: String): DataFrame = {
    DeltaDump.ensure(s, dir)
    val dest = Catalog.tableNames.map(t => t -> DeltaDump.dest(s, dir, t)).toMap
    val delta = Catalog.tableNames.map(t => t -> DeltaDump.delta(s, dir, t)).toMap
    val merged = dest.map { case (t, df) => t -> df.unionByName(delta(t)) }
    val orphanCount = Subsetter.validateRI(merged, FkGraph.default)
      .agg(sum(col("orphans")).as("orphans"))
    // r17: dest/delta counts from the dump footers (subsetDeltaCounts
    // rationale), and the 12-edge RI subtree crossJoins ONCE above the
    // union — the old per-branch crossJoin re-executed the whole
    // validateRI plan for every one of the ten tables (120 joins; this
    // was the most expensive query of the sf0.1 suite at 4.2 s).
    val perTable = dest.toSeq.sortBy(_._1).map { case (tn, d) =>
      delta(tn).join(d, FkGraph.default.pks(tn), "left_semi")
        .agg(count(lit(1)).as("overlap_rows"))
        .select(lit(tn).as("table_name"),
          lit(DeltaDump.destRows(s, dir, tn)).as("dest_rows"),
          lit(DeltaDump.deltaRows(s, dir, tn)).as("delta_rows"),
          col("overlap_rows"))
    }.reduce(_ union _)
    perTable.crossJoin(broadcast(orphanCount))
      .select(col("table_name"), col("dest_rows"), col("delta_rows"),
        col("overlap_rows"), col("orphans"))
      .orderBy("table_name")
  }

  // --- spec-only capabilities surfaced as DECLARED keys (r15 item 4) --
  // Bucketed co-located joins and partitioned-sink pruning were proven
  // only in scalatest (BucketedJoinSpec/SourcesSpec), so the driver
  // ledger never showed the capabilities running. These keys run each
  // one end to end — write the physical layout once per session, read
  // THROUGH it — with the oracle on the ORIGINAL tables: equality
  // proves the layout round-trips the data exactly, and the plan
  // shapes (zero hash Exchange under the bucketing; only the matching
  // partition directory's files scanned) are guarded on the declared
  // keys in PlanQualitySpec.
  private[graft] object CapabilitySinks {
    val root: String = runDir("capability_sinks")
    private val once = new RunOnce("capability sink")
    def partPath(dir: String): String = s"$root/${sfDirName(dir)}/orders_by_status"
    def ensurePartitioned(s: SparkSession, dir: String): Unit = once("partitioned", dir) {
      graft.sources.Sources.writePartitioned(
        Catalog.table(s, dir, "orders"), partPath(dir), Seq("o_orderstatus"))
    }
    def bucketTable(dir: String, tbl: String): String =
      s"graft_b_${tbl}_${sfDirName(dir)}".replaceAll("[^A-Za-z0-9_]", "_")
    // A fresh JVM's in-memory catalog has forgotten the table, but its
    // warehouse directory survives from the previous session — and
    // saveAsTable then refuses with LOCATION_ALREADY_EXISTS (the CREATE
    // path, not an overwrite of a known table). Drop both the catalog
    // entry and any stale location before writing.
    private def resetTable(s: SparkSession, name: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $name")
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, name))
    }
    def ensureBucketed(s: SparkSession, dir: String): Unit = once("bucketed", dir) {
      Seq("orders", "customer").foreach(t => resetTable(s, bucketTable(dir, t)))
      graft.sources.Sources.writeBucketed(Catalog.table(s, dir, "orders"),
        bucketTable(dir, "orders"), 8, Seq("o_custkey"))
      graft.sources.Sources.writeBucketed(Catalog.table(s, dir, "customer"),
        bucketTable(dir, "customer"), 8, Seq("c_custkey"))
    }
    val zorderFiles = 16
    def zorderPath(dir: String): String = s"$root/${sfDirName(dir)}/events_zorder"
    def ensureZOrdered(s: SparkSession, dir: String): Unit = once("zordered", dir) {
      val ev = Catalog.table(s, dir, "events").select(col("event_id"),
        col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("day"))
      graft.sources.Sources.writeZOrdered(ev, zorderPath(dir),
        "user_id", "day", zorderFiles)
    }
  }

  /** Co-located join through same-key bucketed tables: per-customer
    * order rollup where BOTH scans are bucketed on the join/group key,
    * so neither the join nor the aggregation shuffles (the ingest-once
    * layout a 100 TB deployment keys its fact tables on). The oracle
    * runs the identical rollup on the original tables. */
  def joinBucketedColocated(s: SparkSession, dir: String): DataFrame = {
    CapabilitySinks.ensureBucketed(s, dir)
    val c = s.table(CapabilitySinks.bucketTable(dir, "customer"))
    val o = s.table(CapabilitySinks.bucketTable(dir, "orders"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"),
        Det.moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("c_custkey")
  }

  val joinBucketedColocatedSql: String =
    s"""SELECT c_custkey, count(*) AS n_orders,
       |  ${Det.sql.moneySum("o_totalprice")} AS sum_price
       |FROM customer JOIN orders ON o_custkey = c_custkey
       |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Partition-pruned scan through a partitioned sink: orders laid out
    * by o_orderstatus, read back with a partition-column filter — the
    * scan touches ONLY the matching directory's files (plan-guarded).
    * The oracle is the same filtered scan of the original table. */
  def scanPartitionPruned(s: SparkSession, dir: String): DataFrame = {
    CapabilitySinks.ensurePartitioned(s, dir)
    s.read.parquet(CapabilitySinks.partPath(dir))
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  val scanPartitionPrunedSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      |FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""".stripMargin

  /** Z-order-pruned 2-D range scan through a Z-ordered sink (the last
    * spec-only capability surfaced as a declared key — r16): events
    * laid out on the Morton curve of (user_id, day), read back with a
    * rectangle predicate on BOTH dimensions. A single-column sort
    * prunes footer stats on one dimension and none on the other; the
    * Z-layout skips most files on EACH (ZOrderSpec measures it;
    * PlanQualitySpec guards the skip on this key's own sink). The
    * oracle recomputes the same rectangle from the original events
    * table — equality proves the clustered layout round-trips. */
  def scanZorderSkipped(s: SparkSession, dir: String): DataFrame = {
    CapabilitySinks.ensureZOrdered(s, dir)
    s.read.parquet(CapabilitySinks.zorderPath(dir))
      .filter(col("user_id").between(10, 15) && col("day").between(3, 5))
      .select(col("event_id"), col("user_id"), col("day"))
      .orderBy("event_id")
  }

  val scanZorderSkippedSql: String =
    """SELECT event_id, user_id,
      |  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
      |FROM events
      |WHERE user_id BETWEEN 10 AND 15
      |  AND date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) BETWEEN 3 AND 5
      |ORDER BY event_id""".stripMargin

  /** Salted skew join as a declared key (same r16 motivation): the
    * manual hot-key defense `SkewJoin.saltedEquiJoin` — big side gains
    * a PK-derived salt in [0, 4), small side replicates ×4, the join
    * fans each hot key across 4 reducers — run end to end on
    * lineitem ⋈ supplier and rolled up per nation. Salting is
    * result-invisible (SkewJoinSpec proves set equality), so the
    * oracle is the PLAIN join+rollup; the salted shape (xxhash64-pmod
    * salt in the join key) is guarded on this key in PlanQualitySpec. */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val li = Catalog.table(s, dir, "lineitem")
    val supp = Catalog.table(s, dir, "supplier")
    graft.operators.SkewJoin.saltedEquiJoin(
        li, supp, Seq("l_suppkey" -> "s_suppkey"),
        struct(col("l_orderkey"), col("l_linenumber")), factor = 4)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        Det.moneySum(col("l_extendedprice")).as("revenue"))
      .orderBy("s_nationkey")
  }

  val joinSkewSaltedSql: String =
    s"""SELECT s_nationkey, count(*) AS n_items,
       |  ${Det.sql.moneySum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Bench session-setup hook for the capability layouts (the
    * prepareSessionDumps rule): the one-time physical writes are
    * attributed to `session_setup`, so the declared keys' cold numbers
    * price the READ path the capability exists for. */
  def prepareCapabilitySinks(s: SparkSession, dir: String,
      bucketed: Boolean = true, partitioned: Boolean = true,
      zordered: Boolean = false): Unit = {
    if (bucketed) CapabilitySinks.ensureBucketed(s, dir)
    if (partitioned) CapabilitySinks.ensurePartitioned(s, dir)
    if (zordered) CapabilitySinks.ensureZOrdered(s, dir)
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "count_exact" -> (countExact _),
    "target_sizes" -> (targetSizes _),
    "sample_orders" -> (sampleOrders _),
    "sample_stratified" -> (sampleStratified _),
    "sample_weighted" -> (sampleWeighted _),
    "merge_upsert" -> (mergeUpsert _),
    "filter_pushdown" -> (filterPushdown _),
    "point_lookup" -> (pointLookup _),
    "semijoin_exists" -> (semijoinExists _),
    "antijoin_missing" -> (antijoinMissing _),
    "fk_closure_parents" -> (fkClosureParents _),
    "children_per_parent_topk" -> (childrenPerParentTopk _),
    "forced_rows" -> (forcedRows _),
    "ri_validate" -> (riValidate _),
    "config_pseudo_fk" -> (configPseudoFk _),
    "multi_schema_union" -> (multiSchemaUnion _),
    "join_bucketed_colocated" -> (joinBucketedColocated _),
    "scan_partition_pruned" -> (scanPartitionPruned _),
    "scan_zorder_skipped" -> (scanZorderSkipped _),
    "join_skew_salted" -> (joinSkewSalted _),
    "subset_orphans" -> (subsetOrphans _),
    "subset_counts" -> (subsetCounts _),
    "subset_star" -> (subsetStar _),
    "subset_delta" -> (subsetDeltaAudit _),
    "subset_delta_orphans" -> (subsetDeltaOrphans _),
    "subset_delta_counts" -> (subsetDeltaCounts _))

  def oracle: Map[String, String] = Map(
    "count_exact" -> countExactSql,
    "target_sizes" -> targetSizesSql,
    "sample_orders" -> sampleOrdersSql,
    "sample_stratified" -> sampleStratifiedSql,
    "sample_weighted" -> sampleWeightedSql,
    "merge_upsert" -> mergeUpsertSql,
    "filter_pushdown" -> filterPushdownSql,
    "point_lookup" -> pointLookupSql,
    "semijoin_exists" -> semijoinExistsSql,
    "antijoin_missing" -> antijoinMissingSql,
    "fk_closure_parents" -> fkClosureParentsSql,
    "children_per_parent_topk" -> childrenPerParentTopkSql,
    "forced_rows" -> forcedRowsSql,
    "ri_validate" -> riValidateSql,
    "config_pseudo_fk" -> configPseudoFkSql,
    "multi_schema_union" -> multiSchemaUnionSql,
    "join_bucketed_colocated" -> joinBucketedColocatedSql,
    "scan_partition_pruned" -> scanPartitionPrunedSql,
    "scan_zorder_skipped" -> scanZorderSkippedSql,
    "join_skew_salted" -> joinSkewSaltedSql,
    "subset_orphans" -> subsetOrphansSql,
    "subset_counts" -> subsetCountsSql,
    "subset_delta_orphans" -> subsetDeltaOrphansSql,
    "subset_delta_counts" -> subsetDeltaCountsSql)
    // subset_star, subset_delta: non-SQL-expressible pipelines ->
    // rows-only checks; their postconditions are oracle-checked by the
    // subset_* / subset_delta_* queries above

  /** Materialize both once-per-session pipeline dumps (SubsetDump +
    * DeltaDump) up front. The dumps are lazy by design — the first
    * audit query that needs one pays for it — which is right for
    * Verify but wrong for a benchmark's COLD pass, where a ~40 s dump
    * bill lands on whichever audit query happens to run first
    * (BENCH r10: subset_delta_counts read 42.7 s cold of which ~39 s
    * was DeltaDump). Bench calls this before timing anything and
    * reports the elapsed time as `session_setup`, so cold per-query
    * numbers read as query cost (VERDICT r10 item 4). Idempotent —
    * the per-session `done` guards make later ensure() calls free. */
  def prepareSessionDumps(s: SparkSession, dir: String): Unit = {
    SubsetDump.ensure(s, dir)
    DeltaDump.ensure(s, dir)
  }
}
