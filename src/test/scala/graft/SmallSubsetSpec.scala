package graft

import graft.operators.Subsetter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The subsetter's size gate must not change answers: on random
  * catalogs the key sets computed on the driver equal, table by table,
  * those of the distributed rounds (broadcast threshold -1), and so do
  * the written rows as multisets, whether they come from the driver's
  * collect or, at a threshold the keys fit and the rows do not, from the
  * semi-join. Catalogs are random FK DAGs over long, composite (string,
  * int) and string PKs, with self-FK cycles, int FKs into long PKs, null
  * and partly-null FKs, FK values with no parent row, and strings whose
  * UTF-16 and UTF-8 orders disagree (U+FF5E vs U+10000), so a child pull
  * that orders by the wrong one picks other children. Runs vary fraction, children,
  * forced rows, exclude/full globs, `topUpRounds = -1`, `childRounds =
  * 2` and delta mode against a random destination. PKs are unique: on a
  * non-unique PK the driver side deliberately demands more parents (see
  * graft.operators.SmallSubset).
  *
  * The same catalogs, audited raw (orphans included) with one table
  * emptied and some maps partial, pin the RI audit's driver side
  * (graft.operators.SmallAudit) to the distributed orphan counts. */
class SmallSubsetSpec extends SparkSpecBase {
  import SmallSubsetSpec.Case

  // U+FF5E sorts after U+10000 in UTF-16 (a surrogate pair starts at
  // U+D800) but before it in UTF-8; strKey is injective, so PKs are unique
  private val strs = Vector("", "a", "ab", "\uFF5E", "\uD800\uDC00", "\uFF5Ex",
    "\uD800\uDC00a", "b", "z")
  private def strKey(x: Int): String = strs(x % strs.size) + (x / strs.size)

  /** Case `i`: kind 0 = long PK `id` (maybe with a self-FK), 1 = PK
    * (s string, i int), 2 = string PK `s`; edges run from a higher to a
    * lower table index. */
  private def genCase(i: Int): Case = {
    val rnd = new Random(1000L + i)
    val k = 3 + rnd.nextInt(3)
    val names = (0 until k).map(j => s"t$j")
    val kinds = names.indices.map(_ => rnd.nextInt(3))
    val sizes = names.indices.map(_ => 4 + rnd.nextInt(22))
    def pkFields(j: Int): Seq[StructField] = kinds(j) match {
      case 0 => Seq(StructField("id", LongType, nullable = false))
      case 1 => Seq(StructField("s", StringType, nullable = false),
        StructField("i", IntegerType, nullable = false))
      case _ => Seq(StructField("s", StringType, nullable = false))
    }
    def pkOf(j: Int, r: Int): Seq[Any] = kinds(j) match {
      case 0 => Seq(r * 3L)
      case 1 => Seq(strKey(r / 3), r % 3)
      case _ => Seq(strKey(r))
    }
    def missing(j: Int): Seq[Any] = kinds(j) match {
      case 0 => Seq(rnd.nextInt(30) * 3L + 1L)
      case 1 => Seq("zz", 7)
      case _ => Seq("zzz")
    }
    // edges: (child, parent, FK fields)
    val edges = for {
      c <- names.indices
      p <- (if (c > 0) Seq.fill(rnd.nextInt(3))(rnd.nextInt(c)) else Nil) ++
        (if (kinds(c) == 0 && rnd.nextBoolean()) Seq(c) else Nil)
    } yield (c, p)
    val fkFields: Map[(Int, Int), Seq[StructField]] = edges.zipWithIndex.map { case ((c, p), e) =>
      (c, e) -> pkFields(p).map { f =>
        val dt = if (f.dataType == LongType && rnd.nextBoolean()) IntegerType else f.dataType
        StructField(s"f${e}_${f.name}", dt, nullable = true)
      }
    }.toMap
    val tables = names.indices.map { j =>
      val out = edges.zipWithIndex.filter(_._1._1 == j)
      val schema = StructType(pkFields(j) ++ out.flatMap { case (_, e) => fkFields((j, e)) } :+
        StructField("v", StringType))
      val rows = (0 until sizes(j)).map { r =>
        val fks = out.flatMap { case ((_, p), e) =>
          val v = rnd.nextInt(10) match {
            case 0 => Seq.fill(pkFields(p).size)(null)
            case 1 => missing(p)
            case 2 if pkFields(p).size > 1 => Seq(null, 0)
            case _ => pkOf(p, rnd.nextInt(sizes(p)))
          }
          v.zip(fkFields((j, e))).map {
            case (x: Long, f) if f.dataType == IntegerType => x.toInt
            case (x, _) => x
          }
        }
        Row.fromSeq(pkOf(j, r) ++ fks :+ s"v$r")
      }
      names(j) -> spark.createDataFrame(rows.asJava, schema)
    }.toMap
    val graph = FkGraph(
      pks = names.indices.map(j => names(j) -> pkFields(j).map(_.name)).toMap,
      fks = edges.zipWithIndex.map { case ((c, p), e) =>
        Fk(names(c), fkFields((c, e)).map(_.name), names(p), pkFields(p).map(_.name)) })

    val exclude = if (i % 3 == 1) Seq(names(rnd.nextInt(k))) else Nil
    val included = names.indices.filterNot(j => exclude.contains(names(j)))
    val full = if (rnd.nextInt(3) == 0) Seq(s"t${rnd.nextInt(k)}*") else Nil
    val force = included.filter(kinds(_) == 0).take(1)
      .map(j => names(j) -> Seq(pkOf(j, rnd.nextInt(sizes(j))).head.asInstanceOf[Long], 1L)).toMap
    val forceComposite = included.filter(kinds(_) != 0).take(1)
      .map(j => names(j) -> Seq(pkOf(j, rnd.nextInt(sizes(j))))).toMap
    val cfg = Subsetter.Config(
      fraction = Seq(0.1, 0.3, 0.6)(rnd.nextInt(3)),
      logarithmic = rnd.nextInt(5) == 0,
      fullTables = full, excludeTables = exclude,
      force = if (rnd.nextBoolean()) force else Map.empty,
      forceComposite = if (rnd.nextBoolean()) forceComposite else Map.empty,
      children = rnd.nextInt(4),
      childRounds = if (i % 2 == 1) 2 else 1,
      topUpRounds = if (i % 4 == 0) -1 else Seq(0, 1, 4)(rnd.nextInt(3)))
    // delta mode: a random destination holding some source keys (and a
    // key the source does not have)
    val existing =
      if (i % 3 != 2) Map.empty[String, DataFrame]
      else included.filter(_ => rnd.nextBoolean()).map { j =>
        val keys = (0 until sizes(j)).filter(_ => rnd.nextInt(3) == 0).map(pkOf(j, _)) :+ missing(j)
        names(j) -> spark.createDataFrame(keys.map(Row.fromSeq).asJava, StructType(pkFields(j)))
      }.toMap
    Case(tables, graph, cfg, existing, closed = rnd.nextBoolean())
  }

  bothGateSides("child pull takes string PKs in binary UTF-8 order (U+FF5E before U+10000)") {
    import spark.implicits._
    val parent = Seq((1L, "p"), (2L, "q")).toDF("pid", "v")
    // two children of parent 1, and filler under parent 2 so the child's
    // up-front sample (target 1 of 1002) is a handful of filler rows
    val child = (Seq(("\uD800\uDC00", 1L), ("\uFF5E", 1L)) ++
      (1 to 1000).map(i => (f"f$i%04d", 2L))).toDF("cid", "pid")
    val graph = FkGraph(pks = Map("parent" -> Seq("pid"), "child" -> Seq("cid")),
      fks = Seq(Fk("child", Seq("pid"), "parent", Seq("pid"))))
    val (keys, _) = Subsetter.keySets(Map("parent" -> parent, "child" -> child), graph,
      Subsetter.Config(fraction = 0.001, fullTables = Seq("parent"), children = 1,
        topUpRounds = 0))
    val kept = keys("child").as[String].collect().toSet
    assert(kept.contains("\uFF5E") && !kept.contains("\uD800\uDC00"), kept)
  }

  private def keySets(c: Case): (Map[String, Set[Seq[Any]]], Boolean) = {
    val (keys, onDriver) = Subsetter.keySets(c.tables, c.graph, c.cfg,
      existing = c.existing, existingClosed = c.closed)
    (keys.map { case (t, k) => t -> k.collect().map(_.toSeq).toSet }, onDriver)
  }

  for (i <- 0 until 8) test(s"driver key sets == distributed key sets, random catalog $i") {
    val c = genCase(i)
    val (driver, onDriver) = keySets(c)
    val (distributed, onDistributed) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(keySets(c))
    assert(onDriver && !onDistributed, "each side of the gate must run once")
    assert(driver.keySet == distributed.keySet)
    for (t <- driver.keys.toSeq.sorted)
      assert(driver(t) == distributed(t), s"$t key sets differ (graph ${c.graph}, ${c.cfg})")
  }

  private type Written = Map[String, (Seq[String], Map[Seq[Any], Int])]

  /** The written rows of a run per table, as its column names and the
    * multiset of its rows over all columns, and the gate sides it took. */
  private def subsetRows(c: Case): (Written, Subsetter.Sides) = {
    val (out, sides) = Subsetter.subsetGated(c.tables, c.graph, c.cfg, Map.empty,
      c.existing, c.closed)
    (out.map { case (t, df) =>
      t -> (df.columns.toSeq, df.collect().toSeq.groupMapReduce(_.toSeq)(_ => 1)(_ + _))
    }, sides)
  }

  /** Case `c` with payload columns `w0`..`w<n-1>` before every table's
    * own, so no PK leads its table's columns. */
  private def widened(c: Case, n: Int): Case = c.copy(tables = c.tables.map { case (t, df) =>
    t -> df.select((0 until n).map(j => lit(s"w$j").as(s"w$j")) ++ df.columns.map(col): _*)
  })

  private def assertSameRows(c: Case, driver: Written, distributed: Written): Unit = {
    assert(driver.keySet == distributed.keySet)
    for (t <- driver.keys.toSeq.sorted)
      assert(driver(t) == distributed(t), s"$t rows differ (graph ${c.graph}, ${c.cfg})")
  }

  for (i <- 0 until 8) test(s"driver-written rows == distributed rows, random catalog $i") {
    val c = widened(genCase(i), 1)
    val (driver, sides) = subsetRows(c)
    val (distributed, distributedSides) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(subsetRows(c))
    assert(sides == Subsetter.Sides(keys = true, rows = true) &&
      distributedSides == Subsetter.Sides(keys = false, rows = false))
    assertSameRows(c, driver, distributed)
  }

  for (i <- Seq(2, 5)) test(s"keys fit, rows do not: the semi-join's rows, random catalog $i") {
    // 60 payload strings add 1200 planner bytes a row; key projections
    // take under 100 (a PK and up to three FKs of ≤ 24 bytes, hash,
    // flag, row overhead), so 300 bytes a source row sits between them
    val c0 = genCase(i)
    assert(c0.existing.nonEmpty, "a delta run")
    val c = widened(c0, 60)
    val budget = 300L * c.tables.valuesIterator.map(_.count()).sum
    val (driver, sides) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> budget.toString)(subsetRows(c))
    val (distributed, _) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(subsetRows(c))
    assert(sides == Subsetter.Sides(keys = true, rows = false))
    assertSameRows(c, driver, distributed)
  }

  /** The audit input of case `i`: the raw source tables (with their
    * orphans, null and partly-null FKs), one table emptied and, on odd
    * cases, another dropped from the map. */
  private def auditTables(i: Int, c: Case): Map[String, DataFrame] = {
    val rnd = new Random(2000L + i)
    val names = c.tables.keys.toSeq.sorted
    val emptied = names(rnd.nextInt(names.size))
    val dropped = if (i % 2 == 1) names.filterNot(_ == emptied).take(1) else Nil
    (c.tables -- dropped).map { case (t, df) =>
      t -> (if (t == emptied) spark.createDataFrame(java.util.Collections.emptyList[Row](),
        df.schema) else df)
    }
  }

  /** The driver side's audit rows at exact row counts, or None when it
    * declines; a map left with no edge has nothing to audit. */
  private def driverAudit(tables: Map[String, DataFrame], graph: FkGraph): Option[Seq[Row]] = {
    val r = graft.operators.SmallAudit.orphans(tables, graph,
      tables.map { case (t, df) => t -> df.count() })
    assert(r.isEmpty || graph.fks.exists(fk =>
      tables.contains(fk.childTable) && tables.contains(fk.parentTable)))
    r.map(_.collect().toSeq)
  }

  for (i <- 0 until 8) test(s"driver orphan counts == distributed orphan counts, random catalog $i") {
    val c = genCase(i)
    val tables = auditTables(i, c)
    val distributed = Subsetter.validateRI(tables, c.graph).collect().toSeq
    val driver = driverAudit(tables, c.graph)
    assert(driver.isDefined == distributed.nonEmpty, "an auditable map must stay on the driver")
    driver.foreach(d => assert(d == distributed, s"graph ${c.graph}"))
  }

  test("the random audit catalogs carry orphans and partial maps") {
    val runs = (0 until 8).map { i =>
      val c = genCase(i)
      val tables = auditTables(i, c)
      val driver = driverAudit(tables, c.graph)
      (driver.toSeq.flatten.map(_.getLong(1)).sum, tables.size < c.tables.size, driver.isDefined)
    }
    assert(runs.count(_._1 > 0L) >= 4 && runs.exists(_._2) && runs.count(_._3) >= 6, runs)
  }
}

object SmallSubsetSpec {
  private final case class Case(tables: Map[String, DataFrame], graph: FkGraph,
                                cfg: Subsetter.Config, existing: Map[String, DataFrame],
                                closed: Boolean)
}
