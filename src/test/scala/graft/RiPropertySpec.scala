package graft

import graft.operators.Subsetter
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** The reference's golden property, generalized (SURVEY.md §5):
  * for ANY FK population the subset must have
  *   (a) zero orphaned foreign keys,
  *   (b) every forced row present,
  *   (c) at least one row per non-empty included table (min-1 rule).
  * scalacheck generates random 3-level chains with random fan-out,
  * NULL FKs, and random fractions.
  */
class RiPropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val graph = FkGraph(
    pks = Map("g" -> Seq("gid"), "m" -> Seq("mid"), "l" -> Seq("lid")),
    fks = Seq(
      Fk("l", Seq("mid"), "m", Seq("mid")),
      Fk("m", Seq("gid"), "g", Seq("gid"))))

  private case class Pop(nG: Int, nM: Int, nL: Int, nullEvery: Int,
                         fraction: Double, forcedLeaf: Long)

  private val popGen: Gen[Pop] = for {
    nG <- Gen.choose(1, 4)
    nM <- Gen.choose(1, 8)
    nL <- Gen.choose(1, 20)
    nullEvery <- Gen.choose(2, 10)
    fraction <- Gen.oneOf(0.05, 0.3, 0.7, 1.0)
    forced <- Gen.choose(0L, math.max(0L, nL.toLong - 1))
  } yield Pop(nG, nM, nL, nullEvery, fraction, forced)

  private def build(p: Pop): Map[String, DataFrame] = {
    val g = (0L until p.nG).map(i => (i, s"g$i")).toDF("gid", "gname")
    val m = (0L until p.nM).map(i => (i, i % p.nG)).toDF("mid", "gid")
    val l = (0L until p.nL).map { i =>
      (i, if (i % p.nullEvery == 0) None else Some(i % p.nM))
    }.toDF("lid", "mid")
    Map("g" -> g, "m" -> m, "l" -> l)
  }

  bothGateSides("subset preserves RI, forced rows, and min-1 on random populations") {
    val prop = Prop.forAll(popGen) { p =>
      val tables = build(p)
      val out = Subsetter.subset(tables, graph,
        Subsetter.Config(fraction = p.fraction, force = Map("l" -> Seq(p.forcedLeaf))))
      val noOrphans = Subsetter.validateRI(out, graph)
        .select("orphans").as[Long].collect().forall(_ == 0L)
      val forcedPresent = out("l").filter($"lid" === p.forcedLeaf).count() == 1
      val minOne = Seq("g", "m", "l").forall(t => out(t).count() >= 1)
      (noOrphans :| s"orphans with $p") &&
        (forcedPresent :| s"forced row missing with $p") &&
        (minOne :| s"empty table with $p")
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(8)
      .withInitialSeed(org.scalacheck.rng.Seed(42L))
    val result = SCTest.check(params, prop)
    assert(result.passed, result.status.toString)
  }
}
