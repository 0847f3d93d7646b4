package graft.operators

import graft.FkGraph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** [[Subsetter.validateRI]] on the driver, for tables whose key columns
  * fit the broadcast budget.
  *
  * The distributed audit plans a left join per FK edge and an aggregate
  * per child table: about a dozen one-task AQE jobs for key sets of a few
  * thousand rows. Here ONE collect job per table, all concurrent, brings
  * back its key projection: the columns its in-edges reference, and per
  * out-edge the FK columns cast to the parent's types (the cast of the
  * distributed join) plus a "child all non-null" flag. The driver counts,
  * per edge, the flagged rows whose FK tuple is none of the parent's
  * tuples — the distributed audit's orphan — and returns the counts as a
  * local relation of the same `(edge, orphans)` schema, ordered by edge.
  *
  * The gate is [[SmallGraph.fits]] over the projections at the caller's
  * row counts, which come from metadata (parquet footers, JDBC
  * `COUNT(*)`) so no job runs to size them; a table without a count keeps
  * the distributed plan. So does an edge whose key types fall outside
  * [[SmallSubset]]'s rules (integral, binary string, decimal, date and
  * timestamp; equal types or an integral widening), where Row values
  * might not compare like Spark's join keys.
  */
private[graft] object SmallAudit {

  /** The distributed audit's output schema. */
  val schema: StructType =
    StructType(Seq(StructField("edge", StringType), StructField("orphans", LongType)))

  /** [[Subsetter.validateRI]]`(tables, graph)`, or None when the audit is
    * out of the driver side's scope. */
  def orphans(tables: Map[String, DataFrame], graph: FkGraph,
              rowCounts: Map[String, Long]): Option[DataFrame] = {
    def typeOf(t: String, c: String) = tables(t).schema(c).dataType
    val edges = graph.fks
      .filter(fk => tables.contains(fk.childTable) && tables.contains(fk.parentTable))
    val names = (edges.map(_.childTable) ++ edges.map(_.parentTable)).distinct.sorted
    val inScope = edges.nonEmpty && names.forall(rowCounts.contains) && edges.forall { fk =>
      fk.childCols.zip(fk.parentCols).forall { case (c, p) =>
        SmallSubset.castsToKey(typeOf(fk.childTable, c), typeOf(fk.parentTable, p))
      }
    }
    if (!inScope) return None

    // per table: the columns its in-edges reference, then each out-edge's
    // cast FK columns and flag
    val inCols = names.map(t =>
      t -> edges.filter(_.parentTable == t).flatMap(_.parentCols).distinct).toMap
    val outEdges = names.map(t => t -> edges.filter(_.childTable == t)).toMap
    val proj = names.map { t =>
      t -> tables(t).select(inCols(t).map(col) ++ outEdges(t).flatMap { fk =>
        fk.childCols.zip(fk.parentCols).map { case (c, p) =>
          col(c).cast(typeOf(fk.parentTable, p)) } :+
          fk.childCols.map(col(_).isNotNull).reduce(_ && _)
      }: _*)
    }
    if (!SmallGraph.fits(proj.map { case (t, df) => df -> rowCounts(t) }: _*)) return None

    val spark = tables(names.head).sparkSession
    val rows = ConcurrentJobs.map(spark, proj) { case (t, df) => t -> df.collect() }.toMap
    val parentKeys = edges.map(fk => (fk.parentTable, fk.parentCols)).distinct.map {
      case (t, cs) =>
        val at = cs.map(inCols(t).indexOf(_))
        (t, cs) -> rows(t).iterator.map(r => at.map(r.get)).toSet
    }.toMap
    val counts = names.flatMap { t =>
      var at = inCols(t).size
      outEdges(t).map { fk =>
        val (from, width) = (at, fk.childCols.size)
        at += width + 1
        val parents = parentKeys((fk.parentTable, fk.parentCols))
        fk.name -> rows(t).count(r =>
          r.getBoolean(from + width) && !parents((from until from + width).map(r.get))).toLong
      }
    }.sortBy(e => UTF8String.fromString(e._1))
    Some(spark.createDataFrame(counts.map { case (e, n) => Row(e, n) }.asJava, schema))
  }
}
