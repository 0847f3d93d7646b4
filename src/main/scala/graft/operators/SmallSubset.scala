package graft.operators

import graft.{Fk, FkGraph}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.functions.{coalesce, col, lit, xxhash64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Steps 1–6 of [[Subsetter.subset]] — seed, parent closure, bounded
  * child pull, re-closure and completeness top-up — on the driver, for
  * sources whose key columns fit the broadcast budget, and step 7 too
  * when their whole rows fit it.
  *
  * The distributed rounds pay several Spark jobs per closure wave, pull
  * and top-up round (~60 on a four-table live database) for key sets of
  * a few thousand rows. Here ONE collect job per table, all concurrent,
  * brings back the key projection: the PK columns, `xxhash64(pk)`, a
  * "pinned" flag (forced, or already in the destination in delta mode)
  * and every out-FK cast to its parent's PK type. Spark computes all of
  * them, so the driver takes the distributed path's decisions without
  * re-implementing hashing, `isin` coercion, casts or join matching.
  * What is left is a worklist fixpoint over hash sets and two orders:
  * Spark's ascending PK order (strings in binary UTF-8 order) for the
  * child pull, and `(pmod(h, 1000003), pk)` for the top-up.
  *
  * The written rows are the rows read. When the projections still fit
  * with every source column after the key columns (decided once for the
  * whole domain), the same collect carries the full rows, and the
  * subset of a table is its collected rows whose keys survive the
  * fixpoint, with the source's column types in the semi-join's column
  * order (PK first): each source table is read once, at
  * one moment, as rdbms-subsetter's `create_row_in` inserts the row it
  * fetched. Otherwise (keys fit, rows do not, e.g. sf0.01 `lineitem`)
  * only the key sets come back and step 7 re-reads the source through
  * the shared semi-join.
  *
  * The gate is [[SmallGraph.fits]]: Σ rows × planner row size of the
  * projections ≤ `spark.sql.autoBroadcastJoinThreshold` (≤ 0 turns the
  * driver side off). The distributed rounds also run for key types whose
  * Row values do not compare like Spark's (anything but integral,
  * binary-collated string, decimal, date and timestamp), for an FK that
  * does not name its parent's PK columns in order or whose type is not
  * the parent's (an integral widening is fine), and for a null PK value,
  * seen only after the collect.
  *
  * One difference from the distributed rounds, where those rounds fall
  * short of their own postcondition: a pulled child key demands the
  * parents of every row with that key (the distributed pull demands the
  * pulled row's only — the same on a unique PK; on a non-unique PK its
  * sibling rows, also written, could orphan).
  */
private[operators] object SmallSubset {

  private type Key = IndexedSeq[Any]

  /** One source row's key projection; `fks(i)` is the FK value of the
    * table's i-th out-edge in parent-PK type, null when any column is. */
  private final case class Rec(pk: Key, h: Long, pinned: Boolean, fks: Array[Key])

  /** The driver side's answer: the key set of every domain table and,
    * when the source rows rode the collect, the rows with those keys. */
  final case class Result(keys: Map[String, DataFrame], rows: Option[Map[String, DataFrame]])

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private[operators] def keyType(dt: DataType): Boolean = dt match {
    case s: StringType => s == StringType // the binary (UTF8_BINARY) collation
    case _: DecimalType | DateType | TimestampType => true
    case _ => isIntegral(dt)
  }

  /** Whether an FK column of type `ct` cast to its parent column's type
    * `pt` keeps every value, in a key type whose Row values compare like
    * Spark's: equal types or an integral widening. */
  private[operators] def castsToKey(ct: DataType, pt: DataType): Boolean = keyType(pt) &&
    (ct == pt || (isIntegral(ct) && isIntegral(pt) && ct.defaultSize <= pt.defaultSize))

  /** Spark's ascending order on non-null Row values of a key type. */
  private[operators] val valueOrder: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
      case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
  }

  /** [[valueOrder]], lexicographic over the key's columns. */
  private val pkOrder: Ordering[Key] = new Ordering[Key] {
    def compare(a: Key, b: Key): Int = {
      var i = 0
      var c = 0
      while (c == 0 && i < a.size) {
        c = valueOrder.compare(a(i), b(i))
        i += 1
      }
      c
    }
  }

  /** The key sets of `plan.domain`, and their rows when those fit too, as
    * local relations, or None when the run is out of the driver side's
    * scope (see the object doc). */
  def run(tables: Map[String, DataFrame], graph: FkGraph, cfg: Subsetter.Config,
          plan: Subsetter.Plan, existing: Map[String, DataFrame],
          rowsOf: String => Long): Option[Result] = {
    // out-edges to a source table: the only ones closure and pull walk
    val out: Map[String, IndexedSeq[Fk]] = plan.domain.map(t => t ->
      graph.fks.filter(fk => fk.childTable == t && tables.contains(fk.parentTable))
        .toIndexedSeq).toMap
    def typeOf(t: String, c: String): DataType = tables(t).schema(c).dataType
    val inScope = plan.domain.nonEmpty && plan.domain.forall { t =>
      graph.pks(t).forall(c => keyType(typeOf(t, c))) && out(t).forall { fk =>
        fk.parentCols == graph.pks(fk.parentTable) && fk.childCols.zip(fk.parentCols)
          .forall { case (c, p) => castsToKey(typeOf(t, c), typeOf(fk.parentTable, p)) }
      }
    }
    if (!inScope) return None

    val keyProj: Seq[(String, DataFrame, Seq[Column])] = plan.domain.map { t =>
      val pk = graph.pks(t)
      // delta mode: dest membership by the same USING join the
      // distributed seed's semi-join does
      val dest = if (plan.delta && plan.included.contains(t)) existing.get(t) else None
      val src = dest.fold(tables(t))(e => tables(t).join(
        e.select(pk.map(col): _*).distinct().withColumn("__in_dest", lit(true)),
        pk, "left_outer"))
      val pinned = (plan.forced.get(t).flatten.toSeq ++ dest.map(_ => col("__in_dest")))
        .map(coalesce(_, lit(false))).reduceOption(_ || _).getOrElse(lit(false))
      val fkCols = out(t).flatMap(fk => fk.childCols.zip(fk.parentCols).map { case (c, p) =>
        col(c).cast(typeOf(fk.parentTable, p)) })
      (t, src, pk.map(col) ++ Seq(xxhash64(pk.map(col): _*), pinned) ++ fkCols)
    }
    // the semi-join's column order (USING keys first), so every write of
    // a table, from either side of the gate, has one layout
    def rowOrder(t: String): Seq[String] =
      graph.pks(t) ++ tables(t).columns.filterNot(graph.pks(t).contains)
    def projections(withRows: Boolean): Seq[(String, DataFrame)] = keyProj.map {
      case (t, src, keyCols) =>
        val rowCols = if (withRows) rowOrder(t).map(c => col(QuotingUtils.quoteIdentifier(c)))
          else Nil
        t -> src.select(keyCols ++ rowCols: _*)
    }
    val counts = plan.domain.map(t => t -> rowsOf(t)).toMap
    def fit(proj: Seq[(String, DataFrame)]): Boolean =
      SmallGraph.fits(proj.map { case (t, df) => df -> counts(t) }: _*)
    val full = projections(withRows = true)
    val withRows = fit(full)
    val proj = if (withRows) full else projections(withRows = false)
    if (!withRows && !fit(proj)) return None

    val spark = tables(plan.domain.head).sparkSession
    val collected = ConcurrentJobs.map(spark, proj) { case (t, df) => t -> df.collect() }.toMap
    val recs: Map[String, Array[Rec]] = collected.map { case (t, rows) =>
      val n = graph.pks(t).size
      t -> rows.map { r =>
        var at = n + 2
        val fks = out(t).map { fk =>
          val v = (at until at + fk.childCols.size).map(r.get)
          at += fk.childCols.size
          if (v.contains(null)) null else v
        }.toArray
        Rec((0 until n).map(r.get), r.getLong(n), r.getBoolean(n + 1), fks)
      }
    }
    if (recs.valuesIterator.exists(_.exists(_.pk.contains(null)))) return None

    val keys = plan.domain.map(_ -> mutable.HashSet.empty[Key]).toMap
    val rowsByPk = recs.map { case (t, rs) => t -> rs.groupBy(_.pk) }
    val work = mutable.Queue.empty[(String, Key)]
    def add(t: String, k: Key, expand: Boolean): Unit =
      if (keys(t).add(k) && expand) work.enqueue(t -> k)
    // every row with key k demands the parents its non-null FKs name
    def demand(t: String, k: Key): Unit =
      for (r <- rowsByPk(t).getOrElse(k, Array.empty[Rec]); i <- out(t).indices
           if r.fks(i) != null)
        add(out(t)(i).parentTable, r.fks(i), expand = true)
    def close(): Unit = while (work.nonEmpty) { val (t, k) = work.dequeue(); demand(t, k) }

    // 1–3. seed (hash sample at the biased target, or the dest rows in
    // delta mode, plus pinned rows), then close
    for (t <- plan.included) {
      val sampled: Rec => Boolean =
        if (plan.delta) _ => false
        else Subsetter.seedCut(plan.targets(t), plan.sourceN(t)) match {
          case None      => _ => true
          case Some(cut) => r => Math.floorMod(r.h, Subsetter.SampleMod) < cut
        }
      for (r <- recs(t) if r.pinned || sampled(r)) add(t, r.pk, expand = !plan.seedsClosed)
    }
    close()

    // 4–5. per FK group the first `children` child rows in PK order,
    // matched against the key sets as they stood before the pull
    for (_ <- 1 to cfg.childRounds) {
      val pulled = plan.included.map { ct =>
        ct -> out(ct).indices.flatMap { i =>
          val parentKeys = keys(out(ct)(i).parentTable)
          recs(ct).filter(r => r.fks(i) != null && parentKeys(r.fks(i)))
            .groupBy(_.fks(i)).valuesIterator
            .flatMap(_.sortBy(_.pk)(pkOrder).take(cfg.children).map(_.pk))
        }.distinct
      }
      pulled.foreach { case (ct, ks) => ks.foreach(add(ct, _, expand = false)) }
      pulled.foreach { case (ct, ks) => ks.foreach(demand(ct, _)) }
      close()
    }

    // 6. top-up: each shortfall from the not-yet-kept keys in
    // (pmod(h, 1000003), pk) order, until complete or exhausted
    val topUpOrder = mutable.Map.empty[String, Array[Key]]
    def candidates(t: String): Array[Key] = topUpOrder.getOrElseUpdate(t,
      recs(t).map(r => (Math.floorMod(r.h, Subsetter.TopUpMod), r.pk)).distinct
        .sorted(Ordering.Tuple2(Ordering.Long, pkOrder)).map(_._2))
    var exhausted = Set.empty[String]
    def measure(): Map[String, Long] = plan.included.filterNot(exhausted)
      .map(t => t -> (plan.targets(t) - keys(t).size)).filter(_._2 > 0L).toMap
    var shortfalls = measure()
    var round = 0
    while (shortfalls.nonEmpty && (cfg.topUpRounds < 0 || round < cfg.topUpRounds)) {
      round += 1
      val adds = shortfalls.map { case (t, gap) =>
        t -> candidates(t).iterator.filterNot(keys(t))
          .take(math.min(gap, Int.MaxValue.toLong).toInt).toVector
      }
      for ((t, extra) <- adds) {
        if (extra.size < shortfalls(t)) exhausted += t // source can't fill the gap
        extra.foreach(add(t, _, expand = true))
      }
      if (adds.valuesIterator.forall(_.isEmpty)) shortfalls = Map.empty
      else { close(); shortfalls = measure() }
    }

    val keySets = plan.domain.map { t =>
      val schema = StructType(graph.pks(t).map(c => tables(t).schema(c)))
      t -> spark.createDataFrame(keys(t).iterator.map(Row.fromSeq).toSeq.asJava, schema)
    }.toMap
    // 7. the collected rows whose keys survive, past the key columns, in
    // one partition: one file, or one JDBC connection and transaction,
    // per written table
    val rows = Option.when(withRows)(plan.domain.map { t =>
      val skip = graph.pks(t).size + 2 + out(t).map(_.childCols.size).sum
      val kept = recs(t).iterator.zip(collected(t).iterator).collect {
        case (r, row) if keys(t)(r.pk) => Row.fromSeq(row.toSeq.drop(skip))
      }
      val schema = StructType(rowOrder(t).map(tables(t).schema(_)))
      t -> spark.createDataFrame(kept.toSeq.asJava, schema).coalesce(1)
    }.toMap)
    Some(Result(keySets, rows))
  }
}
