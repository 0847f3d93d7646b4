package graft.operators

import graft.{Fk, FkGraph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native re-architecture of the reference's subsetting engine.
  *
  * The reference (`rdbms_subsetter.py :: create_subset_in` /
  * `create_row_in`) is row-at-a-time: sample one random row, recursively
  * SELECT+INSERT every FK ancestor, opportunistically pull a bounded
  * number of child rows — thousands of per-row round-trips (SURVEY.md
  * §3b). Here the same semantics are set-at-a-time:
  *
  *   1. sample every table to its target size (deterministic hash
  *      threshold — no global sort, scales to any size);
  *   2. union in forced seed rows (`--force`);
  *   3. expand FK *parent* keys along every edge to a fixpoint
  *      (semi-joins; ≤ graph-diameter passes on a DAG, loop-until-stable
  *      on cycles — the set-based analogue of `create_row_in`'s
  *      exists-guarded recursion);
  *   4. pull at most `children` child rows per inserted parent row
  *      (windowed top-k — `create_row_in` step 4);
  *   5. close parents once more (children may reference new parents);
  *   6. top up every table still short of its target, and re-close;
  *   7. materialize each table's rows with a kept key.
  *
  * The output satisfies the reference's postcondition: zero orphaned
  * foreign keys ([[validateRI]]).
  *
  * Scale: a size gate picks where steps 1–6 run. When the
  * key columns of every table (PK, out-FKs, a hash and a flag) fit
  * `spark.sql.autoBroadcastJoinThreshold`, [[SmallSubset]] collects them
  * in one job per table and finishes the fixpoints on the driver; when
  * the whole rows fit too, the same collect carries them and step 7
  * keeps the collected rows, so each source table is read once.
  * Above it the key sets stay `DataFrame`s end-to-end and nothing
  * collects to the driver: each fixpoint pass is a handful of
  * semi-joins whose small side (the key set) AQE broadcast-joins when it
  * fits, and `localCheckpoint` truncates lineage so cyclic graphs cannot
  * blow up the plan. There, and when only the keys fit, each table's
  * rows come from a semi-join of the source against its key set, so
  * wide payload columns never reach the driver.
  */
object Subsetter {

  /** Subset configuration — mirrors the reference CLI
    * (`rdbms_subsetter.py :: generate()` argparse): fraction,
    * `--logarithmic`, `--full-tables`, `--exclude-tables`, `--force`,
    * `--children`. `force` addresses single-column PKs; composite-PK
    * seeds go through `forceComposite` (one value per PK column, in
    * `FkGraph.pks` order) — using `force` on a composite-PK table
    * fails loudly rather than silently dropping the request.
    * `topUpRounds` bounds the completeness top-up loop (step 6);
    * -1 = loop until every table is complete or its source is
    * exhausted (the reference's main-loop semantics). */
  final case class Config(
      fraction: Double,
      logarithmic: Boolean = false,
      fullTables: Seq[String] = Nil,     // fnmatch-style globs
      excludeTables: Seq[String] = Nil,  // fnmatch-style globs
      force: Map[String, Seq[Long]] = Map.empty, // table -> pk values
      forceComposite: Map[String, Seq[Seq[Any]]] = Map.empty, // table -> pk tuples
      children: Int = 3,
      childRounds: Int = 1,
      topUpRounds: Int = 4)

  // ---------------------------------------------------------------------
  // Target sizing — rdbms_subsetter.py :: Db.assign_target (SURVEY §2 row 4)
  // ---------------------------------------------------------------------

  /** Desired row count for a table of `n` rows. Linear: ceil(n*f);
    * logarithmic: ceil(10^(log10(n)*f)); full copy: n. Minimum 1 row
    * whenever the source is non-empty (the reference always keeps at
    * least one row per non-empty table). */
  def targetSize(n: Long, fraction: Double, logarithmic: Boolean = false,
                 full: Boolean = false): Long = {
    if (n <= 0L) 0L
    else if (full || fraction >= 1.0) n
    else {
      val raw =
        if (logarithmic) math.ceil(math.pow(10.0, math.log10(n.toDouble) * fraction))
        else math.ceil(n.toDouble * fraction)
      math.max(1L, math.min(n, raw.toLong))
    }
  }

  /** fnmatch-style glob (`*`, `?`) — the reference's
    * `_table_matches_any_pattern` (SURVEY §2 row 14). */
  def globMatch(patterns: Seq[String], name: String): Boolean = {
    def rx(p: String): String =
      p.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
        case c => c.toString
      }
    patterns.exists(p => name.matches(rx(p)))
  }

  // ---------------------------------------------------------------------
  // Sampling — rdbms_subsetter.py :: _random_rows (SURVEY §2 row 5)
  // ---------------------------------------------------------------------

  /** Deterministic modulus sample on an integer key: `key % m = 0`.
    * Replaces the reference's `ORDER BY random() LIMIT k` with something
    * an oracle can reproduce (SURVEY §7 determinism contract). */
  def modSample(df: DataFrame, keyCol: String, m: Long): DataFrame =
    df.filter(col(keyCol) % m === 0)

  /** Modulus of the up-front hash sample and of the top-up order. */
  private[operators] val SampleMod = 1000000L
  private[operators] val TopUpMod = 1000003L

  /** The up-front sample of [[subset]]: a deterministic pseudo-random
    * sample of a table of `n` rows keeps the rows with
    * `pmod(xxhash64(pk), SampleMod) < cut` (None keeps every row). No
    * global sort and no limit — O(scan) at any scale. Engine-internal
    * (`xxhash64` never reaches an oracle query). `pmod`, not `abs`
    * (abs(Long.MinValue) is negative — a 1-in-2⁶⁴ row-drop anomaly); the
    * modulus quantizes the kept fraction to 1e-6 steps, which the ceil
    * biases to "at least". The sample is binomial, and biased ~3σ UNDER
    * `target`: an undershoot is exactly what the top-up (step 6)
    * repairs — to an exact count — while an overshoot can never be
    * trimmed (a sampled key may be closure-demanded). Net effect: tables
    * land ON target, not merely near it. */
  private[operators] def seedCut(target: Long, n: Long): Option[Long] =
    if (target >= n) None
    else {
      val biased = math.max(1L, target - 3L * math.ceil(math.sqrt(target.toDouble)).toLong)
      Some(math.ceil(biased.toDouble / n.toDouble * SampleMod).toLong)
    }

  /** The reference's ACTUAL sampling semantic — `ORDER BY random()
    * LIMIT k` (`rdbms_subsetter.py :: _random_rows`, ≈L20) — offered
    * as a convenience API next to the oracle-safe deterministic tiers.
    * A seeded `rand(seed)` keeps a run reproducible; pass a fresh seed
    * per run for the upstream's fresh-randomness behavior. NOT
    * oracle-eligible (SURVEY §7 bans rand() in oracle queries) and not
    * used by subset closure — [[seedCut]]'s hash sample stays the engine default.
    * Scale shape: rand is a scan-local projection and the sort+limit
    * compiles to TakeOrderedAndProject (per-partition top-k heaps +
    * driver merge of k rows), never a global sort. */
  def randSample(df: DataFrame, k: Int, seed: Long): DataFrame =
    df.withColumn("__r", rand(seed)).orderBy(col("__r")).limit(k).drop("__r")

  // ---------------------------------------------------------------------
  // Completeness scheduling — rdbms_subsetter.py :: _completeness_score
  // + the create_subset_in main loop (SURVEY §2 row 12)
  // ---------------------------------------------------------------------

  /** Fraction of a table's target met. The reference's main loop pulls
    * one random row from the argmin table until all tables are
    * complete; set-at-a-time execution replaces that per-row loop, but
    * the score remains the monitoring/priority signal. */
  def completenessScore(current: Long, target: Long): Double =
    if (target <= 0L) 1.0 else math.min(1.0, current.toDouble / target.toDouble)

  /** The scheduler's argmin pick over (current, target) counts —
    * deterministic tie-break by table name. None when all complete. */
  def pickNextTable(counts: Map[String, (Long, Long)]): Option[String] =
    counts.toSeq
      .map { case (t, (cur, tgt)) => (t, completenessScore(cur, tgt)) }
      .filter(_._2 < 1.0)
      .sortBy { case (t, s) => (s, t) }
      .headOption.map(_._1)

  // ---------------------------------------------------------------------
  // Parent closure — rdbms_subsetter.py :: create_row_in step 2 recursion
  // (SURVEY §2 row 10, §3b)
  // ---------------------------------------------------------------------

  /** Child-first topological edge order (Kahn). Returns the ordered
    * edges and whether the table graph is acyclic: on a DAG one chained
    * pass reaches the fixpoint; cycles (self-FKs) fall back to
    * semi-naive iteration. Deterministic given the declared fks order. */
  private[graft] def orderEdges(graph: FkGraph): (Seq[Fk], Boolean) = {
    val tables = (graph.fks.map(_.childTable) ++ graph.fks.map(_.parentTable)).distinct
    val inDeg = scala.collection.mutable.Map.from(
      tables.map(t => t -> graph.fks.count(_.parentTable == t)))
    val order = scala.collection.mutable.ArrayBuffer[Fk]()
    val queue = scala.collection.mutable.Queue.from(tables.filter(inDeg(_) == 0))
    var settled = 0
    while (queue.nonEmpty) {
      val t = queue.dequeue()
      settled += 1
      graph.fks.filter(_.childTable == t).foreach { fk =>
        order += fk
        inDeg(fk.parentTable) -= 1
        if (inDeg(fk.parentTable) == 0) queue += fk.parentTable
      }
    }
    if (settled == tables.size) (order.toSeq, true) else (graph.fks, false)
  }

  /** Expand per-table PK key sets along all FK edges until no set grows.
    *
    * `seeds` maps table -> DataFrame of (at least) that table's PK
    * columns. Returns table -> distinct PK-column DataFrame for every
    * table reachable via parent edges. Edges are walked in child-first
    * topological intent (the declared `fks` order) and updates applied
    * immediately, so a depth-d DAG converges in one pass + one
    * confirmation pass; cycles (self-FKs) iterate until stable, exactly
    * like the reference's exists-guard terminates its recursion.
    */
  def parentClosure(
      tables: Map[String, DataFrame],
      graph: FkGraph,
      seeds: Map[String, DataFrame],
      materialize: Boolean = true): Map[String, DataFrame] = {
    // LAZY checkpoints: no eager checkpoint job per table up front. Under
    // AQE the call still runs the `distinct` shuffle stage of each seed;
    // the persisted final stage materializes inside the first closure
    // job that consumes it.
    val norm = seeds.map { case (t, rows) =>
      t -> rows.select(graph.pks(t).map(col): _*).distinct().localCheckpoint(false)
    }
    // WAVE 0 — parent demands straight from the seed ROWS. The seeds
    // already carry every FK column, so re-deriving "the seed's FK
    // values" through closureFrom's key-set semi-join (scan + shuffle
    // of the child table per child group) is pure waste — and for
    // childless-in-degree tables (lineitem, events: the FACT tables,
    // i.e. the big scans) it was the only reason they were scanned by
    // the closure at all. After this, closureFrom starts from the
    // post-seed deltas and only semi-joins tables whose key sets the
    // closure itself grew.
    val demandsByParent = scala.collection.mutable.Map[String, Vector[DataFrame]]()
    for ((child, fks) <- graph.fks.filter(fk =>
           seeds.contains(fk.childTable) && tables.contains(fk.parentTable))
           .groupBy(_.childTable)) {
      val allCols = fks.flatMap(_.childCols).distinct
      // multi-edge children share one projected pass (stage dedup
      // materializes the lazy checkpoint once inside the closure job)
      val proj =
        if (fks.size > 1)
          seeds(child).select(allCols.map(col): _*).localCheckpoint(false)
        else seeds(child)
      for (fk <- fks) {
        val needed = proj
          .select(fk.childCols.zip(fk.parentCols).map { case (c, p) =>
            col(c).cast(tables(fk.parentTable).schema(p).dataType).as(p)
          }: _*)
          .na.drop()
        demandsByParent(fk.parentTable) =
          demandsByParent.getOrElse(fk.parentTable, Vector.empty) :+ needed
      }
    }
    var keys: Map[String, DataFrame] = norm
    val deltas = scala.collection.mutable.Map[String, DataFrame]()
    demandsByParent.foreach { case (parent, ds) =>
      val needed = ds.reduce(_ union _).distinct()
      val fresh = (norm.get(parent) match {
        case Some(k) => needed.join(k, graph.pks(parent), "left_anti")
        case None    => needed
      }).localCheckpoint(false)
      keys += parent -> keys.get(parent).map(_.union(fresh)).getOrElse(fresh)
      deltas(parent) = fresh
    }
    closureFrom(tables, graph, keys, deltas.toMap, materialize)
  }

  /** Semi-naive closure: expand only from `deltas` (the keys that are
    * new since the last fixpoint), merging into `existing`. This is the
    * datalog delta-iteration shape — each edge's semi-join touches the
    * *delta*, not the whole key set, so incremental rounds (e.g. after
    * a bounded child pull) cost proportional to what actually changed.
    *
    * Key sets and deltas are materialized with eager localCheckpoint:
    * they are tiny relative to the tables, and without that every
    * action re-executes the union-of-unions lineage — O(passes*edges)
    * recompute that measured 160+ s at sf0.1 and would be catastrophic
    * on a cluster. Checkpointed sets also stay small enough for AQE to
    * broadcast into the semi-joins.
    */
  def closureFrom(
      tables: Map[String, DataFrame],
      graph: FkGraph,
      existing: Map[String, DataFrame],
      deltas: Map[String, DataFrame],
      materialize: Boolean = true): Map[String, DataFrame] = {

    def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(true)
    val (edges, acyclic) = orderEdges(graph)
    var keys = existing
    val spark = tables.values.head.sparkSession

    // Project the demanded parent keys of one edge out of a (possibly
    // shared) child FK projection. NULL FK values demand no parent (the
    // reference skips them).
    def neededFrom(fk: Fk, childFkRows: DataFrame): DataFrame =
      childFkRows
        .select(fk.childCols.zip(fk.parentCols).map { case (c, p) =>
          col(c).cast(tables(fk.parentTable).schema(p).dataType).as(p)
        }: _*)
        .na.drop()
        .distinct()

    // Per-edge fresh keys: a LAZY localCheckpoint persists its final
    // stage on the first action, so count() both truncates lineage and
    // answers the convergence probe (vs eager-checkpoint-then-isEmpty,
    // which adds a job per edge). Under AQE the call itself already
    // runs every shuffle and broadcast stage beneath the checkpoint, so
    // this saves the final-stage pass, not the stage jobs.

    // All edges out of one child consume the same delta, so ONE
    // semi-join scan of the child table (projected to the union of the
    // edges' FK columns, deduped, materialized) serves every edge — at
    // 100 TB that is one lineitem scan instead of three.
    def fkProjection(child: String, fks: Seq[Fk], childDelta: DataFrame,
                     probe: Boolean): DataFrame = {
      val allCols = fks.flatMap(_.childCols).distinct
      val proj = tables(child)
        .join(childDelta, graph.pks(child), "left_semi")
        .select(allCols.map(col): _*)
      // dedup + materialize only when several edges re-read it; a
      // single-edge projection flows straight into neededFrom, whose own
      // distinct makes a pre-distinct here a wasted shuffle. In lazy
      // (DAG) mode the checkpoint materializes inside the single
      // end-of-closure job — within one job Spark's stage graph dedups
      // the shared RDD, so it still computes once.
      if (fks.size > 1) {
        val d = proj.distinct()
        if (probe) ckpt(d) else d.localCheckpoint(false)
      } else proj
    }

    // Group consecutive same-child edges (orderEdges emits a table's
    // outgoing edges together).
    val grouped: Seq[(String, Seq[Fk])] =
      edges.foldLeft(Vector.empty[(String, Vector[Fk])]) {
        case (acc, fk) if acc.nonEmpty && acc.last._1 == fk.childTable =>
          acc.init :+ (fk.childTable, acc.last._2 :+ fk)
        case (acc, fk) => acc :+ ((fk.childTable, Vector(fk)))
      }

    // Expand a WAVE of child groups concurrently. All edge work runs as
    // concurrent Spark jobs (ConcurrentJobs), EXCEPT edges sharing a
    // parent table: those chain sequentially inside one task (the second
    // must anti-join against the first's additions or the key-set union
    // would double-count). Tasks only read `keys` entries for their
    // own parent and return their fresh sets; merging happens on this
    // thread after all finish — no shared mutation across threads. Wall
    // clock per wave drops from Σ(edges) job latencies to max over
    // parents of the per-parent chain.
    def expandWave(wave: Seq[(String, Seq[Fk], DataFrame)],
                   onFresh: (Fk, DataFrame) => Unit,
                   probe: Boolean): Unit = {
      if (wave.isEmpty) return
      // shared per-child FK projections (a ckpt job when >1 edge reads it)
      val projs = ConcurrentJobs.map(spark, wave) { case (child, fks, d) =>
        child -> fkProjection(child, fks, d, probe)
      }.toMap
      val byParent = wave
        .flatMap { case (child, fks, _) => fks.map(fk => fk -> projs(child)) }
        .groupBy(_._1.parentTable).toSeq
      val results = ConcurrentJobs.map(spark, byParent) { case (parent, es) =>
        var known = keys.get(parent)
        val out = Seq.newBuilder[(Fk, DataFrame)]
        for ((fk, proj) <- es) {
          val needed = neededFrom(fk, proj)
          val anti = known match {
            case Some(k) => needed.join(k, graph.pks(parent), "left_anti")
            case None    => needed
          }
          val fresh = anti.localCheckpoint(false)
          // probe mode (cyclic graphs): the count() both materializes
          // the lazy checkpoint and answers the semi-naive emptiness
          // question — one job per edge. Lazy mode (DAGs): NO action
          // at all; everything materializes in the single job at the
          // end of the closure (a DAG needs no convergence probe).
          if (!probe || fresh.count() > 0L) {
            known = Some(known.map(_.union(fresh)).getOrElse(fresh))
            out += ((fk, fresh))
          }
        }
        parent -> out.result()
      }
      for ((parent, freshes) <- results; (fk, fresh) <- freshes) {
        keys += parent -> (keys.get(parent) match {
          case Some(k) => k.union(fresh)
          case None    => fresh
        })
        onFresh(fk, fresh)
      }
    }

    if (acyclic) {
      // Dataflow wave scheduling: a child group is ready once every
      // group that can still grow its delta (an edge INTO the child) has
      // completed — independent branches of the FK DAG expand
      // concurrently instead of one group at a time. Depth = DAG depth,
      // not group count.
      val avail = scala.collection.mutable.Map[String, DataFrame]() ++= deltas
      val producers: Map[String, Set[String]] =
        graph.fks.groupBy(_.parentTable).map { case (p, es) =>
          p -> es.map(_.childTable).toSet
        }
      val pending = scala.collection.mutable.ArrayBuffer.from(grouped)
      val done = scala.collection.mutable.Set[String]()
      while (pending.nonEmpty) {
        val ready = pending.filter { case (c, _) =>
          producers.getOrElse(c, Set.empty).forall(done) }.toSeq
        require(ready.nonEmpty, "group scheduling stuck — graph not acyclic?")
        expandWave(
          ready.flatMap { case (c, fks) => avail.get(c).map(d => (c, fks, d)) },
          (fk, fresh) => avail(fk.parentTable) =
            avail.get(fk.parentTable).map(a => a.union(fresh)).getOrElse(fresh),
          probe = false)
        ready.foreach { case (c, _) => done += c }
        pending.filterInPlace { case (c, _) => !done.contains(c) }
      }
      // The DAG closure above ran no per-edge count barriers, but it is
      // not job-free: under AQE each lazy localCheckpoint ran the
      // shuffle and broadcast stages beneath it at the call. ONE job now
      // persists the final stage of every lazily-checkpointed key set,
      // replacing the per-edge count barriers. Downstream CONCURRENT
      // consumers (child pull) need this; callers whose next step is
      // itself a single materializing job (the top-up loop's measure())
      // pass materialize=false and skip the barrier entirely.
      if (materialize && keys.nonEmpty)
        keys.values.map(_.select(lit(1).as("__m"))).reduce(_ union _).count()
    } else {
      // Cycles: classic semi-naive rounds until no delta survives. A
      // round's deltas hold only keys new to `keys`, so each round adds a
      // key or ends the loop: it stops within the key count.
      var delta = deltas
      while (delta.nonEmpty) {
        val next = scala.collection.mutable.Map[String, DataFrame]()
        for ((child, fks) <- grouped; d <- delta.get(child)) {
          expandWave(Seq((child, fks, d)), (fk, fresh) =>
            next(fk.parentTable) =
              next.get(fk.parentTable).map(a => a.union(fresh)).getOrElse(fresh),
            probe = true)
        }
        delta = next.toMap
      }
    }
    keys
  }

  // ---------------------------------------------------------------------
  // Bounded child pull — rdbms_subsetter.py :: create_row_in step 4
  // (SURVEY §2 row 11)
  // ---------------------------------------------------------------------

  /** At most `k` child rows per parent key, deterministically the first
    * `k` in `orderCols` order (the reference takes an arbitrary LIMIT k;
    * we pin the order — SURVEY §7). Returns the bounded child ROWS —
    * note the testdata's declared lineitem PK is not actually unique, so
    * key-set round-trips would lose the bound; callers needing keys
    * project afterwards. */
  def childTopK(
      child: DataFrame,
      orderCols: Seq[String],
      fk: Fk,
      parentKeys: DataFrame,
      k: Int): DataFrame = {
    val pk = parentKeys.select(fk.parentCols.map(c => col(c).as(s"__p_$c")): _*).distinct()
    val cond = fk.childCols.zip(fk.parentCols)
      .map { case (c, p) => child(c) === pk(s"__p_$p") }
      .reduce(_ && _)
    val w = Window.partitionBy(fk.childCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    child.join(pk, cond, "inner")
      .select(child.columns.map(child(_)): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  // ---------------------------------------------------------------------
  // Full pipeline — rdbms_subsetter.py :: create_subset_in (SURVEY §3b)
  // ---------------------------------------------------------------------

  /** Forced-row predicate for a table: single-column values from
    * `cfg.force` OR'd with composite tuples from `cfg.forceComposite`.
    * Fails loudly when `force` names a composite-PK table — the
    * reference silently dropped those, losing an explicit user request. */
  private def forcedPredicate(cfg: Config, table: String,
                              pkCols: Seq[String]): Option[Column] = {
    cfg.force.get(table).foreach { _ =>
      require(pkCols.size == 1,
        s"--force $table: table has composite PK ${pkCols.mkString("(", ",", ")")}; " +
          "pass full tuples via forceComposite instead")
    }
    val single = cfg.force.get(table).filter(_.nonEmpty)
      .map(vals => col(pkCols.head).isin(vals: _*))
    val composite = cfg.forceComposite.get(table).filter(_.nonEmpty).map { tuples =>
      tuples.map { tup =>
        require(tup.size == pkCols.size,
          s"forceComposite $table: tuple $tup does not match PK $pkCols")
        pkCols.zip(tup).map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)
      }.reduce(_ || _)
    }
    (single, composite) match {
      case (Some(a), Some(b)) => Some(a || b)
      case (a, b)             => a.orElse(b)
    }
  }

  /** What both sides of the size gate start from. `domain` is every
    * table a key set can reach: the included tables plus each parent in
    * `tables` reachable over FK edges (an excluded parent still receives
    * the keys its children demand). `delta` marks a run against a
    * non-empty destination, `seedsClosed` one whose destination the
    * caller vouches is already referentially closed. */
  private[operators] final case class Plan(
      included: Seq[String],
      domain: Seq[String],
      sourceN: Map[String, Long],
      targets: Map[String, Long],
      forced: Map[String, Option[Column]],
      delta: Boolean,
      seedsClosed: Boolean)

  /** Second-run semantics of the reference — rdbms-subsetter pointed at
    * a NON-EMPTY destination (its insert-dedup path, §2a row 9, in its
    * real habitat): rows already in dest are kept, count toward
    * targets, and satisfy closure demands; the result is the DELTA —
    * per-table NEW rows such that dest ∪ delta is referentially closed
    * and at-target. Set-at-a-time shape: dest keys seed the closure
    * (zero fresh sampling up front — the completeness top-up fills
    * exactly each table's shortfall), and materialization anti-joins
    * dest keys back out. `dest` rows need only carry the PK columns. */
  def subsetDelta(
      tables: Map[String, DataFrame],
      graph: FkGraph,
      cfg: Config,
      dest: Map[String, DataFrame],
      rowCounts: Map[String, Long] = Map.empty,
      assumeDestClosed: Boolean = true): Map[String, DataFrame] =
    subsetGated(tables, graph, cfg, rowCounts, destKeys(graph, dest), assumeDestClosed)._1

  /** Distinct PK tuples of each destination table — the `existing` key
    * sets of a delta run. */
  private[graft] def destKeys(graph: FkGraph,
                              dest: Map[String, DataFrame]): Map[String, DataFrame] =
    dest.map { case (t, df) => t -> df.select(graph.pks(t).map(col): _*).distinct() }

  /** Run the whole subsetting pipeline; returns table -> subset rows.
    * Guarantees the reference's referential-integrity postcondition,
    * and (step 6) the reference's completeness guarantee: every table
    * reaches its target count exactly whenever enough source rows
    * exist — hash sampling alone lands near the target only in
    * expectation. */
  def subset(
      tables: Map[String, DataFrame],
      graph: FkGraph,
      cfg: Config,
      rowCounts: Map[String, Long] = Map.empty,
      existing: Map[String, DataFrame] = Map.empty,
      existingClosed: Boolean = false): Map[String, DataFrame] =
    subsetGated(tables, graph, cfg, rowCounts, existing, existingClosed)._1

  /** Which side of the size gates a run took: whether the driver computed
    * the key sets, and whether the written rows are the rows its collect
    * read (else step 7 re-read them from the source). */
  private[graft] final case class Sides(keys: Boolean, rows: Boolean)

  /** [[subset]], also reporting which side of the size gates ran. */
  private[graft] def subsetGated(
      tables: Map[String, DataFrame],
      graph: FkGraph,
      cfg: Config,
      rowCounts: Map[String, Long],
      existing: Map[String, DataFrame],
      existingClosed: Boolean): (Map[String, DataFrame], Sides) = {
    val gated = gatedKeys(tables, graph, cfg, rowCounts, existing, existingClosed)
    val driverRows = gated.toOption.flatMap(_.rows)
    // 7. materialize rows: the driver's collected rows, or a semi-join
    // of the source (delta mode: only rows NOT already in dest)
    val rows = gated.fold(identity, _.keys).map { case (t, k) =>
      val kept = driverRows.fold(tables(t).join(k, graph.pks(t), "left_semi"))(_(t))
      t -> existing.get(t).fold(kept)(e => kept.join(e, graph.pks(t), "left_anti"))
    }
    (rows, Sides(keys = gated.isRight, rows = driverRows.isDefined))
  }

  /** Steps 1–6: the PK key set of every table in the domain, and whether
    * the driver computed them ([[SmallSubset]], when the key columns fit
    * the broadcast budget) instead of the distributed rounds. */
  private[graft] def keySets(
      tables: Map[String, DataFrame],
      graph: FkGraph,
      cfg: Config,
      rowCounts: Map[String, Long] = Map.empty,
      existing: Map[String, DataFrame] = Map.empty,
      existingClosed: Boolean = false): (Map[String, DataFrame], Boolean) =
    gatedKeys(tables, graph, cfg, rowCounts, existing, existingClosed)
      .fold(_ -> false, r => r.keys -> true)

  /** Steps 1–6 on the side of the size gate they fit: the driver's result
    * ([[SmallSubset]]) on the Right, the distributed key sets on the Left. */
  private def gatedKeys(
      tables: Map[String, DataFrame],
      graph: FkGraph,
      cfg: Config,
      rowCounts: Map[String, Long],
      existing: Map[String, DataFrame],
      existingClosed: Boolean): Either[Map[String, DataFrame], SmallSubset.Result] = {
    val included = tables.keys.toSeq.sorted
      .filterNot(t => globMatch(cfg.excludeTables, t))
    // a forced row in a table outside the run (a typo, or an excluded
    // table) would be dropped silently — refuse it, like forcedPredicate
    // refuses single values on a composite PK
    val stray = (cfg.force.keySet ++ cfg.forceComposite.keySet).filterNot(included.contains)
    require(stray.isEmpty,
      s"--force ${stray.toSeq.sorted.mkString(",")}: not an included table " +
        s"(included: ${included.mkString(",")})")

    // Row counts come from parquet footers when the caller has them
    // (metadata-only — no job); df.count() is the fallback.
    val sourceN: Map[String, Long] =
      included.map(t => t -> rowCounts.getOrElse(t, tables(t).count())).toMap
    val targets: Map[String, Long] = included.map { t =>
      val full = globMatch(cfg.fullTables, t)
      t -> targetSize(sourceN(t), cfg.fraction, cfg.logarithmic, full)
    }.toMap
    val domain = scala.collection.mutable.SortedSet(included: _*)
    var grew = true
    while (grew) {
      grew = false
      for (fk <- graph.fks if domain(fk.childTable) && tables.contains(fk.parentTable))
        grew |= domain.add(fk.parentTable)
    }
    // When the caller vouches that `existing` is already referentially
    // closed (subsetDelta's default — the reference's second run likewise
    // assumes dest validity and just inserts), the initial closure is a
    // no-op by construction. Everything ADDED later (child pull, top-up)
    // still re-closes incrementally. Forced rows would re-open the
    // closure question, so this requires no forcing.
    val plan = Plan(included, domain.toSeq, sourceN, targets,
      included.map(t => t -> forcedPredicate(cfg, t, graph.pks(t))).toMap,
      delta = existing.nonEmpty,
      seedsClosed = existing.nonEmpty && existingClosed &&
        cfg.force.isEmpty && cfg.forceComposite.isEmpty)
    val rowsOf = (t: String) => sourceN.getOrElse(t, rowCounts.getOrElse(t, tables(t).count()))
    SmallSubset.run(tables, graph, cfg, plan, existing, rowsOf)
      .toRight(distributedKeys(tables, graph, cfg, plan, existing))
  }

  /** Steps 1–6 as distributed semi-join rounds — the path at any scale. */
  private def distributedKeys(
      tables: Map[String, DataFrame],
      graph: FkGraph,
      cfg: Config,
      plan: Plan,
      existing: Map[String, DataFrame]): Map[String, DataFrame] = {
    val included = plan.included
    val spark = tables.values.head.sparkSession

    // 1–2. seed: per-table deterministic sample at target size + forced rows
    val seeds: Map[String, DataFrame] = included.map { t =>
      val df = tables(t)
      val pkCols = graph.pks(t)
      def withForced(s: DataFrame): DataFrame =
        plan.forced(t).fold(s)(pred => s.union(df.filter(pred)))
      t -> (
        if (plan.delta)
          // delta mode: dest rows ARE the seed; the top-up loop fills
          // each table's shortfall exactly (same law either way), so a
          // fresh up-front sample would only double-pull
          withForced(existing.get(t).fold(df.filter(lit(false)))(
            k => df.join(k, pkCols, "left_semi")))
        else seedCut(plan.targets(t), plan.sourceN(t)).fold(df)(cut =>
          withForced(df.filter(
            pmod(xxhash64(pkCols.map(col): _*), lit(SampleMod)) < lit(cut)))))
    }.toMap

    // 3. parent closure to fixpoint, or straight to the seed keys when
    // they are vouched closed
    var keys =
      if (plan.seedsClosed) {
        val k = seeds.map { case (t, rows) =>
          t -> rows.select(graph.pks(t).map(col): _*).distinct()
            .localCheckpoint(false)
        }
        // one materialization barrier: the child-pull tasks consume
        // these sets CONCURRENTLY and must not race the lazy checkpoint
        if (k.nonEmpty)
          k.values.map(_.select(lit(1).as("__m"))).reduce(_ union _).count()
        k
      } else parentClosure(tables, graph, seeds)

    // 4–5. bounded child pull, then re-close parents (children may
    // demand parents not yet in the subset) — `childRounds` controls how
    // deep the child-of-child expansion goes (the reference recurses but
    // its exists-guard + targets bound it in practice).
    for (pullRound <- 1 to cfg.childRounds) {
      // Bounded child pull per edge. The per-edge pulls are independent,
      // so their (eager) materializations run as CONCURRENT Spark jobs —
      // on a cluster this keeps executors busy instead of serializing
      // 8 window jobs. Only genuinely NEW child keys feed the
      // incremental re-closure (semi-naive deltas), so the second
      // closure costs proportional to what the pull actually added.
      val snapshot = keys
      val pullEdges = graph.fks.filter(fk =>
        snapshot.contains(fk.parentTable) && included.contains(fk.childTable))
      // ALL edges into one child table fuse into a single job: union the
      // per-edge windowed pulls, dedup ONCE, anti-join ONCE, and let the
      // count() materialize the lazy checkpoint — one barrier per child
      // table instead of (window + distinct + anti + count) per edge.
      val pulls = ConcurrentJobs.map(spark, pullEdges.groupBy(_.childTable).toSeq) {
        case (ct, fks) =>
          val pk = graph.pks(ct)
          // project the child to pk + every out-edge FK column BEFORE
          // the windowed pull: everything downstream (key delta,
          // parent demands) reads only those, and un-projected wide
          // columns (events.props at 100 TB) would otherwise ride
          // through the window shuffle for nothing.
          val outFkCols = graph.fks.filter(_.childTable == ct).flatMap(_.childCols)
          val slim = tables(ct)
            .select((pk ++ outFkCols).distinct.map(col): _*)
          val pulled = fks.map(fk =>
              childTopK(slim, pk, fk, snapshot(fk.parentTable), cfg.children))
            .reduce(_ union _)
            .localCheckpoint(false)
          val fresh = (snapshot.get(ct) match {
            case Some(k) => pulled.select(pk.map(col): _*).distinct()
              .join(k, pk, "left_anti")
            case None    => pulled.select(pk.map(col): _*).distinct()
          }).localCheckpoint(false)
          // one job: materializes `pulled` + `fresh`, answers emptiness
          val n = fresh.count()
          // parent demands along EVERY out-edge of the child (not just
          // the pulling edges), straight from the pulled rows
          val demands = graph.fks
            .filter(fk => fk.childTable == ct && tables.contains(fk.parentTable))
            .map { fk =>
              fk.parentTable -> pulled.select(
                fk.childCols.zip(fk.parentCols).map { case (c, p) =>
                  col(c).cast(tables(fk.parentTable).schema(p).dataType).as(p)
                }: _*).na.drop()
            }
          (ct, fresh, n, demands)
      }
      pulls.foreach { case (t, fresh, n, _) =>
        if (n > 0L) keys += t -> keys.get(t).map(_.union(fresh)).getOrElse(fresh)
      }
      // merge per-parent demands (cheap: they read the materialized pull
      // checkpoints), dedup across children, keep only genuinely new keys
      val demandByParent = pulls.flatMap(_._4).groupBy(_._1).toSeq
      val parentFresh = ConcurrentJobs.map(spark, demandByParent) { case (parent, ds) =>
        val need = ds.map(_._2).reduce(_ union _).distinct()
        val fresh = (keys.get(parent) match {
          case Some(k) => need.join(k, graph.pks(parent), "left_anti")
          case None    => need
        }).localCheckpoint(false)
        (parent, fresh, fresh.count())
      }
      val deltas = scala.collection.mutable.Map[String, DataFrame]()
      parentFresh.foreach { case (parent, fresh, n) =>
        if (n > 0L) {
          keys += parent -> keys.get(parent).map(_.union(fresh)).getOrElse(fresh)
          deltas(parent) = fresh
        }
      }
      // the pulled children's own first-hop demands are folded in above,
      // so the closure resumes from the PARENT deltas only — at 100 TB
      // that means no second scan of any child (fact) table.
      // Last round: the measure() job right after this loop is the
      // single materializing consumer of the re-closure's lazy key
      // sets — a separate closure-end barrier would read every set
      // twice (the same fold the top-up loop already does). Earlier
      // rounds keep the barrier: the next round's pull tasks consume
      // the sets CONCURRENTLY and would race the materialization.
      keys = closureFrom(tables, graph, keys, deltas.toMap,
        materialize = pullRound < cfg.childRounds)
    }

    // 6. completeness top-up — the reference's create_subset_in main
    // loop keeps pulling rows for the least-complete table until every
    // completenessScore hits 1. Set-at-a-time analogue: measure each
    // table's shortfall vs target (closure can only OVERfill — never
    // fix an underfill), sample exactly the gap from the not-yet-kept
    // keys (deterministic hash order, TakeOrdered — no full sort), and
    // re-close the additions incrementally. Terminates when every table
    // is at-target or its source is exhausted. Counts are over PK key
    // sets (== rows when the PK is unique; a non-unique PK can
    // overshoot in rows, as any key-closed subsetter must).
    var round = 0
    var exhausted = Set.empty[String]
    var shortfalls = Map.empty[String, Long]
    // ONE union-agg job counts every pending key set at once (each
    // branch reads an already-checkpointed set projected to a tag
    // column) — instead of a driver future + count job per table.
    def measure(): Map[String, Long] = {
      val pending = included.filterNot(exhausted)
      val tagged = pending.flatMap(t => keys.get(t).map(_.select(lit(t).as("__t"))))
      val have: Map[String, Long] =
        if (tagged.isEmpty) Map.empty
        else tagged.reduce(_ union _)
          .groupBy("__t").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      pending.map(t => t -> math.max(0L, plan.targets(t) - have.getOrElse(t, 0L)))
        .filter(_._2 > 0L).toMap
    }
    shortfalls = measure()
    // topUpRounds < 0 = the reference's until-complete semantics: loop
    // while progress is possible (each round either fills a gap or
    // marks its source exhausted, so termination is guaranteed).
    while (shortfalls.nonEmpty &&
           (cfg.topUpRounds < 0 || round < cfg.topUpRounds)) {
      round += 1
      val adds = ConcurrentJobs.map(spark, shortfalls.toSeq) { case (t, gap) =>
        val pk = graph.pks(t)
        val remaining = keys.get(t) match {
          case Some(k) => tables(t).join(k, pk, "left_anti")
          case None    => tables(t)
        }
        val extra = remaining
          .select(pk.map(col): _*).distinct()
          .orderBy(pmod(xxhash64(pk.map(col): _*), lit(TopUpMod)) +: pk.map(col): _*)
          .limit(math.min(gap, Int.MaxValue.toLong).toInt)
          .localCheckpoint(false)
        (t, extra, extra.count())
      }
      val deltas = adds.collect { case (t, extra, n) if n > 0L =>
        if (n < shortfalls(t)) exhausted += t // source can't fill the gap
        keys += t -> keys.get(t).map(_.union(extra)).getOrElse(extra)
        t -> extra
      }.toMap
      exhausted ++= adds.collect { case (t, _, 0L) => t }
      if (deltas.isEmpty) shortfalls = Map.empty
      else {
        // materialize=false: the measure() right after is ONE job that
        // computes (and thereby persists) every pending key set — a
        // separate closure-end barrier would read them all twice.
        keys = closureFrom(tables, graph, keys, deltas, materialize = false)
        shortfalls = measure()
      }
    }
    // every domain table gets a key set, empty where nothing reached it
    plan.domain.map(t => t -> keys.getOrElse(t,
      tables(t).select(graph.pks(t).map(col): _*).filter(lit(false)))).toMap
  }

  // ---------------------------------------------------------------------
  // RI validation — the reference's tested postcondition (SURVEY §2 row 16)
  // ---------------------------------------------------------------------

  /** Per-FK-edge orphan counts: child rows with a non-null FK value that
    * resolves to no parent row, as `(edge, orphans)` ordered by edge.
    * All-zero on a valid subset (and on the full source tables). Edges
    * with an end missing from `tables` are skipped. A destination audit
    * whose key columns fit the broadcast budget runs on the driver
    * instead ([[SmallAudit]], through `SubsetCli.validateDest`).
    *
    * ONE scan per child table serves ALL its outgoing edges: the child's
    * FK projection chains a left join per parent (each against the
    * parent's DISTINCT key set, so 1:≤1 — no row multiplication), a
    * single aggregate counts every edge's orphans at once, and `stack`
    * unpivots to (edge, orphans). At 100 TB this reads lineitem once
    * for its three edges instead of three times. */
  def validateRI(tables: Map[String, DataFrame], graph: FkGraph): DataFrame = {
    val byChild = graph.fks
      .filter(fk => tables.contains(fk.childTable) && tables.contains(fk.parentTable))
      .groupBy(_.childTable).toSeq.sortBy(_._1)
    val perChild = byChild.map { case (childName, fks) =>
      var joined = tables(childName)
        .select(fks.flatMap(_.childCols).distinct.map(col): _*)
      fks.zipWithIndex.foreach { case (fk, i) =>
        // parent keys keep their NATIVE types; the child side casts to
        // the parent's type (int FK -> long PK and the like). A blanket
        // cast("long") would silently orphan every row of a
        // string-keyed edge.
        val parentSchema = tables(fk.parentTable).schema
        val parent = tables(fk.parentTable)
          .select(fk.parentCols.map(c => col(c).as(s"__p${i}_$c")): _*)
          .distinct()
        val cond = fk.childCols.zip(fk.parentCols)
          .map { case (c, p) =>
            joined(c).cast(parentSchema(p).dataType) === parent(s"__p${i}_$p") }
          .reduce(_ && _)
        joined = joined.join(parent, cond, "left_outer")
      }
      // coalesce: sum over an EMPTY child table is NULL, and a damaged
      // dest with a zero-row parquet is exactly what `--validate`
      // audits — report 0 orphans, don't NPE downstream getLong calls
      val orphanCounts = fks.zipWithIndex.map { case (fk, i) =>
        coalesce(sum(when(
          fk.childCols.map(col(_).isNotNull).reduce(_ && _) &&
            col(s"__p${i}_${fk.parentCols.head}").isNull, 1L).otherwise(0L)),
          lit(0L))
          .as(s"__o$i")
      }
      val stackArgs = fks.zipWithIndex
        .map { case (fk, i) => s"'${fk.name}', __o$i" }.mkString(", ")
      joined.agg(orphanCounts.head, orphanCounts.tail: _*)
        .select(expr(s"stack(${fks.size}, $stackArgs) AS (edge, orphans)"))
    }
    // a PARTIAL table map can leave no edge with both sides present
    // (e.g. `--validate` on a dest holding only a parentless slice):
    // that's vacuously orphan-free, not a crash
    if (perChild.isEmpty) {
      val spark = tables.values.head.sparkSession
      import spark.implicits._
      Seq.empty[(String, Long)].toDF("edge", "orphans")
    } else perChild.reduce(_ union _).orderBy("edge")
  }
}
