package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Connected components over a pair graph — the step that turns
  * near-duplicate PAIRS (minhash/simhash/cosine candidates) into dedup
  * GROUPS: every node labeled with the minimum node id reachable through
  * the pair edges, so `label` is the canonical survivor and everything
  * else in the component is a duplicate of it. A pair list alone cannot
  * express this: duplicates are transitive (a~b, b~c => one group
  * {a,b,c}) and any per-pair keep/drop rule double-drops or double-keeps
  * chains.
  *
  * Algorithm: min-label propagation with POINTER JUMPING. Each round
  * every node takes the min of its own label and its neighbors' labels
  * (edge join + union + groupBy-min), then labels shortcut through
  * themselves (`label := label(label)` — the label is itself a node
  * id, so one self-join doubles the distance a minimum has traveled).
  * Propagation alone needs O(diameter) rounds and a 10⁶-node chain
  * would run 10⁶ shuffles; with the jump the round count is
  * O(log diameter) — the hash-to-min bound from the map-reduce CC
  * literature. At 100 TB each round is two shuffles of the
  * (node, label) relation keyed by node/label — never materializing
  * the transitive closure, never quadratic. Labels are ids, so the
  * result is deterministic regardless of partitioning or round count.
  *
  * Convergence probe: one aggregate job per round reads back the
  * round's (row count, `sum(label)`) and decides termination — no
  * separate isEmpty/subtract pass. Under AQE the lazy
  * `localCheckpoint(false)` that freezes the round already runs the
  * round's shuffle and broadcast stages at the call; the probe's job
  * then persists the final stage and folds the aggregate. From round
  * 1 on, rows are only ever added (an endpoint missing from `nodes`
  * enters when a label reaches it) and labels only decrease, so an
  * unchanged (count, sum) pair between two rounds means an unchanged
  * relation, i.e. the fixpoint. With the sum alone, one row's arrival
  * could cancel other rows' label drops and stop the loop early.
  * The sum accumulates as DECIMAL(38,0): a Long sum could overflow at
  * ~10¹² nodes with 64-bit ids.
  *
  * Small graphs skip all of this: [[SmallGraph]] materializes the edge
  * relation once and, when it fits the broadcast budget, the fixpoint
  * finishes on the driver by union-find (see [[onDriver]]) — the same
  * labels in one collect instead of ~13 Spark jobs per round.
  */
object ConnectedComponents {

  /** `edges`: (src, dst) long pairs, treated as undirected. `nodes`:
    * one long id per row (isolated nodes keep their own label). Returns
    * (id, component) with component = min id in the node's component.
    * Endpoints missing from `nodes` are labeled too, by the minimum
    * NODE id of their component; a component with no node emits no
    * rows, and a null endpoint takes the minimum label among its
    * neighbors without joining them. */
  def components(nodes: DataFrame, edges: DataFrame,
                 maxIters: Int = 25): DataFrame = {
    val (e, rows) = SmallGraph.materialize(edges.select(col("src"), col("dst")))
    val longIds = (nodes.schema("id") +: e.schema.fields).forall(_.dataType == LongType)
    val out =
      if (longIds && SmallGraph.fits(e -> rows)) onDriver(nodes, e.collect())
      else distributed(nodes, e, maxIters)
    graft.plans.Checkpoints.unpersist(e)
    out
  }

  /** The fixpoint on the driver: union-find over the collected edges'
    * endpoint ids (sorted, so index order is id order, and every root
    * is its component's smallest endpoint), then one filtered pass over
    * `nodes` against the broadcast endpoint array to learn which
    * endpoints are nodes — a component's label is its smallest member
    * that is. Nodes that are no endpoint keep their own id through the
    * same filter, negated: `nodes` is never collected. */
  private def onDriver(nodes: DataFrame, edges: Array[Row]): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val ends = new Array[Long](2 * edges.length)
    var k = 0
    for (r <- edges; c <- 0 to 1 if !r.isNullAt(c)) { ends(k) = r.getLong(c); k += 1 }
    java.util.Arrays.sort(ends, 0, k)
    var n = 0
    for (i <- 0 until k if n == 0 || ends(i) != ends(n - 1)) { ends(n) = ends(i); n += 1 }
    val ids = java.util.Arrays.copyOf(ends, n)
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val parent = Array.range(0, n)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    for (r <- edges if !r.isNullAt(0) && !r.isNullAt(1)) {
      val a = find(at(r.getLong(0))); val b = find(at(r.getLong(1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val bIds = spark.sparkContext.broadcast(ids)
    val nodeIds = nodes.select(col("id")).as[java.lang.Long].filter(_ != null)
    def isEnd(id: java.lang.Long): Boolean =
      java.util.Arrays.binarySearch(bIds.value, id.longValue) >= 0
    val inNodes = new Array[Boolean](n)
    if (n > 0) nodeIds.filter(isEnd _).collect().foreach(v => inNodes(at(v)) = true)
    val label = Array.fill(n)(-1)
    for (i <- 0 until n) { val root = find(i); if (inNodes(i) && label(root) < 0) label(root) = i }
    def labelOf(i: Int): Int = label(find(i))
    val labeled = (0 until n).filter(labelOf(_) >= 0)
      .map(i => (Option(ids(i)), ids(labelOf(i))))
    // a null endpoint never propagates (no join matches it) but collects
    // the minimum label among its neighbors
    val nullLabel = edges.iterator
      .filter(r => r.isNullAt(0) != r.isNullAt(1))
      .map(r => labelOf(at(r.getLong(if (r.isNullAt(0)) 1 else 0))))
      .filter(_ >= 0).minOption.map(i => (Option.empty[Long], ids(i)))
    val isolated = nodeIds.filter(!isEnd(_)).distinct().toDF("id")
    isolated.select(col("id"), col("id").as("component"))
      .union((labeled ++ nullLabel).toDF("id", "component"))
  }

  /** The distributed rounds over materialized (src, dst) edges. */
  private def distributed(nodes: DataFrame, edges: DataFrame,
                          maxIters: Int): DataFrame = {
    val bidir = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false)
    var comp = nodes.select(col("id"), col("id").as("component"))
      .localCheckpoint(false)
    def probe(df: DataFrame): (Long, Option[java.math.BigDecimal]) = {
      val r = df.agg(count(lit(1)), sum(col("component").cast("decimal(38,0)"))).head()
      (r.getLong(0), Option(r.getDecimal(1)))
    }
    // no probe of round 0: it may hold duplicate and null ids that
    // round 1 folds away, so the first comparison is round 2 vs round 1
    var last = (-1L, Option.empty[java.math.BigDecimal])
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      iter += 1
      // neighbor labels flow along edges; groupBy-min folds them with
      // the node's own label. One shuffle keyed by node id.
      val viaEdges = bidir.join(comp, bidir("src") === comp("id"))
        .select(bidir("dst").as("id"), col("component"))
      val prop0 = comp.union(viaEdges)
        .groupBy("id").agg(min("component").as("component"))
      // r18 — the parent update is skipped in ROUND 1, where it is a
      // provable no-op: comp is still the identity labeling
      // (component = id), so toParent = (c.id, p.component) — exactly
      // prop0's own rows — and the union + second groupBy fold exact
      // duplicates. Skipping it removes one join + union + groupBy from
      // the round with the LARGEST label relation, with round counts
      // unchanged by construction (round-2+ behavior identical; an r18
      // iter>2 gate of the whole deep machinery was also measured —
      // wall-time parity at sf0.1 but +1 round on the sparse/leakage
      // graphs — and rejected; this variant has the win without the
      // round risk). Fixpoint-neutral as ever: both update rules only
      // replace labels with smaller same-component ids.
      val deep = iter > 1
      // hash-to-min parent update (Rastogi et al.): each node also
      // tells its PREVIOUS label about the smaller label it just
      // learned. Plain min-propagation + self-jump degrades toward O(d)
      // rounds on graphs whose ids are uncorrelated with topology —
      // label chains collapse at local-minimum plateaus where
      // label(u) = u, and the true min then crosses each plateau one
      // edge per round (measured: the sf1 cosine near-dup graph took 19
      // improving rounds; a 4096-path with aligned ids takes 8). The
      // parent update makes plateau minima learn directly from every
      // node pointing at them, restoring the O(log d) bound. Labels
      // stay ids of same-component nodes (both halves of the suggestion
      // are reachable), so the fixpoint — min id per component — and
      // the output are unchanged.
      val propagated = if (!deep) prop0 else {
        val toParent = comp.as("c")
          .join(prop0.as("p"), col("c.id") === col("p.id"))
          .select(col("c.component").as("id"), col("p.component").as("component"))
        prop0.union(toParent)
          .groupBy("id").agg(min("component").as("component"))
      }
      // pointer jump: a label is a node id, so re-labeling through the
      // label's own (smaller-or-equal, still-reachable) label shortcuts
      // the hop distance a minimum covers per round. r17: jump through
      // the GRANDPARENT (label(label(label)) — one extra self-join of
      // the small (id,label) relation): depth shrinks ~3x per round
      // instead of 2x, so round count drops from log2(d) to ~log3(d)
      // while each round gains only one comp-sized shuffle. Measured on
      // the sf1 cosine near-dup chain (r17): 20 -> 13 rounds from the
      // grandparent jump alone, 20 -> 6 with the parent update; every
      // round is a fixed scheduling cost at gate SFs, so CC-heavy keys
      // win ~30%. The fixpoint is unchanged (shortcuts never alter
      // reachability), so outputs are bit-identical.
      val parents = propagated
        .select(col("id").as("pid"), col("component").as("pcomp"))
      val jump = parents.as("x")
        .join(parents.select(col("pid").as("gpid"), col("pcomp").as("gcomp")),
          col("x.pcomp") === col("gpid"))
        .select(col("x.pid").as("pid"), col("gcomp").as("pcomp"))
      val prev = comp
      comp = propagated.join(jump, propagated("component") === col("pid"))
        .select(propagated("id"), col("pcomp").as("component"))
        .localCheckpoint(false)
      val now = probe(comp)
      // the probe materialized the new round's checkpoint, so the
      // previous round's blocks are dead — free them now instead of
      // holding O(rounds) copies of the label relation in storage.
      graft.plans.Checkpoints.unpersist(prev)
      converged = now == last
      last = now
    }
    graft.plans.Checkpoints.unpersist(bidir)
    comp
  }

  /** Dedup-group view over components: only nodes whose component has
    * more than one member, with the canonical keeper and group size —
    * the relation a dedup pipeline joins against to drop duplicates. */
  def dupGroups(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val comp = components(nodes, edges)
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)
    comp.join(sizes, "component")
      .select(col("id"), col("component").as("keep_id"), col("group_size"))
  }
}
