package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{count, lit}

/** Size gate between a distributed plan and a finish on the driver:
  * pick the execution strategy from the measured size of the input at
  * run time. It gates the iterative graph operators (connected
  * components, label propagation), the subsetter's key sets and rows
  * ([[SmallSubset]]) and its referential-integrity audit ([[SmallAudit]]).
  *
  * Every distributed fixpoint round, closure wave or per-edge join is a
  * handful of Spark jobs, so an input of a few hundred or thousand rows
  * pays seconds of scheduling for microseconds of work. The gate compares
  * rows × the planner's per-row size estimate against
  * `spark.sql.autoBroadcastJoinThreshold` — the budget Spark already
  * uses to ship a relation to every task, so a relation under it is by
  * the engine's own standard cheap to hold on the driver. Under it the
  * caller collects the rows and finishes on the driver; over it the
  * distributed plan runs. The graph operators count their edges by
  * materializing them once ([[materialize]]) and run the distributed
  * rounds from the same materialized edges; the subsetter and the audit
  * take row counts from metadata (parquet footers, JDBC `COUNT(*)`). A
  * threshold ≤ 0 turns the driver side off. No option of its own: one
  * existing Spark setting and the input's size decide.
  */
private[graft] object SmallGraph {

  /** `edges` materialized by an eager local checkpoint, with its row
    * count observed inside the same job (no separate count pass). */
  def materialize(edges: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val cp = edges.observe(rows, count(lit(1)).as("n")).localCheckpoint(eager = true)
    (cp, rows.get("n").asInstanceOf[Long])
  }

  /** Whether relations of the given row counts fit the broadcast budget
    * together (Σ rows × planner row size). */
  def fits(parts: (DataFrame, Long)*): Boolean = {
    val budget = parts.head._1.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    budget > 0 && parts.map { case (df, rows) =>
      BigInt(rows) * EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output)
    }.sum <= budget
  }
}
