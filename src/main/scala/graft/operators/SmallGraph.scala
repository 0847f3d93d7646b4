package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{count, lit}

/** Size gate between a distributed plan and a finish on the driver:
  * pick the execution strategy from the measured size of the input at
  * run time. It gates the iterative graph operators (connected
  * components, label propagation), the subsetter's key sets and rows
  * ([[SmallSubset]]), its referential-integrity audit ([[SmallAudit]])
  * and the prefix-filtered exact Jaccard pair tier ([[SmallJaccard]]).
  *
  * Every distributed fixpoint round, closure wave, per-edge join or
  * candidate→verify plan is a handful of Spark jobs, so an input of a
  * few hundred or thousand rows pays seconds of scheduling for
  * microseconds of work. The gate compares rows × the planner's per-row
  * size estimate against `spark.sql.autoBroadcastJoinThreshold` — the
  * budget Spark already uses to ship a relation to every task, so a
  * relation under it is by the engine's own standard cheap to hold on
  * the driver. Under it the caller collects the rows and finishes on the
  * driver; over it the distributed plan runs. The graph operators and
  * the Jaccard tier count their input by materializing it once
  * ([[materialize]]) and run the distributed rounds from the same
  * materialization; the subsetter and the audit take row counts from
  * metadata (parquet footers, JDBC `COUNT(*)`). A threshold ≤ 0 turns
  * the driver side off. No option of its own: one existing Spark
  * setting and the input's size decide.
  */
private[graft] object SmallGraph {

  /** `rel` materialized by an eager local checkpoint, with `rows` (its
    * row count unless given) observed inside the same job (no separate
    * count pass). */
  def materialize(rel: DataFrame, rows: Column = count(lit(1))): (DataFrame, Long) = {
    val obs = Observation()
    val cp = rel.observe(obs, rows.as("n")).localCheckpoint(eager = true)
    (cp, obs.get("n").asInstanceOf[Long])
  }

  /** Whether relations of the given row counts fit the broadcast budget
    * together (Σ rows × planner row size). */
  def fits(parts: (DataFrame, Long)*): Boolean =
    fitsBytes(parts.head._1.sparkSession, parts.map { case (df, rows) =>
      BigInt(rows) * EstimationUtils.getSizePerRow(df.queryExecution.analyzed.output)
    }.sum)

  /** Whether `bytes` fit the broadcast budget. */
  def fitsBytes(spark: SparkSession, bytes: BigInt): Boolean = {
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    budget > 0 && bytes <= budget
  }
}
