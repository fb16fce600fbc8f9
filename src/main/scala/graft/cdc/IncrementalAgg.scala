package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Checkpoints.CutOps

/** Materialized-aggregate maintenance from a change feed — the signed-
  * weight generalization q106 promises ("updates/deletes generalize by
  * signed ±1 weights on the same combine"), made real against the merge
  * table's CDF.
  *
  * The maintained state is a (key, n, tot) aggregate table. Each change
  * window contributes insert rows at weight +1 and delete rows at
  * weight −1 (an update is its delete+insert pair, so its net effect is
  * exactly the value delta); SUM/COUNT states merge by addition, so one
  * union + re-aggregate applies the window. Work per step is the change
  * window plus the agg table — a few rows per group, never the fact
  * table. Groups whose count reaches zero drop out, keeping the state
  * table tight (and equal to a from-scratch groupBy of the live rows,
  * which is the maintenance invariant CaptureApplySpec pins).
  */
object IncrementalAgg {

  /** Fold one [[Apply.changesBetween]] window into the aggregate state.
    * `state`: (key, n, tot). `changes`: CDF rows with `_change_type`.
    * `value` must be an exact-integer measure (cents) — IEEE addition
    * would drift between the incremental and recomputed paths.
    *
    * BROADCAST-MERGE fold ([[IvmFold.mergeCounts]]), not union +
    * re-aggregate: the union form re-shuffles the whole base-sized agg
    * table every commit; the merge streams the state through broadcast
    * probes of the |Δ|-sized delta partials — only the delta aggregate
    * itself shuffles (rationale and measurements: IvmFold scaladoc /
    * IvmProbe in docs/PROBES.md). */
  def applyDelta(state: DataFrame, changes: DataFrame, key: Column,
      value: Column): DataFrame = {
    val w = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val delta = changes
      .select(key.as("key"), w.as("w"), value.as("v"))
      .groupBy(col("key"))
      .agg(sum(col("w")).as("dn"), sum(col("w") * col("v")).as("dtot"))
    IvmFold.mergeCounts(state, delta, Seq("key"),
        Seq("n" -> "dn", "tot" -> "dtot"))
      .filter(col("n") > 0)
  }

  /** Maintain the aggregate across a merge table's whole commit range:
    * seed from the first snapshot, then fold each change window —
    * the offline equivalent of a foreachBatch maintainer that persists
    * the agg table per batch (the localCheckpoint per step is that
    * write's lineage cut). */
  def fromMergeTable(spark: SparkSession, tableDir: String, key: Column,
      value: Column): DataFrame = {
    val cs = Apply.commits(spark, tableDir).sorted
    require(cs.nonEmpty, s"$tableDir has no commits")
    var state = Apply.readMergeTableAt(spark, tableDir, cs.head)
      .select(key.as("key"), value.as("v"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
    cs.sliding(2).foreach {
      case Seq(a, b) =>
        state = applyDelta(state,
          Apply.changesBetween(spark, tableDir, a, b), key, value)
          .cutLineage()
      case _ => ()
    }
    state
  }
}
