package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Checkpoints.CutOps

/** Materialized COUNT(DISTINCT) maintenance from a change feed — the
  * distinct face of the signed-weight IVM family ([[IncrementalAgg]]
  * for SUM/COUNT, [[IncrementalJoin]] for joins). DISTINCT is the one
  * aggregate the SPJA algebra does NOT close over by simple addition:
  * a distinct count is not a sum of per-window distinct counts, and a
  * delete may or may not decrement it depending on whether OTHER live
  * rows still carry the value. The classical fix (Gupta & Mumick's
  * counting algorithm) is maintained here verbatim: keep the support
  * bag (key, value, multiplicity); a value contributes to the distinct
  * count while its multiplicity is positive, so the count is exactly
  * derivable — and a delete decrements it only when the multiplicity
  * hits zero.
  *
  * State size is the number of LIVE DISTINCT (key, value) pairs — the
  * same asymptotic footprint any exact distinct computation carries —
  * and each fold touches |Δ| + matching-state rows, never the fact
  * table. At 100 TB the bag is hash-partitioned on (key, value); a
  * change window shuffles only its own delta bag into that layout.
  */
object IncrementalDistinct {

  /** Fold one change window into the support bag. `state`: (key, value,
    * m). `changes`: CDF rows with `_change_type` (insert/delete; an
    * update is its delete+insert pair). Pairs at m ≤ 0 drop out, so the
    * bag stays exactly the live multiset's support.
    *
    * BROADCAST-MERGE fold ([[IvmFold.mergeCounts]]), not a union +
    * re-aggregate: the union form erases the state's partitioning and
    * re-SHUFFLES the entire base-sized bag on every commit — a
    * base-sized exchange per fold is exactly the cost IVM exists to
    * avoid (and checkpointed state cannot be relied on to keep its
    * partitioning for a join-based fold either: LogicalRDD under AQE
    * reports it unknown, measured by IvmProbe, docs/PROBES.md). The
    * merge streams the cached state through two broadcast-hash probes
    * of the tiny delta — the only exchange in the whole fold is the |Δ|-sized
    * delta aggregate. IvmProbe: ~2k shuffled records per fold vs ~N
    * for union/re-aggregate at any base size. */
  def applyDelta(state: DataFrame, changes: DataFrame, key: Column,
      value: Column): DataFrame = {
    val w = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val delta = changes
      .select(key.as("key"), value.as("value"), w.as("m"))
      .groupBy(col("key"), col("value"))
      .agg(sum(col("m")).as("dm"))
    IvmFold.mergeCounts(state, delta, Seq("key", "value"), Seq("m" -> "dm"))
      .filter(col("m") > 0)
  }

  /** Seed the bag from a full snapshot (weight +1 per row). */
  def seed(rows: DataFrame, key: Column, value: Column): DataFrame =
    rows.select(key.as("key"), value.as("value"))
      .groupBy(col("key"), col("value"))
      .agg(count(lit(1)).as("m"))

  /** The maintained answer: per-key distinct-value count and live row
    * count, both exactly derivable from the bag. */
  def distinctCounts(state: DataFrame): DataFrame =
    state.groupBy(col("key"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("m")).as("n_rows"))

  /** Maintain the bag across a merge table's whole commit range — the
    * [[IncrementalAgg.fromMergeTable]] shape: seed from the first
    * snapshot, fold each change window, lineage-cut per step. */
  def fromMergeTable(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, key: Column, value: Column): DataFrame = {
    val cs = Apply.commits(spark, tableDir).sorted
    require(cs.nonEmpty, s"$tableDir has no commits")
    var state = seed(Apply.readMergeTableAt(spark, tableDir, cs.head),
      key, value)
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
