package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Checkpoints.CutOps

/** Materialized-JOIN maintenance from change feeds — the join face of
  * [[IncrementalAgg]]'s signed-weight algebra, completing the
  * select-project-join-aggregate IVM story: with aggregates (q106 /
  * IncrementalAgg) and joins both maintainable, any SPJA view follows
  * by composition.
  *
  * State is three bag tables with explicit multiplicities:
  * `a`(key, av, m), `b`(key, bv, m), and the materialized
  * `joined`(key, av, bv, m). A change window carries insert rows at
  * weight +1 and delete rows at −1 (updates are their delete+insert
  * pair). The delta of the join is the standard bilinear expansion
  *
  *   Δ(A ⋈ B) = ΔA ⋈ B ∪ A ⋈ ΔB ∪ ΔA ⋈ ΔB
  *
  * with multiplicities MULTIPLYING (signs included), then the three
  * tables fold by addition and rows at m ≤ 0 drop out. Every join in
  * the step is DELTA-sized on one side (the ΔA⋈ΔB corner on both) —
  * the full fact tables are never re-joined, which is the entire
  * economics of incremental view maintenance at 100 TB: work per
  * commit is |Δ| · matching-state, not |A|·|B|.
  *
  * The invariant CaptureApplySpec pins: after every window, `joined`
  * equals a from-scratch multiplicity join of the live sides.
  * Exact-integer payloads only (the IncrementalAgg contract) — IEEE
  * payloads would make incremental vs recomputed bit-diverge.
  */
object IncrementalJoin {

  final case class State(a: DataFrame, b: DataFrame, joined: DataFrame)

  private def bag(rows: DataFrame, key: Column, v: Column, vName: String,
      w: Column): DataFrame =
    rows.select(key.as("key"), v.as(vName), w.as("m"))
      .groupBy(col("key"), col(vName))
      .agg(sum(col("m")).as("m"))
      .filter(col("m") =!= 0L)

  /** Seed the state from full initial sides (weight +1 per row). */
  def seed(aRows: DataFrame, aKey: Column, aVal: Column,
      bRows: DataFrame, bKey: Column, bVal: Column): State = {
    val a = bag(aRows, aKey, aVal, "av", lit(1L))
    val b = bag(bRows, bKey, bVal, "bv", lit(1L))
    val joined = a.join(b.withColumnRenamed("m", "mb"), Seq("key"))
      .select(col("key"), col("av"), col("bv"), (col("m") * col("mb")).as("m"))
    State(a.cutLineage(), b.cutLineage(), joined.cutLineage())
  }

  /** Fold one change window (CDF rows with `_change_type` on either or
    * both sides; pass an empty frame for a quiet side). */
  def applyDelta(st: State, aChanges: DataFrame, bChanges: DataFrame,
      aKey: Column, aVal: Column, bKey: Column, bVal: Column): State = {
    val w = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val dA = bag(aChanges, aKey, aVal, "av", w)
    val dB = bag(bChanges, bKey, bVal, "bv", w)
    def cross(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r.withColumnRenamed("m", "mb"), Seq("key"))
        .select(col("key"), col("av"), col("bv"),
          (col("m") * col("mb")).as("m"))
    // The delta sides broadcast: a change window is micro-batch sized
    // by contract, so ΔA⋈B / A⋈ΔB are broadcast-hash probes of the
    // cached state — the base bags never shuffle for the join either.
    // (For a giant backfill window, drop the hint and let AQE pick.)
    val dM = cross(broadcast(dA), st.b)
      .unionByName(cross(st.a, broadcast(dB)))
      .unionByName(cross(dA, broadcast(dB)))
    // BROADCAST-MERGE fold (IvmFold.mergeCounts), not union +
    // re-aggregate: the union form re-shuffles each base-sized bag
    // every commit; the merge streams the bags through broadcast
    // probes of the delta — only the delta's own aggregate shuffles
    // (rationale and measurements: IvmFold scaladoc / IvmProbe in
    // docs/PROBES.md).
    def fold(state: DataFrame, delta: DataFrame, cols: Seq[String]): DataFrame =
      IvmFold.mergeCounts(state,
          delta.groupBy(cols.map(col): _*).agg(sum(col("m")).as("dm")),
          cols, Seq("m" -> "dm"))
        .filter(col("m") > 0L)
    State(
      fold(st.a, dA, Seq("key", "av")).cutLineage(),
      fold(st.b, dB, Seq("key", "bv")).cutLineage(),
      fold(st.joined, dM, Seq("key", "av", "bv")).cutLineage())
  }
}
