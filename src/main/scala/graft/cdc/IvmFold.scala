package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared broadcast-merge step of the signed-weight IVM family
  * ([[IncrementalAgg]], [[IncrementalDistinct]], [[IncrementalJoin]]):
  * fold a |Δ|-sized aggregated delta into a base-sized state table
  * WITHOUT shuffling the state.
  *
  * The naive fold — union the delta under the state and re-aggregate —
  * re-shuffles the ENTIRE state every commit (the union erases its
  * partitioning), so maintenance costs as much network as recomputing
  * the view. A join-based fold that hopes to reuse the state's hash
  * partitioning is fragile: once the state has been lineage-cut
  * (localCheckpoint / checkpoint, mandatory for plan-growth control
  * across commits), the LogicalRDD reports unknown partitioning under
  * AQE and the planner re-shuffles anyway — measured, not theorized,
  * in `IvmProbe` (docs/PROBES.md).
  *
  * The merge instead decomposes by which side a key appears on:
  *
  *   updated = state LEFT JOIN broadcast(delta)   — every state row,
  *             counters summed where the delta touched it; a
  *             broadcast-hash probe, state streams in place;
  *   fresh   = delta keys absent from state — bounded by |Δ|:
  *             `hit` = state LEFT SEMI broadcast(delta) (≤ |Δ| rows,
  *             again a broadcast probe), then delta LEFT ANTI
  *             broadcast(hit) — tiny × tiny;
  *   result  = updated ∪ fresh.
  *
  * Total shuffle per fold: the delta's own pre-aggregate. Everything
  * else is a broadcast build of |Δ| rows plus one streaming pass over
  * the cached state — at 100 TB the state never crosses the network.
  * Contract: the delta must be micro-batch sized (it is collected to
  * the driver for the broadcast); for a giant backfill window, rebuild
  * the view from scratch instead — that is the cheaper plan anyway.
  *
  * Callers filter the liveness predicate (m > 0 / n > 0) AFTER the
  * merge — the merge itself is sign-agnostic.
  *
  * Key equality is NULL-SAFE (`<=>`): a null-keyed delta row merges with
  * the null-keyed state row exactly as the union + re-aggregate fold
  * would group them (SQL GROUP BY treats nulls as one group). Round-8
  * advice: plain `=` keys routed every null-keyed delta row to `fresh`,
  * silently duplicating an existing null-keyed state row. Null-safe
  * equality still plans as a broadcast-hash join (the null just becomes
  * a hashable key value), so the shuffle story is unchanged.
  *
  * @param keys     join key column names (present in both inputs)
  * @param counters (stateCol, deltaCol) pairs summed as
  *                 coalesce(state, 0) + coalesce(delta, 0); the output
  *                 keeps the state-side names
  */
object IvmFold {
  def mergeCounts(state: DataFrame, delta: DataFrame, keys: Seq[String],
      counters: Seq[(String, String)]): DataFrame = {
    val st = state.alias("ivm_st")
    val dl = delta.alias("ivm_dl")
    def cond(l: String, r: String) =
      keys.map(k => col(s"$l.$k") <=> col(s"$r.$k")).reduce(_ && _)
    val stKeys = keys.map(k => col(s"ivm_st.$k").as(k))
    val summed = counters.map { case (s, d) =>
      (coalesce(col(s"ivm_st.$s"), lit(0L)) +
        coalesce(col(s"ivm_dl.$d"), lit(0L))).as(s)
    }
    val updated = st.join(broadcast(dl), cond("ivm_st", "ivm_dl"), "left")
      .select(stKeys ++ summed: _*)
    val hit = st.join(broadcast(dl), cond("ivm_st", "ivm_dl"), "left_semi")
      .select(stKeys: _*)
    val d2 = delta.alias("ivm_d2")
    val fresh = d2.join(broadcast(hit.alias("ivm_ht")),
        cond("ivm_d2", "ivm_ht"), "left_anti")
      .select(keys.map(k => col(s"ivm_d2.$k").as(k)) ++
        counters.map { case (s, d) => col(s"ivm_d2.$d").as(s) }: _*)
    updated.unionByName(fresh)
  }
}
