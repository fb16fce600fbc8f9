package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{SliceManifest, StoreManifest}
import graft.util.StoreManifest.{maskOlder, tombstones, window}

/** Persisted GRAPH SUBSTRATE with incremental maintenance — the disk
  * face of q239's maintained co-purchase edge state, completing the
  * maintained-substrate set on the graph side (text ledger →
  * [[graft.dedup.LedgerStore]], semantic ledger → SemLedgerStore, ANN →
  * IndexStore, retrieval → [[graft.text.PostingsStore]]; the edge table
  * every graph-analytics query probes → here).
  *
  * Layout — a DELTA-STORE (LSM-shaped): pair COUNTS are a merge, not an
  * append, so a fold persists only its Δ-counts slice and readers merge
  * at load; [[compact]] folds the window into one pre-aggregated slice.
  * {{{
  *   dir/_graft_graph_meta.json  <- pointer (batch ledger + slice window)
  *   dir/items/slice=S/          <- parquet (ord, item)   (the fold's lines)
  *   dir/pairs/slice=S/          <- parquet (u, v, dn)    (the fold's Δ-counts)
  * }}}
  *
  * A fold runs the bilinear expansion ([[GraphQueries.edgeDelta]]:
  * base ⋈ Δ restricted to touched baskets ∪ C(Δ, 2)) against the LIVE
  * items store and appends both slices before one atomic pointer
  * commit; write volume tracks the delta. Readers apply the
  * co-occurrence threshold at probe time (state keeps all counts — a
  * pair at 1 must be able to cross the floor later). Every write verb
  * commits through the one ledgered slice write
  * ([[graft.util.SliceManifest.write]]), so replays are no-ops via its
  * batch-id ledger. Contract: a line item folds exactly once
  * (disjoint delta batches — the LedgerStore/PostingsStore identity
  * rule).
  */
object GraphStore {

  // v3 (round 11): + commit id / history archive.
  // v4 (round 13): SLICE-ORDERED tombstones — a purged/slice=S basket
  // masks only item slices < S, so [[upsertOrders]] can retire a
  // basket's old lines and land its refreshed ones in ONE atomic
  // commit (the ivf-v4 / postings-v3 rule). Pure purge flows read
  // identically (a purge's tombstone is always newer than the lines it
  // targets); a pre-round-13 dir fails loudly as a format mismatch.
  private val Format = "graft-graph-v4"

  /** v2: `prefixes` — the basket-hash partition fan of the items store
    * (`items/slice=S/op=P`, op = hash(ord) mod prefixes; frozen at seed
    * like every store layout constant). A fold's base-side read prunes
    * to its delta's touched prefixes — the LedgerStore bucket-prefix
    * trick on the basket axis — so the "base side probes only the
    * touched baskets" claim is static partition pruning, not a
    * corpus-wide scan followed by a semi-join. */
  /** Since round 11 every meta also carries `commit` — the monotone
    * snapshot id behind [[loadAt]]/[[commits]] time travel (the
    * [[graft.dedup.LedgerStore]] protocol). */
  final case class Meta(format: String, batch: Long, prefixes: Int,
      sliceBase: Long, slices: Long, commit: Long)
      extends StoreManifest.Windowed

  private[graft] val Manifest = new SliceManifest[Meta](
    "_graft_graph_meta.json", Format, "graph", Seq("items", "pairs", "purged"))

  /** Basket-hash partition key: pure function of the basket id. */
  private def opOf(ord: Column, prefixes: Int): Column =
    pmod(xxhash64(ord), lit(prefixes.toLong)).cast("int")

  /** The merged pair counts (u, v, n_ab) — the live Δ-slices summed. */
  private def livePairs(spark: SparkSession, dir: String,
      m: Meta): DataFrame =
    window(spark, s"$dir/pairs", m)
      .groupBy(col("u"), col("v")).agg(sum(col("dn")).as("n_ab"))
      .filter(col("n_ab") =!= 0L)

  /** The live basket lines (ord, item), optionally pruned to the
    * basket-hash partitions `ops`. Since v4 a tombstone (the
    * [[purgeOrders]]/[[upsertOrders]] ledger) masks only item slices
    * OLDER than it, so an upsert's re-landed basket (written above its
    * own tombstone) stays visible. */
  private def liveItems(spark: SparkSession, dir: String, m: Meta,
      ops: Option[Seq[Int]] = None): DataFrame = {
    val items = window(spark, s"$dir/items", m)
    maskOlder(ops.fold(items)(o => items.filter(col("op").isin(o: _*))),
      "ord", tombstones(spark, s"$dir/purged", "ord", m))
      .select(col("ord"), col("item"))
  }

  /** The fold's BASE-side read, pruned to the prefixes a delta's
    * baskets touch (≤ `prefixes` driver ints — bounded metadata): every
    * line of a basket lives in ONE `op` partition, so the prune is
    * lossless and the scan volume tracks the delta's basket spread, not
    * the corpus (GraphStoreSpec pins the PartitionFilters plan). */
  private[warehouse] def baseItemsFor(spark: SparkSession, dir: String,
      deltaOrds: DataFrame): DataFrame = {
    val m = Manifest.get(spark, dir)
    liveItems(spark, dir, m, Some(deltaOrds.select(
        opOf(col(deltaOrds.columns.head), m.prefixes).as("op"))
      .distinct().collect().map(_.getInt(0)).toSeq))
  }

  def meta(spark: SparkSession, dir: String): Option[Meta] =
    Manifest.read(spark, dir)

  /** Land basket `lines` (ord, item) as slice `s`: their Δ-pairs
    * against the live `base` lines ([[GraphQueries.edgeDelta]]) and the
    * lines themselves, partitioned by basket hash. */
  private def landLines(dir: String, base: DataFrame, lines: DataFrame,
      prefixes: Int)(s: Long): Unit = {
    GraphQueries.edgeDelta(base, lines, "ord", "item")
      .write.mode("overwrite").parquet(s"$dir/pairs/slice=$s")
    lines.withColumn("op", opOf(col("ord"), prefixes))
      .write.mode("overwrite").partitionBy("op")
      .parquet(s"$dir/items/slice=$s")
  }

  /** Fold one batch of NEW basket lines (ord, item) into the store:
    * Δ-pair expansion against the live items, two appended slices, one
    * ledgered commit ([[SliceManifest.write]]). A purged basket stays
    * purged through a plain fold (the tombstone screen — re-folding its
    * lines would add pair counts the hidden lines no longer back). Empty
    * batches and crash replays are no-ops. */
  def maintainBatch(batch: DataFrame, ord: Column, item: Column,
      dir: String, batchId: Long = -1L,
      prefixes: Int = 64): Option[Long] = {
    val spark = batch.sparkSession
    // purge/fold/compact serialize on the per-(store, dir) monitor
    // (round-11 verdict #5); cross-process writers are fenced by the lease
    graft.util.Maintenance.withLeasedWriteLock("GraphStore", spark, dir) {
      val m = Manifest.read(spark, dir).getOrElse(
        Meta(Format, -1L, prefixes, sliceBase = 0L, slices = 0L, commit = -1L))
      require(m.prefixes == prefixes,
        s"graph store at $dir was seeded with prefixes=${m.prefixes}; " +
          s"refusing a mismatched fold ($prefixes) — one store, one layout")
      Manifest.write(spark, dir, m, batchId) {
        val items = batch.select(ord.as("ord"), item.as("item"))
        Manifest.Write(land = Manifest.screen(spark, dir, m, items, "ord")
          .map { lines =>
            val base =
              if (m.slices == m.sliceBase) lines.limit(0) // no live items yet
              else baseItemsFor(spark, dir, lines.select(col("ord")))
            landLines(dir, base, lines, prefixes)
          })(_ => m)
      }.map(_.slices - 1)
    }
  }

  /** Load the current state: (live items, MERGED pair counts (u, v,
    * n_ab) — the Δ-slices aggregated; the read-side merge is the
    * delta-store trade [[compact]] amortizes). Readers apply their
    * co-occurrence floor on n_ab. */
  def load(spark: SparkSession, dir: String): (DataFrame, DataFrame, Meta) = {
    val m = Manifest.get(spark, dir)
    (liveItems(spark, dir, m), livePairs(spark, dir, m), m)
  }

  /** Committed snapshot ids available for [[loadAt]], ascending. */
  def commits(spark: SparkSession, dir: String): Seq[Long] =
    Manifest.commits(spark, dir)

  /** The archived manifest of snapshot `commit`. */
  def metaAt(spark: SparkSession, dir: String, commit: Long): Meta =
    Manifest.at(spark, dir, commit)

  /** TIME-TRAVEL [[load]] — the graph substrate AS OF a committed
    * snapshot id (items and merged pair counts resolved through the
    * archived manifest's slice window): a pre-purge snapshot still sees
    * the purged baskets while its slices survive. Fails loudly once
    * [[vacuumSlices]] retired the window — the fail-closed
    * [[graft.cdc.Apply.readMergeTableAt]] contract. */
  def loadAt(spark: SparkSession, dir: String,
      commit: Long): (DataFrame, DataFrame, Meta) = {
    val m = metaAt(spark, dir, commit)
    Manifest.requireReadable(spark, dir, m, s"snapshot $commit")
    (liveItems(spark, dir, m), livePairs(spark, dir, m), m)
  }

  /** Merge the live window into ONE slice per store — the pair slice
    * lands PRE-AGGREGATED, so post-compact loads skip the read-side
    * merge for everything up to the compaction point. Atomic window
    * advance; ledger unchanged; superseded slices stay until
    * [[vacuumSlices]]. */
  def compact(spark: SparkSession, dir: String): Option[Long] =
    Manifest.compact(spark, dir, "GraphStore") { (m, merged) =>
      window(spark, s"$dir/pairs", m)
        .groupBy(col("u"), col("v")).agg(sum(col("dn")).as("dn"))
        .filter(col("dn") =!= 0L)
        .write.mode("overwrite").parquet(s"$dir/pairs/slice=$merged")
      liveItems(spark, dir, m)
        .withColumn("op", opOf(col("ord"), m.prefixes))
        .write.mode("overwrite").partitionBy("op")
        .parquet(s"$dir/items/slice=$merged")
    }

  /** Deferred slice GC below the current window base
    * ([[SliceManifest.vacuum]]). */
  def vacuumSlices(spark: SparkSession, dir: String): Int =
    Manifest.vacuum(spark, dir)

  /** DECREMENTAL substrate maintenance — remove whole BASKETS (the
    * user-data purge unit: every pair lives within one basket, so a
    * basket's removal is self-contained): [[upsertOrders]] with no
    * upserts and no batch id ([[SliceManifest.purge]]) — one NEGATIVE
    * Δ-count slice cancels the purged baskets' pairs in the read-side
    * merge, and the tombstone filters their lines from every items read.
    * [[compact]] then makes the removal physical. No-op for
    * absent/already-purged baskets. Returns the slice id. */
  def purgeOrders(spark: SparkSession, dir: String,
      ords: DataFrame): Option[Long] =
    Manifest.purge(spark, dir, "GraphStore")(_ => upsertOrders(ords.limit(0),
      col(ords.columns.head), lit(0L), ords, dir))((b, _) => b.slices)

  /** BASKET REFRESH (round 13) — the graph store's cell of the upsert
    * matrix: when a warehouse order CHANGES (lines added/removed), the
    * co-purchase graph must retire the basket's old pairs and land its
    * new ones atomically. The delta-store layout makes this pure
    * differential algebra in ONE ledgered commit
    * ([[SliceManifest.write]]): the tombstone slice also carries the
    * NEGATIVE Δ-pairs cancelling the retired lines; the data slice
    * above it carries the new lines and their POSITIVE Δ-pairs
    * (replacement semantics — the new basket pairs against itself
    * only, its old lines being retired in the same commit). Summing
    * the pairs feed therefore keeps maintaining exact edge weights
    * through updates, with nothing new for consumers to learn.
    * `removeOrds` deletes baskets outright; an ord in both re-lands
    * (the upsert wins); previously-purged baskets re-enter through an
    * upsert. `upserts` carries (ord, item) LINES — exact duplicate
    * lines collapse (a basket is a line SET here; both engines and the
    * oracle must agree on multiplicity, and at-least-once producers
    * re-deliver). Returns the first slice written (None for replays /
    * no-op batches). */
  def upsertOrders(upserts: DataFrame, ord: Column, item: Column,
      removeOrds: DataFrame, dir: String, batchId: Long = -1L)
      : Option[Long] = {
    val spark = upserts.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("GraphStore", spark, dir) {
      val m = Manifest.read(spark, dir).getOrElse(sys.error(
        s"no committed graph store at $dir — upsertOrders updates an " +
          "existing store; seed with maintainBatch first"))
      Manifest.write(spark, dir, m, batchId) {
        val lines = upserts.select(ord.as("ord"), item.as("item"))
          .distinct().localCheckpoint(true)
        // retire the LIVE baskets among incoming/removed — absent or
        // already-purged ords need no tombstone (their re-land, if any,
        // is a plain insert above the existing mask)
        val targets = lines.select(col("ord"))
          .unionByName(removeOrds.select(removeOrds.columns.head).toDF("ord"))
          .distinct()
          .join(liveItems(spark, dir, m).select(col("ord")), Seq("ord"),
            "left_semi")
          .localCheckpoint(true)
        Manifest.Write(retire = Some(targets),
          withTombstone = { s =>
            // pruned read: the retired baskets' prefixes only
            val gone = baseItemsFor(spark, dir, targets)
              .join(targets, Seq("ord"), "left_semi").localCheckpoint(true)
            GraphQueries.edgeDelta(gone.limit(0), gone, "ord", "item")
              .select(col("u"), col("v"), (-col("dn")).as("dn"))
              .write.mode("overwrite").parquet(s"$dir/pairs/slice=$s")
          },
          land = Option.when(!lines.isEmpty)(
            landLines(dir, lines.limit(0), lines, m.prefixes)))(_ => m)
      }.map(_ => m.slices)
    }
  }

  /** The warehouse→GRAPH cascade step: ONE reduced `changes.merge`
    * window into [[upsertOrders]] ([[graft.util.Cascade.graphFollower]])
    * — order updates refresh their baskets atomically, REMOVEs and
    * `purgeKeys` compliance deletions cancel their pairs, exactly-once
    * via the batch ledger. `itemsOf` maps a feed row to its item ARRAY
    * (the order's basket). A MODIFY whose basket is EMPTY or NULL
    * explodes to zero lines, so its ord would reach [[upsertOrders]] in
    * neither upserts nor removeOrds and its old pairs would silently
    * stay live (ADVICE r13) — the verb's contract is "sets the id's
    * current state", so empty-basket keys are routed into removeOrds and
    * retired in the same commit. */
  private[graft] def applyFeedWindow(ups: DataFrame, rem: DataFrame,
      dir: String, itemsOf: Column, batchId: Long): Unit = {
    val keyed = ups.select(col("_key").as("ord"), itemsOf.as("items"))
    val emptied = keyed
      .filter(col("items").isNull || size(col("items")) === 0)
      .select(col("ord"))
    upsertOrders(
      keyed.select(col("ord"), explode(col("items")).as("item")),
      col("ord"), col("item"),
      rem.toDF("ord").unionByName(emptied), dir, batchId = batchId)
    ()
  }

  /** The committed snapshot id produced by LEDGERED batch `batchId`
    * (see [[StoreManifest.commitForBatch]]). */
  def commitForBatch(spark: SparkSession, dir: String,
      batchId: Long): Long =
    Manifest.commitForBatch(spark, dir, batchId)
}
