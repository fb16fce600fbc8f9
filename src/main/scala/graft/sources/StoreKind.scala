package graft.sources

import org.apache.spark.sql.SparkSession

import graft.util.{SliceManifest, StoreManifest}

/** One SLICE-STORE kind as the SQL faces see it. The provider's and the
  * catalog's table resolution, `SHOW TABLES`, the manifest lookup behind
  * time travel, the maintenance procedures and the change feeds all
  * read [[StoreKind.All]], so adding a store kind is one entry here.
  *
  * An entry names the kind, its manifest (which carries the slice
  * tables), its snapshot surfaces and its change feed:
  *  - `sliceSurfaces`: each slice table `t` is the snapshot surface
  *    `<kind>.<t>` (its live slice dirs);
  *  - `labelsDir`: the `<kind>.labels` surface, a whole-generation table;
  *  - `feed`: the `changes.<kind>.<t>` feeds exist, and the empty
  *    `purged` feed's schema is the store's key column (plus `slice`)
  *    of this proxy table (the proxy sub, the key);
  *  - `compact`: the store's compaction verb. */
private[sources] final case class StoreKind(name: String,
    manifest: SliceManifest[_ <: StoreManifest.Windowed],
    sliceSurfaces: Boolean,
    labelsDir: Option[(SparkSession, String, Option[Long]) => String],
    feed: Option[(String, String)],
    compact: (SparkSession, String) => Option[Long]) {

  def snapshots: Seq[String] =
    (if (sliceSurfaces) manifest.tables.map(t => s"$name.$t") else Nil) ++
      labelsDir.map(_ => s"$name.labels")

  def feeds: Seq[String] =
    if (feed.isDefined) manifest.tables.map(t => s"changes.$name.$t") else Nil

  def surfaces: Seq[String] = snapshots ++ feeds
}

private[sources] object StoreKind {
  import graft.ann.IndexStore
  import graft.dedup.{LedgerStore, SemLedgerStore}
  import graft.text.PostingsStore
  import graft.warehouse.GraphStore

  val All: Seq[StoreKind] = Seq(
    StoreKind("postings", PostingsStore.Manifest, sliceSurfaces = true,
      None, Some("doclen" -> "id"), PostingsStore.compact),
    StoreKind("ledger", LedgerStore.Manifest, sliceSurfaces = false,
      Some(LedgerStore.labelsDir), Some("sigs" -> "id"), LedgerStore.compact),
    StoreKind("sem", SemLedgerStore.Manifest, sliceSurfaces = false,
      Some(SemLedgerStore.labelsDir), Some("vecs" -> "id"),
      SemLedgerStore.compact),
    StoreKind("graph", GraphStore.Manifest, sliceSurfaces = false,
      None, Some("items" -> "ord"), GraphStore.compact),
    StoreKind("ivf", IndexStore.Manifest, sliceSurfaces = true,
      None, None, IndexStore.compactAssigned))

  /** The kinds with change feeds, by name. */
  val Feeds: Map[String, StoreKind] =
    All.filter(_.feed.isDefined).map(k => k.name -> k).toMap
}
