package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.util.{Generations, SliceManifest, StoreManifest}
import graft.util.StoreManifest.{maskOlder, tombstones, window}

/** Persisted TEXT DEDUP LEDGER with incremental maintenance — the
  * [[graft.ann.IndexStore]] discipline applied to the repo's most-probed
  * maintained state (the q75/q130 pairs→components pipeline): the
  * per-document canonical labeling and the MinHash signature store live
  * on disk as generation-stamped parquet, a batch of NEW documents folds
  * in with DELTA-SIZED work (delta shingling → delta pairs against the
  * stored signatures, [[Dedup.minhashNearDupsDeltaFromSigs]] — no
  * old×old candidate work, no base re-shingling → label contraction,
  * [[Dedup.componentsIncremental]]), a re-ingest/deletion batch
  * ([[upsertDocs]]) retires and re-lands through that SAME single
  * contraction (the retiring documents' components re-enter unlabeled
  * beside the batch's pairs — one delta-sized pass, no separate purge
  * relabel), and each fold publishes through the
  * one-object atomic manifest-pointer commit with deferred GC. The
  * streaming face is exactly-once via the batch-id ledger (the
  * IndexStore contract). LedgerStoreSpec pins the q130 invariant across
  * the store: folded labels ≡ a full recompute over all documents.
  *
  * Layout (v3 — slice-appended stores with a compactable window):
  * {{{
  *   dir/_graft_ledger_meta.json  <- the pointer (+ frozen fold config
  *                                   + the live slice window)
  *   dir/sigs/slice=B/            <- parquet (id, vset, sig_0..sig_{k-1})
  *   dir/postings/slice=B/        <- parquet (bucket, id, bp), sorted by bp
  *   dir/gen=G/labels/            <- parquet (id, comp)
  * }}}
  *
  * The signature and posting stores are APPEND-ONLY IMMUTABLE SLICES —
  * one per fold, written before the pointer commit; the manifest's
  * slice window `[sliceBase, slices)` is what makes them live (a
  * crashed fold's orphan slice is invisible: readers prune to the
  * window). A fold therefore WRITES only its delta slice plus the
  * labels, instead of rewriting the whole signature/posting store into
  * every generation — at 100 TB that is the difference between
  * delta-sized maintenance I/O and a full-store copy per micro-batch.
  * At streaming cadence the window still accretes one slice per fold,
  * so [[compact]] periodically rewrites it into one merged slice
  * (advancing `sliceBase` atomically) and [[vacuumSlices]] retires the
  * superseded dirs after a grace window. The labels table is the one
  * full rewrite per fold (2 longs/doc): a contraction can relabel ANY
  * old document, so the labeling is inherently global state.
  *
  * The posting slices are the production fold layout
  * ([[Dedup.minhashPostings]]): a delta fold keeps ONLY the prefixes
  * its bucket keys touch (a bounded driver fetch of ≤ `prefixes` ints
  * becomes a `bp IN (…)` parquet pushed filter over the bp-partitioned,
  * bp-sorted files, composing with the `slice` liveness prune) instead
  * of re-deriving band keys from a full signature-store scan. `bp` is a
  * data column: one set of files per slice, not one directory per
  * prefix, so a fold pays a few file creations instead of ~64. The
  * price: row-group statistics skip only within slices of several row
  * groups; a smaller slice is read whole.
  *
  * The fold config (threshold‰, k, bands) freezes at seed time and rides
  * the manifest: a ledger is only meaningful under ONE signature family,
  * so later folds refuse a mismatched config instead of silently mixing
  * incompatible pair sets.
  */
object LedgerStore {

  // v4 (round 11): + commit id / history archive.
  // v5 (round 12): SLICE-ORDERED tombstones — a purged/slice=S row
  // masks only sig/posting rows with slice < S, so [[upsertDocs]] can
  // retire a document's old copy and land its re-ingested one in ONE
  // atomic commit (the postings-v3 / semantic-v5 rule). Pure purge
  // flows read identically; cross-build reads fail loudly as a
  // version mismatch.
  // v6: posting slices are flat files sorted by `bp` (a data column)
  // instead of `slice=S/bp=P/` directories; a v5 store would mix both
  // layouts after one fold, so the manifest kernel refuses every other
  // format before any read or write.
  private val Format = "graft-dedup-v6"

  /** v3 (round 10): `sliceBase` — the live slice window's lower bound.
    * [[compact]] rewrites the live slices `[sliceBase, slices)` into one
    * merged slice and advances the base past them in a single pointer
    * commit, so long-running streamed folds no longer grow an
    * unbounded slice/partition-dir population that every `liveSigs`
    * union must open (the round-9 "thousands of slices per day" gap).
    * Retired slices stay on disk for readers holding the pre-compact
    * pointer until an explicit [[vacuumSlices]] — the Apply
    * compact-then-deferred-GC contract. */
  /** Since round 11 every meta also carries `commit` — the monotone
    * snapshot id behind [[loadAt]]/[[commits]] time travel (pointer
    * bodies archive under `_graft_history/` via
    * [[Generations.commitArchived]]). */
  final case class Meta(format: String, gen: Long, rows: Long, batch: Long,
      thresholdPerMille: Int, k: Int, bands: Int, prefixes: Int,
      maxBucket: Int, sliceBase: Long, slices: Long, commit: Long)
      extends StoreManifest.Windowed

  private[graft] val Manifest = new SliceManifest[Meta](
    "_graft_ledger_meta.json", Format, "ledger",
    Seq("sigs", "postings", "purged"))

  /** A LIVE slice store (`sigs` or `postings`) under the v5
    * SLICE-ORDERED mask: a tombstone at slice S masks only copies OLDER
    * than it — an [[upsertDocs]] re-landed row (data slice above its own
    * tombstone) stays visible; pure purges read exactly as v4. */
  private def liveSlices(spark: SparkSession, dir: String, sub: String,
      m: Meta, tombs: DataFrame,
      schema: Option[StructType] = None): DataFrame =
    maskOlder(window(spark, s"$dir/$sub", m, schema), "id", tombs)
      .drop("slice")

  private def liveSigs(spark: SparkSession, dir: String, m: Meta): DataFrame =
    liveSlices(spark, dir, "sigs", m,
      tombstones(spark, s"$dir/purged", "id", m))

  /** One fold's read of the committed state — the labels, tombstones,
    * signatures and postings, each listed and read ONCE — with every
    * schema taken from the fold's own delta signatures (their writer),
    * so no read pays a schema-inference job. */
  private final case class Live(labels: DataFrame, tombs: DataFrame,
      sigs: DataFrame, postings: DataFrame)

  private def liveWindow(spark: SparkSession, dir: String, m: Meta,
      sigSchema: StructType): Live = {
    val idField = sigSchema("id")
    val tombs = tombstones(spark, s"$dir/purged", "id", m,
      Some(StructType(Seq(idField))))
    Live(
      spark.read.schema(StructType(Seq(idField, idField.copy(name = "comp"))))
        .parquet(s"$dir/gen=${m.gen}/labels"),
      tombs,
      liveSlices(spark, dir, "sigs", m, tombs, Some(sigSchema)),
      liveSlices(spark, dir, "postings", m, tombs, Some(StructType(Seq(
        StructField("bucket", IntegerType), idField,
        StructField("bp", IntegerType))))))
  }

  /** Write ONE fold's outputs: the delta slice (sigs + bp-sorted
    * postings — immutable, appended under `slice=<meta.slices-1>`), the
    * new FULL labels generation, then the pointer commit that makes all
    * of it live at once; deferred GC on label generations only (slices
    * are the store). */
  private def publish(spark: SparkSession, dir: String, labels: DataFrame,
      deltaSigs: DataFrame, deltaPostings: DataFrame, meta: Meta,
      retainGens: Int): Long = {
    val sliceId = meta.slices - 1
    // claim the id: a crashed PURGE may have left an orphan tombstone
    // slice here, which this fold's commit would otherwise make live
    // (round-10 ADVICE — the claimSlice contract)
    Generations.claimSlice(spark, dir, Seq("purged"), sliceId)
    deltaSigs.write.mode("overwrite")
      .parquet(s"$dir/sigs/slice=$sliceId")
    deltaPostings.repartition(col("bp")).sortWithinPartitions(col("bp"))
      .write.mode("overwrite").parquet(s"$dir/postings/slice=$sliceId")
    labels.write.mode("overwrite").parquet(s"$dir/gen=${meta.gen}/labels")
    val n = spark.read.schema(labels.schema)
      .parquet(s"$dir/gen=${meta.gen}/labels").count()
    Manifest.commit(spark, dir, meta.copy(rows = n, commit = meta.commit + 1))
    Generations.gc(spark, dir, meta.gen - (retainGens - 1))
    meta.gen
  }

  /** OPTIMIZE for the slice stores (round-9 verdict #2, the
    * [[graft.cdc.Apply.compact]] analog): rewrite the live slice window
    * into ONE merged slice per store and advance `sliceBase` past the
    * old slices through the same atomic pointer commit — labels, batch
    * ledger, and fold config ride along unchanged, so replay safety and
    * data identity are preserved (LedgerStoreSpec pins both). Readers
    * holding the pre-compact pointer keep scanning their intact slices
    * until [[vacuumSlices]]; a crash before the commit leaves an orphan
    * merged slice that is invisible (outside every committed window) and
    * gets overwritten by the next compact. Returns the merged slice id,
    * or None when the window already holds ≤ 1 slice. The merged
    * postings are hash-partitioned on `bp` before the sort, so each large
    * merged file holds few prefixes and row-group statistics skip the
    * rest. */
  def compact(spark: SparkSession, dir: String): Option[Long] =
    Manifest.compact(spark, dir, "LedgerStore") { (m, merged) =>
      val tombs = tombstones(spark, s"$dir/purged", "id", m)
      liveSlices(spark, dir, "sigs", m, tombs).write.mode("overwrite")
        .parquet(s"$dir/sigs/slice=$merged")
      liveSlices(spark, dir, "postings", m, tombs)
        .repartition(col("bp")).sortWithinPartitions(col("bp"))
        .write.mode("overwrite").parquet(s"$dir/postings/slice=$merged")
    }

  /** Deferred slice GC below the CURRENT manifest's `sliceBase`
    * ([[SliceManifest.vacuum]]; the Apply deferred-GC contract).
    * Returns dirs removed. */
  def vacuumSlices(spark: SparkSession, dir: String): Int =
    Manifest.vacuum(spark, dir)

  /** DECREMENTAL ledger maintenance — delete documents from the
    * persisted dedup state (the [[graft.cdc.Apply.purgeKeys]]
    * right-to-be-forgotten verb for the LLM-pipeline substrate; round
    * 10). Deletion is the hard direction of IVM for a components
    * labeling: removing a doc can SPLIT its component, so the affected
    * components relabel from their remaining members' stored signatures
    * — delta-sized work (pairs among the affected members only; every
    * other component is untouched, because components are closed under
    * the pair relation, so no cross-component pair can appear).
    * EXACTNESS CAVEAT: that closure argument needs the UNCAPPED profile
    * (`maxBucket = Int.MaxValue`, the oracle default); under a
    * hot-bucket cap a dropped cross-component pair could exist, and the
    * decremental relabel is the same best-effort the capped forward
    * fold already is.
    *
    * Mechanics: the purged ids land as a TOMBSTONE slice
    * (`purged/slice=S` — the sig/posting slices stay immutable; every
    * live read anti-joins the tombstones), the relabeled labels publish
    * as the next generation, and one atomic pointer commit makes both
    * visible. Later folds cannot pair against purged docs (their
    * postings are tombstone-filtered). PHYSICAL removal lands at
    * [[compact]]: the merged slice is written from the tombstone-
    * filtered live view, and the superseded tombstones fall out of the
    * window with the old slices ([[vacuumSlices]] then deletes the
    * bytes). Purging ids that are absent (or already purged) is a
    * no-op. Returns the published generation. */
  def purgeDocs(spark: SparkSession, dir: String, docIds: DataFrame,
      retainGens: Int = 2): Option[Long] = {
    graft.util.Maintenance.withLeasedWriteLock("LedgerStore", spark, dir) {
    val m = Manifest.get(spark, dir)
    val labels = spark.read.parquet(s"$dir/gen=${m.gen}/labels")
    val targets = docIds.select(docIds.columns.head)
      .toDF("id").distinct()
      .join(labels.select(col("id")), Seq("id"), "left_semi")
      .localCheckpoint(true)
    if (targets.isEmpty) return None
    // affected components and their REMAINING members
    val comps = labels.join(targets, Seq("id"), "left_semi")
      .select(col("comp")).distinct()
    val members = labels.join(comps, Seq("comp"), "left_semi")
      .join(targets, Seq("id"), "left_anti")
      .select(col("id"))
    // relabel the affected members from their stored signatures: pairs
    // among the members (the FromSigs form with an empty old side is
    // exactly "all pairs within"), then min-label components
    val sigsM = liveSigs(spark, dir, m)
      .join(members, Seq("id"), "left_semi").localCheckpoint(true)
    val pairs = Dedup.minhashNearDupsDeltaFromSigs(
      sigsM.limit(0), sigsM,
      m.thresholdPerMille / 1000.0, m.k, m.bands,
      maxBucketSize = m.maxBucket)
    val lbl = Dedup.components(pairs, col("a_id"), col("b_id"))
    val relabeled = members
      .join(lbl.select(col("id"), col("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val newLabels = labels.join(comps, Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
      .unionByName(relabeled)
    // tombstone slice + labels generation + one atomic commit. Claim the
    // id first: a crashed fold's orphan data slices here must not become
    // live when this commit advances the window.
    val sliceId = m.slices
    Generations.claimSlice(spark, dir, Seq("sigs", "postings"), sliceId)
    targets.write.mode("overwrite").parquet(s"$dir/purged/slice=$sliceId")
    val gen = m.gen + 1
    newLabels.write.mode("overwrite").parquet(s"$dir/gen=$gen/labels")
    val n = spark.read.parquet(s"$dir/gen=$gen/labels").count()
    Manifest.commit(spark, dir,
      m.copy(gen = gen, rows = n, slices = sliceId + 1,
        commit = m.commit + 1))
    Generations.gc(spark, dir, gen - (retainGens - 1))
    Some(gen)
    }
  }

  /** DOCUMENT RE-INGEST (round 12) — [[graft.dedup.SemLedgerStore
    * .upsertVecs]]'s text twin, completing the ledger side of the
    * upsert matrix: a changed document retires its OLD signature, lands
    * the NEW one, re-pairs against the post-retirement corpus, and
    * relabels affected components — atomically, in one ledgered commit
    * (the v5 slice-ordered mask keeps the re-landed copy visible above
    * its own tombstone; purge-then-fold as two verbs would leave the
    * crash window where a replay purges the re-landed copy). `removeIds`
    * deletes outright; ids in both re-land. Returns the new generation
    * (None for replays / fully-empty batches).
    *
    * ONE delta-sized pass per batch:
    *  - one checkpointed AFFECTED SET ([[Dedup.affectedComponents]]) —
    *    every label row of a component holding an incoming or removed
    *    id, flagged when the row IS such an id — yields both the
    *    retiring `targets` and the remaining `members`;
    *  - the members re-enter UNLABELED, and their stored pairs (`pairsM`:
    *    all pairs among the members' stored signatures) join the new
    *    signatures' pairs against the post-retirement corpus
    *    (`deltaPairs`) in ONE contraction over the untouched components'
    *    labels ([[Dedup.relabelAffected]]).
    *
    * Exactness: the one contraction gives the labels a purge relabel
    * by `components(pairsM)` followed by a `deltaPairs` contraction
    * would (the argument is on [[Dedup.relabelAffected]]), in the capped
    * profile too — `pairsM` and `deltaPairs` are the same pair sets
    * either way. What the relabel recovers inherits [[purgeDocs]]'s
    * closure caveat: it is the full recompute in the UNCAPPED profile.
    * A batch that touches only singleton components (no members) skips
    * the member pairs; one that also forms no pair skips the fixpoint. */
  def upsertDocs(upserts: DataFrame, id: Column, text: Column,
      removeIds: DataFrame, dir: String, retainGens: Int = 2,
      batchId: Long = -1L): Option[Long] = {
    val spark = upserts.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("LedgerStore", spark, dir) {
    val m = Manifest.read(spark, dir).getOrElse(sys.error(
      s"no committed ledger at $dir — upsertDocs updates an existing " +
        "ledger; seed with maintainBatch first"))
    if (batchId >= 0 && batchId <= m.batch) return None
    // one live row per id (ADVICE r12): exact duplicates collapse,
    // conflicting re-ingests fail loudly — two copies in one sig slice
    // would both sit above the tombstone and both stay visible
    val docs = graft.util.Maintenance.requireUniqueUpserts(
      upserts.select(id.as("doc_id"), text.as("text")), "doc_id",
      "dedup-ledger")
    val docIds = docs.select(col("doc_id").as("id"))
    // ids in both upserts and removeIds re-land (the upsert wins)
    val rem = removeIds.select(removeIds.columns.head).toDF("id")
      .distinct()
      .join(docIds, Seq("id"), "left_anti")
      .localCheckpoint(true)
    val hasDocs = !docs.isEmpty
    if (!hasDocs && rem.isEmpty) {
      Manifest.recordEmptyBatch(spark, dir, Some(m), batchId); return None
    }
    val threshold = m.thresholdPerMille / 1000.0
    val deltaSigs = Dedup.minhashSigSets(docs, col("doc_id"), col("text"),
      k = m.k).localCheckpoint(true)
    val live = liveWindow(spark, dir, m, deltaSigs.schema)
    // docs and rem hold disjoint unique ids
    val affected = Dedup.affectedComponents(live.labels,
      docIds.unionByName(rem))
    val targets = affected.filter(col("_t")).select(col("id"))
    val members = affected.filter(!col("_t")).select(col("id"))
    val pairsM =
      if (members.isEmpty) None
      else {
        val sigsM = live.sigs.join(members, Seq("id"), "left_semi")
          .localCheckpoint(true)
        Some(Dedup.minhashNearDupsDeltaFromSigs(
          sigsM.limit(0), sigsM, threshold, m.k, m.bands,
          maxBucketSize = m.maxBucket, materialize = false))
      }
    // the new signatures pair against the post-retirement corpus through
    // the pruned posting path (the maintainBatch production fold)
    val deltaPairs = Dedup.minhashNearDupsDeltaFromPostings(
      live.postings.join(targets, Seq("id"), "left_anti"),
      live.sigs.join(targets, Seq("id"), "left_anti"), deltaSigs,
      threshold, m.k, m.bands, maxBucketSize = m.maxBucket,
      prefixes = m.prefixes, materialize = false)
    val edges = pairsM.fold(deltaPairs)(deltaPairs.unionByName(_))
    val newLabels = Dedup.relabelAffected(live.labels, affected, docIds,
      edges)
    // WRITES: tombstone slice first (the mask covers only OLDER
    // slices), sig/posting slices above it, labels, ONE commit
    var next = m.slices
    if (!targets.isEmpty) {
      Generations.claimSlice(spark, dir, Seq("sigs", "postings"), next)
      targets.write.mode("overwrite").parquet(s"$dir/purged/slice=$next")
      next += 1
    }
    if (hasDocs) {
      Generations.claimSlice(spark, dir, Seq("purged"), next)
      deltaSigs.write.mode("overwrite").parquet(s"$dir/sigs/slice=$next")
      Dedup.minhashPostings(deltaSigs, m.k, m.bands, m.prefixes)
        .select(col("bucket"), col("id"), col("bp"))
        .repartition(col("bp")).sortWithinPartitions(col("bp"))
        .write.mode("overwrite").parquet(s"$dir/postings/slice=$next")
      next += 1
    }
    if (next == m.slices) { // nothing live to retire, nothing to land
      Manifest.recordEmptyBatch(spark, dir, Some(m), batchId); return None
    }
    val gen = m.gen + 1
    newLabels.write.mode("overwrite").parquet(s"$dir/gen=$gen/labels")
    val n = spark.read.schema(newLabels.schema)
      .parquet(s"$dir/gen=$gen/labels").count()
    Manifest.commit(spark, dir, m.copy(gen = gen, rows = n, batch = batchId,
      slices = next, commit = m.commit + 1))
    Generations.gc(spark, dir, gen - (retainGens - 1))
    Some(gen)
    }
  }

  /** Load the current state: (labels (id, comp), LIVE signature store
    * — the slice union, liveness-pruned — and meta). Probe-ready —
    * `labels` is the q75-shaped ledger face. */
  def load(spark: SparkSession, dir: String): (DataFrame, DataFrame, Meta) = {
    val m = Manifest.get(spark, dir)
    (spark.read.parquet(s"$dir/gen=${m.gen}/labels"),
      liveSigs(spark, dir, m), m)
  }

  /** The current manifest, for callers pinning snapshots
    * ([[graft.util.PipelineLedger]]) without loading the frames. */
  def meta(spark: SparkSession, dir: String): Option[Meta] =
    Manifest.read(spark, dir)

  /** Committed snapshot ids available for [[loadAt]], ascending. */
  def commits(spark: SparkSession, dir: String): Seq[Long] =
    Manifest.commits(spark, dir)

  /** The archived manifest of snapshot `commit`. */
  def metaAt(spark: SparkSession, dir: String, commit: Long): Meta =
    Manifest.at(spark, dir, commit)

  /** TIME-TRAVEL [[load]] — the ledger AS OF a committed snapshot id
    * (labels, live signature store, meta, each resolved through the
    * archived manifest): a pre-purge snapshot still sees the purged
    * docs while its slices and label generation survive. Fails loudly
    * once [[vacuumSlices]] retired the window or the generation
    * retention dropped the labels — the fail-closed
    * [[graft.cdc.Apply.readMergeTableAt]] contract, never a silent
    * partial read. */
  def loadAt(spark: SparkSession, dir: String,
      commit: Long): (DataFrame, DataFrame, Meta) = {
    val m = metaAt(spark, dir, commit)
    Manifest.requireReadable(spark, dir, m, s"snapshot $commit")
    val labelsDir =
      Generations.requireGen(spark, dir, m.gen, "/labels", s"snapshot $commit")
    (spark.read.parquet(labelsDir), liveSigs(spark, dir, m), m)
  }

  /** Fold one batch of NEW documents (id, text) into the persisted
    * ledger. First batch seeds (freezing the fold config in the
    * manifest); later batches pay DELTA-SIZED work only. Empty batches
    * and crash-replayed batch ids are no-ops. Returns the published
    * generation. `maxBucketSize` is the hot-bucket candidate cap
    * (round-9 verdict #5: production corpora need it on the persisted
    * path too — an adversarial boilerplate bucket otherwise makes one
    * fold quadratic). The default keeps the oracle profile (no cap —
    * the q248 invariant is exact equality with a full recompute); the
    * cap FREEZES in the manifest like the signature family, because a
    * ledger folded under varying caps has no single recompute it is
    * equivalent to. LedgerStoreSpec pins capped-on-disk ≡
    * capped-in-memory on a hot-bucket fixture. */
  def maintainBatch(batch: DataFrame, id: Column, text: Column,
      dir: String, threshold: Double = 0.5, k: Int = 16, bands: Int = 16,
      prefixes: Int = 64, retainGens: Int = 2,
      batchId: Long = -1L, maxBucketSize: Int = Int.MaxValue): Option[Long] = {
    val spark = batch.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("LedgerStore", spark, dir) {
    val docs = batch.select(id.as("doc_id"), text.as("text"))
    if (docs.isEmpty) { Manifest.recordEmptyBatch(spark, dir, Manifest.read(spark, dir), batchId); return None }
    val perMille = math.round(threshold * 1000).toInt
    Manifest.read(spark, dir) match {
      case None =>
        val sigs = Dedup.minhashSigSets(docs, col("doc_id"), col("text"),
          k = k).localCheckpoint(true)
        val pairs = Dedup.minhashNearDupsDeltaFromSigs(
          sigs.limit(0), sigs, threshold, k, bands,
          maxBucketSize = maxBucketSize)
        val labels = Dedup.componentsIncremental(
          // empty base labeling: every doc starts as its own component
          docs.select(col("doc_id").as("id"),
            col("doc_id").as("comp")).limit(0),
          docs, col("doc_id"), pairs, col("a_id"), col("b_id"))
        Some(publish(spark, dir, labels, sigs,
          Dedup.minhashPostings(sigs, k, bands, prefixes)
            .select(col("bucket"), col("id"), col("bp")),
          Meta(Format, 0L, 0L, batchId, perMille, k, bands, prefixes,
            maxBucket = maxBucketSize, sliceBase = 0L, slices = 1L,
            commit = -1L),
          retainGens))
      case Some(m) if batchId >= 0 && batchId <= m.batch =>
        None // crash replay of an already-folded batch
      case Some(m) =>
        require(m.thresholdPerMille == perMille && m.k == k &&
            m.bands == bands && m.prefixes == prefixes &&
            m.maxBucket == maxBucketSize,
          s"ledger at $dir was seeded with (threshold=${m.thresholdPerMille}" +
            s"‰, k=${m.k}, bands=${m.bands}, prefixes=${m.prefixes}, " +
            s"maxBucket=${m.maxBucket}); " +
            s"refusing a mismatched fold ($perMille‰, $k, $bands, " +
            s"$prefixes, $maxBucketSize) — one ledger, one signature family")
        val live = liveWindow(spark, dir, m, Dedup.minhashSigSets(
          docs, col("doc_id"), col("text"), k = k).schema)
        // TOMBSTONE SCREEN (round-10 ADVICE): a purged id stays purged
        // until compact+vacuum physically drop its tombstone — re-folding
        // it would re-enter the labels table while the tombstone hides
        // its signature from every pairing read.
        val screened = docs.join(
          live.tombs.select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        if (screened.isEmpty) { Manifest.recordEmptyBatch(spark, dir, Some(m), batchId); return None }
        val deltaSigs = Dedup.minhashSigSets(screened, col("doc_id"),
          col("text"), k = k).localCheckpoint(true)
        // the production fold: the old side reads only the delta's
        // touched prefixes of the LIVE posting slices
        val deltaPairs = Dedup.minhashNearDupsDeltaFromPostings(
          live.postings, live.sigs, deltaSigs, threshold, k, bands,
          maxBucketSize = maxBucketSize, prefixes = prefixes,
          materialize = false)
        val allIds = live.labels.select(col("id"))
          .unionByName(screened.select(col("doc_id").as("id")))
        val newLabels = Dedup.componentsIncremental(
          live.labels, allIds, col("id"), deltaPairs, col("a_id"), col("b_id"))
        // writes: ONLY the delta slice + the labels — the stores append
        Some(publish(spark, dir, newLabels, deltaSigs,
          Dedup.minhashPostings(deltaSigs, k, bands, prefixes)
            .select(col("bucket"), col("id"), col("bp")),
          m.copy(gen = m.gen + 1, batch = batchId, slices = m.slices + 1),
          retainGens))
    }
    }
  }

  /** The warehouse→TEXT-DEDUP cascade step: ONE reduced `changes.merge`
    * window into [[upsertDocs]] ([[graft.util.Cascade.ledgerFollower]]),
    * exactly-once via its batch ledger. Warehouse document updates
    * RE-INGEST atomically (one-commit tombstone + re-land + relabel);
    * REMOVEs and `purgeKeys` compliance deletions propagate as ledger
    * purges — the deletion-propagation path to the dedup labeling.
    * `textOf` maps a feed row to its document text. */
  private[graft] def applyFeedWindow(ups: DataFrame, rem: DataFrame,
      dir: String, textOf: Column, batchId: Long): Unit = {
    upsertDocs(ups.select(col("_key").as("doc_id"), textOf.as("text")),
      col("doc_id"), col("text"), rem.toDF("doc_id"), dir,
      batchId = batchId)
    ()
  }

  /** The committed snapshot id produced by LEDGERED batch `batchId`
    * (see [[StoreManifest.commitForBatch]]). */
  def commitForBatch(spark: SparkSession, dir: String,
      batchId: Long): Long =
    Manifest.commitForBatch(spark, dir, batchId)

  /** The labels table's data dir for a committed snapshot (commit =
    * None → current) — the path behind [[load]]/[[loadAt]]'s first
    * frame, public for the DataSource V2 catalog face
    * ([[graft.sources.GraftTables]]). Fail-closed once generation
    * retention dropped the snapshot's gen dir. */
  def labelsDir(spark: SparkSession, dir: String,
      commit: Option[Long]): String = {
    val m = commit.fold(Manifest.get(spark, dir))(Manifest.at(spark, dir, _))
    Generations.requireGen(spark, dir, m.gen, "/labels",
      s"snapshot ${commit.getOrElse("current")}")
  }
}
