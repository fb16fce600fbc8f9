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
  * relabel; a purge is that upsert with nothing to re-land), and every
  * verb commits through the one ledgered slice write
  * ([[graft.util.SliceManifest.write]]) with deferred GC of the label
  * generations. The streaming face is exactly-once via its batch-id
  * ledger. LedgerStoreSpec pins the q130 invariant across
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

  /** One fold's read of the committed state — the labels, signatures
    * and postings (and the tombstones masking them), each listed and
    * read ONCE — with every schema taken from the fold's own delta
    * signatures (their writer), so no read pays a schema-inference
    * job. */
  private final case class Live(labels: DataFrame, sigs: DataFrame,
      postings: DataFrame)

  private def liveWindow(spark: SparkSession, dir: String, m: Meta,
      sigSchema: StructType): Live = {
    val idField = sigSchema("id")
    val tombs = tombstones(spark, s"$dir/purged", "id", m,
      Some(StructType(Seq(idField))))
    Live(
      spark.read.schema(StructType(Seq(idField, idField.copy(name = "comp"))))
        .parquet(s"$dir/gen=${m.gen}/labels"),
      liveSlices(spark, dir, "sigs", m, tombs, Some(sigSchema)),
      liveSlices(spark, dir, "postings", m, tombs, Some(StructType(Seq(
        StructField("bucket", IntegerType), idField,
        StructField("bp", IntegerType))))))
  }

  /** Land a fold's delta signatures as slice `s`: the sigs and their
    * bp-sorted band postings ([[Dedup.minhashPostings]]). */
  private def landSigs(dir: String, sigs: DataFrame, m: Meta)(s: Long): Unit = {
    sigs.write.mode("overwrite").parquet(s"$dir/sigs/slice=$s")
    Dedup.minhashPostings(sigs, m.k, m.bands, m.prefixes)
      .select(col("bucket"), col("id"), col("bp"))
      .repartition(col("bp")).sortWithinPartitions(col("bp"))
      .write.mode("overwrite").parquet(s"$dir/postings/slice=$s")
  }

  /** The labels of a ledger write: the FULL labeling lands as generation
    * `gen` (the one global rewrite — a contraction can relabel any old
    * document); returns its row count, from what was written. Shared
    * with [[SemLedgerStore]]. */
  private[dedup] def landLabels(spark: SparkSession, dir: String, gen: Long,
      labels: DataFrame): Long = {
    labels.write.mode("overwrite").parquet(s"$dir/gen=$gen/labels")
    spark.read.schema(labels.schema).parquet(s"$dir/gen=$gen/labels").count()
  }

  /** A committed ledger write's generation, after deferred GC of the
    * label generations beyond `retainGens` (slices are the store). */
  private[dedup] def retain(spark: SparkSession, dir: String, gen: Long,
      retainGens: Int): Long = {
    Generations.gc(spark, dir, gen - (retainGens - 1))
    gen
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
    * right-to-be-forgotten verb for the LLM-pipeline substrate):
    * [[upsertDocs]] with no upserts and no batch id
    * ([[SliceManifest.purge]]). Removing a doc can SPLIT its component,
    * so the affected components' remaining members re-enter through the
    * upsert's one contraction over their stored signatures — delta-sized
    * work, exact under [[upsertDocs]]' closure caveat. The purged ids
    * land as a tombstone slice; later folds cannot pair against them;
    * [[compact]] makes the removal physical. Purging ids that are absent
    * (or already purged) is a no-op. Returns the published generation. */
  def purgeDocs(spark: SparkSession, dir: String, docIds: DataFrame,
      retainGens: Int = 2): Option[Long] =
    Manifest.purge(spark, dir, "LedgerStore")(_ => upsertDocs(docIds.limit(0),
      col(docIds.columns.head), lit(""), docIds, dir, retainGens))((_, a) => a.gen)

  /** DOCUMENT RE-INGEST (round 12) — [[graft.dedup.SemLedgerStore
    * .upsertVecs]]'s text twin, completing the ledger side of the
    * upsert matrix: a changed document retires its OLD signature, lands
    * the NEW one, re-pairs against the post-retirement corpus, and
    * relabels affected components — atomically, in one ledgered commit
    * ([[SliceManifest.write]]; purge-then-fold as two verbs would leave
    * the crash window where a replay purges the re-landed copy).
    * `removeIds` deletes outright; ids in both re-land. Returns the new
    * generation (None for replays / fully-empty batches).
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
    * Exactness: the one contraction gives the labels a relabel by
    * `components(pairsM)` followed by a `deltaPairs` contraction would
    * (the argument is on [[Dedup.relabelAffected]]), in the capped
    * profile too. What the relabel recovers after a removal is the full
    * recompute in the UNCAPPED profile (`maxBucket = Int.MaxValue`, the
    * oracle default): components are closed under the pair relation, so
    * no cross-component pair can appear; under a hot-bucket cap a
    * dropped cross-component pair could exist, and the relabel is the
    * same best-effort the capped forward fold already is. A batch that
    * touches only singleton components (no members) skips the member
    * pairs; one that also forms no pair skips the fixpoint. */
  def upsertDocs(upserts: DataFrame, id: Column, text: Column,
      removeIds: DataFrame, dir: String, retainGens: Int = 2,
      batchId: Long = -1L): Option[Long] = {
    val spark = upserts.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("LedgerStore", spark, dir) {
      val m = Manifest.read(spark, dir).getOrElse(sys.error(
        s"no committed ledger at $dir — upsertDocs updates an existing " +
          "ledger; seed with maintainBatch first"))
      Manifest.write(spark, dir, m, batchId) {
        // one live row per id (ADVICE r12): exact duplicates collapse,
        // conflicting re-ingests fail loudly — two copies in one sig
        // slice would both sit above the tombstone and both stay visible
        val docs = graft.util.Maintenance.requireUniqueUpserts(
          upserts.select(id.as("id"), text.as("text")), "id", "dedup-ledger")
        val docIds = docs.select(col("id"))
        val threshold = m.thresholdPerMille / 1000.0
        val deltaSigs = Dedup.minhashSigSets(docs, col("id"), col("text"),
          k = m.k).localCheckpoint(true)
        val live = liveWindow(spark, dir, m, deltaSigs.schema)
        // ids in both upserts and removeIds re-land (the upsert wins)
        val affected = Dedup.affectedComponents(live.labels, docIds
          .unionByName(removeIds.select(removeIds.columns.head).toDF("id"))
          .distinct())
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
        // the new signatures pair against the post-retirement corpus
        // through the pruned posting path (the maintainBatch fold)
        val deltaPairs = Dedup.minhashNearDupsDeltaFromPostings(
          live.postings.join(targets, Seq("id"), "left_anti"),
          live.sigs.join(targets, Seq("id"), "left_anti"), deltaSigs,
          threshold, m.k, m.bands, maxBucketSize = m.maxBucket,
          prefixes = m.prefixes, materialize = false)
        val edges = pairsM.fold(deltaPairs)(deltaPairs.unionByName(_))
        val newLabels = Dedup.relabelAffected(live.labels, affected, docIds,
          edges)
        Manifest.Write(retire = Some(targets),
          land = Option.when(!docs.isEmpty)(landSigs(dir, deltaSigs, m))) {
          _ => m.copy(gen = m.gen + 1,
            rows = landLabels(spark, dir, m.gen + 1, newLabels))
        }
      }.map(a => retain(spark, dir, a.gen, retainGens))
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
    * ledger through one ledgered write ([[SliceManifest.write]]): the
    * delta slice (sigs + bp-sorted postings) plus the new labels
    * generation. First batch seeds (freezing the fold config in the
    * manifest); later batches pay DELTA-SIZED work only, and a purged id
    * stays purged (the tombstone screen — re-folding it would re-enter
    * the labels while the tombstone hides its signature from every
    * pairing read). Empty batches and crash-replayed batch ids are
    * no-ops. Returns the published generation. `maxBucketSize` is the
    * hot-bucket candidate cap (round-9 verdict #5: production corpora
    * need it on the persisted path too — an adversarial boilerplate
    * bucket otherwise makes one fold quadratic). The default keeps the
    * oracle profile (no cap — the q248 invariant is exact equality with
    * a full recompute); the cap FREEZES in the manifest like the
    * signature family, because a ledger folded under varying caps has no
    * single recompute it is equivalent to. LedgerStoreSpec pins
    * capped-on-disk ≡ capped-in-memory on a hot-bucket fixture. */
  def maintainBatch(batch: DataFrame, id: Column, text: Column,
      dir: String, threshold: Double = 0.5, k: Int = 16, bands: Int = 16,
      prefixes: Int = 64, retainGens: Int = 2,
      batchId: Long = -1L, maxBucketSize: Int = Int.MaxValue): Option[Long] = {
    val spark = batch.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("LedgerStore", spark, dir) {
      val perMille = math.round(threshold * 1000).toInt
      val prev = Manifest.read(spark, dir)
      val m = prev.getOrElse(Meta(Format, gen = -1L, rows = 0L, batch = -1L,
        perMille, k, bands, prefixes, maxBucket = maxBucketSize,
        sliceBase = 0L, slices = 0L, commit = -1L))
      require(m.thresholdPerMille == perMille && m.k == k &&
          m.bands == bands && m.prefixes == prefixes &&
          m.maxBucket == maxBucketSize,
        s"ledger at $dir was seeded with (threshold=${m.thresholdPerMille}" +
          s"‰, k=${m.k}, bands=${m.bands}, prefixes=${m.prefixes}, " +
          s"maxBucket=${m.maxBucket}); " +
          s"refusing a mismatched fold ($perMille‰, $k, $bands, " +
          s"$prefixes, $maxBucketSize) — one ledger, one signature family")
      Manifest.write(spark, dir, m, batchId) {
        val docs = batch.select(id.as("id"), text.as("text"))
        val sigSchema = Dedup.minhashSigSets(docs, col("id"), col("text"),
          k = k).schema
        val live = prev.map(liveWindow(spark, dir, _, sigSchema))
        Manifest.screen(spark, dir, m, docs, "id",
            Some(StructType(Seq(sigSchema("id"))))).fold(Manifest.Write()(_ => m)) {
          screened =>
            val deltaSigs = Dedup.minhashSigSets(screened, col("id"),
              col("text"), k = k).localCheckpoint(true)
            val labels = live match {
              case None =>
                // seed: every doc starts as its own component
                Dedup.componentsIncremental(
                  docs.select(col("id"), col("id").as("comp")).limit(0), docs,
                  col("id"), Dedup.minhashNearDupsDeltaFromSigs(
                    deltaSigs.limit(0), deltaSigs, threshold, k, bands,
                    maxBucketSize = maxBucketSize), col("a_id"), col("b_id"))
              case Some(l) =>
                // the production fold: the old side reads only the
                // delta's touched prefixes of the LIVE posting slices
                Dedup.componentsIncremental(l.labels, l.labels.select(col("id"))
                  .unionByName(screened.select(col("id"))), col("id"),
                  Dedup.minhashNearDupsDeltaFromPostings(l.postings, l.sigs,
                    deltaSigs, threshold, k, bands, maxBucketSize = maxBucketSize,
                    prefixes = prefixes, materialize = false),
                  col("a_id"), col("b_id"))
            }
            // writes: ONLY the delta slice + the labels — the stores append
            Manifest.Write(land = Some(landSigs(dir, deltaSigs, m)))(_ =>
              m.copy(gen = m.gen + 1,
                rows = landLabels(spark, dir, m.gen + 1, labels)))
        }
      }.map(a => retain(spark, dir, a.gen, retainGens))
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
