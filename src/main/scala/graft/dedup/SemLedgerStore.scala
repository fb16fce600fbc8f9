package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Generations, SliceManifest, StoreManifest}
import graft.util.StoreManifest.{maskOlder, tombstones, window}

/** Persisted SEMANTIC (embedding) dedup ledger — [[LedgerStore]]'s twin
  * for the q102/q212/q244 sign-LSH pipeline, completing the set: every
  * maintained substrate in the repo (text ledger, IVF/IVF-PQ indexes,
  * semantic ledger) now has a generation-stamped on-disk face with
  * incremental folds. State: the vectors (the banded hyperplane keys
  * are a pure recomputable projection — cheaper to re-derive than to
  * store), the PAIR LEDGER, and the canonical labeling. A batch of new
  * vectors folds in via
  * [[Dedup.lshNearDupsDelta]] — only buckets containing a new vector
  * produce candidate work, no old×old — then label contraction
  * ([[Dedup.componentsIncremental]]). The fold config (bands, planes
  * per band, dim, threshold‰) freezes in the manifest at seed time; the
  * streaming face is exactly-once via the batch-id ledger.
  * SemLedgerStoreSpec pins the q244 invariant across generations on
  * disk: stored pairs ∪ labels ≡ a full recompute.
  *
  * Layout (v2 — slice-appended stores, the [[LedgerStore]] discipline):
  * {{{
  *   dir/_graft_semledger_meta.json   <- pointer + config + live slice count
  *   dir/vecs/slice=B/    <- parquet (id, v)          (immutable, per fold)
  *   dir/pairs/slice=B/   <- parquet (a_id, b_id, cosine)   (immutable)
  *   dir/gen=G/labels/    <- parquet (id, comp)   (full rewrite per fold)
  * }}}
  * A fold writes only its delta slices + the labels; the manifest's
  * slice count is the liveness boundary (orphan slices from a crashed
  * fold are invisible). Labels are the one inherently global rewrite —
  * a contraction can relabel any old vector.
  */
object SemLedgerStore {

  // v4 (round 11): + commit id / history archive.
  // v5 (round 12): SLICE-ORDERED tombstones — a purged/slice=S row
  // masks only vec/pair rows with slice < S, so [[upsertVecs]] can
  // retire a vector's old copy and land its re-embedded one in ONE
  // atomic commit (the postings-v3 rule). Pure purge flows read
  // identically (a purge's tombstone is always newer than the rows it
  // targets); cross-build reads fail loudly as a version mismatch.
  private val Format = "graft-semdedup-v5"

  /** v3: `sliceBase` — the live slice window's lower bound; see
    * [[LedgerStore.Meta]] (the text twin) for the compaction contract. */
  /** Since round 11 every meta also carries `commit` — the monotone
    * snapshot id behind [[loadAt]]/[[commits]] time travel (the
    * [[LedgerStore]] protocol). */
  final case class Meta(format: String, gen: Long, rows: Long, batch: Long,
      thresholdPerMille: Int, nBands: Int, planesPerBand: Int, dim: Int,
      sliceBase: Long, slices: Long, commit: Long)
      extends StoreManifest.Windowed

  private[graft] val Manifest = new SliceManifest[Meta](
    "_graft_semledger_meta.json", Format, "semantic-ledger",
    Seq("vecs", "pairs", "purged"))

  /** The live vectors under the v5 SLICE-ORDERED mask: a tombstone at
    * slice S masks only copies OLDER than it — an [[upsertVecs]]
    * re-landed vector (data slice above its own tombstone) stays
    * visible; pure purges read exactly as v4. */
  private def liveVecs(spark: SparkSession, dir: String, m: Meta): DataFrame =
    maskOlder(window(spark, s"$dir/vecs", m), "id",
      tombstones(spark, s"$dir/purged", "id", m)).drop("slice")

  /** The live pair ledger: a pair drops iff EITHER endpoint carries a
    * tombstone newer than the pair's slice — old pairs of an updated
    * vector (computed from the retired embedding) mask out, the upsert
    * fold's new pairs (written above the tombstone) survive. */
  private def livePairs(spark: SparkSession, dir: String, m: Meta): DataFrame = {
    val tombs = tombstones(spark, s"$dir/purged", "id", m)
    maskOlder(maskOlder(window(spark, s"$dir/pairs", m), "a_id", tombs),
      "b_id", tombs)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  private def publish(spark: SparkSession, dir: String, deltaVecs: DataFrame,
      deltaPairs: DataFrame, labels: DataFrame, meta: Meta,
      retainGens: Int): Long = {
    val sliceId = meta.slices - 1
    // claim the id: a crashed purge's orphan tombstone slice here must
    // not become live under this fold's commit (round-10 ADVICE)
    Generations.claimSlice(spark, dir, Seq("purged"), sliceId)
    deltaVecs.write.mode("overwrite").parquet(s"$dir/vecs/slice=$sliceId")
    deltaPairs.write.mode("overwrite").parquet(s"$dir/pairs/slice=$sliceId")
    labels.write.mode("overwrite").parquet(s"$dir/gen=${meta.gen}/labels")
    val n = spark.read.parquet(s"$dir/gen=${meta.gen}/labels").count()
    Manifest.commit(spark, dir, meta.copy(rows = n, commit = meta.commit + 1))
    Generations.gc(spark, dir, meta.gen - (retainGens - 1))
    meta.gen
  }

  /** [[LedgerStore.compact]]'s embedding twin: merge the live slice
    * window of both stores into one slice each and advance `sliceBase`
    * in a single atomic pointer commit — labels, batch ledger, and fold
    * config unchanged; superseded slices stay for pre-compact readers
    * until [[vacuumSlices]]. Returns the merged slice id, or None when
    * the window already holds ≤ 1 slice. */
  def compact(spark: SparkSession, dir: String): Option[Long] =
    Manifest.compact(spark, dir, "SemLedgerStore") { (m, merged) =>
      liveVecs(spark, dir, m).write.mode("overwrite")
        .parquet(s"$dir/vecs/slice=$merged")
      livePairs(spark, dir, m).write.mode("overwrite")
        .parquet(s"$dir/pairs/slice=$merged")
    }

  /** Deferred slice GC below the current `sliceBase` — run after a
    * grace window ([[SliceManifest.vacuum]]). */
  def vacuumSlices(spark: SparkSession, dir: String): Int =
    Manifest.vacuum(spark, dir)

  /** Load the current state: (LIVE vectors, LIVE pair ledger — slice
    * unions, liveness-pruned, tombstone-filtered — current labels,
    * meta). */
  def load(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Meta) =
    loadOn(spark, dir, Manifest.get(spark, dir))

  /** [[load]] against a manifest the caller has already read. */
  private def loadOn(spark: SparkSession, dir: String, m: Meta)
      : (DataFrame, DataFrame, DataFrame, Meta) =
    (liveVecs(spark, dir, m),
      livePairs(spark, dir, m),
      spark.read.parquet(s"$dir/gen=${m.gen}/labels"), m)

  /** The current manifest, for callers pinning snapshots
    * ([[graft.util.PipelineLedger]]) without loading the frames. */
  def meta(spark: SparkSession, dir: String): Option[Meta] =
    Manifest.read(spark, dir)

  /** The labels table's data dir for a committed snapshot (commit =
    * None → current) — the exact frame [[load]]/[[loadAt]] serve third
    * (labels rewrite whole per fold/purge, so the gen dir needs no
    * tombstone screen), public for the DataSource V2 catalog face
    * ([[graft.sources.GraftTables]]). Fail-closed once generation
    * retention dropped the snapshot's gen dir. */
  def labelsDir(spark: SparkSession, dir: String,
      commit: Option[Long]): String = {
    val m = commit.fold(Manifest.get(spark, dir))(Manifest.at(spark, dir, _))
    Generations.requireGen(spark, dir, m.gen, "/labels",
      s"snapshot ${commit.getOrElse("current")}")
  }

  /** Committed snapshot ids available for [[loadAt]], ascending. */
  def commits(spark: SparkSession, dir: String): Seq[Long] =
    Manifest.commits(spark, dir)

  /** The archived manifest of snapshot `commit`. */
  def metaAt(spark: SparkSession, dir: String, commit: Long): Meta =
    Manifest.at(spark, dir, commit)

  /** TIME-TRAVEL [[load]] — the semantic ledger AS OF a committed
    * snapshot id; fails loudly once vacuum/generation retention dropped
    * the snapshot's dirs (the [[LedgerStore.loadAt]] contract). */
  def loadAt(spark: SparkSession, dir: String, commit: Long)
      : (DataFrame, DataFrame, DataFrame, Meta) = {
    val m = metaAt(spark, dir, commit)
    Manifest.requireReadable(spark, dir, m, s"snapshot $commit")
    val labelsDir =
      Generations.requireGen(spark, dir, m.gen, "/labels", s"snapshot $commit")
    (liveVecs(spark, dir, m), livePairs(spark, dir, m),
      spark.read.parquet(labelsDir), m)
  }

  /** [[LedgerStore.purgeDocs]]'s embedding twin — decremental semantic-
    * ledger maintenance: affected components relabel from their
    * remaining members' STORED VECTORS (the banded sign-LSH pipeline
    * restricted to the members — exact under the same pair-closure
    * argument, the ledger's uncapped profile), purged ids land as a
    * tombstone slice filtering every live read (vectors AND pairs —
    * later folds cannot pair against purged vectors), [[compact]] makes
    * the removal physical. No-op for absent/already-purged ids. */
  def purgeVecs(spark: SparkSession, dir: String, vecIds: DataFrame,
      retainGens: Int = 2): Option[Long] = {
    graft.util.Maintenance.withLeasedWriteLock("SemLedgerStore", spark, dir) {
    val m = Manifest.get(spark, dir)
    val labels = spark.read.parquet(s"$dir/gen=${m.gen}/labels")
    val targets = vecIds.select(vecIds.columns.head)
      .toDF("id").distinct()
      .join(labels.select(col("id")), Seq("id"), "left_semi")
      .localCheckpoint(true)
    if (targets.isEmpty) return None
    val comps = labels.join(targets, Seq("id"), "left_semi")
      .select(col("comp")).distinct()
    val members = labels.join(comps, Seq("comp"), "left_semi")
      .join(targets, Seq("id"), "left_anti")
      .select(col("id"))
    val vecsM = liveVecs(spark, dir, m)
      .join(members, Seq("id"), "left_semi").localCheckpoint(true)
    val pairsM = Dedup.lshNearDups(vecsM, col("id"), col("v"),
      m.nBands, m.planesPerBand, m.dim, m.thresholdPerMille / 1000.0)
    val lbl = Dedup.components(pairsM, col("a_id"), col("b_id"))
    val relabeled = members
      .join(lbl.select(col("id"), col("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val newLabels = labels.join(comps, Seq("comp"), "left_anti")
      .select(col("id"), col("comp"))
      .unionByName(relabeled)
    val sliceId = m.slices
    // claim the id: a crashed fold's orphan data slices must not become
    // live when this commit advances the window
    Generations.claimSlice(spark, dir, Seq("vecs", "pairs"), sliceId)
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

  /** EMBEDDING REFRESH (round 12) — the verb the canonical LLM-ops
    * flow needs: after a model upgrade, documents re-embed, and the
    * semantic ledger must retire each vector's OLD copy, land the NEW
    * one, and re-derive the pair ledger + labels — atomically, in one
    * ledgered commit ([[graft.text.PostingsStore.upsertBatch]]'s
    * semantics on the embedding substrate). Purge-then-fold as two
    * verbs would leave a crash window where a replay purges the
    * re-landed copy (purge has no ledger); here one commit carries the
    * tombstone slice, the new vec/pair slices ABOVE it (the v5
    * slice-ordered mask keeps them visible), the relabeled components,
    * and the batch ledger.
    *
    * Labels re-derive in ONE contraction ([[LedgerStore.upsertDocs]]'s
    * form): one checkpointed affected set ([[Dedup.affectedComponents]])
    * splits into the retiring targets and the remaining members; the
    * members re-enter unlabeled, and their stored-vector pairs
    * ([[purgeVecs]]' recompute over the members) join the new vectors'
    * delta pairs in one contraction over the untouched components'
    * labels ([[Dedup.relabelAffected]]) — identical labels to
    * relabel-then-contract, exact under the same closure argument both
    * parent verbs carry. `removeIds`
    * deletes outright; ids in both re-land (the upsert wins). Returns
    * the new generation (None for replays / fully-empty batches). */
  def upsertVecs(upserts: DataFrame, id: Column, vec: Column,
      removeIds: DataFrame, dir: String, retainGens: Int = 2,
      batchId: Long = -1L): Option[Long] = {
    val spark = upserts.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("SemLedgerStore", spark, dir) {
    val m = Manifest.read(spark, dir).getOrElse(sys.error(
      s"no committed semantic ledger at $dir — upsertVecs updates an " +
        "existing ledger; seed with maintainBatch first"))
    if (batchId >= 0 && batchId <= m.batch) return None
    // one live row per id (ADVICE r12): exact duplicates collapse,
    // conflicting re-embeddings fail loudly — two copies in one data
    // slice would both sit above the tombstone and both stay visible
    val newVecs = graft.util.Maintenance.requireUniqueUpserts(
      upserts.select(id.as("id"), vec.as("v")), "id", "semantic-ledger")
    // an id in both upserts and removeIds re-lands (the upsert wins) —
    // drop the overlap HERE so the contract is the verb's, not an
    // accident of downstream set algebra
    val rem = removeIds.select(removeIds.columns.head).toDF("id")
      .distinct()
      .join(newVecs.select(col("id")), Seq("id"), "left_anti")
      .localCheckpoint(true)
    if (newVecs.isEmpty && rem.isEmpty) {
      Manifest.recordEmptyBatch(spark, dir, Some(m), batchId); return None
    }
    val threshold = m.thresholdPerMille / 1000.0
    val labels = spark.read.parquet(s"$dir/gen=${m.gen}/labels")
    // newVecs and rem hold disjoint unique ids
    val affected = Dedup.affectedComponents(labels,
      newVecs.select(col("id")).unionByName(rem))
    val targets = affected.filter(col("_t")).select(col("id"))
    val members = affected.filter(!col("_t")).select(col("id"))
    val vecs = liveVecs(spark, dir, m)
    val pairsM =
      if (members.isEmpty) None
      else {
        val vecsM = vecs.join(members, Seq("id"), "left_semi")
          .localCheckpoint(true)
        Some(Dedup.lshNearDups(vecsM, col("id"), col("v"),
          m.nBands, m.planesPerBand, m.dim, threshold))
      }
    // the new vectors pair against the post-retirement corpus
    val deltaPairs = Dedup.lshNearDupsDelta(
      vecs.join(targets, Seq("id"), "left_anti"), newVecs,
      col("id"), col("v"), m.nBands, m.planesPerBand, m.dim,
      threshold).localCheckpoint(true)
    val edges = pairsM.fold(deltaPairs)(deltaPairs.unionByName(_))
    val newLabels = Dedup.relabelAffected(labels, affected,
      newVecs.select(col("id")), edges)
    // WRITES: tombstone slice first (the mask covers only OLDER
    // slices), new vec/pair slices above it, labels, ONE commit
    var next = m.slices
    if (!targets.isEmpty) {
      Generations.claimSlice(spark, dir, Seq("vecs", "pairs"), next)
      targets.write.mode("overwrite").parquet(s"$dir/purged/slice=$next")
      next += 1
    }
    if (!newVecs.isEmpty) {
      Generations.claimSlice(spark, dir, Seq("purged"), next)
      newVecs.write.mode("overwrite").parquet(s"$dir/vecs/slice=$next")
      deltaPairs.write.mode("overwrite").parquet(s"$dir/pairs/slice=$next")
      next += 1
    }
    if (next == m.slices) { // nothing live to retire, nothing to land
      Manifest.recordEmptyBatch(spark, dir, Some(m), batchId); return None
    }
    val gen = m.gen + 1
    newLabels.write.mode("overwrite").parquet(s"$dir/gen=$gen/labels")
    val n = spark.read.parquet(s"$dir/gen=$gen/labels").count()
    Manifest.commit(spark, dir, m.copy(gen = gen, rows = n, batch = batchId,
      slices = next, commit = m.commit + 1))
    Generations.gc(spark, dir, gen - (retainGens - 1))
    Some(gen)
    }
  }

  /** The warehouse→EMBEDDINGS cascade step: ONE reduced `changes.merge`
    * window into [[upsertVecs]] ([[graft.util.Cascade.semFollower]]),
    * exactly-once via its batch ledger. Warehouse updates RE-EMBED and
    * re-enter the near-dup closure atomically; REMOVEs and `purgeKeys`
    * compliance deletions propagate as ledger purges. `embedOf` is the
    * re-embed hook. */
  private[graft] def applyFeedWindow(ups: DataFrame, rem: DataFrame,
      dir: String, embedOf: Column, batchId: Long): Unit = {
    upsertVecs(ups.select(col("_key").as("id"), embedOf.as("v")),
      col("id"), col("v"), rem.toDF("id"), dir, batchId = batchId)
    ()
  }

  /** Fold one batch of NEW vectors (id, embedding) into the persisted
    * ledger; first batch seeds and freezes the config. Empty batches
    * and crash-replayed batch ids are no-ops. */
  def maintainBatch(batch: DataFrame, id: Column, vec: Column,
      dir: String, threshold: Double = 0.25, nBands: Int = 4,
      planesPerBand: Int = 4, dim: Int = 64, retainGens: Int = 2,
      batchId: Long = -1L): Option[Long] = {
    val spark = batch.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("SemLedgerStore", spark, dir) {
    val prev = Manifest.read(spark, dir)
    // crash replay of an already-folded batch: screened before any job
    if (prev.exists(m => batchId >= 0 && batchId <= m.batch)) return None
    val vecs = batch.select(id.as("id"), vec.as("v")).localCheckpoint(true)
    if (vecs.isEmpty) { Manifest.recordEmptyBatch(spark, dir, prev, batchId); return None }
    val perMille = math.round(threshold * 1000).toInt
    prev match {
      case None =>
        val pairs = Dedup.lshNearDupsDelta(vecs.limit(0), vecs,
          col("id"), col("v"), nBands, planesPerBand, dim, threshold)
        val labels = Dedup.componentsIncremental(
          vecs.select(col("id"), col("id").as("comp")).limit(0),
          vecs, col("id"), pairs, col("a_id"), col("b_id"))
        Some(publish(spark, dir, vecs, pairs, labels,
          Meta(Format, 0L, 0L, batchId, perMille, nBands, planesPerBand,
            dim, sliceBase = 0L, slices = 1L, commit = -1L), retainGens))
      case Some(m) =>
        require(m.thresholdPerMille == perMille && m.nBands == nBands &&
            m.planesPerBand == planesPerBand && m.dim == dim,
          s"semantic ledger at $dir was seeded with " +
            s"(${m.thresholdPerMille}‰, ${m.nBands}×${m.planesPerBand}, " +
            s"dim ${m.dim}); refusing a mismatched fold — one ledger, " +
            "one hyperplane family")
        val (oldVecs, _, oldLabels, _) = loadOn(spark, dir, m)
        // TOMBSTONE SCREEN (round-10 ADVICE): purged ids stay purged
        // until compact+vacuum; re-folding one would re-enter the labels
        // while the tombstone hides its vector from every pairing read
        val screened = vecs.join(
          tombstones(spark, s"$dir/purged", "id", m).select("id"),
          Seq("id"), "left_anti").localCheckpoint(true)
        if (screened.isEmpty) { Manifest.recordEmptyBatch(spark, dir, Some(m), batchId); return None }
        val deltaPairs = Dedup.lshNearDupsDelta(oldVecs, screened,
          col("id"), col("v"), nBands, planesPerBand, dim, threshold)
          .localCheckpoint(true)
        val allIds = oldLabels.select(col("id"))
          .unionByName(screened.select(col("id")))
        val newLabels = Dedup.componentsIncremental(
          oldLabels, allIds, col("id"), deltaPairs,
          col("a_id"), col("b_id"))
        // writes: ONLY the delta slices + the labels — the stores append
        Some(publish(spark, dir, screened, deltaPairs, newLabels,
          m.copy(gen = m.gen + 1, batch = batchId, slices = m.slices + 1),
          retainGens))
    }
    }
  }

  /** The committed snapshot id produced by LEDGERED batch `batchId`
    * (see [[StoreManifest.commitForBatch]]). */
  def commitForBatch(spark: SparkSession, dir: String,
      batchId: Long): Long =
    Manifest.commitForBatch(spark, dir, batchId)
}
