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
  * per band, dim, threshold‰) freezes in the manifest at seed time.
  * Every write verb commits through the one ledgered slice write
  * ([[graft.util.SliceManifest.write]]), so the streaming face is
  * exactly-once via its batch-id ledger.
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

  /** What a write reads of `m`: the live vectors and the labels. */
  private def vecsAndLabels(spark: SparkSession, dir: String,
      m: Meta): (DataFrame, DataFrame) =
    (liveVecs(spark, dir, m), spark.read.parquet(s"$dir/gen=${m.gen}/labels"))

  /** Land a fold's vectors and their pairs as slice `s`. */
  private def landVecs(dir: String, vecs: DataFrame, pairs: DataFrame)(
      s: Long): Unit = {
    vecs.write.mode("overwrite").parquet(s"$dir/vecs/slice=$s")
    pairs.write.mode("overwrite").parquet(s"$dir/pairs/slice=$s")
  }

  /** `m` advanced to the next labels generation holding `labels`. */
  private def relabeled(spark: SparkSession, dir: String, m: Meta,
      labels: DataFrame): Meta =
    m.copy(gen = m.gen + 1,
      rows = LedgerStore.landLabels(spark, dir, m.gen + 1, labels))

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
      : (DataFrame, DataFrame, DataFrame, Meta) = {
    val m = Manifest.get(spark, dir)
    (liveVecs(spark, dir, m), livePairs(spark, dir, m),
      spark.read.parquet(s"$dir/gen=${m.gen}/labels"), m)
  }

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
    * ledger maintenance: [[upsertVecs]] with no upserts and no batch id
    * ([[SliceManifest.purge]]). The affected components' remaining
    * members re-enter through the upsert's one contraction over their
    * STORED VECTORS (exact under the same pair-closure argument, the
    * ledger's uncapped profile); the purged ids land as a tombstone
    * slice filtering every live read (vectors AND pairs — later folds
    * cannot pair against purged vectors); [[compact]] makes the removal
    * physical. No-op for absent/already-purged ids. Returns the
    * published generation. */
  def purgeVecs(spark: SparkSession, dir: String, vecIds: DataFrame,
      retainGens: Int = 2): Option[Long] =
    Manifest.purge(spark, dir, "SemLedgerStore")(m => upsertVecs(
      liveVecs(spark, dir, m).limit(0), col("id"), col("v"), vecIds, dir,
      retainGens))((_, a) => a.gen)

  /** EMBEDDING REFRESH (round 12) — the verb the canonical LLM-ops
    * flow needs: after a model upgrade, documents re-embed, and the
    * semantic ledger must retire each vector's OLD copy, land the NEW
    * one, and re-derive the pair ledger + labels — atomically, in one
    * ledgered commit ([[SliceManifest.write]];
    * [[graft.text.PostingsStore.upsertBatch]]'s semantics on the
    * embedding substrate): the tombstone slice, the new vec/pair slices
    * ABOVE it (the v5 slice-ordered mask keeps them visible), the
    * relabeled components, and the batch ledger.
    *
    * Labels re-derive in ONE contraction ([[LedgerStore.upsertDocs]]'s
    * form): one checkpointed affected set ([[Dedup.affectedComponents]])
    * splits into the retiring targets and the remaining members; the
    * members re-enter unlabeled, and their stored-vector pairs join the
    * new vectors' delta pairs in one contraction over the untouched
    * components' labels ([[Dedup.relabelAffected]]) — exact under the
    * closure argument [[LedgerStore.upsertDocs]] carries. `removeIds`
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
      Manifest.write(spark, dir, m, batchId) {
        // one live row per id (ADVICE r12): exact duplicates collapse,
        // conflicting re-embeddings fail loudly — two copies in one data
        // slice would both sit above the tombstone and both stay visible
        val newVecs = graft.util.Maintenance.requireUniqueUpserts(
          upserts.select(id.as("id"), vec.as("v")), "id", "semantic-ledger")
        val threshold = m.thresholdPerMille / 1000.0
        val (vecs, labels) = vecsAndLabels(spark, dir, m)
        // an id in both upserts and removeIds re-lands (the upsert wins)
        val affected = Dedup.affectedComponents(labels, newVecs.select(col("id"))
          .unionByName(removeIds.select(removeIds.columns.head).toDF("id"))
          .distinct())
        val targets = affected.filter(col("_t")).select(col("id"))
        val members = affected.filter(!col("_t")).select(col("id"))
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
        Manifest.Write(retire = Some(targets),
          land = Option.when(!newVecs.isEmpty)(landVecs(dir, newVecs,
            deltaPairs)))(_ => relabeled(spark, dir, m, newLabels))
      }.map(a => LedgerStore.retain(spark, dir, a.gen, retainGens))
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
    * ledger through one ledgered write ([[SliceManifest.write]]); the
    * first batch seeds and freezes the config. A purged id stays purged
    * (the tombstone screen — re-folding it would re-enter the labels
    * while the tombstone hides its vector from every pairing read).
    * Empty batches and crash-replayed batch ids are no-ops. */
  def maintainBatch(batch: DataFrame, id: Column, vec: Column,
      dir: String, threshold: Double = 0.25, nBands: Int = 4,
      planesPerBand: Int = 4, dim: Int = 64, retainGens: Int = 2,
      batchId: Long = -1L): Option[Long] = {
    val spark = batch.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("SemLedgerStore", spark, dir) {
      val perMille = math.round(threshold * 1000).toInt
      val prev = Manifest.read(spark, dir)
      val m = prev.getOrElse(Meta(Format, gen = -1L, rows = 0L, batch = -1L,
        perMille, nBands, planesPerBand, dim, sliceBase = 0L, slices = 0L,
        commit = -1L))
      require(m.thresholdPerMille == perMille && m.nBands == nBands &&
          m.planesPerBand == planesPerBand && m.dim == dim,
        s"semantic ledger at $dir was seeded with " +
          s"(${m.thresholdPerMille}‰, ${m.nBands}×${m.planesPerBand}, " +
          s"dim ${m.dim}); refusing a mismatched fold — one ledger, " +
          "one hyperplane family")
      Manifest.write(spark, dir, m, batchId) {
        val vecs = batch.select(id.as("id"), vec.as("v"))
        Manifest.screen(spark, dir, m, vecs, "id").fold(Manifest.Write()(_ => m)) {
          s =>
            val screened = s.localCheckpoint(true)
            val (oldVecs, oldLabels) = prev.fold((screened.limit(0),
                screened.select(col("id"), col("id").as("comp")).limit(0)))(
              vecsAndLabels(spark, dir, _))
            val deltaPairs = Dedup.lshNearDupsDelta(oldVecs, screened,
              col("id"), col("v"), nBands, planesPerBand, dim, threshold)
              .localCheckpoint(true)
            val labels = Dedup.componentsIncremental(oldLabels,
              oldLabels.select(col("id")).unionByName(screened.select(col("id"))),
              col("id"), deltaPairs, col("a_id"), col("b_id"))
            // writes: ONLY the delta slices + the labels — the stores append
            Manifest.Write(land = Some(landVecs(dir, screened, deltaPairs)))(
              _ => relabeled(spark, dir, m, labels))
        }
      }.map(a => LedgerStore.retain(spark, dir, a.gen, retainGens))
    }
  }

  /** The committed snapshot id produced by LEDGERED batch `batchId`
    * (see [[StoreManifest.commitForBatch]]). */
  def commitForBatch(spark: SparkSession, dir: String,
      batchId: Long): Long =
    Manifest.commitForBatch(spark, dir, batchId)
}
