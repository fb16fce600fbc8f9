package graft.ann

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Generations, SliceManifest, StoreManifest}
import graft.util.StoreManifest.{maskOlder, tombstones, window}

/** Version-stamped PERSISTED index format (SURVEY §9.10 follow-on): a
  * refreshed IVF index publishes to a directory through the same
  * manifest-pointer commit discipline as the merge table
  * ([[graft.cdc.Apply]]) — so an index maintenance job (the doubling-
  * policy rebuild) can hand a new index to running readers without any
  * shared session, and a crashed writer leaves readers untouched.
  *
  * Layout (v2 — a generation is a re-train EPOCH; frozen-insert folds
  * append slices inside it instead of rewriting the table):
  * {{{
  *   dir/_graft_index_meta.json      <- the pointer (gen, rows, baseRows,
  *                                      batch, sliceBase, slices)
  *   dir/gen=G/centroids/            <- parquet (cell, c)
  *   dir/gen=G/assigned/slice=S/     <- parquet (vid, v), PARTITIONED BY
  *                                      cell; slice 0 = the train, S>0 =
  *                                      one frozen-insert fold each
  * }}}
  *
  * A new generation's data dirs are invisible until the one-object
  * atomic meta flip ([[graft.util.Generations.commit]] — the
  * object-store PUT);
  * superseded generations are deleted only AFTER the flip and only
  * beyond a retention window, so a reader holding the previous meta
  * keeps scanning intact files (the Apply deferred-GC contract). Within
  * a generation, the frozen-insert fold, the upsert and the purge append
  * through the one ledgered slice write
  * ([[graft.util.SliceManifest.write]]).
  *
  * The assigned table is written `partitionBy("cell")` — the
  * [[Similarity]] scaladoc's "assignment column doubles as a partition
  * key" claim made physical: [[searchPruned]] filters on the probed
  * cell ids (bounded driver metadata — the centroid ranking), which
  * plans as STATIC partition pruning — whole files of non-probed cells
  * are never opened (`PartitionFilters` in the scan, pinned by
  * IndexStoreSpec). At 100 TB a probe reads ~nprobe/nCentroids of the
  * files instead of scanning everything into a join.
  */
object IndexStore {

  // v3 (round 11): + commit id / history archive.
  // v4 (round 13): SLICE-ORDERED tombstones — a purged/slice=S row masks
  // only assigned rows with slice < S, so [[upsertVectors]] can retire a
  // vector's old copy and land its refreshed one in ONE atomic commit
  // (the postings-v3 / semledger-v5 rule). Pure purge flows read
  // identically (a purge's tombstone is always newer than the rows it
  // targets); a pre-round-13 dir fails loudly as a version mismatch.
  private val Format = "graft-ivf-v4"

  /** `rows` = vectors in this generation; `baseRows` = rows at the last
    * RE-TRAIN — the denominator of the doubling refresh policy (a grown
    * publish carries its base forward; a rebuild resets base = rows).
    * `batch` = the last ledgered batch id folded (−1 before any; a
    * publish without a batch id keeps it) — the idempotent-
    * foreachBatch ledger: a crash-replayed batch id ≤ `batch` is a
    * no-op instead of a double insert.
    *
    * v2 (round 10): `slices` — the live slice count of the generation's
    * assigned store. A generation is the re-train EPOCH the round-9
    * verdict sketched (#3): its centroids are frozen, so a
    * frozen-insert fold APPENDS one delta slice
    * (`gen=G/assigned/slice=S`, still cell-partitioned inside) and
    * bumps `slices` in the same pointer commit — delta-sized write I/O
    * — while only a doubling re-train opens a new generation and
    * resets the slice space (reassignment invalidates every stored
    * cell id, so the old slices cannot be reused). A crashed fold's
    * orphan slice is outside the committed count and invisible. */
  /** Since round 11 every meta also carries `commit` — the monotone
    * snapshot id behind [[loadIvfAt]]/[[commits]] time travel (the
    * [[graft.dedup.LedgerStore]] protocol). */
  final case class Meta(format: String, gen: Long, rows: Long,
      baseRows: Long, batch: Long, sliceBase: Long, slices: Long,
      commit: Long) extends StoreManifest.Windowed

  private[graft] val Manifest = new SliceManifest[Meta](
    "_graft_index_meta.json", Format, "index", Seq("assigned", "purged"),
    m => s"gen=${m.gen}/")

  /** Publish `index` to `dir` as the next generation and flip the
    * pointer. Returns the committed generation id. `retainGens` ≥ 1:
    * how many generations stay on disk after the flip (readers that
    * loaded an older meta keep working until their generation ages
    * out — the deferred-GC grace window). `carryBaseRows`: a GROWN
    * publish passes the previous base so the doubling denominator
    * survives the commit; omitted = this publish IS a (re)train, base
    * resets to the row count. */
  def saveIvf(index: Similarity.IvfIndex, dir: String,
      retainGens: Int = 2, carryBaseRows: Option[Long] = None,
      batchId: Long = -1L): Long = {
    require(retainGens >= 1, s"retainGens must be >= 1, got $retainGens")
    val spark = index.assigned.sparkSession
    // publish/fold/purge/compact serialize on the per-(store, dir)
    // monitor (round-11 verdict #5 — reentrant for the fold's internal
    // publish); cross-process stays single-writer by contract
    graft.util.Maintenance.withLeasedWriteLock("IndexStore", spark, dir) {
    val prev = Manifest.read(spark, dir)
    val gen = prev.map(_.gen + 1).getOrElse(0L)
    // 1. write the new generation's data — invisible, nothing points at
    // it. The assigned store lands as the epoch's slice 0; later
    // frozen-insert folds append slice 1, 2, … without touching it.
    index.centroids.write.mode("overwrite")
      .parquet(s"$dir/gen=$gen/centroids")
    index.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/gen=$gen/assigned/slice=0")
    // count the rows that were WRITTEN (a plain re-count of the input
    // frame would re-run its whole lineage when unmaterialized)
    val n = spark.read.parquet(s"$dir/gen=$gen/assigned").count()
    // 2. the commit: one atomic pointer PUT; 3. deferred GC after it
    Manifest.commit(spark, dir,
      Meta(Format, gen, n, carryBaseRows.getOrElse(n),
        Manifest.ledger(prev, batchId), sliceBase = 0L, slices = 1L,
        commit = prev.map(_.commit + 1).getOrElse(0L)))
    Generations.gc(spark, dir, gen - (retainGens - 1))
    gen
    }
  }

  /** Tombstones (vid, _tomb) of the CURRENT generation (the
    * [[purgeVectors]]/[[upsertVectors]] ledger) — tombstones live inside
    * the gen dir, so a re-train (which trains from the filtered view)
    * sheds them with the old generation. */
  private def liveTombs(spark: SparkSession, dir: String,
      m: Meta): DataFrame =
    tombstones(spark, s"$dir/gen=${m.gen}/purged", "vid", m)

  /** Load the CURRENT generation. The returned index is probe-ready
    * ([[Similarity.ivfSearch]] works as-is); [[searchPruned]] adds the
    * partition-pruned scan path the layout exists for. Also returns the
    * meta so a maintenance caller can seed the growth policy
    * (`Maintenance.noteBaseSize(..., meta.baseRows)`). */
  def loadIvf(spark: SparkSession, dir: String): (Similarity.IvfIndex, Meta) =
    loadIvfOn(spark, dir, Manifest.get(spark, dir))

  private def loadIvfOn(spark: SparkSession, dir: String,
      m: Meta): (Similarity.IvfIndex, Meta) = {
    val centroids = spark.read.parquet(s"$dir/gen=${m.gen}/centroids")
    // liveness prune on the slice partition column (an orphan slice from
    // a crashed fold is outside the committed count); `slice` and `cell`
    // are BOTH partition dirs, so a probe's cell filter still plans the
    // static PartitionFilters prune the layout exists for. v4 mask: a
    // tombstone hides only OLDER slices — an upsert's re-landed copy
    // (data slice above its own tombstone) stays visible.
    val assigned = maskOlder(window(spark, s"$dir/gen=${m.gen}/assigned", m),
        "vid", liveTombs(spark, dir, m))
      .select(col("vid"), col("v"), col("cell"))
    (Similarity.IvfIndex(centroids, assigned), m)
  }

  /** The current manifest, for callers pinning snapshots
    * ([[graft.util.PipelineLedger]]) without loading the frames. */
  def meta(spark: SparkSession, dir: String): Option[Meta] =
    Manifest.read(spark, dir)

  /** Committed snapshot ids available for [[loadIvfAt]], ascending. */
  def commits(spark: SparkSession, dir: String): Seq[Long] =
    Manifest.commits(spark, dir)

  /** The archived manifest of snapshot `commit`. */
  def metaAt(spark: SparkSession, dir: String, commit: Long): Meta =
    Manifest.at(spark, dir, commit)

  /** TIME-TRAVEL [[loadIvf]] — the index AS OF a committed snapshot id
    * (a pre-purge snapshot still probes the purged vectors while its
    * slices survive; a pre-re-train snapshot probes the OLD epoch while
    * its generation survives retention). Fails loudly once the
    * snapshot's generation or slice dirs are gone — the fail-closed
    * [[graft.cdc.Apply.readMergeTableAt]] contract. */
  def loadIvfAt(spark: SparkSession, dir: String,
      commit: Long): (Similarity.IvfIndex, Meta) = {
    val m = metaAt(spark, dir, commit)
    Generations.requireGen(spark, dir, m.gen, "", s"snapshot $commit")
    Manifest.requireReadable(spark, dir, m, s"snapshot $commit")
    loadIvfOn(spark, dir, m)
  }

  /** DECREMENTAL index maintenance — remove vectors from the persisted
    * IVF index (search over the remaining vectors is trivially exact — no
    * cross-row semantics to repair, unlike the dedup ledgers):
    * [[upsertVectors]] with no upserts and no batch id
    * ([[SliceManifest.purge]]). Purged ids land as a tombstone slice
    * INSIDE the current generation (a re-train sheds them with it);
    * `rows` decrements in the same commit so the doubling denominator
    * stays honest; [[compactAssigned]] makes the removal physical. No-op
    * for absent ids. Returns vectors removed. */
  def purgeVectors(spark: SparkSession, dir: String,
      vecIds: DataFrame): Long =
    Manifest.purge(spark, dir, "IndexStore")(m => upsertVectors(
      loadIvfOn(spark, dir, m)._1.assigned.limit(0), col("vid"), col("v"),
      vecIds, dir))((b, a) => b.rows - a.rows).getOrElse(0L)

  /** Land `assigned` (vid, v, cell) — vectors assigned against the
    * generation's FROZEN centroids ([[Similarity.assignDelta]], one
    * broadcast-argmin pass) — as its assigned slice `s`, partitioned by
    * cell. */
  private def landAssigned(dir: String, m: Meta, assigned: DataFrame)(
      s: Long): Unit =
    assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/gen=${m.gen}/assigned/slice=$s")

  /** VECTOR REFRESH (round 13) — the last cell of the upsert matrix
    * ([[graft.text.PostingsStore.upsertBatch]] /
    * [[graft.dedup.LedgerStore.upsertDocs]] /
    * [[graft.dedup.SemLedgerStore.upsertVecs]] on the IVF index): after
    * a model upgrade re-embeds documents, the index must retire each
    * vector's OLD copy, land the NEW one (assigned against the FROZEN
    * centroids), and adjust `rows` by exactly −old +new — atomically,
    * in ONE ledgered commit ([[SliceManifest.write]]).
    * [[purgeVectors]]-then-[[ivfMaintainBatch]] as two verbs would leave
    * a crash window where a replay purges the re-landed copy (or the
    * fold's tombstone screen silently drops the re-insert).
    *
    * `removeIds` deletes outright; ids in both re-land (the upsert
    * wins). Previously-purged ids re-enter through an upsert (the verb
    * sets the id's current state — unlike the plain fold, whose screen
    * keeps purges sticky). The doubling re-train policy is NOT
    * evaluated here — an upsert is a refresh, roughly row-neutral; the
    * next [[ivfMaintainBatch]] fold checks the policy against the
    * updated `rows`/`baseRows`. Returns the new commit id (None for
    * replays / no-op batches). */
  def upsertVectors(upserts: DataFrame, id: Column, vec: Column,
      removeIds: DataFrame, dir: String, batchId: Long = -1L)
      : Option[Long] = {
    val spark = upserts.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("IndexStore", spark, dir) {
      val m = Manifest.read(spark, dir).getOrElse(sys.error(
        s"no committed index at $dir — upsertVectors updates an existing " +
          "index; seed with saveIvf/ivfMaintainBatch first"))
      Manifest.write(spark, dir, m, batchId) {
        // one live row per vid (ADVICE r12): exact duplicates collapse,
        // conflicting re-embeddings fail loudly — two copies in one data
        // slice would both sit above the tombstone and both probe
        val newVecs = graft.util.Maintenance.requireUniqueUpserts(
          upserts.select(id.as("vid"), vec.as("v")), "vid", "ivf-index")
        val (idx, _) = loadIvfOn(spark, dir, m)
        // ids in both upserts and removeIds re-land (the upsert wins);
        // retire the LIVE copies of everything incoming or removed
        val targets = newVecs.select(col("vid"))
          .unionByName(removeIds.select(removeIds.columns.head).toDF("vid"))
          .distinct()
          .join(idx.assigned.select(col("vid")), Seq("vid"), "left_semi")
          .localCheckpoint(true)
        Manifest.Write(retire = Some(targets),
          land = Option.when(!newVecs.isEmpty)(landAssigned(dir, m,
            Similarity.assignDelta(idx, newVecs, col("vid"), col("v"))))) {
          // rows −retired +landed, the landed ones as written
          l => m.copy(rows = m.rows - l.retired + l.data.fold(0L)(s =>
            spark.read.parquet(s"$dir/gen=${m.gen}/assigned/slice=$s").count()))
        }
      }.map(_.commit)
    }
  }

  /** The warehouse→ANN-INDEX cascade step: ONE reduced `changes.merge`
    * window into [[upsertVectors]] ([[graft.util.Cascade.ivfFollower]])
    * — a warehouse UPDATE re-embeds and re-assigns its vector in one
    * commit (no purge-then-insert crash window), REMOVEs and
    * `purgeKeys` compliance deletions become index tombstones,
    * exactly-once via the batch ledger. `embedOf` is the re-embed
    * hook. */
  private[graft] def applyFeedWindow(ups: DataFrame, rem: DataFrame,
      dir: String, embedOf: Column, batchId: Long): Unit = {
    upsertVectors(ups.select(col("_key").as("vid"), embedOf.as("v")),
      col("vid"), col("v"), rem.toDF("vid"), dir, batchId = batchId)
    ()
  }

  /** Fold ONE batch of vectors into the persisted index — the complete
    * maintenance step a continuous ingest runs per micro-batch, built
    * from the round's three pieces: frozen-quantizer insert (one
    * broadcast-argmin pass over the batch, [[Similarity.ivfInsert]]),
    * the measured "rebuild after doubling" policy (DriftProbe / SURVEY
    * §9.9 — rows ≥ growthFactor × baseRows re-trains from the assigned
    * table, which HOLDS every vector, so no external corpus is needed),
    * and the manifest-pointer commit. First batch seeds gen 0 by
    * training. Returns (generation, rebuilt?). Empty batches are a
    * no-op (foreachBatch delivers them), and so is a batch id ≤ the
    * manifest's recorded `batch` — the idempotent-foreachBatch ledger
    * ([[StoreManifest.ledgered]]) that makes the stream EXACTLY-ONCE:
    * after a crash between publish and checkpoint commit, the replayed
    * batch would otherwise re-insert its vectors (the fold is NOT
    * naturally idempotent).
    *
    * v2 fold I/O (round-9 verdict #3): a frozen-insert fold writes ONLY
    * its delta's assigned rows as the generation's next slice, through
    * the ledgered slice write ([[SliceManifest.write]]) — the
    * generation dir is otherwise untouched, so fold write volume tracks
    * the delta. Only the doubling re-train rewrites: it reassigns every
    * vector, which invalidates the old slices wholesale, so it publishes
    * a fresh generation with slice 0 (the epoch reset).
    *
    * CONTRACT — the plain fold is APPEND-ONLY of NEW ids (the sibling
    * stores' adjudicated rule): a batch id already in the index
    * DUPLICATES if never tombstoned and is SCREENED (by id presence in
    * the tombstone ledger, deliberately not by the v4 slice order) if
    * it ever was — purges stay sticky through plain re-folds, and a
    * refresh of any existing id, tombstone history or not, must go
    * through [[upsertVectors]], which retires the live copy and lands
    * the new one in one commit (IndexStoreSpec pins both faces). */
  def ivfMaintainBatch(batch: DataFrame, id: Column, vec: Column,
      dir: String, nCentroids: Int, growthFactor: Double = 2.0,
      retainGens: Int = 2, batchId: Long = -1L): Option[(Long, Boolean)] = {
    val spark = batch.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("IndexStore", spark, dir) {
      val vecs = batch.select(id.as("vid"), vec.as("v"))
      val prev = Manifest.read(spark, dir)
      def train(all: DataFrame): (Long, Boolean) =
        (saveIvf(Similarity.buildIvf(all, col("vid"), col("v"), nCentroids,
          iterations = 1, materialize = true), dir, retainGens,
          batchId = batchId), true)
      Manifest.ledgered(spark, dir, prev, batchId) {
        prev match {
          case None => Option.when(!vecs.isEmpty)(train(vecs))
          case Some(m) =>
            Manifest.screen(spark, dir, m, vecs, "vid").flatMap { screened =>
              val (idx, _) = loadIvfOn(spark, dir, m)
              val delta = Similarity.assignDelta(idx, screened, col("vid"),
                col("v")).localCheckpoint(true)
              val n = m.rows + delta.count()
              if (n.toDouble >= m.baseRows.toDouble * growthFactor)
                // doubling re-train over every live vector plus the
                // batch: purged vectors must not re-enter (the v4
                // slice-ordered mask keeps upsert-re-landed copies in)
                Some(train(idx.assigned.unionByName(delta)))
              else Manifest.write(spark, dir, m, batchId)(Manifest.Write(
                land = Some(landAssigned(dir, m, delta)))(
                _ => m.copy(rows = n))).map(a => (a.gen, false))
            }
        }
      }
    }
  }

  /** OPTIMIZE for the maintained generation's assigned-slice window
    * (the [[graft.dedup.LedgerStore.compact]] verb on the index side):
    * merge the live slices into ONE cell-partitioned slice and advance
    * `sliceBase` in the same atomic pointer commit — rows, base, and
    * the batch ledger ride along unchanged, so replay safety and
    * search results are preserved (IndexStoreSpec pins both).
    * Superseded slices stay for pre-compact readers until
    * [[vacuumAssignedSlices]]. A re-train makes this moot (it opens a
    * fresh generation at slice 0); compact serves the long-lived
    * below-threshold index that folds forever without doubling. */
  def compactAssigned(spark: SparkSession, dir: String): Option[Long] =
    Manifest.compact(spark, dir, "IndexStore") { (m, merged) =>
      loadIvfOn(spark, dir, m)._1.assigned.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(s"$dir/gen=${m.gen}/assigned/slice=$merged")
    }

  /** Deferred slice GC below the current window base (current
    * generation only — old generations die whole via [[saveIvf]]'s
    * retention GC; [[SliceManifest.vacuum]]). */
  def vacuumAssignedSlices(spark: SparkSession, dir: String): Int =
    Manifest.vacuum(spark, dir)

  // ---- the composite (IVF-PQ) index, persisted ----

  private val PqFormat = "graft-ivfpq-v3" // v3 (round 11): + commit id / history archive

  /** v2 (round 10): `baseRows` (the doubling-policy denominator) and
    * `batch` (the exactly-once streaming ledger) moved INTO the manifest
    * from the v1 sidecar `_graft_ivfpq_maint.json` — the sidecar was
    * committed AFTER the data pointer flipped, so a crash between the
    * two PUTs left a new generation live against a stale batch id and
    * the replayed batch double-inserted its vectors. One pointer, one
    * atomic PUT, data + ledger indivisible (the [[Meta]] contract the
    * plain-IVF store always had). */
  /** Since round 11 the PQ manifest also carries `commit` — the
    * monotone snapshot id behind [[loadIvfPqAt]]/[[pqCommits]] (the
    * [[Meta]] protocol on the composite side). */
  final case class PqMeta(format: String, gen: Long, rows: Long,
      m: Int, subDim: Int, baseRows: Long, batch: Long, commit: Long)
      extends StoreManifest.Entry

  private[graft] val PqManifest =
    new StoreManifest[PqMeta]("_graft_ivfpq_meta.json", PqFormat, "ivfpq")

  /** Persist the COMPOSITE index — the one a 100 TB deployment actually
    * stores (codes are ~4·subDim× smaller than vectors): coarse cells
    * and per-subspace codebooks land as bounded parquet metadata tables
    * (nCells and m·ksub rows), the per-row codes table partitions by
    * cell so [[Similarity.ivfPqSearchAdc]]'s existing cell filter gets
    * the same static-pruning I/O cut [[searchPruned]] measures. Same
    * generation + atomic-pointer + deferred-GC discipline as
    * [[saveIvf]]. */
  def saveIvfPq(index: Similarity.IvfPqIndex, dir: String,
      retainGens: Int = 2,
      sideTables: Seq[(String, DataFrame)] = Nil,
      carryBaseRows: Option[Long] = None, batchId: Long = -1L): Long = {
    require(retainGens >= 1, s"retainGens must be >= 1, got $retainGens")
    val spark = index.codes.sparkSession
    import spark.implicits._
    graft.util.Maintenance.withLeasedWriteLock("IndexStore", spark, dir) {
    val prev = PqManifest.read(spark, dir)
    val gen = prev.map(_.gen + 1).getOrElse(0L)
    index.cells.map { case (cell, c) => (cell, c.toSeq) }
      .toDF("cell", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/gen=$gen/cells")
    (for {
      sub <- 0 until index.pq.m
      (c, code) <- index.pq.codebooks(sub).zipWithIndex
    } yield (sub, code, c.toSeq)).toDF("sub", "code", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/gen=$gen/codebooks")
    index.codes.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/gen=$gen/codes")
    // side tables (e.g. the maintenance loop's raw vectors) land INSIDE
    // the generation BEFORE the pointer commit — a crash between them
    // cannot publish a generation missing its tables
    sideTables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/gen=$gen/$name") }
    // count what was written, not the (possibly lazy) input frame
    val n = spark.read.parquet(s"$dir/gen=$gen/codes").count()
    PqManifest.commit(spark, dir, PqMeta(PqFormat, gen, n, index.pq.m,
      index.pq.subDim, carryBaseRows.getOrElse(n),
      PqManifest.ledger(prev, batchId),
      prev.map(_.commit + 1).getOrElse(0L)))
    Generations.gc(spark, dir, gen - (retainGens - 1))
    gen
    }
  }

  /** Load the current composite generation: the two quantizer tables
    * come back as bounded driver metadata (the dtab pattern), the codes
    * table as the partitioned scan. The embedded PqIndex's own codes
    * frame is the cell-less projection, so pqSearchAdc also works.
    *
    * No pruned-search variant is needed here:
    * [[Similarity.ivfPqSearchAdc]] already filters `cell IN (probed)`
    * before the explode, and over THIS layout that predicate is a
    * static partition filter — the probed-share file skipping comes
    * free (IndexStoreSpec pins the PartitionFilters plan). */
  def loadIvfPq(spark: SparkSession, dir: String)
      : (Similarity.IvfPqIndex, PqMeta) =
    loadIvfPqOn(spark, dir, PqManifest.get(spark, dir))

  /** Committed composite-index snapshot ids, ascending. */
  def pqCommits(spark: SparkSession, dir: String): Seq[Long] =
    PqManifest.commits(spark, dir)

  /** The archived PQ manifest of snapshot `commit`. */
  def pqMetaAt(spark: SparkSession, dir: String, commit: Long): PqMeta =
    PqManifest.at(spark, dir, commit)

  /** TIME-TRAVEL [[loadIvfPq]] — the composite index AS OF a committed
    * snapshot id; fails loudly once generation retention dropped the
    * snapshot's dirs (the [[loadIvfAt]] contract on the PQ side —
    * completing the matrix: every persisted substrate in the repo is
    * snapshot-readable). */
  def loadIvfPqAt(spark: SparkSession, dir: String,
      commit: Long): (Similarity.IvfPqIndex, PqMeta) = {
    val m = pqMetaAt(spark, dir, commit)
    Generations.requireGen(spark, dir, m.gen, "", s"snapshot $commit")
    loadIvfPqOn(spark, dir, m)
  }

  private def loadIvfPqOn(spark: SparkSession, dir: String,
      m: PqMeta): (Similarity.IvfPqIndex, PqMeta) = {
    val cells = spark.read.parquet(s"$dir/gen=${m.gen}/cells")
      .collect().map(r => (r.getAs[Number](0).intValue(),
        r.getSeq[Double](1).toArray)).sortBy(_._1).toIndexedSeq
    val cbRows = spark.read.parquet(s"$dir/gen=${m.gen}/codebooks")
      .collect().map(r => (r.getAs[Number](0).intValue(),
        r.getAs[Number](1).intValue(), r.getSeq[Double](2).toArray))
    val codebooks = (0 until m.m).map { sub =>
      cbRows.filter(_._1 == sub).sortBy(_._2).map(_._3).toIndexedSeq
    }
    val codes = spark.read.parquet(s"$dir/gen=${m.gen}/codes")
      .select(col("vid"), col("codes"), col("cell"))
    (Similarity.IvfPqIndex(cells,
      Similarity.PqIndex(m.m, m.subDim, codebooks,
        codes.select(col("vid"), col("codes"))),
      codes), m)
  }

  /** [[ivfMaintainBatch]]'s composite-index twin: fold one batch into
    * the persisted IVF-PQ index — frozen-quantizer coarse-assign +
    * residual encode ([[Similarity.ivfPqInsert]]), the doubling-policy
    * re-train ([[Similarity.buildIvfPq]] needs the RAW vectors, which
    * PQ codes cannot reconstruct, so this store keeps a vecs table
    * alongside the codes — the honest cost of a retrainable compressed
    * index; a deployment that accepts frozen-forever quantizers can
    * drop it), and a generation publish per fold with the exactly-once
    * batch-id ledger. Since v2 the ledger (rows/baseRows/batch) rides
    * IN the manifest, so one atomic pointer PUT commits data and
    * ledger together — a crash can never publish a generation whose
    * recorded batch id lags its data (the double-insert window the v1
    * sidecar had). */
  def ivfPqMaintainBatch(batch: DataFrame, id: Column, vec: Column,
      dir: String, nCells: Int, m: Int, ksub: Int,
      growthFactor: Double = 2.0, retainGens: Int = 2,
      batchId: Long = -1L): Option[(Long, Boolean)] = {
    val spark = batch.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("IndexStore", spark, dir) {
      val prev = PqManifest.read(spark, dir)
      PqManifest.ledgered(spark, dir, prev, batchId) {
        val vecs = batch.select(id.as("vid"), vec.as("v")).localCheckpoint(true)
        Option.when(!vecs.isEmpty)(prev match {
          case None =>
            (saveIvfPq(Similarity.buildIvfPq(vecs, col("vid"), col("v"),
              nCells, m, ksub, materialize = true), dir, retainGens,
              sideTables = Seq("vecs" -> vecs), batchId = batchId), true)
          case Some(pm) =>
            val (idx, _) = loadIvfPqOn(spark, dir, pm)
            val allVecs = spark.read.parquet(s"$dir/gen=${pm.gen}/vecs")
              .localCheckpoint(true) // survives its generation's GC
              .unionByName(vecs)
            val n = pm.rows + vecs.count()
            if (n.toDouble >= pm.baseRows.toDouble * growthFactor)
              (saveIvfPq(Similarity.buildIvfPq(allVecs, col("vid"), col("v"),
                nCells, m, ksub, materialize = true), dir, retainGens,
                sideTables = Seq("vecs" -> allVecs), batchId = batchId), true)
            else
              (saveIvfPq(Similarity.ivfPqInsert(idx, vecs, col("vid"), col("v"),
                materialize = true), dir, retainGens,
                sideTables = Seq("vecs" -> allVecs),
                carryBaseRows = Some(pm.baseRows), batchId = batchId), false)
        })
      }
    }
  }

  /** [[applyFeedWindow]]'s composite twin: ONE reduced `changes.merge`
    * window into [[upsertPqVectors]]
    * ([[graft.util.Cascade.ivfPqFollower]]) — retired codes,
    * frozen-quantizer re-encodes and the rewritten raw-vecs side table
    * publish per window, exactly-once via the batch ledger. */
  private[graft] def applyPqFeedWindow(ups: DataFrame, rem: DataFrame,
      dir: String, embedOf: Column, batchId: Long): Unit = {
    upsertPqVectors(ups.select(col("_key").as("vid"), embedOf.as("v")),
      col("vid"), col("v"), rem.toDF("vid"), dir, batchId = batchId)
    ()
  }

  /** [[upsertVectors]]'s composite-index twin — VECTOR REFRESH on the
    * persisted IVF-PQ store: retire the old copies of incoming/removed
    * ids, encode the new vectors against the FROZEN coarse cells and
    * codebooks ([[Similarity.ivfPqInsert]] over the pruned index — one
    * broadcast-assign + broadcast-encode pass over the delta), and
    * publish — atomically by construction, because the PQ store
    * publishes whole generations through one pointer PUT that carries
    * data, stats (`rows` recounted from the written codes = −old +new),
    * and the batch ledger together. The raw-vecs side table is rewritten
    * minus the retired ids so a later doubling re-train trains on the
    * post-refresh corpus. `removeIds` deletes outright; ids in both
    * re-land (the upsert wins). No re-train here — the next
    * [[ivfPqMaintainBatch]] fold checks the doubling policy. Returns the
    * published generation (None for replays / no-op batches). */
  def upsertPqVectors(upserts: DataFrame, id: Column, vec: Column,
      removeIds: DataFrame, dir: String, retainGens: Int = 2,
      batchId: Long = -1L): Option[Long] = {
    val spark = upserts.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("IndexStore", spark, dir) {
      val pm = PqManifest.read(spark, dir).getOrElse(sys.error(
        s"no committed index at $dir — upsertPqVectors updates an existing " +
          "index; seed with saveIvfPq/ivfPqMaintainBatch first"))
      PqManifest.ledgered(spark, dir, Some(pm), batchId) {
        val newVecs = graft.util.Maintenance.requireUniqueUpserts(
          upserts.select(id.as("vid"), vec.as("v")), "vid", "ivfpq-index")
        // survives its generation's GC (and the new gen's publish)
        val oldVecs = spark.read.parquet(s"$dir/gen=${pm.gen}/vecs")
          .localCheckpoint(true)
        // ids in both upserts and removeIds re-land (the upsert wins)
        val targets = newVecs.select(col("vid"))
          .unionByName(removeIds.select(removeIds.columns.head).toDF("vid"))
          .distinct()
          .join(oldVecs.select(col("vid")), Seq("vid"), "left_semi")
          .localCheckpoint(true)
        Option.when(!newVecs.isEmpty || !targets.isEmpty) {
          val (idx, _) = loadIvfPqOn(spark, dir, pm)
          val keptCodes = idx.codes.join(targets, Seq("vid"), "left_anti")
          val pruned = Similarity.IvfPqIndex(idx.cells,
            idx.pq.copy(codes = keptCodes.select(col("vid"), col("codes"))),
            keptCodes)
          val refreshed =
            if (newVecs.isEmpty) pruned
            else Similarity.ivfPqInsert(pruned, newVecs, col("vid"), col("v"),
              materialize = true)
          saveIvfPq(refreshed, dir, retainGens,
            sideTables = Seq("vecs" -> oldVecs.join(targets, Seq("vid"),
              "left_anti").unionByName(newVecs)),
            carryBaseRows = Some(pm.baseRows), batchId = batchId)
        }
      }
    }
  }

  /** IVF probe over a PERSISTED index via static partition pruning: the
    * cell ranking is centroid-table-sized driver metadata (the
    * ivfSearchAuto fetch pattern), and the resulting `cell IN (...)`
    * filter prunes whole partition directories at planning time — the
    * scan touches only the probed cells' files. Result ≡
    * [[Similarity.ivfSearch]] on the same index (same cells, same
    * cosine, same ties). */
  def searchPruned(index: Similarity.IvfIndex, query: DataFrame, k: Int,
      nprobe: Int = 2): DataFrame = {
    import Similarity.cosine
    val probed = index.centroids
      .crossJoin(broadcast(query))
      .withColumn("sim", cosine(col("c"), col("q")))
      .orderBy(col("sim").desc, col("cell"))
      .limit(nprobe)
      .select(col("cell"))
      .collect().map(_.getAs[Number](0).intValue()).toSeq
    index.assigned
      .filter(col("cell").isin(probed: _*))
      .crossJoin(broadcast(query))
      .withColumn("cosine", cosine(col("v"), col("q")))
      .select(col("vid").as("nn_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("nn_id"))
      .limit(k)
  }

  /** The committed snapshot id produced by LEDGERED batch `batchId`
    * (see [[StoreManifest.commitForBatch]]). */
  def commitForBatch(spark: SparkSession, dir: String,
      batchId: Long): Long =
    Manifest.commitForBatch(spark, dir, batchId)

  /** [[commitForBatch]]'s composite-index twin. */
  def pqCommitForBatch(spark: SparkSession, dir: String,
      batchId: Long): Long =
    PqManifest.commitForBatch(spark, dir, batchId)
}
