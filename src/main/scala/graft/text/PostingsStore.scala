package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Generations, SliceManifest, StoreManifest}
import graft.util.StoreManifest.{maskOlder, tombstones, window}

/** Persisted INVERTED INDEX with incremental maintenance — the retrieval
  * stack's disk face, completing the set of maintained substrates (text
  * dedup ledger → [[graft.dedup.LedgerStore]], semantic ledger →
  * [[graft.dedup.SemLedgerStore]], ANN indexes →
  * [[graft.ann.IndexStore]]; BM25 → here). q215's `LmQueries.bm25`
  * recomputes tokenization and postings from the corpus every run; a
  * production retrieval deployment tokenizes each document ONCE, at
  * ingest, and serves every query from the stored postings. This store
  * is that shape, under the repo's shared commit discipline:
  *
  * Layout (the LedgerStore v3 slice-window pattern):
  * {{{
  *   dir/_graft_postings_meta.json  <- pointer (+ corpus stats + window)
  *   dir/postings/slice=S/          <- parquet (term, id, tf, tp), sorted by (tp, term)
  *   dir/doclen/slice=S/            <- parquet (id, dl)
  * }}}
  *
  * A fold tokenizes ONLY its delta batch ([[TextFunctions.tokens]] — the
  * exact q215 tokenizer, so stored postings replay the recompute
  * bit-for-bit), appends one immutable slice per store, and commits the
  * updated corpus statistics (`nDocs`, `totTokens` — BM25's N and avgdl
  * numerator) in the same atomic pointer PUT as the slice count: stats
  * and postings can never disagree. Every write verb commits through the
  * one ledgered slice write ([[graft.util.SliceManifest.write]]), so
  * replays are no-ops via its batch-id ledger;
  * [[compact]]/[[vacuumSlices]] bound the slice population.
  *
  * Every posting carries `tp` — a term-hash prefix — as an ordinary
  * data column, and each slice lands as ONE set of files (one per write
  * task, hash-partitioned on tp) sorted by (tp, term). [[bm25Query]]
  * computes its ≤|terms| prefix values driver-side; the `tp IN (…)`
  * filter is a parquet PUSHED filter, so row-group min/max statistics
  * skip the row groups outside the query's prefixes — once a slice
  * spans several row groups. A smaller slice (every delta fold, and the
  * whole seed slice at sf0.1: one 280 KB file) is read whole, where the
  * directory layout opened only the query's prefixes. A slice used to
  * be 64 prefix directories of a few hundred bytes each: every fold
  * paid ~200 file creations and every read listed and opened them all,
  * a per-file cost that dominated delta-sized folds. `tp` is internal
  * layout only and never crosses an oracle.
  *
  * Contract (shared with LedgerStore): each document folds exactly once
  * — delta batches are disjoint; a doc re-folded under a new batch id
  * would double its postings (upstream dedup owns identity, as in every
  * warehouse ingest path here).
  */
object PostingsStore {

  // v2 (round 11): + commit id / history archive.
  // v3 (round 12): tombstones are SLICE-ORDERED — a purged/slice=S row
  // masks only data rows with slice < S, so [[upsertBatch]] can retire
  // a document's old copy and land its new one in ONE atomic commit
  // (UPDATE maintenance). For stores that never re-fold a purged id —
  // everything v2 allowed — the semantics are identical (a purge's
  // tombstone is always newer than every row it targets), but a v2
  // build reading a v3 store would hide upserted rows, so the format
  // is bumped and cross-build reads fail loudly.
  // v4: slices are flat files sorted by `tp` (a data column) instead
  // of `slice=S/tp=P/` directories. A v3 store cannot take a v4 fold —
  // its slices would mix both layouts and partition discovery fails —
  // so the manifest kernel refuses every other format before any read
  // or write.
  private val Format = "graft-postings-v4"

  /** v2 (round 11): `commit` — the monotone snapshot id. Every pointer
    * flip archives its body under `_graft_history/commit-<id>.json`
    * (the [[graft.cdc.Apply]] time-travel protocol via
    * [[Generations.commitArchived]]), so [[bm25QueryAt]] can answer
    * from any still-readable past snapshot. */
  final case class Meta(format: String, batch: Long, nDocs: Long,
      totTokens: Long, prefixes: Int, sliceBase: Long, slices: Long,
      commit: Long) extends StoreManifest.Windowed

  private[graft] val Manifest = new SliceManifest[Meta](
    "_graft_postings_meta.json", Format, "postings",
    Seq("postings", "doclen", "purged"))

  /** Term-prefix sort key: a pure function of the term (every posting
    * of a term shares ONE prefix — the minhashPostings `bp` argument
    * applied to terms). Internal layout only. */
  private def tp(term: Column, prefixes: Int): Column =
    pmod(xxhash64(term), lit(prefixes.toLong)).cast("int")

  /** Live rows of `sub` under manifest `m` with SLICE-ORDERED tombstone
    * masking (v3): a tombstone at slice S masks a data row iff the
    * row's slice is OLDER (`< S`) — still an id-equi join, the range
    * term rides as a residual predicate. A [[purgeDocs]] tombstone is
    * newer than every row it targets, so pure purge flows read exactly
    * as v2; an [[upsertBatch]]'s re-landed copy (data slice above its
    * own tombstone slice) stays visible. */
  private def live(spark: SparkSession, dir: String, sub: String,
      m: Meta): DataFrame =
    maskOlder(window(spark, s"$dir/$sub", m), "id",
      tombstones(spark, s"$dir/purged", "id", m)).drop("slice")

  /** The current manifest, for callers composing their own scoring. */
  def meta(spark: SparkSession, dir: String): Option[Meta] =
    Manifest.read(spark, dir)

  /** The live (id, dl) rows — the masked read face (consumers
    * composing their own scoring, and the upsert/cascade specs). */
  def docLengths(spark: SparkSession, dir: String): DataFrame =
    live(spark, dir, "doclen", Manifest.get(spark, dir))

  /** [[docLengths]] AS OF a committed snapshot id — the pinned-read
    * face a cross-store set composition needs ([[bm25QueryAt]]'s
    * masked-doclen sibling; same fail-closed retention contract). */
  def docLengthsAt(spark: SparkSession, dir: String,
      commit: Long): DataFrame = {
    val m = metaAt(spark, dir, commit)
    Manifest.requireReadable(spark, dir, m, s"snapshot $commit")
    live(spark, dir, "doclen", m)
  }

  /** The current manifest, or the seed of a store with no commit yet;
    * `verb` names the write a mismatched prefix fan refuses. */
  private def current(spark: SparkSession, dir: String, prefixes: Int,
      verb: String): Meta = {
    val m = Manifest.read(spark, dir).getOrElse(
      Meta(Format, -1L, 0L, 0L, prefixes, sliceBase = 0L, slices = 0L,
        commit = -1L))
    require(m.prefixes == prefixes,
      s"postings store at $dir was seeded with prefixes=${m.prefixes}; " +
        s"refusing a mismatched $verb ($prefixes) — one store, one layout")
    m
  }

  /** Tokenize `docs` (id, text) and land them as data slice `s`:
    * postings hash-partitioned on `tp` and sorted by (tp, term), one file
    * per write task (AQE coalesces a delta into one) — each file holds a
    * share of the prefixes in order, so parquet row-group min/max stats
    * on `tp` and `term` let the query's filters skip row groups (the
    * Z-order lesson applied to the term axis; a slice below one row group
    * is read whole and this is moot) — and the (id, dl) doc lengths. */
  private def landDocs(dir: String, docs: DataFrame, prefixes: Int)(
      s: Long): Unit = {
    val toks = docs.select(col("id"),
      explode(TextFunctions.tokens(col("text"))).as("term"))
    toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("tp", tp(col("term"), prefixes))
      .repartition(col("tp")).sortWithinPartitions(col("tp"), col("term"))
      .write.mode("overwrite").parquet(s"$dir/postings/slice=$s")
    toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
      .write.mode("overwrite").parquet(s"$dir/doclen/slice=$s")
  }

  /** (docs, tokens) of some (id, dl) rows — BM25's N and Σdl. */
  private def stats(doclen: DataFrame): (Long, Long) = {
    val r = doclen.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** `m` with the corpus stats −retired +landed: the `retired` ids'
    * stats from `m`'s live window, the landed ones from what was
    * WRITTEN, not the possibly-lazy input — so the one commit carries
    * stats, ledger and window together. */
  private def restat(spark: SparkSession, dir: String, m: Meta,
      retired: Option[DataFrame])(l: StoreManifest.Landed): Meta = {
    val (gd, gt) = retired.filter(_ => l.retired > 0L).fold((0L, 0L))(t =>
      stats(live(spark, dir, "doclen", m).join(t, Seq("id"), "left_semi")))
    val (nd, nt) = l.data.fold((0L, 0L))(s =>
      stats(spark.read.parquet(s"$dir/doclen/slice=$s")))
    m.copy(nDocs = m.nDocs - gd + nd, totTokens = m.totTokens - gt + nt)
  }

  /** Fold one batch of NEW documents (id, text) into the store: delta
    * tokenization only, one appended slice per table, corpus stats and
    * batch ledger in the same atomic commit ([[SliceManifest.write]]).
    * A purged id stays purged through a plain fold (the tombstone
    * screen, [[SliceManifest.screen]]): the delete-then-reingest flow is
    * purge → compact → vacuum → re-fold, or ONE atomic [[upsertBatch]].
    * Returns the slice id, None for empty batches and crash replays. */
  def maintainBatch(batch: DataFrame, id: Column, text: Column,
      dir: String, prefixes: Int = 64, batchId: Long = -1L): Option[Long] = {
    val spark = batch.sparkSession
    // purge/fold/compact all read-modify-write the pointer: serialize
    // in-process writers on the per-(store, dir) monitor (round-11
    // verdict #5); cross-process writers are fenced by the lease
    graft.util.Maintenance.withLeasedWriteLock("PostingsStore", spark, dir) {
      val m = current(spark, dir, prefixes, "fold")
      Manifest.write(spark, dir, m, batchId) {
        val docs = batch.select(id.as("id"), text.as("text"))
        Manifest.Write(land = Manifest.screen(spark, dir, m, docs, "id")
          .map(landDocs(dir, _, prefixes)))(restat(spark, dir, m, None))
      }.map(_.slices - 1)
    }
  }

  /** ATOMIC UPDATE/DELETE maintenance (round 12) — the verb a CDC
    * consumer needs: one ledgered commit ([[SliceManifest.write]]) that
    * (a) retires the CURRENT copy of every incoming or removed id (a
    * tombstone slice), (b) lands the new copies as a data slice ABOVE
    * it, and (c) adjusts the corpus statistics by exactly −old +new.
    * Plain [[maintainBatch]] forbids re-folding (each doc folds once —
    * its screen stands unchanged); updates go through HERE, where the
    * verb itself retires the old copy so nothing double-counts.
    * Atomicity is what makes the cascade exactly-once: purge-then-fold
    * as two verbs would let a crash replay purge the re-folded copy —
    * one commit, one replay guard.
    *
    * `upserts` holds the docs to (re)index, `removeIds` the ids to
    * delete outright. Returns the data slice id (None for replays and
    * fully-empty batches). */
  def upsertBatch(upserts: DataFrame, id: Column, text: Column,
      removeIds: DataFrame, dir: String, prefixes: Int = 64,
      batchId: Long = -1L): Option[Long] = {
    val spark = upserts.sparkSession
    graft.util.Maintenance.withLeasedWriteLock("PostingsStore", spark, dir) {
      val m = current(spark, dir, prefixes, "upsert")
      Manifest.write(spark, dir, m, batchId) {
        // one live row per id (ADVICE r12): exact duplicates collapse,
        // conflicting re-indexes fail loudly — two copies in one data
        // slice would both sit above the tombstone, stay visible, and
        // double-count in nDocs/totTokens
        val docs = graft.util.Maintenance.requireUniqueUpserts(
          upserts.select(id.as("id"), text.as("text")), "id", "postings-store")
        // ids in both upserts and removeIds re-land (the upsert wins);
        // retire the LIVE copies of everything incoming or removed
        val targets = Option.when(m.commit >= 0L)(docs.select(col("id"))
          .unionByName(removeIds.select(removeIds.columns.head).toDF("id"))
          .distinct()
          .join(live(spark, dir, "doclen", m).select(col("id")), Seq("id"),
            "left_semi")
          .localCheckpoint(true))
        Manifest.Write(retire = targets,
          land = Option.when(!docs.isEmpty)(landDocs(dir, docs, prefixes)))(
          restat(spark, dir, m, targets))
      }.map(_.slices - 1)
    }
  }

  /** The CASCADE step: ONE reduced `changes.merge` window into
    * [[upsertBatch]] — the warehouse's CDC-OUT driving the retrieval
    * index ([[graft.util.Cascade.postingsFollower]]), exactly-once via
    * the upsert's batch ledger. INSERT/MODIFY re-index atomically,
    * REMOVE (and `purgeKeys` compliance deletions) purge. `textOf` maps
    * a feed row to the text to index. */
  private[graft] def applyFeedWindow(ups: DataFrame, rem: DataFrame,
      dir: String, textOf: Column, batchId: Long, prefixes: Int): Unit = {
    upsertBatch(ups.select(col("_key").as("id"), textOf.as("text")),
      col("id"), col("text"), rem.toDF("id"), dir, prefixes,
      batchId = batchId)
    ()
  }

  /** [[graft.dedup.LedgerStore.compact]]'s retrieval twin: merge the
    * live slice window into one slice per table, advance the window in
    * one atomic commit (stats and ledger unchanged). The merged postings
    * are hash-partitioned on `tp` before the (tp, term) sort, so each
    * large merged file holds few prefixes and its row-group statistics
    * skip the rest — the trade this layout makes against whole-directory
    * skipping at large slice sizes. */
  def compact(spark: SparkSession, dir: String): Option[Long] =
    Manifest.compact(spark, dir, "PostingsStore") { (m, merged) =>
      live(spark, dir, "postings", m)
        .repartition(col("tp")).sortWithinPartitions(col("tp"), col("term"))
        .write.mode("overwrite").parquet(s"$dir/postings/slice=$merged")
      live(spark, dir, "doclen", m).write.mode("overwrite")
        .parquet(s"$dir/doclen/slice=$merged")
    }

  /** Deferred slice GC below the current window base
    * ([[SliceManifest.vacuum]]). */
  def vacuumSlices(spark: SparkSession, dir: String): Int =
    Manifest.vacuum(spark, dir)

  /** DECREMENTAL index maintenance — delete documents from the
    * persisted inverted index: [[upsertBatch]] with no upserts and no
    * batch id ([[SliceManifest.purge]]). The purged ids land as a
    * tombstone slice and the corpus statistics DECREMENT in the same
    * commit, so post-purge [[bm25Query]] still replays the full
    * recompute over the remaining corpus bit-for-bit. [[compact]] makes
    * the removal physical. No-op for absent/already-purged ids. Returns
    * (docs removed, tokens removed). */
  def purgeDocs(spark: SparkSession, dir: String,
      docIds: DataFrame): Option[(Long, Long)] =
    Manifest.purge(spark, dir, "PostingsStore")(m => upsertBatch(docIds.limit(0),
      col(docIds.columns.head), lit(""), docIds, dir, m.prefixes))(
      (b, a) => (b.nDocs - a.nDocs, b.totTokens - a.totTokens))

  /** BM25 top-k served FROM THE STORE — [[LmQueries.bm25]]'s formula
    * (same rational IDF, same k1/b literals, same sorted-term IEEE
    * fold) with N and total tokens read from the manifest instead of a
    * corpus pass, and the term filter landing as a parquet pushed filter
    * on `tp` (the ≤|terms| prefix values are computed driver-side —
    * bounded metadata). Scores are bit-identical to the full
    * recompute because every input number is: tf/df/dl from the stored
    * postings (each doc tokenized once, by the same tokenizer), N and
    * Σdl from the incrementally-maintained stats. */
  def bm25Query(spark: SparkSession, dir: String,
      terms: Seq[String], topK: Int): DataFrame =
    bm25On(spark, dir, Manifest.get(spark, dir), terms, topK)

  /** Committed snapshot ids available for [[bm25QueryAt]], ascending. */
  def commits(spark: SparkSession, dir: String): Seq[Long] =
    Manifest.commits(spark, dir)

  /** The archived manifest of snapshot `commit`. */
  def metaAt(spark: SparkSession, dir: String, commit: Long): Meta =
    Manifest.at(spark, dir, commit)

  /** TIME-TRAVEL BM25 — [[bm25Query]] AS OF a committed snapshot id:
    * resolves through the archived manifest exactly like the current
    * read resolves through the pointer, so the answer replays the
    * recompute over the corpus AS IT WAS at that commit (stats from the
    * archived manifest, postings from its slice window — pre-purge
    * snapshots still see the purged docs while their slices survive).
    * Readable only until [[vacuumSlices]] retires the window's dirs;
    * afterwards this fails loudly (the fail-closed
    * [[graft.cdc.Apply.readMergeTableAt]] retention contract). */
  def bm25QueryAt(spark: SparkSession, dir: String, commit: Long,
      terms: Seq[String], topK: Int): DataFrame = {
    val m = metaAt(spark, dir, commit)
    Manifest.requireReadable(spark, dir, m, s"snapshot $commit")
    bm25On(spark, dir, m, terms, topK)
  }

  private def bm25On(spark: SparkSession, dir: String, m: Meta,
      terms: Seq[String], topK: Int): DataFrame = {
    import spark.implicits._
    // ≤|terms| prefix values: driver-side bounded metadata, evaluated
    // through the SAME tp expression the writer used
    val tps = terms.toDF("term").select(tp(col("term"), m.prefixes).as("tp"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val tf = live(spark, dir, "postings", m)
      .filter(col("tp").isin(tps.map(Integer.valueOf): _*) &&
        col("term").isin(terms: _*))
      .select(col("id"), col("term"), col("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = live(spark, dir, "doclen", m).select(col("id"), col("dl"))
    val nD = lit(m.nDocs).cast("double"); val tD = lit(m.totTokens).cast("double")
    val tfD = col("tf").cast("double"); val dfD = col("df").cast("double")
    val dlD = col("dl").cast("double")
    val idf = (lit(2.0) * nD - lit(2.0) * dfD + lit(1.0)) /
      (lit(2.0) * dfD + lit(1.0))
    val tfPart = (lit(2.2) * tfD) /
      (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (dlD * nD) / tD))
    tf.join(broadcast(df), Seq("term"))
      .join(dl, Seq("id"))
      .select(col("id"), col("term"), (idf * tfPart).as("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms"),
        array_sort(collect_list(struct(col("term"), col("s")))).as("ss"))
      .select(col("id"), col("n_terms"),
        expr("aggregate(ss, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.s)")
          .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }

  /** The committed snapshot id produced by LEDGERED batch `batchId`
    * (see [[StoreManifest.commitForBatch]]). */
  def commitForBatch(spark: SparkSession, dir: String,
      batchId: Long): Long =
    Manifest.commitForBatch(spark, dir, batchId)
}
