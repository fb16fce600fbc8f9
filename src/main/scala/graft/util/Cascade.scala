package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ATOMIC MULTI-STORE CASCADE over the warehouse's change feed
  * (round 13) — the composition of the two round-12/13 subsystems:
  * per-store `followMergeTable` keeps each substrate exactly-once
  * w.r.t. the feed, but each store COMMITS INDEPENDENTLY, so a crash
  * mid-window leaves the stores at different commits (each correct,
  * mutually inconsistent until the replay). A pipeline whose queries
  * compose substrates (q262/q264's point) needs the cascade itself to
  * publish CONSISTENT SETS: here one feed window folds into N stores
  * and ONE [[PipelineLedger]] set commit pins each store's
  * batch-exact snapshot — all-visible-or-all-replayed, the
  * `refreshAll` discipline driven by CDC-OUT instead of a raw corpus
  * stream. Set readers (`readSet` + each store's `loadAt` face, or
  * `set:<store>:<surface>` through `format("graft")`) never observe a
  * half-applied window, even while the cascade is mid-fold.
  *
  * The per-window envelope reduce happens ONCE here (not once per
  * store): latest per key by (commit, _version) — commit first, the
  * table's serialization axis, so a RESTORE's reinstated rows win
  * their window — REMOVE above MODIFY on full ties. Each store's
  * fold then splits upserts from REMOVEs and calls its one-commit
  * upsert verb under the SHARED batch id; the store ledgers absorb
  * partial-crash replays, `commitForBatch` pins the batch-exact
  * commit even if store-level maintenance interleaved (the r11
  * pin rule).
  */
object Cascade {

  /** The effective envelopes of one feed window: one row per key. */
  def reduceLatest(df: DataFrame): DataFrame =
    graft.cdc.Envelope.latestByKey(df,
      col("_key"), struct(col("commit"), col("_version")),
      tieBreak = Seq(col("op").desc))
      .localCheckpoint(true)

  private def split(latest: DataFrame): (DataFrame, DataFrame) = (
    latest.filter(col("op") =!= graft.cdc.Envelope.Remove),
    latest.filter(col("op") === graft.cdc.Envelope.Remove)
      .select(col("_key")))

  /** The SHARED follower harness every per-store `followMergeTable`
    * delegates to (round-13 review: five hand-copied foreachBatch
    * bodies would let the next reduce/ordering change silently miss
    * one follower): read the feed from `sinceCommit`, reduce each
    * window ONCE ([[reduceLatest]] — commit-first ordering), split
    * upserts from REMOVEs, and hand them to the store's one-commit
    * upsert verb under the stream's batch id. */
  def followInto(spark: SparkSession, mergeDir: String,
      checkpoint: String, sinceCommit: Long,
      apply: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft").option("path", mergeDir)
      .option("table", "changes.merge")
      .option("sinceCommit", sinceCommit.toString).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, bid: Long) =>
        val (ups, rem) = split(reduceLatest(df))
        apply(ups, rem, bid)
        ()
      }
      .start()

  /** A store as a set member: each window's upserts and REMOVEs go
    * through the SAME feed-window fold the store's standalone
    * `followMergeTable` runs (so the two paths cannot drift), under the
    * shared batch id; `pin` is the store's `commitForBatch`. */
  private def member(name: String, fold: (DataFrame, DataFrame, Long) => Unit,
      pin: (SparkSession, Long) => Long): PipelineLedger.Store =
    PipelineLedger.Store(name,
      (df, bid) => { val (ups, rem) = split(df); fold(ups, rem, bid) }, pin)

  /** The BM25 postings index as a set member ([[
    * graft.text.PostingsStore.upsertBatch]] under the shared batch id). */
  def postingsFollower(name: String, dir: String, textOf: Column,
      prefixes: Int = 64): PipelineLedger.Store =
    member(name,
      graft.text.PostingsStore.applyFeedWindow(_, _, dir, textOf, _, prefixes),
      graft.text.PostingsStore.commitForBatch(_, dir, _))

  /** The semantic dedup ledger as a set member (`embedOf` = the
    * re-embed hook, see [[graft.dedup.SemLedgerStore.followMergeTable]]). */
  def semFollower(name: String, dir: String,
      embedOf: Column): PipelineLedger.Store =
    member(name, graft.dedup.SemLedgerStore.applyFeedWindow(_, _, dir, embedOf, _),
      graft.dedup.SemLedgerStore.commitForBatch(_, dir, _))

  /** The persisted IVF index as a set member
    * ([[graft.ann.IndexStore.upsertVectors]]' one-commit refresh). */
  def ivfFollower(name: String, dir: String,
      embedOf: Column): PipelineLedger.Store =
    member(name, graft.ann.IndexStore.applyFeedWindow(_, _, dir, embedOf, _),
      graft.ann.IndexStore.commitForBatch(_, dir, _))

  /** The persisted IVF-PQ index as a set member
    * ([[graft.ann.IndexStore.upsertPqVectors]]' frozen-quantizer
    * one-commit refresh) — round 14, joining the atomic set the
    * standalone `followMergeTablePq` already served. */
  def ivfPqFollower(name: String, dir: String,
      embedOf: Column): PipelineLedger.Store =
    member(name, graft.ann.IndexStore.applyPqFeedWindow(_, _, dir, embedOf, _),
      graft.ann.IndexStore.pqCommitForBatch(_, dir, _))

  /** The text dedup ledger as a set member
    * ([[graft.dedup.LedgerStore.upsertDocs]]' one-commit re-ingest;
    * `textOf` = the document-text hook, as in
    * [[graft.dedup.LedgerStore.followMergeTable]]). */
  def ledgerFollower(name: String, dir: String,
      textOf: Column): PipelineLedger.Store =
    member(name, graft.dedup.LedgerStore.applyFeedWindow(_, _, dir, textOf, _),
      graft.dedup.LedgerStore.commitForBatch(_, dir, _))

  /** The co-purchase graph as a set member — the empty-basket
    * retirement rule (ADVICE r13) rides
    * [[graft.warehouse.GraphStore.applyFeedWindow]] on both paths. */
  def graphFollower(name: String, dir: String,
      itemsOf: Column): PipelineLedger.Store =
    member(name, graft.warehouse.GraphStore.applyFeedWindow(_, _, dir, itemsOf, _),
      graft.warehouse.GraphStore.commitForBatch(_, dir, _))

  /** Follow `changes.merge` into EVERY store of the set, one
    * [[PipelineLedger.refreshAll]] commit per feed window — the
    * atomic cascade. Stores hydrate from a snapshot first and follow
    * from its commit via `sinceCommit` (the production pattern). */
  def followMergeTableAll(spark: SparkSession, mergeDir: String,
      setDir: String, checkpoint: String,
      stores: Seq[PipelineLedger.Store], sinceCommit: Long = -1L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("graft").option("path", mergeDir)
      .option("table", "changes.merge")
      .option("sinceCommit", sinceCommit.toString).load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, bid: Long) =>
        PipelineLedger.refreshAll(df.sparkSession, setDir,
          reduceLatest(df), bid, stores)
        ()
      }
      .start()
}
