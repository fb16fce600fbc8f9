package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The FOLLOWERS of the warehouse's change feed (`changes.merge`): the
  * one place a maintained store is driven by CDC-OUT.
  *
  * A follower is a `*Follower` set member ([[PipelineLedger.Store]]):
  * its fold takes ONE reduced feed window — the latest envelope per key
  * ([[reduceLatest]], by (commit, _version): commit first, the table's
  * serialization axis, so a RESTORE's reinstated rows win their window;
  * REMOVE above MODIFY on full ties) — splits upserts from REMOVEs, and
  * calls the store's one-commit upsert verb under the stream's batch id.
  * The store's batch ledger absorbs replays, so a follower is
  * exactly-once end-to-end. Every follower runs the same loop
  * ([[Maintenance.foldStream]]) over the same feed ([[feed]]):
  *
  *  - [[follow]] drives ONE member standalone. Each store commits on its
  *    own, so a crash mid-window can leave several followed stores at
  *    different commits until the replay converges them.
  *  - [[followMergeTableAll]] drives a SET: one window folds into N
  *    stores and ONE [[PipelineLedger]] set commit pins each store's
  *    batch-exact snapshot (`commitForBatch`, the r11 pin rule) —
  *    all-visible-or-all-replayed. Set readers (`readSet` + each
  *    store's `loadAt` face, or `set:<store>:<surface>` through
  *    `format("graft")`) never observe a half-applied window.
  *
  * Both run the member's fold on the same reduced window, so the set
  * cascade and a standalone follower cannot drift. Jobs carry
  * `follow: <member>` (standalone) or `cascade window` (the set's
  * reduce and commit; each member's fold is `pipeline fold: <member>`).
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

  /** The merge table's change feed from `sinceCommit` (exclusive) as a
    * stream of commit windows — every follower's source. */
  def feed(spark: SparkSession, mergeDir: String,
      sinceCommit: Long): DataFrame =
    spark.readStream.format("graft").option("path", mergeDir)
      .option("table", "changes.merge")
      .option("sinceCommit", sinceCommit.toString).load()

  /** Follow the feed into ONE store: `member`'s fold (a `*Follower`
    * below) on each reduced window, under the stream's batch id.
    * Hydrate the store from a snapshot first and follow from its commit
    * via `sinceCommit` (the production pattern). */
  def follow(spark: SparkSession, mergeDir: String, checkpoint: String,
      member: PipelineLedger.Store, sinceCommit: Long = -1L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Maintenance.foldStream(feed(spark, mergeDir, sinceCommit), checkpoint) {
      (df, bid) =>
        df.sparkSession.sparkContext.setJobDescription(s"follow: ${member.name}")
        member.fold(reduceLatest(df), bid)
    }

  /** A store as a follower: each window's upserts and REMOVEs go
    * through the store's feed-window fold under the shared batch id;
    * `pin` is the store's `commitForBatch`. */
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

  /** The semantic dedup ledger as a set member
    * ([[graft.dedup.SemLedgerStore.upsertVecs]]; `embedOf` is the
    * RE-EMBED HOOK — a Column mapping a feed row to its `Array[Float]`
    * vector: in production a model-serving expression over the
    * document columns, in tests and gates a stored projection). */
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
    * one-commit refresh). */
  def ivfPqFollower(name: String, dir: String,
      embedOf: Column): PipelineLedger.Store =
    member(name, graft.ann.IndexStore.applyPqFeedWindow(_, _, dir, embedOf, _),
      graft.ann.IndexStore.pqCommitForBatch(_, dir, _))

  /** The text dedup ledger as a set member
    * ([[graft.dedup.LedgerStore.upsertDocs]]' one-commit re-ingest;
    * `textOf` maps a feed row to its document text). */
  def ledgerFollower(name: String, dir: String,
      textOf: Column): PipelineLedger.Store =
    member(name, graft.dedup.LedgerStore.applyFeedWindow(_, _, dir, textOf, _),
      graft.dedup.LedgerStore.commitForBatch(_, dir, _))

  /** The co-purchase graph as a set member (`itemsOf` maps a feed row
    * to its basket's item array) — the empty-basket retirement rule
    * (ADVICE r13) rides [[graft.warehouse.GraphStore.applyFeedWindow]]. */
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
    Maintenance.foldStream(feed(spark, mergeDir, sinceCommit), checkpoint) {
      (df, bid) =>
        df.sparkSession.sparkContext.setJobDescription("cascade window")
        PipelineLedger.refreshAll(df.sparkSession, setDir,
          reduceLatest(df), bid, stores)
        ()
    }
}
