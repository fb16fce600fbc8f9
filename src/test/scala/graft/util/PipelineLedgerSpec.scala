package graft.util

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.dedup.LedgerStore
import graft.text.{LmQueries, PostingsStore}
import graft.warehouse.GraphStore

/** The cross-substrate atomic refresh (round-11 verdict #1): one batch
  * ledger committing every store's snapshot as a SET. Pinned here:
  *
  *  - KILL BETWEEN STORE COMMITS: a crash after store A folded batch B
  *    but before store B / the set commit leaves the SET face on the
  *    previous consistent snapshot (all-visible), and the replay folds
  *    exactly once into every store before the set commits
  *    (all-replayed — no double inserts through the re-run).
  *  - SET ISOLATION: store-level mutations AFTER a set commit (a direct
  *    purge) do not leak into reads resolved through the pinned
  *    snapshots.
  *  - the streaming face follows the arriving corpus as one set.
  */
class PipelineLedgerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)
    .filter(col("doc_id") > 0).select(col("doc_id"), col("text"))
  private val terms = Seq("fast", "merge", "table")

  /** Three HETEROGENEOUS substrates off one document batch — each fold
    * projects what it needs (the graph store derives token
    * co-occurrence lines), exactly the reference's one-stream→many-sink
    * fan-out shape with the set commit it lacked. */
  private def stores(pipeDir: String): Seq[PipelineLedger.Store] = Seq(
    PipelineLedger.Store("ledger",
      (df, bid) => { LedgerStore.maintainBatch(df, col("doc_id"),
        col("text"), s"$pipeDir/ledger", batchId = bid); () },
      (s, bid) => LedgerStore.commitForBatch(s, s"$pipeDir/ledger", bid)),
    PipelineLedger.Store("postings",
      (df, bid) => { PostingsStore.maintainBatch(df, col("doc_id"),
        col("text"), s"$pipeDir/postings", batchId = bid); () },
      (s, bid) => PostingsStore.commitForBatch(
        s, s"$pipeDir/postings", bid)),
    PipelineLedger.Store("graph",
      (df, bid) => { GraphStore.maintainBatch(
        df.select(col("doc_id").as("ord"),
          explode(graft.text.TextFunctions.tokens(col("text")))
            .as("tok"))
          .select(col("ord"), xxhash64(col("tok")).as("item"))
          .distinct(),
        col("ord"), col("item"), s"$pipeDir/graph", batchId = bid); () },
      (s, bid) => GraphStore.commitForBatch(s, s"$pipeDir/graph", bid)))

  private def docTokenLines(df: org.apache.spark.sql.DataFrame): Long =
    df.select(col("doc_id"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok"))).distinct().count()

  private def top(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  private def bm25Full(corpus: DataFrame) =
    top(LmQueries.bm25(corpus, col("doc_id"), col("text"), terms, 10))

  test("kill between store commits: the set stays all-visible on the " +
      "old snapshot; the replay folds once into every store") {
    val dir = Files.createTempDirectory("pipe").toString
    val ss = stores(dir)
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)

    // batch 0 commits the seed set
    assert(PipelineLedger.refreshAll(spark, dir, slice(0, 300), 0L, ss)
      .contains(0L))
    val set0 = PipelineLedger.readSet(spark, dir)
    assert(set0.batch == 0L &&
      set0.stores.keySet == Set("ledger", "postings", "graph"))

    // CRASH SIMULATION for batch 1: postings folds, then the process
    // dies — ledger and graph never see the batch, the set never commits
    PostingsStore.maintainBatch(slice(300, 450), col("doc_id"),
      col("text"), s"$dir/postings", batchId = 1L)

    // all-visible: the SET face still reads the batch-0 snapshot of
    // BOTH stores — postings through its PINNED commit (not the moved
    // pointer), ledger through its unchanged pointer
    val setMid = PipelineLedger.readSet(spark, dir)
    assert(setMid == set0, "a half-folded batch must not surface in the set")
    assert(top(PostingsStore.bm25QueryAt(spark, s"$dir/postings",
      setMid.stores("postings"), terms, 10)) == bm25Full(slice(0, 300)))
    assert(LedgerStore.loadAt(spark, s"$dir/ledger",
      setMid.stores("ledger"))._1.count() == slice(0, 300).count())
    assert(GraphStore.loadAt(spark, s"$dir/graph",
      setMid.stores("graph"))._1.count() == docTokenLines(slice(0, 300)))

    // all-replayed: the rerun folds ledger, skips postings (its own
    // batch ledger), and commits the set once
    assert(PipelineLedger.refreshAll(spark, dir, slice(300, 450), 1L, ss)
      .contains(1L))
    val set1 = PipelineLedger.readSet(spark, dir)
    assert(set1.batch == 1L)
    // no double insert through the crash+replay: stats count each doc once
    assert(PostingsStore.meta(spark, s"$dir/postings").get.nDocs
      == slice(0, 450).count())
    assert(LedgerStore.loadAt(spark, s"$dir/ledger",
      set1.stores("ledger"))._1.count() == slice(0, 450).count())
    assert(GraphStore.loadAt(spark, s"$dir/graph",
      set1.stores("graph"))._1.count() == docTokenLines(slice(0, 450)))
    assert(top(PostingsStore.bm25QueryAt(spark, s"$dir/postings",
      set1.stores("postings"), terms, 10)) == bm25Full(slice(0, 450)))

    // replaying the fully-committed batch is a no-op
    assert(PipelineLedger.refreshAll(spark, dir, slice(300, 450), 1L, ss)
      .isEmpty)
    assert(PipelineLedger.readSet(spark, dir) == set1)

    // SET ISOLATION: a direct store-level purge after the set commit
    // does not leak into set-resolved reads
    val victim = PostingsStore.bm25Query(spark, s"$dir/postings", terms, 10)
      .head().getLong(0)
    PostingsStore.purgeDocs(spark, s"$dir/postings",
      Seq(victim).toDF("doc_id"))
    assert(top(PostingsStore.bm25QueryAt(spark, s"$dir/postings",
      set1.stores("postings"), terms, 10)) == bm25Full(slice(0, 450)),
      "the pinned snapshot must still see the later-purged doc")

    // set-level time travel: the archived batch-0 set reads as it was
    val at0 = PipelineLedger.readSetAt(spark, dir, 0L)
    assert(at0 == set0)
    assert(PipelineLedger.commits(spark, dir) == Seq(0L, 1L))
  }

  test("streaming face: every substrate follows the corpus as one set") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("pipestream").toString
    val ckpt = Files.createTempDirectory("pipeck").toString
    val ss = stores(dir)
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val ms = MemoryStream[(Long, String)]
    val q = Maintenance.foldStream(ms.toDF().toDF("doc_id", "text"), ckpt)(
      (df, bid) =>
        PipelineLedger.refreshAll(df.sparkSession, dir, df, bid, ss))
    try {
      ms.addData(rows.take(200).toSeq: _*)
      q.processAllAvailable()
      val s0 = PipelineLedger.readSet(spark, dir)
      assert(PostingsStore.meta(spark, s"$dir/postings").get.nDocs == 200L)
      ms.addData(rows.drop(200).toSeq: _*)
      q.processAllAvailable()
      val s1 = PipelineLedger.readSet(spark, dir)
      assert(s1.batch > s0.batch)
      assert(top(PostingsStore.bm25QueryAt(spark, s"$dir/postings",
        s1.stores("postings"), terms, 10)) == bm25Full(docs))
      assert(LedgerStore.loadAt(spark, s"$dir/ledger",
        s1.stores("ledger"))._1.count() == docs.count())
    } finally q.stop()
  }
  test("ADVICE r11: a crash replay that interleaved store maintenance " +
      "pins the BATCH's fold commit, not the post-maintenance commit") {
    val dir = Files.createTempDirectory("pinpipe").toString
    val ss = stores(dir)
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    assert(PipelineLedger.refreshAll(spark, dir, slice(0, 300), 0L, ss)
      .contains(0L))
    // crash simulation for batch 1: postings folds, then the process
    // dies before the other folds / the set commit
    PostingsStore.maintainBatch(slice(300, 450), col("doc_id"),
      col("text"), s"$dir/postings", batchId = 1L)
    val foldCommit = PostingsStore.meta(spark, s"$dir/postings").get.commit
    // crash recovery is mid-batch: a store-level compact runs BEFORE
    // the replay (the docs only require maintenance "between batches",
    // which a crash window violates by construction)
    assert(PostingsStore.compact(spark, s"$dir/postings").nonEmpty)
    val postCompact = PostingsStore.meta(spark, s"$dir/postings").get.commit
    assert(postCompact == foldCommit + 1)
    // the replay folds the other stores, skips postings, and commits
    // the set — pinning postings' BATCH-1 fold commit, not the moved
    // post-compact pointer (the old code pinned currentCommit here)
    assert(PipelineLedger.refreshAll(spark, dir, slice(300, 450), 1L, ss)
      .contains(1L))
    val set1 = PipelineLedger.readSet(spark, dir)
    assert(set1.stores("postings") == foldCommit,
      s"set must pin the fold commit $foldCommit, " +
        s"not the post-compact $postCompact")
    // and the pinned snapshot resolves to exactly the batch-1 corpus
    assert(top(PostingsStore.bm25QueryAt(spark, s"$dir/postings",
      set1.stores("postings"), terms, 10)) == bm25Full(slice(0, 450)))
  }
}
