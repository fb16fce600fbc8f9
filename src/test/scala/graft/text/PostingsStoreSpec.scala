package graft.text

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.util.Tables

/** The persisted inverted index: stored-postings BM25 ≡ the full
  * recompute bit-for-bit across folds, exactly-once batch folds,
  * the flat term-prefix-sorted slice layout and its pushed prefix
  * filter, compaction identity, vacuum, and the streaming face.
  */
class PostingsStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)
    .filter(col("doc_id") > 0)
    .select(col("doc_id"), col("text"))

  private val terms = Seq("fast", "merge", "table")

  private def fullTop(upTo: Long): Seq[(Long, Long, Double)] =
    LmQueries.bm25(docs.filter(col("doc_id") <= upTo),
        col("doc_id"), col("text"), terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def storeTop(dir: String): Seq[(Long, Long, Double)] =
    PostingsStore.bm25Query(spark, dir, terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("folds maintain recompute parity: stored-postings BM25 ≡ the " +
      "full bm25 after every generation; replays are no-ops") {
    val dir = Files.createTempDirectory("postings").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    assert(PostingsStore.maintainBatch(slice(0, 300), col("doc_id"),
      col("text"), dir, batchId = 0L).contains(0L))
    assert(storeTop(dir) == fullTop(300L))
    assert(PostingsStore.maintainBatch(slice(300, 2000), col("doc_id"),
      col("text"), dir, batchId = 1L).contains(1L))
    assert(storeTop(dir) == fullTop(Long.MaxValue))
    // stats rode the same commit as the postings
    val m = PostingsStore.meta(spark, dir).get
    assert(m.nDocs == docs.count())
    // crash replay: no-op, stats unchanged
    assert(PostingsStore.maintainBatch(slice(300, 2000), col("doc_id"),
      col("text"), dir, batchId = 1L).isEmpty)
    assert(PostingsStore.meta(spark, dir).get == m)
    // mismatched layout refused
    val e = intercept[IllegalArgumentException] {
      PostingsStore.maintainBatch(slice(0, 5), col("doc_id"), col("text"),
        dir, prefixes = 32, batchId = 2L)
    }
    assert(e.getMessage.contains("one store, one layout"))
  }

  test("the query's term filter is a static partition prune on the " +
      "term-prefix layout") {
    val dir = Files.createTempDirectory("postingsprune").toString
    PostingsStore.maintainBatch(docs, col("doc_id"), col("text"), dir,
      batchId = 0L)
    val plan = PostingsStore.bm25Query(spark, dir, terms, 10)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\n]*In\\(tp, ".r.findFirstIn(plan).isDefined,
      s"postings scan does not push the tp prefix filter:\n${plan.take(1500)}")
  }

  test("layout: a fold at prefixes = 64 lands its posting slice as " +
      "tp-sorted files, one per write task, not one directory per prefix") {
    val dir = Files.createTempDirectory("postingsflat").toString
    PostingsStore.maintainBatch(docs.filter(col("doc_id") <= 300),
      col("doc_id"), col("text"), dir, prefixes = 64, batchId = 0L)
    graft.FlatSlice.check(spark, s"$dir/postings/slice=0", "tp")
  }

  test("layout: once a slice spans many row groups, the pushed tp " +
      "filter skips the row groups of the other prefixes") {
    val dir = Files.createTempDirectory("postingsskip").toString
    graft.FlatSlice.withSmallRowGroups(spark) {
      PostingsStore.maintainBatch(docs.filter(col("doc_id") <= 300),
        col("doc_id"), col("text"), dir, prefixes = 64, batchId = 0L)
    }
    graft.FlatSlice.checkSkips(spark, s"$dir/postings/slice=0", "tp")
  }

  test("compact: window merges, query results identical, ledger and " +
      "stats preserved; vacuum retires superseded slices") {
    val dir = Files.createTempDirectory("postingscompact").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    PostingsStore.maintainBatch(slice(0, 150), col("doc_id"), col("text"),
      dir, batchId = 0L)
    PostingsStore.maintainBatch(slice(150, 300), col("doc_id"), col("text"),
      dir, batchId = 1L)
    PostingsStore.maintainBatch(slice(300, 2000), col("doc_id"), col("text"),
      dir, batchId = 2L)
    val before = storeTop(dir)
    val mB = PostingsStore.meta(spark, dir).get
    assert(mB.sliceBase == 0L && mB.slices == 3L)
    assert(PostingsStore.compact(spark, dir).contains(3L))
    val mA = PostingsStore.meta(spark, dir).get
    assert(mA.sliceBase == 3L && mA.slices == 4L)
    assert(mA.batch == 2L && mA.nDocs == mB.nDocs &&
      mA.totTokens == mB.totTokens)
    assert(storeTop(dir) == before)
    assert(PostingsStore.maintainBatch(slice(300, 2000), col("doc_id"),
      col("text"), dir, batchId = 2L).isEmpty,
      "replay must stay a no-op through the compact")
    assert(PostingsStore.compact(spark, dir).isEmpty)
    assert(new java.io.File(s"$dir/postings/slice=0").exists())
    assert(PostingsStore.vacuumSlices(spark, dir) == 6)
    assert(!new java.io.File(s"$dir/postings/slice=0").exists())
    assert(storeTop(dir) == before)
  }

  test("purgeDocs: corpus stats decrement in the same commit; the " +
      "post-purge query equals the recompute on remaining docs; " +
      "compact makes removal physical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("postingspurge").toString
    PostingsStore.maintainBatch(docs, col("doc_id"), col("text"), dir,
      batchId = 0L)
    // purge two docs that are IN the current top-10, so the scores and
    // the stats both must move
    val gone = storeTop(dir).take(2).map(_._1).toSet
    val dlGone = docs
      .filter(col("doc_id").isin(gone.toSeq.map(java.lang.Long.valueOf): _*))
      .select(graft.text.TextFunctions.tokenCount(col("text")).cast("long"))
      .collect().map(_.getLong(0)).sum
    val mBefore = PostingsStore.meta(spark, dir).get
    assert(PostingsStore.purgeDocs(spark, dir,
      gone.toSeq.toDF("doc_id")).contains((2L, dlGone)))
    val mAfter = PostingsStore.meta(spark, dir).get
    assert(mAfter.nDocs == mBefore.nDocs - 2 &&
      mAfter.totTokens == mBefore.totTokens - dlGone)
    // BM25 over the store ≡ the full recompute on the remaining corpus
    val remaining = docs.filter(
      !col("doc_id").isin(gone.toSeq.map(java.lang.Long.valueOf): _*))
    val expect = LmQueries.bm25(remaining, col("doc_id"), col("text"),
        terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(storeTop(dir) == expect)
    // no-op re-purge
    assert(PostingsStore.purgeDocs(spark, dir,
      (gone + 999999L).toSeq.toDF("doc_id")).isEmpty)
    // compact: physical removal, query unchanged
    assert(PostingsStore.compact(spark, dir).nonEmpty)
    val m = PostingsStore.meta(spark, dir).get
    val raw = spark.read.parquet(s"$dir/doclen")
      .filter(col("slice") >= m.sliceBase && col("slice") < m.slices)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(gone.forall(!raw(_)),
      "compact must rewrite the store without the purged docs")
    PostingsStore.vacuumSlices(spark, dir)
    assert(storeTop(dir) == expect)
  }

  test("streaming maintenance: the index follows the arriving corpus") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("postingsstream").toString
    val ckpt = Files.createTempDirectory("postingsckpt").toString
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val ms = MemoryStream[(Long, String)]
    val q = graft.util.Maintenance.foldStream(
      ms.toDF().toDF("doc_id", "text"), ckpt)((df, bid) =>
      PostingsStore.maintainBatch(df, col("doc_id"), col("text"), dir,
        batchId = bid))
    try {
      ms.addData(rows.take(250).toSeq: _*)
      q.processAllAvailable()
      assert(PostingsStore.meta(spark, dir).get.nDocs == 250L)
      ms.addData(rows.drop(250).toSeq: _*)
      q.processAllAvailable()
      assert(storeTop(dir) == fullTop(Long.MaxValue))
    } finally q.stop()
  }
}
