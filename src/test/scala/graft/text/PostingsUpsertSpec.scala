package graft.text

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round 12: UPDATE/DELETE maintenance on the inverted index —
  * [[PostingsStore.upsertBatch]] (one atomic commit retiring old
  * copies, landing new ones, adjusting stats by −old +new, under the
  * v3 slice-ordered tombstone mask) and the warehouse→index CASCADE
  * ([[PostingsStore.followMergeTable]]: the merge table's own change
  * feed driving the index, exactly-once end-to-end). */
class PostingsUpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.util.Tables.documents(spark, sf)
    .filter(col("doc_id") > 0).select(col("doc_id"), col("text"))

  private def tokenLens(corpus: DataFrame): Map[Long, Long] =
    corpus.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("t"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def storeLens(dir: String): Map[Long, Long] =
    PostingsStore.docLengths(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("upsertBatch: updates re-index atomically, deletes retire, " +
      "adds land — stats and doclen equal the recompute over the " +
      "updated corpus; a replay is a no-op; BM25 replays bit-for-bit") {
    val dir = Files.createTempDirectory("upsert").toString
    val seed = docs.filter(col("doc_id") <= 300)
    PostingsStore.maintainBatch(seed, col("doc_id"), col("text"), dir,
      batchId = 0L)

    // batch 1: doc 10+20 UPDATED (text doubled), doc 30 REMOVED,
    // docs 301.. ADDED
    val updated = docs.filter(col("doc_id").isin(10L, 20L))
      .select(col("doc_id"), concat(col("text"), lit(" "), col("text"))
        .as("text"))
    val added = docs.filter(col("doc_id") > 300)
    val slice = PostingsStore.upsertBatch(updated.unionByName(added),
      col("doc_id"), col("text"), Seq(30L).toDF("id"), dir, batchId = 1L)
    assert(slice.nonEmpty)

    // the simulated corpus after the upsert
    val corpus = docs.filter(col("doc_id") =!= 30L &&
        !col("doc_id").isin(10L, 20L))
      .unionByName(updated)
    val expect = tokenLens(corpus)
    assert(storeLens(dir) == expect)
    val m = PostingsStore.meta(spark, dir).get
    assert(m.nDocs == expect.size &&
      m.totTokens == expect.values.sum)

    // BM25 from the store ≡ the full recompute over the updated corpus
    val viaStore = PostingsStore.bm25Query(spark, dir,
      LmQueries.Bm25Terms, LmQueries.Bm25TopK).collect().toSeq
    val recompute = LmQueries.bm25(corpus, col("doc_id"), col("text"))
      .collect().toSeq
    assert(viaStore == recompute && viaStore.nonEmpty)

    // replay of batch 1 is a no-op (the ledger, not luck)
    assert(PostingsStore.upsertBatch(updated.unionByName(added),
      col("doc_id"), col("text"), Seq(30L).toDF("id"), dir,
      batchId = 1L).isEmpty)
    assert(storeLens(dir) == expect)

    // compact applies the masks physically and preserves the state
    assert(PostingsStore.compact(spark, dir).nonEmpty)
    assert(PostingsStore.vacuumSlices(spark, dir) > 0)
    assert(storeLens(dir) == expect)

    // plain maintainBatch still screens a purged id (delete-then-plain-
    // refold stays forbidden; updates must go through upsertBatch)
    PostingsStore.purgeDocs(spark, dir, Seq(40L).toDF("id"))
    PostingsStore.maintainBatch(docs.filter(col("doc_id") === 40L),
      col("doc_id"), col("text"), dir, batchId = 5L)
    assert(!storeLens(dir).contains(40L))
    // ...while an upsert of the same id re-lands it
    PostingsStore.upsertBatch(docs.filter(col("doc_id") === 40L),
      col("doc_id"), col("text"), Seq.empty[Long].toDF("id"), dir,
      batchId = 6L)
    assert(storeLens(dir).get(40L) == expect.get(40L) &&
      expect.contains(40L))
  }

  test("cascade: the merge table's change feed drives the index — " +
      "warehouse inserts/updates/deletes re-index exactly-once across " +
      "restarts, and a warehouse purge propagates") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = Files.createTempDirectory("cascade").toString
    val mergeDir = s"$base/table"; val idxDir = s"$base/index"
    val ck = s"$base/ck"

    def mergeOnce(envs: Seq[(String, Long, Long, String)]): Unit = {
      val ms = MemoryStream[(String, Long, Long, String)]
      ms.addData(envs: _*)
      val env = ms.toDF().toDF("op", "key", "ver", "body")
        .select(col("op"), col("key"), col("ver"),
          when(col("op") === "REMOVE", lit(null))
            .otherwise(struct(col("key").as("doc_id"),
              col("body").as("body"))).as("after"))
      val q = graft.cdc.Apply.startMerge(env, mergeDir,
        Files.createTempDirectory("cascadeck").toString,
        keyCol = "doc_id", versionCol = "ver",
        schema = env.schema("after").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      q.processAllAvailable(); q.stop()
    }
    def cascade(): Unit = {
      val q = graft.util.Cascade.follow(spark, mergeDir, ck,
        graft.util.Cascade.postingsFollower("postings", idxDir, col("body")))
      q.processAllAvailable(); q.stop()
    }

    // commit 1: three docs land in the warehouse → index follows
    mergeOnce(Seq(("INSERT", 1L, 100L, "alpha beta"),
      ("INSERT", 2L, 100L, "beta gamma gamma"),
      ("INSERT", 3L, 100L, "delta")))
    cascade()
    assert(storeLens(idxDir) == Map(1L -> 2L, 2L -> 3L, 3L -> 1L))

    // commit 2: doc 1 UPDATED, doc 3 REMOVED → restart the cascade;
    // only the unseen window flows, the update re-indexes atomically
    mergeOnce(Seq(("MODIFY", 1L, 200L, "alpha alpha alpha alpha"),
      ("REMOVE", 3L, 200L, null)))
    cascade()
    assert(storeLens(idxDir) == Map(1L -> 4L, 2L -> 3L))
    val m = PostingsStore.meta(spark, idxDir).get
    assert(m.nDocs == 2L && m.totTokens == 7L)

    // commit 3: a compliance purge in the WAREHOUSE propagates to the
    // index through the feed's REMOVE event
    assert(graft.cdc.Apply.purgeKeys(spark, mergeDir,
      Seq(2L).toDF("doc_id"), "doc_id", gcGraceMs = 0L) == 1L)
    cascade()
    assert(storeLens(idxDir) == Map(1L -> 4L))

    // nothing new: the cascade is quiescent (ledger + offsets agree)
    val mBefore = PostingsStore.meta(spark, idxDir).get
    cascade()
    assert(PostingsStore.meta(spark, idxDir).get == mBefore)
  }
}
