package graft.ann

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.util.Tables

/** The persisted-index format: generation dirs + atomic manifest-pointer
  * commit (the Apply discipline applied to index maintenance), loaded
  * search parity, partition-pruned probes, retention, and fail-loud
  * manifest parsing.
  */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def embs = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
  private def query = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
    .select(col("embedding").as("q"))

  private def topIds(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("save -> load round trip: loaded search ≡ in-memory search; " +
      "pruned probe ≡ join probe and plans partition filters") {
    val dir = Files.createTempDirectory("ivfstore").toString
    val idx = Similarity.buildIvf(embs, col("vec_id"), col("embedding"),
      nCentroids = 4, iterations = 1, materialize = true)
    val gen = IndexStore.saveIvf(idx, dir)
    assert(gen == 0L)
    val (loaded, meta) = IndexStore.loadIvf(spark, dir)
    assert(meta.gen == 0L && meta.baseRows == embs.count())
    val mem = topIds(Similarity.ivfSearch(idx, query, k = 5, nprobe = 2))
    val disk = topIds(Similarity.ivfSearch(loaded, query, k = 5, nprobe = 2))
    assert(disk == mem)
    val pruned = IndexStore.searchPruned(loaded, query, k = 5, nprobe = 2)
    assert(topIds(pruned) == mem)
    // the layout's point: the probe is a STATIC partition prune — the
    // scan carries PartitionFilters on cell, no full-table read
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"probe does not partition-prune:\n${plan.take(1500)}")
  }

  test("refresh publishes a new generation atomically; retention keeps " +
      "the grace window then GCs; a stale-format dir is refused") {
    val dir = Files.createTempDirectory("ivfstore2").toString
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    val idx0 = Similarity.buildIvf(base, col("vec_id"), col("embedding"),
      nCentroids = 4, iterations = 1, materialize = true)
    assert(IndexStore.saveIvf(idx0, dir, retainGens = 2) == 0L)
    // the doubling-policy rebuild: full-corpus re-train, republish
    val idx1 = Similarity.buildIvf(embs, col("vec_id"), col("embedding"),
      nCentroids = 4, iterations = 1, materialize = true)
    assert(IndexStore.saveIvf(idx1, dir, retainGens = 2) == 1L)
    val (loaded1, meta1) = IndexStore.loadIvf(spark, dir)
    assert(meta1.gen == 1L && loaded1.assigned.count() == embs.count())
    // grace window: gen 0 survives the gen-1 flip (a reader holding the
    // old pointer keeps scanning intact files)
    assert(new java.io.File(s"$dir/gen=0").exists())
    // a third publish ages gen 0 out (retainGens = 2 keeps 1 and 2)
    assert(IndexStore.saveIvf(idx1, dir, retainGens = 2) == 2L)
    assert(!new java.io.File(s"$dir/gen=0").exists())
    assert(new java.io.File(s"$dir/gen=1").exists())
    // fail-loud manifest contract
    val garbled = Files.createTempDirectory("ivfstore3").toString
    Files.writeString(java.nio.file.Paths.get(garbled, "_graft_index_meta.json"),
      """{"whatever": 1}""")
    val e = intercept[RuntimeException](IndexStore.loadIvf(spark, garbled))
    assert(e.getMessage.contains("unparseable manifest") &&
      e.getMessage.contains("index manifest"))
  }

  test("persisted IVF-PQ: round trip preserves ADC ranking bit-for-bit; " +
      "the existing cell filter becomes a static partition prune") {
    val dir = Files.createTempDirectory("ivfpqstore").toString
    val idx = Similarity.buildIvfPq(embs, col("vec_id"), col("embedding"),
      nCells = 4, m = 8, ksub = 16, materialize = true)
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble).toSeq
    assert(IndexStore.saveIvfPq(idx, dir) == 0L)
    val (loaded, meta) = IndexStore.loadIvfPq(spark, dir)
    assert(meta.rows == embs.count() && meta.m == 8 && meta.subDim == 8)
    // quantizer metadata survives the round trip exactly
    assert(loaded.cells.map(_._1) == idx.cells.map(_._1))
    assert(loaded.cells.zip(idx.cells).forall { case ((_, a), (_, b)) =>
      a.toSeq == b.toSeq })
    assert(loaded.pq.codebooks.flatten.map(_.toSeq) ==
      idx.pq.codebooks.flatten.map(_.toSeq))
    // ADC over the persisted index ≡ ADC over the in-memory one
    def top(i: Similarity.IvfPqIndex) =
      Similarity.ivfPqSearchAdc(i, qv, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(loaded) == top(idx))
    // the search's own cell filter is a STATIC partition filter here —
    // only the probed cells' code files open
    val plan = Similarity.ivfPqSearchAdc(loaded, qv, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"persisted ADC probe does not partition-prune:\n${plan.take(1500)}")
    // the embedded plain-PQ face works off the same persisted codes
    assert(Similarity.pqSearchAdc(loaded.pq, qv, k = 3).count() == 3L)
    // refresh: second generation flips atomically
    assert(IndexStore.saveIvfPq(idx, dir) == 1L)
    assert(IndexStore.loadIvfPq(spark, dir)._2.gen == 1L)
  }

  test("maintenance fold: first batch seeds, growth publishes grown " +
      "generations carrying the base, doubling re-trains and resets it") {
    val dir = Files.createTempDirectory("ivfmaint").toString
    def slice(lo: Long, hi: Long) =
      embs.filter(col("vec_id") > lo && col("vec_id") <= hi)
    // seed: 20 vectors -> gen 0 is a training publish (slice 0)
    val r1 = IndexStore.ivfMaintainBatch(slice(0, 20), col("vec_id"),
      col("embedding"), dir, nCentroids = 4)
    assert(r1.contains((0L, true)))
    val (_, m1) = IndexStore.loadIvf(spark, dir)
    assert(m1.rows == 20L && m1.baseRows == 20L && m1.slices == 1L)
    // +10 (30 < 2x20): frozen-insert fold APPENDS a slice to gen 0 —
    // no new generation, no rewrite of the existing assigned files
    val r2 = IndexStore.ivfMaintainBatch(slice(20, 30), col("vec_id"),
      col("embedding"), dir, nCentroids = 4)
    assert(r2.contains((0L, false)))
    val (idx2, m2) = IndexStore.loadIvf(spark, dir)
    assert(m2.gen == 0L && m2.rows == 30L && m2.baseRows == 20L &&
      m2.slices == 2L)
    assert(idx2.assigned.count() == 30L)
    assert(new java.io.File(s"$dir/gen=0/assigned/slice=1").exists(),
      "the fold must land as a delta slice inside the generation")
    // +15 (45 >= 2x20): the doubling policy re-trains from the slices
    // (incl. the fold's own) and opens a fresh generation — the epoch
    // reset; growth window restarts
    val r3 = IndexStore.ivfMaintainBatch(slice(30, 45), col("vec_id"),
      col("embedding"), dir, nCentroids = 4)
    assert(r3.contains((1L, true)))
    val (idx3, m3) = IndexStore.loadIvf(spark, dir)
    assert(m3.rows == 45L && m3.baseRows == 45L && m3.slices == 1L)
    // every ingested vector is probe-reachable after the refresh
    assert(idx3.assigned.select(col("vid")).distinct().count() == 45L)
    // empty batch: no-op, no generation burned
    assert(IndexStore.ivfMaintainBatch(slice(0, 0), col("vec_id"),
      col("embedding"), dir, nCentroids = 4).isEmpty)
    assert(IndexStore.loadIvf(spark, dir)._2.gen == 1L)
    // exactly-once ledger: a batch id folds once; its crash replay is a
    // no-op (NOT a double insert — the fold appends), the next id folds
    val r4 = IndexStore.ivfMaintainBatch(slice(45, 50), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 7L)
    assert(r4.contains((1L, false)))
    assert(IndexStore.loadIvf(spark, dir)._2.rows == 50L)
    assert(IndexStore.ivfMaintainBatch(slice(45, 50), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 7L).isEmpty,
      "replaying a folded batch id must be a no-op")
    assert(IndexStore.loadIvf(spark, dir)._2.rows == 50L,
      "a replay must not double-insert")
    assert(IndexStore.ivfMaintainBatch(slice(50, 52), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 8L).nonEmpty)
    val mEnd = IndexStore.loadIvf(spark, dir)._2
    assert(mEnd.rows == 52L && mEnd.slices == 3L)
    // compact: the 3-slice window merges into one; search identical,
    // stats + batch ledger preserved, replay still a no-op; vacuum
    // retires the superseded slices
    def top5 = IndexStore.searchPruned(IndexStore.loadIvf(spark, dir)._1,
      query, k = 5, nprobe = 4).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = top5
    assert(IndexStore.compactAssigned(spark, dir).contains(3L))
    val mC = IndexStore.loadIvf(spark, dir)._2
    assert(mC.sliceBase == 3L && mC.slices == 4L && mC.rows == 52L &&
      mC.batch == 8L && mC.baseRows == mEnd.baseRows)
    assert(top5 == before)
    assert(IndexStore.ivfMaintainBatch(slice(50, 52), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 8L).isEmpty,
      "replay must stay a no-op through the compact")
    assert(IndexStore.compactAssigned(spark, dir).isEmpty)
    assert(IndexStore.vacuumAssignedSlices(spark, dir) == 3)
    assert(IndexStore.loadIvf(spark, dir)._1.assigned.count() == 52L)
    assert(top5 == before)
  }

  test("purgeVectors: tombstones filter the loaded index, later folds, " +
      "and the doubling re-train; compact makes removal physical") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfpurge").toString
    def slice(lo: Long, hi: Long) =
      embs.filter(col("vec_id") > lo && col("vec_id") <= hi)
    IndexStore.ivfMaintainBatch(slice(0, 30), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 0L)
    val gone = Set(3L, 7L, 11L)
    assert(IndexStore.purgeVectors(spark, dir,
      gone.toSeq.toDF("vec_id")) == 3L)
    val (idx1, m1) = IndexStore.loadIvf(spark, dir)
    assert(m1.rows == 27L, "rows must decrement in the purge commit")
    assert(idx1.assigned.filter(col("vid").isin(
      gone.toSeq.map(java.lang.Long.valueOf): _*)).count() == 0L)
    // absent ids: no-op
    assert(IndexStore.purgeVectors(spark, dir,
      Seq(999L).toDF("vec_id")) == 0L)
    // a later frozen-insert fold keeps excluding the tombstones
    IndexStore.ivfMaintainBatch(slice(30, 40), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 1L)
    val (idx2, m2) = IndexStore.loadIvf(spark, dir)
    assert(m2.rows == 37L && idx2.assigned.count() == 37L)
    // the doubling re-train (37 + 23 = 60 >= 2x30) must NOT resurrect
    // them
    val r = IndexStore.ivfMaintainBatch(slice(40, 63), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 2L)
    assert(r.exists(_._2), "this fold must trigger the re-train")
    val (idx3, m3) = IndexStore.loadIvf(spark, dir)
    assert(m3.rows == 60L && idx3.assigned.count() == 60L)
    assert(idx3.assigned.filter(col("vid").isin(
      gone.toSeq.map(java.lang.Long.valueOf): _*)).count() == 0L,
      "a re-train must not resurrect purged vectors")
  }

  test("session memo hydrates from a persisted store: one refresh " +
      "lineage, growth policy seeded from the manifest's base") {
    import graft.util.Maintenance
    val dir = Files.createTempDirectory("ivfhydrate").toString
    // publish a store whose content IS this corpus's index
    val idx = Similarity.buildIvf(embs, col("vec_id"), col("embedding"),
      nCentroids = 4, iterations = 1, materialize = true)
    IndexStore.saveIvf(idx, dir)
    val prev = spark.conf.getOption(AnnQueries.IvfStoreConf)
    spark.conf.set(AnnQueries.IvfStoreConf, dir)
    try {
      Maintenance.invalidate("ivfIndex", spark, sf)
      val hydrated = AnnQueries.ivfIndex(spark, sf)
      // the memo is the persisted generation, not a fresh training run:
      // centroid table matches the saved one exactly
      val saved = idx.centroids.collect()
        .map(r => (r.getAs[Number](0).intValue(), r.getSeq[Float](1))).toSet
      val got = hydrated.centroids.collect()
        .map(r => (r.getAs[Number](0).intValue(), r.getSeq[Float](1))).toSet
      assert(got == saved)
      // the doubling policy counts against the PERSISTED base
      assert(Maintenance.growthOf("ivfIndex", spark, sf).contains(
        Maintenance.Growth(embs.count(), 0L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(AnnQueries.IvfStoreConf, v)
        case None => spark.conf.unset(AnnQueries.IvfStoreConf)
      }
      Maintenance.invalidate("ivfIndex", spark, sf) // next user re-trains
    }
  }

  test("store-hydrated ingest: a doubling-policy fire PUBLISHES the " +
      "re-train back to the store — in-session ingests are never lost " +
      "to a stale rehydrate") {
    import graft.util.Maintenance
    val dir = Files.createTempDirectory("ivffire").toString
    val base = embs.filter(col("vec_id") > 0 && col("vec_id") <= 20)
    val idx = Similarity.buildIvf(base, col("vec_id"), col("embedding"),
      nCentroids = 4, iterations = 1, materialize = true)
    IndexStore.saveIvf(idx, dir) // baseRows = 20
    val prev = spark.conf.getOption(AnnQueries.IvfStoreConf)
    spark.conf.set(AnnQueries.IvfStoreConf, dir)
    try {
      Maintenance.invalidate("ivfIndex", spark, sf)
      AnnQueries.ivfIndex(spark, sf) // hydrate gen 0, base 20
      // +25 doubles the base (45 >= 2×20): the policy fires, and in
      // store-hydrated mode the re-train must land IN the store — the
      // round-9 advice scenario was the next ivfIndex() rehydrating the
      // stale gen 0 and silently dropping these 25 vectors
      val delta = embs.filter(col("vec_id") > 20 && col("vec_id") <= 45)
      val (_, fired) = AnnQueries.ivfIngest(spark, sf, delta)
      assert(fired, "45 >= 2x20 must fire the doubling policy")
      val (_, meta) = IndexStore.loadIvf(spark, dir)
      assert(meta.gen == 1L && meta.rows == 45L && meta.baseRows == 45L,
        "the fire must publish a re-trained generation to the store")
      // the rehydrated memo is the NEW generation: every ingested vector
      // is in its assignment
      val rehydrated = AnnQueries.ivfIndex(spark, sf)
      assert(rehydrated.assigned.count() == 45L)
      assert(Maintenance.growthOf("ivfIndex", spark, sf).contains(
        Maintenance.Growth(45L, 0L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(AnnQueries.IvfStoreConf, v)
        case None => spark.conf.unset(AnnQueries.IvfStoreConf)
      }
      Maintenance.invalidate("ivfIndex", spark, sf)
    }
  }

  test("composite maintenance fold: seed, frozen-quantizer growth, " +
      "doubling re-train from the kept vectors; replays are no-ops") {
    val dir = Files.createTempDirectory("ivfpqmaint").toString
    def slice(lo: Long, hi: Long) =
      embs.filter(col("vec_id") > lo && col("vec_id") <= hi)
    val r1 = IndexStore.ivfPqMaintainBatch(slice(0, 100), col("vec_id"),
      col("embedding"), dir, nCells = 4, m = 8, ksub = 16, batchId = 0L)
    assert(r1.contains((0L, true)))
    // +40 (140 < 200): frozen insert — cells and codebooks unchanged
    val (idx0, _) = IndexStore.loadIvfPq(spark, dir)
    val r2 = IndexStore.ivfPqMaintainBatch(slice(100, 140), col("vec_id"),
      col("embedding"), dir, nCells = 4, m = 8, ksub = 16, batchId = 1L)
    assert(r2.contains((1L, false)))
    val (idx1, m1) = IndexStore.loadIvfPq(spark, dir)
    assert(m1.rows == 140L)
    // v2: the exactly-once ledger rides IN the manifest (one atomic PUT
    // commits data + batch id together — no sidecar, no crash window
    // between the data flip and the ledger write)
    assert(m1.batch == 1L && m1.baseRows == 100L)
    assert(!new java.io.File(s"$dir/_graft_ivfpq_maint.json").exists(),
      "the v1 sidecar ledger must not exist — the manifest IS the ledger")
    assert(idx1.cells.zip(idx0.cells).forall { case ((_, a), (_, b)) =>
      a.toSeq == b.toSeq }, "a grown publish must keep the cells frozen")
    // replay no-op
    assert(IndexStore.ivfPqMaintainBatch(slice(100, 140), col("vec_id"),
      col("embedding"), dir, nCells = 4, m = 8, ksub = 16,
      batchId = 1L).isEmpty)
    // +70 (210 >= 200): re-train from the kept raw vectors
    val r3 = IndexStore.ivfPqMaintainBatch(slice(140, 210), col("vec_id"),
      col("embedding"), dir, nCells = 4, m = 8, ksub = 16, batchId = 2L)
    assert(r3.contains((2L, true)))
    val (idx2, m2) = IndexStore.loadIvfPq(spark, dir)
    assert(m2.rows == 210L)
    assert(m2.batch == 2L && m2.baseRows == 210L,
      "a re-train resets the doubling base in the same atomic commit")
    assert(idx2.codes.count() == 210L)
    // a vector from every era is probe-reachable post-retrain
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble).toSeq
    assert(Similarity.ivfPqSearchAdc(idx2, qv, k = 210, nprobe = 4)
      .count() == 210L)
  }

  test("streaming maintenance: micro-batches fold into published " +
      "generations; a loaded reader searches the grown index") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("ivfmaintstream").toString
    val ckpt = Files.createTempDirectory("ivfmaintckpt").toString
    val rows = embs.select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = graft.util.Maintenance.foldStream(
      ms.toDF().toDF("vec_id", "embedding"), ckpt)((df, bid) =>
      IndexStore.ivfMaintainBatch(df, col("vec_id"), col("embedding"), dir,
        nCentroids = 4, batchId = bid))
    try {
      ms.addData(rows.take(20).toSeq: _*)
      q.processAllAvailable()
      assert(IndexStore.loadIvf(spark, dir)._2.rows == 20L)
      ms.addData(rows.slice(20, 25).toSeq: _*)
      q.processAllAvailable()
      val (idx, meta) = IndexStore.loadIvf(spark, dir)
      assert(meta.rows == 25L && meta.baseRows == 20L)
      // a just-ingested vector is retrievable through the PERSISTED index
      val target = rows(22)
      val got = IndexStore.searchPruned(idx,
        Seq(Tuple1(target._2)).toDF("q"), k = 3, nprobe = 4)
        .collect().map(_.getLong(0))
      assert(got.contains(target._1))
    } finally q.stop()
  }

  test("upsertVectors: update+delete+add in ONE ledgered commit — " +
      "stats -old+new, replay no-op, slice-ordered mask keeps the " +
      "re-landed copy visible and a LATER purge still retires it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfupsert").toString
    def slice(lo: Long, hi: Long) =
      embs.filter(col("vec_id") > lo && col("vec_id") <= hi)
    IndexStore.ivfMaintainBatch(slice(0, 30), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 0L)
    // the refresh batch: re-embed 3/7/11 (negate), delete 5/9, add 31/32
    val neg = transform(col("embedding"), x => -x)
    val updated = embs.filter(col("vec_id").isin(3L, 7L, 11L))
      .select(col("vec_id"), neg.as("embedding"))
    val added = embs.filter(col("vec_id").isin(31L, 32L))
      .select(col("vec_id"), col("embedding"))
    val r = IndexStore.upsertVectors(updated.unionByName(added),
      col("vec_id"), col("embedding"),
      Seq(5L, 9L).toDF("vec_id"), dir, batchId = 7L)
    assert(r.nonEmpty, "a non-empty refresh must commit")
    val (idx1, m1) = IndexStore.loadIvf(spark, dir)
    assert(m1.rows == 30L, "rows = 30 - (3 retired + 2 deleted) + " +
      "(3 re-landed + 2 added) — one atomic -old+new")
    assert(m1.batch == 7L, "the batch ledger rides in the same commit")
    assert(idx1.assigned.count() == 30L &&
      idx1.assigned.select(col("vid")).distinct().count() == 30L,
      "exactly one live copy per id — the tombstone must mask the OLD " +
        "copy of a re-embedded id while its re-landed copy stays visible")
    assert(idx1.assigned.filter(col("vid").isin(5L, 9L)).count() == 0L)
    assert(idx1.assigned.filter(col("vid").isin(31L, 32L)).count() == 2L)
    // the re-landed copy carries the NEW embedding (negated), not the old
    val want = embs.filter(col("vec_id") === 3L)
      .head().getSeq[Float](1).map(x => -x).toSeq
    val got = idx1.assigned.filter(col("vid") === 3L)
      .head().getAs[scala.collection.Seq[Float]]("v").toSeq
    assert(got == want, "a re-embedded vector must probe with its NEW " +
      "coordinates")
    // exactly-once: the crash replay of the same batch id is a no-op
    assert(IndexStore.upsertVectors(updated.unionByName(added),
      col("vec_id"), col("embedding"),
      Seq(5L, 9L).toDF("vec_id"), dir, batchId = 7L).isEmpty)
    assert(IndexStore.loadIvf(spark, dir)._2.rows == 30L,
      "a replay must not double-tombstone or double-insert")
    // an id in BOTH upserts and removeIds re-lands (the upsert wins);
    // a previously-deleted id re-enters through an upsert
    val reEnter = embs.filter(col("vec_id").isin(5L, 11L))
      .select(col("vec_id"), col("embedding"))
    assert(IndexStore.upsertVectors(reEnter, col("vec_id"),
      col("embedding"), Seq(11L).toDF("vec_id"), dir,
      batchId = 8L).nonEmpty)
    val (idx2, m2) = IndexStore.loadIvf(spark, dir)
    assert(m2.rows == 31L && idx2.assigned.count() == 31L)
    assert(idx2.assigned.filter(col("vid") === 5L).count() == 1L,
      "an upsert sets the id's current state — a prior delete is not " +
        "sticky through the verb")
    assert(idx2.assigned.filter(col("vid") === 11L).count() == 1L,
      "remove of an id also being upserted must not win")
    // CONFLICTING same-id rows in one batch fail loudly; exact
    // duplicates collapse (at-least-once redelivery)
    val conflict = embs.filter(col("vec_id") === 4L)
      .select(col("vec_id"), col("embedding"))
      .unionByName(embs.filter(col("vec_id") === 4L)
        .select(col("vec_id"), neg.as("embedding")))
    val e = intercept[IllegalArgumentException](IndexStore.upsertVectors(
      conflict, col("vec_id"), col("embedding"),
      spark.emptyDataFrame.select(lit(0L).as("vec_id")).limit(0), dir,
      batchId = 9L))
    assert(e.getMessage.contains("CONFLICTING"))
    val dup = embs.filter(col("vec_id") === 4L)
      .select(col("vec_id"), neg.as("embedding"))
    assert(IndexStore.upsertVectors(dup.unionByName(dup), col("vec_id"),
      col("embedding"), Seq.empty[Long].toDF("vec_id"), dir,
      batchId = 9L).nonEmpty)
    assert(IndexStore.loadIvf(spark, dir)._1.assigned
      .filter(col("vid") === 4L).count() == 1L)
    // a LATER purge retires the re-landed copy (its tombstone is newer
    // than the upsert's data slice)
    assert(IndexStore.purgeVectors(spark, dir, Seq(3L).toDF("vec_id")) == 1L)
    val (idx3, m3) = IndexStore.loadIvf(spark, dir)
    assert(m3.rows == 30L &&
      idx3.assigned.filter(col("vid") === 3L).count() == 0L)
    // CONTRACT (round-13 review): the plain fold is append-only of NEW
    // ids — an id with tombstone HISTORY (here 7: retired and re-landed
    // by the upsert, currently live) is screened by id presence, so a
    // refresh through the wrong verb cannot double-insert; refreshes go
    // through upsertVectors (pinned above to re-land exactly one copy)
    assert(IndexStore.ivfMaintainBatch(embs.filter(col("vec_id") === 7L),
      col("vec_id"), col("embedding"), dir, nCentroids = 4,
      batchId = 10L).isEmpty,
      "a plain fold of a tombstone-history id must be a screened no-op")
    val mPin = IndexStore.loadIvf(spark, dir)
    assert(mPin._2.rows == 30L &&
      mPin._1.assigned.filter(col("vid") === 7L).count() == 1L)
    // compact makes the mask physical; search and ledger preserved
    def top5 = IndexStore.searchPruned(IndexStore.loadIvf(spark, dir)._1,
      query, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = top5
    assert(IndexStore.compactAssigned(spark, dir).nonEmpty)
    val mC = IndexStore.loadIvf(spark, dir)._2
    assert(mC.rows == 30L && mC.batch == 10L)
    assert(top5 == before)
    assert(IndexStore.loadIvf(spark, dir)._1.assigned
      .filter(col("vid").isin(3L, 9L)).count() == 0L)
    // the doubling re-train trains on the POST-REFRESH corpus: deleted
    // ids stay gone, the re-embedded copy keeps its new coordinates
    val r2 = IndexStore.ivfMaintainBatch(slice(32, 65), col("vec_id"),
      col("embedding"), dir, nCentroids = 4, batchId = 11L)
    assert(r2.exists(_._2), "this fold must trigger the re-train")
    val (idx4, m4) = IndexStore.loadIvf(spark, dir)
    assert(m4.rows == 63L && idx4.assigned.count() == 63L)
    assert(idx4.assigned.filter(col("vid").isin(3L, 9L)).count() == 0L,
      "a re-train must not resurrect deleted vectors")
    val got4 = idx4.assigned.filter(col("vid") === 7L)
      .head().getAs[scala.collection.Seq[Float]]("v").toSeq
    val want7 = embs.filter(col("vec_id") === 7L)
      .head().getSeq[Float](1).map(x => -x).toSeq
    assert(got4 == want7,
      "a re-train must carry the re-landed coordinates, not the old ones")
  }

  test("upsertPqVectors: the composite twin — one generation publish " +
      "carries retired codes, frozen-quantizer re-encodes, the rewritten " +
      "raw-vecs side table, and the batch ledger; replay no-op") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfpqupsert").toString
    def slice(lo: Long, hi: Long) =
      embs.filter(col("vec_id") > lo && col("vec_id") <= hi)
    IndexStore.ivfPqMaintainBatch(slice(0, 100), col("vec_id"),
      col("embedding"), dir, nCells = 4, m = 8, ksub = 16, batchId = 0L)
    val (idx0, _) = IndexStore.loadIvfPq(spark, dir)
    val neg = transform(col("embedding"), x => -x)
    val updated = embs.filter(col("vec_id").isin(3L, 7L, 11L))
      .select(col("vec_id"), neg.as("embedding"))
    val added = embs.filter(col("vec_id").isin(101L, 102L))
      .select(col("vec_id"), col("embedding"))
    val r = IndexStore.upsertPqVectors(updated.unionByName(added),
      col("vec_id"), col("embedding"),
      Seq(5L, 9L).toDF("vec_id"), dir, batchId = 3L)
    assert(r.nonEmpty)
    val (idx1, m1) = IndexStore.loadIvfPq(spark, dir)
    assert(m1.rows == 100L && m1.batch == 3L,
      "rows = 100 - 5 retired + 5 landed, ledger in the same publish")
    assert(m1.baseRows == 100L,
      "an upsert is a refresh — the doubling base must carry, not reset")
    assert(idx1.codes.count() == 100L &&
      idx1.codes.select(col("vid")).distinct().count() == 100L)
    assert(idx1.codes.filter(col("vid").isin(5L, 9L)).count() == 0L)
    assert(idx1.codes.filter(col("vid").isin(101L, 102L)).count() == 2L)
    // quantizers stay FROZEN across the refresh
    assert(idx1.cells.zip(idx0.cells).forall { case ((_, a), (_, b)) =>
      a.toSeq == b.toSeq })
    assert(idx1.pq.codebooks.flatten.map(_.toSeq) ==
      idx0.pq.codebooks.flatten.map(_.toSeq))
    // the raw-vecs side table was rewritten to the post-refresh corpus,
    // so a later doubling re-train trains on it
    val vecs = spark.read.parquet(s"$dir/gen=${m1.gen}/vecs")
    assert(vecs.count() == 100L &&
      vecs.filter(col("vid").isin(5L, 9L)).count() == 0L)
    val want = embs.filter(col("vec_id") === 3L)
      .head().getSeq[Float](1).map(x => -x).toSeq
    assert(vecs.filter(col("vid") === 3L)
      .head().getAs[scala.collection.Seq[Float]]("v").toSeq == want)
    // replay no-op; removes of only-absent ids are an empty ledgered batch
    assert(IndexStore.upsertPqVectors(updated.unionByName(added),
      col("vec_id"), col("embedding"),
      Seq(5L, 9L).toDF("vec_id"), dir, batchId = 3L).isEmpty)
    assert(IndexStore.loadIvfPq(spark, dir)._2.gen == m1.gen)
    assert(IndexStore.upsertPqVectors(
      updated.limit(0), col("vec_id"), col("embedding"),
      Seq(999999L).toDF("vec_id"), dir, batchId = 4L).isEmpty)
    assert(IndexStore.loadIvfPq(spark, dir)._2.batch == 4L,
      "an empty batch still records its id — maintenance replays must " +
        "stay no-ops")
    // a refreshed vector probes at its NEW location: full-probe ADC over
    // the store must rank id 3's re-encoded code by the negated vector
    val qv3 = want.map(_.toDouble).toSeq
    val top = Similarity.ivfPqSearchAdc(idx1, qv3, k = 5, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(top.contains(3L),
      "the re-encoded code must be reachable near its new coordinates")
  }
}
