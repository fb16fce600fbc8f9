package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.util.Tables

/** The persisted dedup ledger: the q130 maintenance invariant across
  * generations on disk (folded labels ≡ full recompute), exactly-once
  * batch folds, the frozen fold config, and the streaming face.
  */
class LedgerStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  // doc_id > 0: slices below are (lo, hi] ranges, so pin the corpus to
  // the same id space as the recompute ground truth
  private def docs = Tables.documents(spark, sf)
    .filter(col("doc_id") > 0)
    .select(col("doc_id"), col("text"))

  /** Full-recompute ground truth over `upTo` docs — q75's pipeline with
    * the ledger's exact config. */
  private def fullLabels(upTo: Long): Map[Long, Long] = {
    val d = docs.filter(col("doc_id") <= upTo)
    val pairs = Dedup.minhashNearDups(d, col("doc_id"), col("text"),
      threshold = 0.5, bands = 16, maxBucketSize = Int.MaxValue)
    val lbl = Dedup.components(pairs, col("a_id"), col("b_id"))
    d.join(lbl.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def storedLabels(dir: String): Map[Long, Long] =
    LedgerStore.load(spark, dir)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("batch folds maintain the q130 invariant on disk: stored labels " +
      "≡ full recompute after every generation; replays are no-ops") {
    val dir = Files.createTempDirectory("ledgerstore").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    // seed on the first 200 docs
    assert(LedgerStore.maintainBatch(slice(0, 200), col("doc_id"),
      col("text"), dir, batchId = 0L).contains(0L))
    assert(storedLabels(dir) == fullLabels(200L))
    // fold 150 more: delta-sized work, invariant holds
    assert(LedgerStore.maintainBatch(slice(200, 350), col("doc_id"),
      col("text"), dir, batchId = 1L).contains(1L))
    assert(storedLabels(dir) == fullLabels(350L))
    // crash replay of batch 1: no-op, generation unchanged
    assert(LedgerStore.maintainBatch(slice(200, 350), col("doc_id"),
      col("text"), dir, batchId = 1L).isEmpty)
    assert(LedgerStore.load(spark, dir)._3.gen == 1L)
    // the rest of the corpus
    assert(LedgerStore.maintainBatch(slice(350, 1000), col("doc_id"),
      col("text"), dir, batchId = 2L).contains(2L))
    val m = LedgerStore.load(spark, dir)._3
    assert(m.rows == docs.count())
    assert(storedLabels(dir) == fullLabels(Long.MaxValue))
    // a mismatched fold config is refused, not silently mixed
    val e = intercept[IllegalArgumentException] {
      LedgerStore.maintainBatch(slice(0, 10), col("doc_id"), col("text"),
        dir, threshold = 0.7, batchId = 3L)
    }
    assert(e.getMessage.contains("one ledger, one signature family"))
  }

  test("postings fold path: identical pairs to the FromSigs form, and " +
      "the old side plans a partition-pruned posting scan") {
    val dir = Files.createTempDirectory("ledgerpost").toString
    LedgerStore.maintainBatch(docs.filter(col("doc_id") <= 400),
      col("doc_id"), col("text"), dir, batchId = 0L)
    val (_, sigs, m) = LedgerStore.load(spark, dir)
    // the live posting slices, as a fold reads them
    val postings = spark.read.parquet(s"$dir/postings")
      .filter(col("slice") < m.slices).drop("slice")
    val deltaSigs = Dedup.minhashSigSets(
      docs.filter(col("doc_id") > 400), col("doc_id"), col("text"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPostings = Dedup.minhashNearDupsDeltaFromPostings(
      postings, sigs, deltaSigs, threshold = 0.5, bands = 16,
      maxBucketSize = Int.MaxValue, prefixes = m.prefixes)
    val viaSigs = Dedup.minhashNearDupsDeltaFromSigs(
      sigs, deltaSigs, threshold = 0.5, bands = 16,
      maxBucketSize = Int.MaxValue)
    assert(norm(viaPostings) == norm(viaSigs))
    // the layout's point: the old side is a prefix-filtered scan of the
    // posting table (bp pushed into the parquet reader), not a full
    // signature-store scan
    val plan = viaPostings.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\n]*In\\(bp, ".r.findFirstIn(plan).isDefined,
      s"posting scan does not push the bp prefix filter:\n${plan.take(1500)}")
  }

  test("layout: a fold at prefixes = 64 lands its posting slice as " +
      "bp-sorted files, one per write task, not one directory per prefix") {
    val dir = Files.createTempDirectory("ledgerflat").toString
    LedgerStore.maintainBatch(docs.filter(col("doc_id") <= 300),
      col("doc_id"), col("text"), dir, prefixes = 64, batchId = 0L)
    graft.FlatSlice.check(spark, s"$dir/postings/slice=0", "bp")
  }

  test("layout: once a slice spans many row groups, the pushed bp " +
      "filter skips the row groups of the other prefixes") {
    val dir = Files.createTempDirectory("ledgerskip").toString
    graft.FlatSlice.withSmallRowGroups(spark) {
      LedgerStore.maintainBatch(docs.filter(col("doc_id") <= 300),
        col("doc_id"), col("text"), dir, prefixes = 64, batchId = 0L)
    }
    graft.FlatSlice.checkSkips(spark, s"$dir/postings/slice=0", "bp")
  }

  test("compact: the live slice window merges into one slice — data " +
      "identity, batch-ledger replay safety, pre-compact slices " +
      "readable until vacuum, post-compact folds keep the invariant") {
    val dir = Files.createTempDirectory("ledgercompact").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    LedgerStore.maintainBatch(slice(0, 150), col("doc_id"), col("text"),
      dir, batchId = 0L)
    LedgerStore.maintainBatch(slice(150, 300), col("doc_id"), col("text"),
      dir, batchId = 1L)
    LedgerStore.maintainBatch(slice(300, 400), col("doc_id"), col("text"),
      dir, batchId = 2L)
    val before = storedLabels(dir)
    val (_, sigsBefore, mBefore) = LedgerStore.load(spark, dir)
    val nSigs = sigsBefore.count()
    assert(mBefore.sliceBase == 0L && mBefore.slices == 3L)
    // compact: 3 live slices -> 1 merged, window advances atomically
    assert(LedgerStore.compact(spark, dir).contains(3L))
    val (_, sigsAfter, mAfter) = LedgerStore.load(spark, dir)
    assert(mAfter.sliceBase == 3L && mAfter.slices == 4L)
    // data identity across the compact
    assert(storedLabels(dir) == before)
    assert(sigsAfter.count() == nSigs)
    // replay safety: the batch ledger rode the compact commit — a crash
    // replay of the last folded batch is still a no-op
    assert(mAfter.batch == 2L)
    assert(LedgerStore.maintainBatch(slice(300, 400), col("doc_id"),
      col("text"), dir, batchId = 2L).isEmpty)
    // grace window: superseded slices stay for pre-compact readers
    assert(new java.io.File(s"$dir/sigs/slice=0").exists())
    // a 1-slice window has nothing to merge
    assert(LedgerStore.compact(spark, dir).isEmpty)
    // a post-compact fold appends past the merged slice; the q130
    // invariant holds through the compacted store
    assert(LedgerStore.maintainBatch(slice(400, 2000), col("doc_id"),
      col("text"), dir, batchId = 3L).contains(3L))
    assert(LedgerStore.load(spark, dir)._3.slices == 5L)
    assert(storedLabels(dir) == fullLabels(Long.MaxValue))
    // vacuum retires every slice below the live base, store still loads
    val removed = LedgerStore.vacuumSlices(spark, dir)
    assert(removed == 6, s"expected slices 0,1,2 gone from both stores, got $removed")
    assert(!new java.io.File(s"$dir/sigs/slice=0").exists())
    assert(new java.io.File(s"$dir/sigs/slice=3").exists())
    assert(storedLabels(dir) == fullLabels(Long.MaxValue))
  }

  test("capped production profile: the hot-bucket cap threads through " +
      "the disk fold and equals the capped in-memory incremental path") {
    import spark.implicits._
    val cap = 8
    // hot-bucket fixture: 30 identical docs share every band bucket
    // (bucket size 30 > cap), plus unique docs that dedup normally
    val hotText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val baseDf = ((1L to 10L).map(i =>
        (i, s"unique base document number $i carries words w${i * 7} w${i * 13} w${i * 29}")) ++
      (11L to 40L).map(i => (i, hotText)))
      .toDF("doc_id", "text")
    val deltaDf = ((41L to 45L).map(i => (i, hotText)) ++
      (46L to 50L).map(i =>
        (i, s"unique delta document number $i carries words w${i * 7} w${i * 13} w${i * 29}")))
      .toDF("doc_id", "text")
    // the capped IN-MEMORY incremental path (the q130 machinery)
    val baseSigs = Dedup.minhashSigSets(baseDf, col("doc_id"), col("text"),
      k = 16).localCheckpoint(true)
    val pairs0 = Dedup.minhashNearDupsDeltaFromSigs(baseSigs.limit(0),
      baseSigs, 0.5, 16, 16, maxBucketSize = cap)
    val labels0 = Dedup.componentsIncremental(
      baseDf.select(col("doc_id").as("id"), col("doc_id").as("comp")).limit(0),
      baseDf, col("doc_id"), pairs0, col("a_id"), col("b_id"))
      .localCheckpoint(true)
    val deltaSigs = Dedup.minhashSigSets(deltaDf, col("doc_id"), col("text"),
      k = 16)
    val pairs1 = Dedup.minhashNearDupsDeltaFromSigs(baseSigs, deltaSigs,
      0.5, 16, 16, maxBucketSize = cap)
    val memLabels = Dedup.componentsIncremental(labels0,
      labels0.select(col("id"))
        .unionByName(deltaDf.select(col("doc_id").as("id"))),
      col("id"), pairs1, col("a_id"), col("b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the capped DISK fold (round-9 verdict #5: the cap must reach the
    // persisted path — before round 10 maintainBatch pinned MaxValue)
    val dir = Files.createTempDirectory("ledgercap").toString
    assert(LedgerStore.maintainBatch(baseDf, col("doc_id"), col("text"),
      dir, batchId = 0L, maxBucketSize = cap).contains(0L))
    assert(LedgerStore.maintainBatch(deltaDf, col("doc_id"), col("text"),
      dir, batchId = 1L, maxBucketSize = cap).contains(1L))
    assert(storedLabels(dir) == memLabels,
      "capped-on-disk must equal capped-in-memory")
    // the cap BINDS on this fixture: the 35-member hot bucket is
    // dropped, so the boilerplate docs stay singletons (uncapped they
    // would all contract into one component)
    assert(memLabels(11L) == 11L && memLabels(41L) == 41L)
    // and the frozen-config contract covers the cap
    val e = intercept[IllegalArgumentException] {
      LedgerStore.maintainBatch(deltaDf, col("doc_id"), col("text"),
        dir, batchId = 2L, maxBucketSize = 9)
    }
    assert(e.getMessage.contains("one ledger, one signature family"))
  }

  test("upsertDocs (document re-ingest): changed texts retire their " +
      "old signatures and re-pair atomically, deletes leave — labels " +
      "equal the full recompute over the re-ingested corpus; replays " +
      "are no-ops; compact preserves the state; plain re-folds of " +
      "purged ids stay screened") {
    val dir = Files.createTempDirectory("ledgerupsert").toString
    assert(LedgerStore.maintainBatch(docs, col("doc_id"), col("text"),
      dir, batchId = 0L).contains(0L))

    val updated = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
    import spark.implicits._
    val removes = docs.filter(col("doc_id") % 17 === 0 &&
      col("doc_id") % 10 =!= 0).select(col("doc_id"))
    assert(LedgerStore.upsertDocs(updated, col("doc_id"), col("text"),
      removes, dir, batchId = 1L).nonEmpty)

    // the simulated post-re-ingest corpus, recomputed from scratch
    val corpus = docs.filter(!(col("doc_id") % 17 === 0 &&
        col("doc_id") % 10 =!= 0))
      .filter(col("doc_id") % 10 =!= 0)
      .unionByName(updated)
    val pairsFull = Dedup.minhashNearDups(corpus, col("doc_id"),
      col("text"), threshold = 0.5, bands = 16,
      maxBucketSize = Int.MaxValue)
    val lblFull = Dedup.components(pairsFull, col("a_id"), col("b_id"))
    val expect = corpus
      .join(lblFull.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(storedLabels(dir) == expect)
    assert(LedgerStore.meta(spark, dir).get.rows == expect.size)

    // replay of the upsert batch is a no-op
    assert(LedgerStore.upsertDocs(updated, col("doc_id"), col("text"),
      removes, dir, batchId = 1L).isEmpty)
    assert(storedLabels(dir) == expect)

    // compact applies the masks physically; state identical after
    assert(LedgerStore.compact(spark, dir).nonEmpty)
    assert(LedgerStore.vacuumSlices(spark, dir) > 0)
    assert(storedLabels(dir) == expect)

    // plain maintainBatch still screens a purged id; an upsert of the
    // same id re-lands it
    LedgerStore.purgeDocs(spark, dir, Seq(3L).toDF("id"))
    LedgerStore.maintainBatch(docs.filter(col("doc_id") === 3L),
      col("doc_id"), col("text"), dir, batchId = 5L)
    assert(!storedLabels(dir).contains(3L))
    LedgerStore.upsertDocs(docs.filter(col("doc_id") === 3L),
      col("doc_id"), col("text"), Seq.empty[Long].toDF("id"), dir,
      batchId = 6L)
    assert(storedLabels(dir).contains(3L))
  }

  test("upsertDocs: re-texting the bridge of a three-document component " +
      "splits its remaining members, and a re-landed document joins " +
      "another component — labels equal the full recompute") {
    val dir = Files.createTempDirectory("ledgerbridge").toString
    def words(p: String, lo: Int, hi: Int) =
      (lo to hi).map(i => s"$p$i").mkString(" ")
    // word 3-gram Jaccard: 1~2 and 2~3 at 0.57, 1~3 at 0.29; 5~6 at 0.71
    val seed = Seq(1L -> words("t", 1, 20), 2L -> words("t", 6, 25),
      3L -> words("t", 11, 30), 4L -> words("d", 1, 20),
      5L -> words("e", 1, 20), 6L -> words("e", 4, 23),
      7L -> words("g", 1, 20), 8L -> words("h", 1, 20))
    assert(LedgerStore.maintainBatch(seed.toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir, batchId = 0L).contains(0L))
    val before = storedLabels(dir)
    assert(before(1L) == 1L && before(2L) == 1L && before(3L) == 1L &&
      before(5L) == 5L && before(6L) == 5L, s"fixture labels $before")
    // one batch: the bridge 2 leaves its component, 4 re-lands beside
    // 5 and 6 (and, being smaller, relabels them), 8 is removed
    val upserts = Seq(2L -> words("z", 1, 20), 4L -> words("e", 2, 21))
    assert(LedgerStore.upsertDocs(upserts.toDF("doc_id", "text"),
      col("doc_id"), col("text"), Seq(8L).toDF("id"), dir,
      batchId = 1L).nonEmpty)
    val corpus = (seed.toMap ++ upserts - 8L).toSeq.toDF("doc_id", "text")
    val pairsFull = Dedup.minhashNearDups(corpus, col("doc_id"),
      col("text"), threshold = 0.5, bands = 16,
      maxBucketSize = Int.MaxValue)
    val lblFull = Dedup.components(pairsFull, col("a_id"), col("b_id"))
    val expect = corpus
      .join(lblFull.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expect == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 4L, 6L -> 4L, 7L -> 7L), s"recompute $expect")
    assert(storedLabels(dir) == expect)
    assert(LedgerStore.meta(spark, dir).get.rows == expect.size)
  }

  test("purgeDocs: decremental maintenance — affected components " +
      "relabel from stored signatures, tombstones block later folds, " +
      "compact makes the removal physical") {
    val dir = Files.createTempDirectory("ledgerpurge").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    def fullRemaining(upTo: Long, gone: Set[Long]): Map[Long, Long] = {
      val d = docs.filter(col("doc_id") <= upTo &&
        !col("doc_id").isin(gone.toSeq.map(java.lang.Long.valueOf): _*))
      val pairs = Dedup.minhashNearDups(d, col("doc_id"), col("text"),
        threshold = 0.5, bands = 16, maxBucketSize = Int.MaxValue)
      val lbl = Dedup.components(pairs, col("a_id"), col("b_id"))
      d.join(lbl.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    LedgerStore.maintainBatch(slice(0, 300), col("doc_id"), col("text"),
      dir, batchId = 0L)
    // pick a member of a MULTI-doc component (deletion must relabel its
    // survivors) and a singleton (trivial path)
    val byComp = storedLabels(dir).groupBy(_._2)
    val multi = byComp.values.find(_.size >= 2)
      .getOrElse(fail("fixture needs a multi-doc component")).keys.toSeq.sorted
    val singleton = byComp.values.find(_.size == 1).get.keys.head
    val gone = Set(multi.head, singleton)
    import spark.implicits._
    assert(LedgerStore.purgeDocs(spark, dir,
      gone.toSeq.toDF("doc_id")).nonEmpty)
    assert(storedLabels(dir) == fullRemaining(300L, gone),
      "post-purge labels must equal the full recompute on remaining docs")
    // purging already-purged / absent ids: no-op, no generation burned
    val genAfter = LedgerStore.load(spark, dir)._3.gen
    assert(LedgerStore.purgeDocs(spark, dir,
      (gone + 999999L).toSeq.toDF("doc_id")).isEmpty)
    assert(LedgerStore.load(spark, dir)._3.gen == genAfter)
    // later folds cannot pair against tombstoned docs: the invariant
    // holds for (all folded docs) MINUS the purged set
    LedgerStore.maintainBatch(slice(300, 2000), col("doc_id"), col("text"),
      dir, batchId = 1L)
    assert(storedLabels(dir) == fullRemaining(Long.MaxValue, gone))
    // compact: identity for readers; PHYSICAL removal — the merged sigs
    // slice no longer contains the purged ids even on a raw read
    assert(LedgerStore.compact(spark, dir).nonEmpty)
    assert(storedLabels(dir) == fullRemaining(Long.MaxValue, gone))
    val m = LedgerStore.load(spark, dir)._3
    val rawIds = spark.read.parquet(s"$dir/sigs")
      .filter(col("slice") >= m.sliceBase && col("slice") < m.slices)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(gone.forall(!rawIds(_)),
      "compact must rewrite the store without the purged rows")
    LedgerStore.vacuumSlices(spark, dir)
    assert(storedLabels(dir) == fullRemaining(Long.MaxValue, gone))
  }

  test("streaming maintenance: the ledger follows the arriving corpus; " +
      "a loaded reader sees the full-recompute labeling") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("ledgerstream").toString
    val ckpt = Files.createTempDirectory("ledgerckpt").toString
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val ms = MemoryStream[(Long, String)]
    val q = graft.util.Maintenance.foldStream(
      ms.toDF().toDF("doc_id", "text"), ckpt)((df, bid) =>
      LedgerStore.maintainBatch(df, col("doc_id"), col("text"), dir,
        batchId = bid))
    try {
      ms.addData(rows.take(250).toSeq: _*)
      q.processAllAvailable()
      assert(LedgerStore.load(spark, dir)._3.rows == 250L)
      ms.addData(rows.drop(250).toSeq: _*)
      q.processAllAvailable()
      assert(storedLabels(dir) == fullLabels(Long.MaxValue))
    } finally q.stop()
  }
}
