package graft.util

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ann.IndexStore
import graft.cdc.{After, After2, Apply, Env, Env2}
import graft.dedup.{LedgerStore, SemLedgerStore}
import graft.text.{LmQueries, PostingsStore}
import graft.warehouse.GraphStore

/** Round-10 ADVICE regressions, pinned:
  *
  *  1. ORPHAN-SLICE RESURRECTION — a fold that crashed after its data
  *     write but before its pointer commit leaves orphan data dirs at
  *     slice id S; a purge (or compact) claiming the same id must DELETE
  *     them before committing `slices = S+1`, or the orphan rows become
  *     live (uncounted by the manifest stats) and the crashed batch's
  *     replay double-inserts at S+1.
  *  2. TOMBSTONE RE-FOLD — folding a still-tombstoned id must be a no-op
  *     (the delete-then-reingest flow is purge → compact → vacuum →
  *     re-fold); otherwise stats count a doc whose data every read hides.
  *  3. GraphStore.maintainStream must forward a non-default prefix fan
  *     (it hard-coded 64 and killed streams over any other layout).
  *  4. Apply.purgeKeys / Apply.compact must read mixed-schema buckets
  *     (schema evolution leaves untouched buckets on the old schema; the
  *     compliance delete cannot wait for every bucket to rewrite).
  */
class StoreHardeningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)
    .filter(col("doc_id") > 0)
    .select(col("doc_id"), col("text"))
  private val terms = Seq("fast", "merge", "table")

  private def storeTop(dir: String): Seq[(Long, Long, Double)] =
    PostingsStore.bm25Query(spark, dir, terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  private def fullTop(corpus: org.apache.spark.sql.DataFrame) =
    LmQueries.bm25(corpus, col("doc_id"), col("text"), terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("postings: a crashed fold's orphan data slice is claimed by a " +
      "purge, never resurrected, and the batch's replay folds cleanly") {
    val dir = Files.createTempDirectory("claimpostings").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    PostingsStore.maintainBatch(slice(0, 300), col("doc_id"), col("text"),
      dir, batchId = 0L)
    // simulate batch 1 crashing AFTER its data writes, BEFORE its commit:
    // orphan postings+doclen dirs land at the next slice id (1), written
    // the way a fold writes them (flat, tp-partitioned and tp-sorted)
    val orphan = slice(300, 600)
    orphan.select(col("doc_id").as("id"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("tp", pmod(xxhash64(col("term")), lit(64L)).cast("int"))
      .repartition(col("tp")).sortWithinPartitions(col("tp"), col("term"))
      .write.mode("overwrite").parquet(s"$dir/postings/slice=1")
    orphan.select(col("doc_id").as("id"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("id")).agg(count(lit(1)).as("dl"))
      .write.mode("overwrite").parquet(s"$dir/doclen/slice=1")
    // a purge now allocates slice 1 for its tombstone and commits
    // slices=2 — it must CLAIM the orphan dirs first
    val victim = storeTop(dir).head._1
    assert(PostingsStore.purgeDocs(spark, dir,
      Seq(victim).toDF("doc_id")).nonEmpty)
    // the orphan docs are NOT live: the store replays the recompute over
    // exactly (batch 0 minus the purged doc)
    val remaining = slice(0, 300).filter(col("doc_id") =!= victim)
    assert(storeTop(dir) == fullTop(remaining))
    // the crashed batch's replay folds ONCE at the next slice id
    assert(PostingsStore.maintainBatch(orphan, col("doc_id"), col("text"),
      dir, batchId = 1L).contains(2L))
    assert(storeTop(dir) ==
      fullTop(remaining.unionByName(orphan)))
    val m = PostingsStore.meta(spark, dir).get
    assert(m.nDocs == remaining.count() + orphan.count(),
      "manifest stats must count exactly the live docs")
  }

  test("postings: re-folding a purged id is a no-op until compact+vacuum " +
      "physically retire the tombstone; then re-ingest works") {
    val dir = Files.createTempDirectory("refoldpostings").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    PostingsStore.maintainBatch(slice(0, 300), col("doc_id"), col("text"),
      dir, batchId = 0L)
    val victim = storeTop(dir).head._1
    PostingsStore.purgeDocs(spark, dir, Seq(victim).toDF("doc_id"))
    val mPurged = PostingsStore.meta(spark, dir).get
    // re-fold a batch that contains ONLY the purged doc: screened to
    // empty, no commit, stats unchanged (the GDPR-then-resubscribe flow
    // is fail-safe, not silently double-counted)
    assert(PostingsStore.maintainBatch(
      docs.filter(col("doc_id") === victim), col("doc_id"), col("text"),
      dir, batchId = 1L).isEmpty)
    // ADVICE r11: the screened-empty LEDGERED batch still records its
    // batch id via a no-op pointer bump (data and stats untouched) —
    // without it, a compact+vacuum that drops the tombstone followed by
    // a streaming replay of batch 1 would re-fold and resurrect the
    // purged doc (the replay guard needs batch >= 1 in the manifest)
    assert(PostingsStore.meta(spark, dir).get ==
      mPurged.copy(batch = 1L, commit = mPurged.commit + 1))
    // a MIXED batch folds only its non-purged docs
    PostingsStore.maintainBatch(slice(300, 400)
        .unionByName(docs.filter(col("doc_id") === victim)),
      col("doc_id"), col("text"), dir, batchId = 2L)
    val remaining = slice(0, 400).filter(col("doc_id") =!= victim)
    assert(storeTop(dir) == fullTop(remaining))
    assert(PostingsStore.meta(spark, dir).get.nDocs == remaining.count())
    // compact + vacuum retire the tombstone physically; the id may then
    // legitimately re-enter
    PostingsStore.compact(spark, dir)
    PostingsStore.vacuumSlices(spark, dir)
    assert(PostingsStore.maintainBatch(
      docs.filter(col("doc_id") === victim), col("doc_id"), col("text"),
      dir, batchId = 3L).nonEmpty)
    assert(storeTop(dir) == fullTop(slice(0, 400)))
  }

  test("ledger: re-folding a purged id cannot re-enter the labels " +
      "through the tombstone window") {
    val dir = Files.createTempDirectory("refoldledger").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    LedgerStore.maintainBatch(slice(0, 300), col("doc_id"), col("text"),
      dir, batchId = 0L)
    val (labels0, _, _) = LedgerStore.load(spark, dir)
    val victim = labels0.select(col("id")).orderBy(col("id")).head().getLong(0)
    LedgerStore.purgeDocs(spark, dir, Seq(victim).toDF("id"))
    // fold a batch containing the purged id: it must stay out
    LedgerStore.maintainBatch(slice(300, 400)
        .unionByName(docs.filter(col("doc_id") === victim)),
      col("doc_id"), col("text"), dir, batchId = 1L)
    val (labels, sigs, _) = LedgerStore.load(spark, dir)
    assert(labels.filter(col("id") === victim).isEmpty,
      "a purged id must not re-enter the labels while tombstoned")
    assert(sigs.filter(col("id") === victim).isEmpty)
  }

  test("graph: maintainStream forwards a non-default prefix fan") {
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("graphprefix").toString
    val ckpt = Files.createTempDirectory("graphprefixck").toString
    // seed with prefixes=8
    GraphStore.maintainBatch(Seq((1L, 10L), (1L, 11L)).toDF("ord", "item"),
      col("ord"), col("item"), dir, batchId = -1L, prefixes = 8)
    val ms = MemoryStream[(Long, Long)]
    val q = Maintenance.foldStream(ms.toDF().toDF("ord", "item"), ckpt)(
      (df, bid) =>
        GraphStore.maintainBatch(df, col("ord"), col("item"), dir,
          batchId = bid, prefixes = 8))
    try {
      ms.addData((2L, 10L), (2L, 11L))
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"stream died on a prefix mismatch: ${q.exception}")
      val (_, pairs, _) = GraphStore.load(spark, dir)
      assert(pairs.agg(sum(col("n_ab"))).head().getLong(0) == 2L)
    } finally q.stop()
  }

  test("ivf: re-inserting a purged vid is screened; rows stay honest") {
    val dir = Files.createTempDirectory("refoldivf").toString
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("vid"), col("embedding").as("v"))
      .filter(col("vid") <= 200)
    graft.ann.IndexStore.ivfMaintainBatch(vecs, col("vid"), col("v"),
      dir, nCentroids = 4, batchId = 0L)
    val before = graft.ann.IndexStore.loadIvf(spark, dir)._2
    assert(graft.ann.IndexStore.purgeVectors(spark, dir,
      Seq(1L, 2L).toDF("vid")) == 2L)
    // fold a batch holding ONLY purged vids → screened, no commit
    assert(graft.ann.IndexStore.ivfMaintainBatch(
      vecs.filter(col("vid").isin(1, 2)), col("vid"), col("v"),
      dir, nCentroids = 4, batchId = 1L).isEmpty)
    val m = graft.ann.IndexStore.loadIvf(spark, dir)._2
    assert(m.rows == before.rows - 2,
      "rows must count only live vectors — a screened re-insert cannot bump it")
    val (idx, _) = graft.ann.IndexStore.loadIvf(spark, dir)
    assert(idx.assigned.filter(col("vid").isin(1, 2)).isEmpty)
  }

  test("purgeKeys and compact work across a schema evolution boundary " +
      "(mixed-schema buckets, one mergeSchema scan)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val table = Files.createTempDirectory("purgeevolve").toString + "/t"
    // v1 writer: several keys across buckets
    val ms1 = MemoryStream[Env]
    // data BEFORE start (AvailableNow snapshots offsets at query start)
    ms1.addData((1 to 8).map(i =>
      Env("INSERT", s"k$i", After(s"k$i", "t", i.toDouble), ts(100))): _*)
    val q1 = Apply.startMerge(ms1.toDF(), table,
      Files.createTempDirectory("ck-pe1").toString,
      keyCol = "id", versionCol = "ts",
      schema = Seq(Env("INSERT", "x", After("x", "t", 1.0), ts(1))).toDF()
        .schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    q1.processAllAvailable(); q1.stop()
    // v2 writer: widened payload touches a subset of buckets
    val ms2 = MemoryStream[Env2]
    ms2.addData(
      Env2("INSERT", "k9", After2("k9", "t", 9.0, "eu"), ts(200)),
      Env2("INSERT", "k10", After2("k10", "t", 10.0, "us"), ts(200)))
    val q2 = Apply.startMerge(ms2.toDF(), table,
      Files.createTempDirectory("ck-pe2").toString,
      keyCol = "id", versionCol = "ts",
      schema = Seq(Env2("INSERT", "x", After2("x", "t", 1.0, "eu"), ts(1)))
        .toDF().schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    q2.processAllAvailable(); q2.stop()
    // purge keys that span pre- AND post-evolution buckets: before the
    // round-11 fix this threw AnalysisException on the schema mismatch
    val purged = Apply.purgeKeys(spark, table,
      Seq("k1", "k9").toDF("id"), "id", gcGraceMs = 0L)
    assert(purged == 2L)
    val after = Apply.readMergeTable(spark, table)
    assert(after.count() == 8)
    assert(after.columns.contains("region"),
      "the widened column must survive the purge rewrite")
    assert(after.filter(col("id") === "k10")
      .head().getAs[String]("region") == "us")
    // compact the mixed-schema table: same one-scan fix
    Apply.compact(spark, table, gcGraceMs = 0L)
    val compacted = Apply.readMergeTable(spark, table)
    assert(compacted.count() == 8 && compacted.columns.contains("region"))
    val ids = compacted.collect().map(_.getAs[String]("id")).toSet
    assert(!ids("k1") && !ids("k9") && ids("k2") && ids("k10"))
  }
  // ---- round-12 hardening (ADVICE r11) ----

  test("postings: end-to-end replay-resurrection guard — purge, " +
      "screened-empty ledgered batch, compact+vacuum, then a replay of " +
      "that batch stays a no-op (the purged doc never resurrects)") {
    val dir = Files.createTempDirectory("resurrect").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    PostingsStore.maintainBatch(slice(0, 300), col("doc_id"), col("text"),
      dir, batchId = 0L)
    val victim = storeTop(dir).head._1
    PostingsStore.purgeDocs(spark, dir, Seq(victim).toDF("doc_id"))
    // ledgered batch 1 contains ONLY the purged doc → screened empty
    assert(PostingsStore.maintainBatch(
      docs.filter(col("doc_id") === victim), col("doc_id"), col("text"),
      dir, batchId = 1L).isEmpty)
    // maintenance physically retires the tombstone
    PostingsStore.compact(spark, dir)
    PostingsStore.vacuumSlices(spark, dir)
    // streaming restart replays batch 1 (checkpoint hadn't committed):
    // before the round-12 fix the batch was never ledgered, so this
    // re-folded and RESURRECTED the purged doc
    assert(PostingsStore.maintainBatch(
      docs.filter(col("doc_id") === victim), col("doc_id"), col("text"),
      dir, batchId = 1L).isEmpty,
      "the replayed batch id must be suppressed by the no-op bump ledger")
    val remaining = slice(0, 300).filter(col("doc_id") =!= victim)
    assert(storeTop(dir) == fullTop(remaining))
    assert(PostingsStore.meta(spark, dir).get.nDocs == remaining.count())
  }

  test("vacuum intent: a sweep that crashed after deleting everything " +
      "but before clearing its marker is finished by a re-run that " +
      "finds nothing to delete") {
    val dir = Files.createTempDirectory("staleintent").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    PostingsStore.maintainBatch(slice(0, 200), col("doc_id"), col("text"),
      dir, batchId = 0L)
    PostingsStore.maintainBatch(slice(200, 400), col("doc_id"), col("text"),
      dir, batchId = 1L)
    PostingsStore.compact(spark, dir)
    assert(PostingsStore.vacuumSlices(spark, dir) > 0)
    // simulate the crash window: the sweep completed but the marker
    // survived (write it back exactly as gcSlices would have)
    val base = PostingsStore.meta(spark, dir).get.sliceBase
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_vacuum_intent.json"),
      s"""{"cutoff": $base}""")
    // the LIVE window (sliceBase >= cutoff) still reads fine
    assert(storeTop(dir) == fullTop(slice(0, 400)))
    // the promised recovery: re-running the vacuum finds nothing doomed
    // — before the round-12 fix it returned 0 WITHOUT clearing the
    // marker, leaving every pre-cutoff snapshot failing forever
    assert(PostingsStore.vacuumSlices(spark, dir) == 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_graft_vacuum_intent.json")),
      "a no-op re-run must clear the stale intent marker")
    assert(storeTop(dir) == fullTop(slice(0, 400)))
  }

  test("history committedness: an orphan history entry beyond the " +
      "current pointer (crash between archive write and pointer flip) " +
      "is neither listed nor readable as a snapshot") {
    val dir = Files.createTempDirectory("orphanhist").toString
    PostingsStore.maintainBatch(
      docs.filter(col("doc_id") <= 300), col("doc_id"), col("text"),
      dir, batchId = 0L)
    assert(PostingsStore.commits(spark, dir) == Seq(0L))
    // forge the crash artifact: an archived body that never committed
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_graft_postings_meta.json"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_history", "commit-7.json"),
      cur.replace("\"commit\": 0", "\"commit\": 7"))
    assert(PostingsStore.commits(spark, dir) == Seq(0L),
      "an uncommitted orphan must not be listed as a snapshot")
    val e = intercept[RuntimeException](
      PostingsStore.bm25QueryAt(spark, dir, 7L, terms, 10))
    assert(e.getMessage.contains("no committed snapshot"))
  }

  test("commitForBatch pins the batch's fold commit even after later " +
      "maintenance moved the pointer; unknown batches fail loudly") {
    val dir = Files.createTempDirectory("pinbatch").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    PostingsStore.maintainBatch(slice(0, 200), col("doc_id"), col("text"),
      dir, batchId = 0L)
    PostingsStore.maintainBatch(slice(200, 400), col("doc_id"), col("text"),
      dir, batchId = 1L)
    assert(PostingsStore.compact(spark, dir).nonEmpty) // commit 2
    assert(PostingsStore.commitForBatch(spark, dir, 0L) == 0L)
    assert(PostingsStore.commitForBatch(spark, dir, 1L) == 1L)
    assert(PostingsStore.meta(spark, dir).get.commit == 2L)
    val e = intercept[RuntimeException](
      PostingsStore.commitForBatch(spark, dir, 5L))
    assert(e.getMessage.contains("no commit for batch"))
  }

  test("a verb without a batch id never rewinds the batch ledger: the " +
      "replay of the last ledgered batch stays a no-op and keeps its pin") {
    val dir = Files.createTempDirectory("norewind").toString
    def slice(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    PostingsStore.maintainBatch(slice(0, 100), col("doc_id"), col("text"),
      dir, batchId = 0L)
    PostingsStore.maintainBatch(slice(100, 200), col("doc_id"), col("text"),
      dir, batchId = 1L)
    // a manual fold and a manual upsert (no batch id) in between
    assert(PostingsStore.maintainBatch(slice(200, 300), col("doc_id"),
      col("text"), dir).nonEmpty)
    assert(PostingsStore.upsertBatch(slice(250, 260), col("doc_id"),
      col("text"), Seq(5L).toDF("id"), dir).nonEmpty)
    val m = PostingsStore.meta(spark, dir).get
    assert(m.batch == 1L, "a verb without a batch id must keep the ledger")
    // the stream replays batch 1 after a restart: a no-op, not a re-fold
    // that would double its postings and nDocs
    assert(PostingsStore.maintainBatch(slice(100, 200), col("doc_id"),
      col("text"), dir, batchId = 1L).isEmpty)
    assert(PostingsStore.meta(spark, dir).get == m)
    val remaining = slice(0, 300).filter(col("doc_id") =!= 5L)
    assert(m.nDocs == remaining.count())
    assert(storeTop(dir) == fullTop(remaining))
    assert(PostingsStore.commitForBatch(spark, dir, 1L) == 1L)
  }

  test("a manifest from another format version reads as a VERSION " +
      "MISMATCH, not as corruption") {
    val dir = Files.createTempDirectory("vermismatch").toString
    PostingsStore.maintainBatch(
      docs.filter(col("doc_id") <= 200), col("doc_id"), col("text"),
      dir, batchId = 0L)
    // a v1-era manifest: same store, older format, no commit field
    // (written through Hfs so the local-FS checksum sidecar follows)
    Hfs.writeStringAtomic(
      new org.apache.hadoop.fs.Path(dir, "_graft_postings_meta.json"),
      """{"format": "graft-postings-v1", "batch": 0, "nDocs": 1, """ +
        """"totTokens": 10, "prefixes": 64, "slices": 1}""",
      Hfs.conf(spark))
    val e = intercept[RuntimeException](PostingsStore.meta(spark, dir))
    assert(e.getMessage.contains("version mismatch") &&
      e.getMessage.contains("graft-postings-v1") &&
      e.getMessage.contains("graft-postings-v4"),
      s"got: ${e.getMessage}")
  }

  test("a fold into a store whose manifest names the previous format " +
      "is refused as a version mismatch before anything is written") {
    // the previous formats laid posting slices out as slice=S/tp=P/ and
    // slice=S/bp=P/ directories; one flat fold into such a store leaves
    // a slice tree partition discovery cannot read
    def downgrade(dir: String, metaName: String, from: String,
        to: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, metaName)
      val body = Hfs.readString(p, Hfs.conf(spark))
      assert(body.contains(from))
      Hfs.writeStringAtomic(p, body.replace(from, to), Hfs.conf(spark))
    }
    // every file under the store with its size, except the writer
    // lease's epoch ledger (acquired before any verb reads the manifest)
    def tree(dir: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => root.relativize(f).toString -> Files.size(f))
        .filterNot(_._1.startsWith("_graft_lease")).toMap
      finally walk.close()
    }
    def refused(dir: String, old: String, cur: String)(
        verbs: (() => Any)*): Unit = {
      val before = tree(dir)
      verbs.foreach { verb =>
        val e = intercept[RuntimeException](verb())
        assert(e.getMessage.contains("version mismatch") &&
          e.getMessage.contains(old) && e.getMessage.contains(cur),
          s"got: ${e.getMessage}")
      }
      assert(tree(dir) == before)
    }
    val seed = docs.filter(col("doc_id") <= 200)
    val more = docs.filter(col("doc_id") > 200 && col("doc_id") <= 300)
    val none = Seq.empty[Long].toDF("id")

    val pdir = Files.createTempDirectory("oldpostings").toString
    PostingsStore.maintainBatch(seed, col("doc_id"), col("text"), pdir,
      batchId = 0L)
    downgrade(pdir, "_graft_postings_meta.json", "graft-postings-v4",
      "graft-postings-v3")
    refused(pdir, "graft-postings-v3", "graft-postings-v4")(
      () => PostingsStore.maintainBatch(more, col("doc_id"), col("text"),
        pdir, batchId = 1L),
      () => PostingsStore.upsertBatch(more, col("doc_id"), col("text"),
        none, pdir, batchId = 1L),
      () => PostingsStore.purgeDocs(spark, pdir, Seq(5L).toDF("id")),
      () => PostingsStore.compact(spark, pdir),
      () => PostingsStore.bm25Query(spark, pdir, terms, 10))

    val ldir = Files.createTempDirectory("oldledger").toString
    LedgerStore.maintainBatch(seed, col("doc_id"), col("text"), ldir,
      batchId = 0L)
    downgrade(ldir, "_graft_ledger_meta.json", "graft-dedup-v6",
      "graft-dedup-v5")
    refused(ldir, "graft-dedup-v5", "graft-dedup-v6")(
      () => LedgerStore.maintainBatch(more, col("doc_id"), col("text"),
        ldir, batchId = 1L),
      () => LedgerStore.upsertDocs(more, col("doc_id"), col("text"),
        none, ldir, batchId = 1L),
      () => LedgerStore.purgeDocs(spark, ldir, Seq(5L).toDF("id")),
      () => LedgerStore.compact(spark, ldir),
      () => LedgerStore.load(spark, ldir))

    // the other four manifests refuse a foreign format the same way
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val vseed = vecs.filter(col("vec_id") > 0 && col("vec_id") <= 100)
    val vmore = vecs.filter(col("vec_id") > 100 && col("vec_id") <= 150)
    val vnone = Seq.empty[Long].toDF("vid")

    val sdir = Files.createTempDirectory("oldsem").toString
    SemLedgerStore.maintainBatch(vseed, col("vec_id"), col("embedding"),
      sdir, batchId = 0L)
    downgrade(sdir, "_graft_semledger_meta.json", "graft-semdedup-v5",
      "graft-semdedup-v4")
    refused(sdir, "graft-semdedup-v4", "graft-semdedup-v5")(
      () => SemLedgerStore.maintainBatch(vmore, col("vec_id"),
        col("embedding"), sdir, batchId = 1L),
      () => SemLedgerStore.upsertVecs(vmore, col("vec_id"),
        col("embedding"), none, sdir, batchId = 1L),
      () => SemLedgerStore.purgeVecs(spark, sdir, Seq(5L).toDF("id")),
      () => SemLedgerStore.compact(spark, sdir),
      () => SemLedgerStore.load(spark, sdir))

    val lines = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("item"),
        col("l_linenumber").as("ln"))
    val gdir = Files.createTempDirectory("oldgraph").toString
    GraphStore.maintainBatch(lines.filter(col("ln") === 1), col("ord"),
      col("item"), gdir, batchId = 0L)
    downgrade(gdir, "_graft_graph_meta.json", "graft-graph-v4",
      "graft-graph-v3")
    refused(gdir, "graft-graph-v3", "graft-graph-v4")(
      () => GraphStore.maintainBatch(lines.filter(col("ln") === 2),
        col("ord"), col("item"), gdir, batchId = 1L),
      () => GraphStore.upsertOrders(lines.filter(col("ln") === 2),
        col("ord"), col("item"), Seq.empty[Long].toDF("ord"), gdir,
        batchId = 1L),
      () => GraphStore.purgeOrders(spark, gdir, Seq(5L).toDF("ord")),
      () => GraphStore.compact(spark, gdir),
      () => GraphStore.load(spark, gdir))

    val idir = Files.createTempDirectory("oldivf").toString
    IndexStore.ivfMaintainBatch(vseed, col("vec_id"), col("embedding"),
      idir, nCentroids = 4, batchId = 0L)
    downgrade(idir, "_graft_index_meta.json", "graft-ivf-v4", "graft-ivf-v3")
    refused(idir, "graft-ivf-v3", "graft-ivf-v4")(
      () => IndexStore.ivfMaintainBatch(vmore, col("vec_id"),
        col("embedding"), idir, nCentroids = 4, batchId = 1L),
      () => IndexStore.upsertVectors(vmore, col("vec_id"), col("embedding"),
        vnone, idir, batchId = 1L),
      () => IndexStore.purgeVectors(spark, idir, Seq(5L).toDF("vid")),
      () => IndexStore.compactAssigned(spark, idir),
      () => IndexStore.loadIvf(spark, idir))

    val qdir = Files.createTempDirectory("oldivfpq").toString
    IndexStore.ivfPqMaintainBatch(vseed, col("vec_id"), col("embedding"),
      qdir, nCells = 4, m = 8, ksub = 16, batchId = 0L)
    downgrade(qdir, "_graft_ivfpq_meta.json", "graft-ivfpq-v3",
      "graft-ivfpq-v2")
    refused(qdir, "graft-ivfpq-v2", "graft-ivfpq-v3")(
      () => IndexStore.ivfPqMaintainBatch(vmore, col("vec_id"),
        col("embedding"), qdir, nCells = 4, m = 8, ksub = 16, batchId = 1L),
      () => IndexStore.upsertPqVectors(vmore, col("vec_id"),
        col("embedding"), vnone, qdir, batchId = 1L),
      () => IndexStore.loadIvfPq(spark, qdir))
  }

  test("manifest bodies are pinned byte-for-byte: one fold into each of " +
      "the six store manifests writes the same pointer and history body") {
    val vecs = Tables.embeddings(spark, sf)
      .filter(col("vec_id") > 0 && col("vec_id") <= 100)
    val lines = Tables.lineitem(spark, sf)
      .filter(col("l_linenumber") === 1)
    def bodies(dir: String, metaName: String): (String, String) = {
      val hc = Hfs.conf(spark)
      (Hfs.readString(new org.apache.hadoop.fs.Path(dir, metaName), hc),
        Hfs.readString(new org.apache.hadoop.fs.Path(
          s"$dir/_graft_history/commit-0.json"), hc))
    }
    def pinned(metaName: String, expected: String)(fold: String => Any)
        : Unit = {
      val dir = Files.createTempDirectory("pinned").toString
      fold(dir)
      val (cur, hist) = bodies(dir, metaName)
      assert(cur == expected, s"current pointer of $metaName")
      assert(hist == expected, s"history entry of $metaName")
    }
    pinned("_graft_postings_meta.json",
      """{"format": "graft-postings-v4", "batch": 0, "nDocs": 200, """ +
      """"totTokens": 11011, "prefixes": 64, "sliceBase": 0, "slices": 1, """ +
      """"commit": 0}""")(dir =>
      PostingsStore.maintainBatch(docs.filter(col("doc_id") <= 200),
        col("doc_id"), col("text"), dir, batchId = 0L))
    pinned("_graft_ledger_meta.json",
      """{"format": "graft-dedup-v6", "gen": 0, "rows": 200, "batch": 0, """ +
      """"thresholdPerMille": 500, "k": 16, "bands": 16, "prefixes": 64, """ +
      """"maxBucket": 2147483647, "sliceBase": 0, "slices": 1, """ +
      """"commit": 0}""")(dir =>
      LedgerStore.maintainBatch(docs.filter(col("doc_id") <= 200),
        col("doc_id"), col("text"), dir, batchId = 0L))
    pinned("_graft_semledger_meta.json",
      """{"format": "graft-semdedup-v5", "gen": 0, "rows": 100, """ +
      """"batch": 0, "thresholdPerMille": 250, "nBands": 4, """ +
      """"planesPerBand": 4, "dim": 64, "sliceBase": 0, "slices": 1, """ +
      """"commit": 0}""")(dir =>
      SemLedgerStore.maintainBatch(vecs, col("vec_id"), col("embedding"),
        dir, batchId = 0L))
    pinned("_graft_graph_meta.json",
      """{"format": "graft-graph-v4", "batch": 0, "prefixes": 64, """ +
      """"sliceBase": 0, "slices": 1, "commit": 0}""")(dir =>
      GraphStore.maintainBatch(lines, col("l_orderkey"), col("l_partkey"),
        dir, batchId = 0L))
    pinned("_graft_index_meta.json",
      """{"format": "graft-ivf-v4", "gen": 0, "rows": 100, """ +
      """"baseRows": 100, "batch": 0, "sliceBase": 0, "slices": 1, """ +
      """"commit": 0}""")(dir =>
      IndexStore.ivfMaintainBatch(vecs, col("vec_id"), col("embedding"),
        dir, nCentroids = 4, batchId = 0L))
    pinned("_graft_ivfpq_meta.json",
      """{"format": "graft-ivfpq-v3", "gen": 0, "rows": 100, "m": 8, """ +
      """"subDim": 8, "baseRows": 100, "batch": 0, "commit": 0}""")(dir =>
      IndexStore.ivfPqMaintainBatch(vecs, col("vec_id"), col("embedding"),
        dir, nCells = 4, m = 8, ksub = 16, batchId = 0L))
  }
}
