package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.TestSpark
import graft.cdc.{After, Apply, Env}
import graft.text.PostingsStore

/** The CDC-OUT face (round 12): commits of the persisted postings
  * store consumed as a change stream — folds emit additions, purges
  * emit deletions, compacts (physical rewrites) emit NOTHING, and a
  * restarted stream resumes exactly at its checkpointed commit offset.
  * The engine's own substrates can now cascade the way the reference's
  * pipeline cascades DynamoDB streams into the warehouse
  * (`source/write_dynamodb_stream_to_s3_lambda/handler.py`). */
class ChangeFeedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.util.Tables.documents(spark, sf)
    .filter(col("doc_id") > 0).select(col("doc_id"), col("text"))

  private def feed(dir: String, sub: String, since: Long = -1L,
      until: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft").option("path", dir)
      .option("table", s"changes.postings.$sub")
      .option("sinceCommit", since.toString)
    until.fold(r)(u => r.option("untilCommit", u.toString)).load()
  }

  test("batch delta face: folds emit additions, a purge emits its " +
      "tombstones, a compact emits nothing, and the full window " +
      "replays the event history") {
    val dir = Files.createTempDirectory("cfbatch").toString
    val seed = docs.filter(col("doc_id") <= 300)
    val delta = docs.filter(col("doc_id") > 300)
    PostingsStore.maintainBatch(seed, col("doc_id"), col("text"), dir,
      batchId = 0L) // commit 0
    PostingsStore.maintainBatch(delta, col("doc_id"), col("text"), dir,
      batchId = 1L) // commit 1
    import spark.implicits._
    PostingsStore.purgeDocs(spark, dir,
      Seq(5L, 10L).toDF("id")) // commit 2
    PostingsStore.compact(spark, dir) // commit 3

    def ids(df: DataFrame) =
      df.select(col("id")).distinct().as[Long].collect().toSet

    // (−1, 0]: the seed docs' doclen rows, exactly
    assert(ids(feed(dir, "doclen", -1, Some(0))) ==
      seed.select(col("doc_id")).as[Long].collect().toSet)
    // (0, 1]: only the delta docs
    assert(ids(feed(dir, "doclen", 0, Some(1))) ==
      delta.select(col("doc_id")).as[Long].collect().toSet)
    // (1, 2]: the purge's tombstones on the purged feed, no additions
    assert(ids(feed(dir, "purged", 1, Some(2))) == Set(5L, 10L))
    assert(feed(dir, "doclen", 1, Some(2)).isEmpty)
    // (2, 3]: the compact — a rewrite, not a change
    assert(feed(dir, "postings", 2, Some(3)).isEmpty &&
      feed(dir, "purged", 2, Some(3)).isEmpty)
    // full window = the event history: every fold's additions (the
    // later-purged ids INCLUDED — their addition happened), plus both
    // tombstones on the deletion feed
    assert(ids(feed(dir, "doclen")) ==
      docs.select(col("doc_id")).as[Long].collect().toSet)
    assert(ids(feed(dir, "purged")) == Set(5L, 10L))
    // the additions feed carries real postings rows
    val p = feed(dir, "postings", -1, Some(1))
    assert(Set("term", "id", "tf", "slice", "tp")
      .subsetOf(p.columns.toSet))
    assert(p.count() > 0)
  }

  test("streaming: one micro-batch per unseen commit window, " +
      "exactly-once across restarts via checkpointed offsets; the " +
      "purged feed is subscribable before any purge ran") {
    val dir = Files.createTempDirectory("cfstream").toString
    val ck = Files.createTempDirectory("cfck").toString
    val ckPurged = Files.createTempDirectory("cfckp").toString
    val seed = docs.filter(col("doc_id") <= 300)
    val delta = docs.filter(col("doc_id") > 300)
    PostingsStore.maintainBatch(seed, col("doc_id"), col("text"), dir,
      batchId = 0L)

    // the memory sink refuses checkpoint recovery; foreachBatch (the
    // restart-capable sink every store maintenance stream uses) drains
    // each run's micro-batches into a fresh buffer
    def run(sub: String, checkpoint: String): Set[Long] = {
      val got = new scala.collection.mutable.HashSet[Long]
      val q = spark.readStream.format("graft").option("path", dir)
        .option("table", s"changes.postings.$sub").load()
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val ids = df.select(col("id")).collect().map(_.getLong(0))
          got.synchronized { got ++= ids }; ()
        }.start()
      q.processAllAvailable(); q.stop()
      got.synchronized(got.toSet)
    }

    // run 1: the seed flows
    val seedIds = seed.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(run("doclen", ck) == seedIds)
    // purged feed pre-purge: starts clean, sees nothing
    assert(run("purged", ckPurged).isEmpty)

    // fold the delta + purge, then RESTART both feeds from checkpoints
    import spark.implicits._
    PostingsStore.maintainBatch(delta, col("doc_id"), col("text"), dir,
      batchId = 1L)
    PostingsStore.purgeDocs(spark, dir, Seq(7L).toDF("id"))
    val deltaIds = delta.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    // ONLY the unseen window flowed — nothing replayed, nothing skipped
    assert(run("doclen", ck) == deltaIds)
    assert(run("purged", ckPurged) == Set(7L))

    // run 3 with no new commits: nothing flows
    assert(run("doclen", ck).isEmpty)
  }

  test("offsets never regress: a poll that finds no manifest (a read " +
      "racing a commit) plans no backwards window, and restarts resume") {
    val dir = Files.createTempDirectory("cfregress").toString
    val ck = Files.createTempDirectory("cfregressck").toString
    val seed = docs.filter(col("doc_id") <= 300)
    val delta = docs.filter(col("doc_id") > 300)
    PostingsStore.maintainBatch(seed, col("doc_id"), col("text"), dir,
      batchId = 0L) // commit 0
    PostingsStore.maintainBatch(delta, col("doc_id"), col("text"), dir,
      batchId = 1L) // commit 1
    def run(availableNow: Boolean = false): Set[Long] = {
      val got = new scala.collection.mutable.HashSet[Long]
      val w = spark.readStream.format("graft").option("path", dir)
        .option("table", "changes.postings.doclen").load()
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (df: DataFrame, _: Long) =>
          val ids = df.select(col("id")).collect().map(_.getLong(0))
          got.synchronized { got ++= ids }; ()
        }
      val q = (if (availableNow) w.trigger(Trigger.AvailableNow()) else w)
        .start()
      try { if (availableNow) q.awaitTermination() else q.processAllAvailable() }
      finally q.stop()
      got.synchronized(got.toSet)
    }
    def ids(df: DataFrame) =
      df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(run() == ids(seed) ++ ids(delta)) // logs {"commit":1}
    // the racing read: the pointer (and its checksum sidecar) is absent
    // while the stream polls, so the store reports commit -1
    val hidden = Files.createTempDirectory("cfhidden")
    val meta = Seq("_graft_postings_meta.json",
      "._graft_postings_meta.json.crc")
    def move(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
      meta.map(from.resolve).filter(Files.exists(_)).foreach(f =>
        Files.move(f, to.resolve(f.getFileName)))
    move(java.nio.file.Paths.get(dir), hidden)
    assert(run().isEmpty)
    // the same poll under an AvailableNow trigger
    assert(run(availableNow = true).isEmpty)
    move(hidden, java.nio.file.Paths.get(dir))
    // the restart resumes at commit 1: nothing replays, nothing fails
    assert(run().isEmpty)
    // and the offset log never went backwards
    val logged = new java.io.File(s"$ck/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      .map(f => """\{"commit":(-?[0-9]+)\}""".r
        .findFirstMatchIn(Files.readString(f.toPath)).get
        .group(1).toLong).toSeq
    assert(logged.nonEmpty && logged == logged.sorted, s"offsets: $logged")
  }

  test("graph delta-store feed is DIFFERENTIAL: folds emit positive " +
      "Δ-counts, a purge emits the cancelling negatives, a compact " +
      "emits nothing — summing the feed reproduces the live state") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cfgraph").toString
    // baskets: 1 = (10, 20), 2 = (10, 20, 30); delta adds 40 to basket 1
    val seed = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (2L, 30L))
      .toDF("ord", "item")
    graft.warehouse.GraphStore.maintainBatch(seed, col("ord"), col("item"),
      dir, batchId = 0L, prefixes = 4) // commit 0
    graft.warehouse.GraphStore.maintainBatch(
      Seq((1L, 40L)).toDF("ord", "item"), col("ord"), col("item"),
      dir, batchId = 1L, prefixes = 4) // commit 1: +(10,40) +(20,40)
    graft.warehouse.GraphStore.purgeOrders(spark, dir,
      Seq(2L).toDF("ord")) // commit 2: negative Δ for basket 2's pairs
    graft.warehouse.GraphStore.compact(spark, dir) // commit 3: nothing

    def pairsFeed(since: Long, until: Option[Long]) = {
      val r = spark.read.format("graft").option("path", dir)
        .option("table", "changes.graph.pairs")
        .option("sinceCommit", since.toString)
      until.fold(r)(u => r.option("untilCommit", u.toString)).load()
    }
    def sums(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("u"), col("v")).agg(sum(col("dn")).as("n"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap

    // the fold window emits exactly the delta's new pairs
    assert(sums(pairsFeed(0, Some(1))) ==
      Map((10L, 40L) -> 1L, (20L, 40L) -> 1L))
    // the purge window emits basket 2's pairs NEGATED
    assert(sums(pairsFeed(1, Some(2))) ==
      Map((10L, 20L) -> -1L, (10L, 30L) -> -1L, (20L, 30L) -> -1L))
    // the compact window emits nothing
    assert(pairsFeed(2, Some(3)).isEmpty)
    // the whole feed summed ≡ the live merged state
    val live = graft.warehouse.GraphStore.load(spark, dir)._2
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(sums(pairsFeed(-1, None)).filter(_._2 != 0L) == live)
  }

  test("semantic-ledger and text-ledger feeds: the pairs feed streams " +
      "newly-discovered near-dup pairs per fold, sigs/vecs replicate " +
      "the fold inputs, purges ride the purged feed, compacts emit " +
      "nothing") {
    import spark.implicits._
    def anyFeed(dir: String, table: String, since: Long,
        until: Option[Long]) = {
      val r = spark.read.format("graft").option("path", dir)
        .option("table", table).option("sinceCommit", since.toString)
      until.fold(r)(u => r.option("untilCommit", u.toString)).load()
    }
    // semantic ledger over the real embeddings table, two folds
    val embs = graft.util.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val sdir = Files.createTempDirectory("cfsem").toString
    graft.dedup.SemLedgerStore.maintainBatch(
      embs.filter(col("vec_id") % 2 === 0), col("vec_id"),
      col("embedding"), sdir, batchId = 0L) // commit 0
    graft.dedup.SemLedgerStore.maintainBatch(
      embs.filter(col("vec_id") % 2 === 1), col("vec_id"),
      col("embedding"), sdir, batchId = 1L) // commit 1
    // vecs feed windows partition the corpus by fold
    def vids(since: Long, until: Long) =
      anyFeed(sdir, "changes.sem.vecs", since, Some(until))
        .select(col("id")).as[Long].collect().toSet
    assert(vids(-1, 0) == embs.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id")).as[Long].collect().toSet)
    assert(vids(0, 1) == embs.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id")).as[Long].collect().toSet)
    // the pairs feed is the discovery stream: window pairs are disjoint
    // and their union is every pair ever found
    val p1 = anyFeed(sdir, "changes.sem.pairs", -1, Some(0))
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p2 = anyFeed(sdir, "changes.sem.pairs", 0, Some(1))
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = anyFeed(sdir, "changes.sem.pairs", -1, None)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((p1 intersect p2).isEmpty && (p1 union p2) == all)
    // purge + compact: deletions ride the purged feed, the compact
    // window is silent
    graft.dedup.SemLedgerStore.purgeVecs(spark, sdir,
      Seq(2L).toDF("id")) // commit 2
    graft.dedup.SemLedgerStore.compact(spark, sdir) // commit 3
    assert(anyFeed(sdir, "changes.sem.purged", 1, Some(2))
      .select(col("id")).as[Long].collect().toSet == Set(2L))
    assert(anyFeed(sdir, "changes.sem.vecs", 2, Some(3)).isEmpty &&
      anyFeed(sdir, "changes.sem.pairs", 2, Some(3)).isEmpty)

    // text ledger: the sigs feed replicates each fold's signatures
    val ldir = Files.createTempDirectory("cfledger").toString
    graft.dedup.LedgerStore.maintainBatch(
      docs.filter(col("doc_id") <= 300), col("doc_id"), col("text"),
      ldir, batchId = 0L)
    graft.dedup.LedgerStore.maintainBatch(
      docs.filter(col("doc_id") > 300), col("doc_id"), col("text"),
      ldir, batchId = 1L)
    assert(anyFeed(ldir, "changes.ledger.sigs", 0, Some(1))
      .select(col("id")).as[Long].collect().toSet ==
      docs.filter(col("doc_id") > 300).select(col("doc_id"))
        .as[Long].collect().toSet)
    // and the bucket-posting feed stays bp-partitioned for consumers
    assert(anyFeed(ldir, "changes.ledger.postings", -1, None)
      .columns.contains("bp"))
  }

  test("merge-table feed: each commit's change slice is the batch's " +
      "applied envelope rows with REMOVEs kept; a purge emits typed-" +
      "null REMOVE events; compact emits nothing; vacuumChanges " +
      "retires windows loudly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("cfmerge").toString
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val schema = Seq(Env("INSERT", "x", After("x", "t", 1.0), ts(1)))
      .toDF().schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    def mergeOnce(envs: Seq[Env]): Unit = {
      val ms = MemoryStream[Env]
      // data BEFORE start (AvailableNow snapshots offsets at start)
      ms.addData(envs: _*)
      val q = Apply.startMerge(ms.toDF(), dir,
        Files.createTempDirectory("cfmck").toString,
        keyCol = "id", versionCol = "ts", schema = schema)
      q.processAllAvailable(); q.stop()
    }
    // commit 1: k1..k3 inserted, k2 also REMOVEd at a later version
    mergeOnce(Seq(
      Env("INSERT", "k1", After("k1", "a", 1.0), ts(100)),
      Env("INSERT", "k2", After("k2", "b", 2.0), ts(100)),
      Env("REMOVE", "k2", null, ts(200)),
      Env("INSERT", "k3", After("k3", "c", 3.0), ts(100))))
    // commit 2: k1 modified
    mergeOnce(Seq(Env("MODIFY", "k1", After("k1", "a2", 9.0), ts(300))))
    // commit 3: compliance purge of k3 -> REMOVE event, null image
    assert(Apply.purgeKeys(spark, dir, Seq("k3").toDF("id"), "id",
      gcGraceMs = 0L) == 1L)
    // commit 4: compact — a rewrite, not a change
    Apply.compact(spark, dir, gcGraceMs = 0L)

    def feed(since: Long, until: Option[Long]) = {
      val r = spark.read.format("graft").option("path", dir)
        .option("table", "changes.merge")
        .option("sinceCommit", since.toString)
      until.fold(r)(u => r.option("untilCommit", u.toString)).load()
    }
    // commit 1's slice: latest per key, the REMOVE kept (the table
    // dropped k2; the feed must show it)
    val c1 = feed(0, Some(1)).select(col("op"), col("_key"))
      .collect().map(r => (r.getString(1), r.getString(0))).toSet
    assert(c1 == Set("k1" -> "INSERT", "k2" -> "REMOVE", "k3" -> "INSERT"))
    // commit 2's slice: just the modify
    val c2 = feed(1, Some(2)).collect()
    assert(c2.length == 1 && c2.head.getAs[String]("op") == "MODIFY" &&
      c2.head.getAs[String]("ticker") == "a2")
    // commit 3 (purge): REMOVE event, data columns typed-null
    val c3 = feed(2, Some(3)).collect()
    assert(c3.length == 1 && c3.head.getAs[String]("op") == "REMOVE" &&
      c3.head.getAs[String]("_key") == "k3" &&
      c3.head.isNullAt(c3.head.fieldIndex("ticker")))
    // commit 4 (compact): nothing
    assert(feed(3, Some(4)).isEmpty)
    // commit column rides as a partition: consumers see provenance
    assert(feed(-1, None).select(col("commit")).distinct().count() == 3)

    // STREAMING the warehouse table's own feed, restart exactly-once
    val ck = Files.createTempDirectory("cfmfeedck").toString
    def run(): Set[(String, String)] = {
      val got = new scala.collection.mutable.HashSet[(String, String)]
      val q = spark.readStream.format("graft").option("path", dir)
        .option("table", "changes.merge").load()
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select(col("_key"), col("op")).collect()
            .map(r => (r.getString(0), r.getString(1)))
          got.synchronized { got ++= rows }; ()
        }.start()
      q.processAllAvailable(); q.stop()
      got.synchronized(got.toSet)
    }
    assert(run().count(_._2 == "REMOVE") == 2) // k2 (stream) + k3 (purge)
    mergeOnce(Seq(Env("INSERT", "k9", After("k9", "z", 7.0), ts(400))))
    assert(run() == Set("k9" -> "INSERT")) // only the unseen commit
    assert(run().isEmpty)

    // retention: retiring below commit 3 fails pre-cutoff windows loudly
    assert(Apply.vacuumChanges(spark, dir, belowCommit = 3L) == 2)
    val e = intercept[Exception](feed(0, Some(2)).count())
    def chain2(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain2(t.getCause)
    assert(chain2(e).exists(_.contains("vacuumChanges retired")))
    // post-cutoff windows still read
    assert(feed(2, None).count() == 2) // purge REMOVE + k9

    // a LATE envelope that loses the latest-by-version fold must not
    // enter the feed: the table rejected it, so must the CDC-OUT
    // (round-12 self-review) — and an identical replayed envelope
    // (same version, same op) re-emits nothing either
    mergeOnce(Seq(Env("MODIFY", "k1", After("k1", "stale", 0.0), ts(150))))
    assert(feed(5, Some(6)).isEmpty)
    assert(Apply.readMergeTable(spark, dir)
      .filter(col("id") === "k1").head.getAs[String]("ticker") == "a2")
    mergeOnce(Seq(Env("INSERT", "k9", After("k9", "z", 7.0), ts(400))))
    assert(feed(6, Some(7)).isEmpty)
  }

  test("a vacuumed change window fails loudly instead of silently " +
      "skipping, and feeds reject snapshot options") {
    val dir = Files.createTempDirectory("cfvac").toString
    PostingsStore.maintainBatch(docs.filter(col("doc_id") <= 300),
      col("doc_id"), col("text"), dir, batchId = 0L)
    PostingsStore.maintainBatch(docs.filter(col("doc_id") > 300),
      col("doc_id"), col("text"), dir, batchId = 1L)
    PostingsStore.compact(spark, dir)
    assert(PostingsStore.vacuumSlices(spark, dir) > 0)
    val e = intercept[Exception](feed(dir, "doclen", -1, Some(1)).count())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("no longer readable")),
      s"unexpected error: ${chain(e).mkString(" <- ")}")
    val e2 = intercept[Exception](
      spark.read.format("graft").option("path", dir)
        .option("table", "changes.postings.doclen")
        .option("commit", "1").load())
    assert(e2.getMessage.contains("sinceCommit"))
  }

  test("restore emits its STATE DIFF into the merge feed (ADVICE r12): " +
      "reinstated rows as MODIFY, removed rows as typed-null REMOVE, " +
      "unchanged rows silent; the followMergeTable cascade converges " +
      "through a restore; pre-CDC windows fail loudly") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = Files.createTempDirectory("cfrestore").toString
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val schema = Seq(Env("INSERT", "x", After("x", "t", 1.0), ts(1)))
      .toDF().schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    def mergeOnce(envs: Seq[Env]): Unit = {
      val ms = MemoryStream[Env]
      ms.addData(envs: _*)
      val q = Apply.startMerge(ms.toDF(), dir,
        Files.createTempDirectory("cfrck").toString,
        keyCol = "id", versionCol = "ts", schema = schema)
      q.processAllAvailable(); q.stop()
    }
    def mfeed(since: Long, until: Option[Long]) = {
      val r = spark.read.format("graft").option("path", dir)
        .option("table", "changes.merge")
        .option("sinceCommit", since.toString)
      until.fold(r)(u => r.option("untilCommit", u.toString)).load()
    }
    // commit 1: k1=a, k2=b; commit 2: k1 -> a2 (newer version), k3 added
    mergeOnce(Seq(
      Env("INSERT", "k1", After("k1", "a", 1.0), ts(100)),
      Env("INSERT", "k2", After("k2", "b", 2.0), ts(100))))
    mergeOnce(Seq(
      Env("MODIFY", "k1", After("k1", "a2", 9.0), ts(300)),
      Env("INSERT", "k3", After("k3", "c", 3.0), ts(300))))
    // commit 3: RESTORE to commit 1 — k1 reinstated at its OLD image,
    // k3 disappears, k2 untouched
    Apply.restore(spark, dir, 1L)
    val c3 = mfeed(2, Some(3))
      .select(col("op"), col("_key"), col("ticker")).collect()
      .map(r => (r.getString(1), r.getString(0), r.getString(2))).toSet
    assert(c3 == Set(("k1", "MODIFY", "a"), ("k3", "REMOVE", null)),
      s"restore diff slice read $c3")
    // the restore's MODIFY carries the REINSTATED (older) version — a
    // consumer ordering by commit first must still apply it
    val v3 = mfeed(2, Some(3)).filter(col("_key") === "k1")
      .head().getAs[java.sql.Timestamp]("_version")
    assert(v3 == ts(100))

    // CASCADE through the restore: one fresh follower consumes commits
    // 1..3 in a single micro-batch window — commit-first ordering must
    // land k1 at "a" (the restore's older-versioned image), k3 absent
    val store = Files.createTempDirectory("cfrpost").toString
    val fq = graft.util.Cascade.follow(spark, dir,
      Files.createTempDirectory("cfrfck").toString,
      graft.util.Cascade.postingsFollower("postings", store, col("ticker")))
    fq.processAllAvailable(); fq.stop()
    val m = PostingsStore.meta(spark, store).get
    assert(m.nDocs == 2L, "the followed index must hold k1 and k2 only")
    assert(PostingsStore.bm25Query(spark, store, Seq("a"), 5).count() == 1L,
      "k1 must be indexed under its RESTORED text, not commit 2's")
    assert(PostingsStore.bm25Query(spark, store, Seq("a2"), 5).isEmpty &&
      PostingsStore.bm25Query(spark, store, Seq("c"), 5).isEmpty)

    // a restore back to commit 2 un-does it — and emits the inverse diff
    Apply.restore(spark, dir, 2L)
    val c4 = mfeed(3, Some(4))
      .select(col("op"), col("_key"), col("ticker")).collect()
      .map(r => (r.getString(1), r.getString(0), r.getString(2))).toSet
    assert(c4 == Set(("k1", "MODIFY", "a2"), ("k3", "MODIFY", "c")))

    // fail-closed marker (ADVICE r12): a window reaching below the
    // changes-enabled commit errors instead of under-reporting; a
    // missing marker (pre-CDC table) errors on any read
    val hc = spark.sparkContext.hadoopConfiguration
    val marker = new org.apache.hadoop.fs.Path(dir,
      "_changes/_graft_changes_enabled.json")
    val fs = marker.getFileSystem(hc)
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val out = fs.create(marker, true)
    out.write("""{"enabled": 2}""".getBytes("UTF-8")); out.close()
    val e = intercept[Exception](mfeed(0, Some(2)).count())
    assert(chain(e).exists(_.contains("recorded changes begin")),
      s"unexpected: ${chain(e).mkString(" <- ")}")
    assert(mfeed(1, Some(3)).count() == 4L) // at/above the marker: fine
    fs.delete(marker, false)
    val e2 = intercept[Exception](mfeed(1, Some(2)).count())
    assert(chain(e2).exists(_.contains("no changes-enabled marker")),
      s"unexpected: ${chain(e2).mkString(" <- ")}")
    // the next commit re-stamps it at the earliest slice on disk
    mergeOnce(Seq(Env("INSERT", "k7", After("k7", "q", 1.0), ts(500))))
    assert(mfeed(0, None).count() > 0)

    // restoring a table whose manifest predates the keyCol invariant
    // fails loudly (the diff is keyed); the next merge upgraded it above
    val metaP = new org.apache.hadoop.fs.Path(dir, "_graft_table_meta.json")
    val body = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(metaP)),
      "UTF-8")
    assert(body.contains("\"keyCol\": \"id\""))
    val stripped = body.replace("\"keyCol\": \"id\", ", "")
    val o2 = fs.create(metaP, true)
    o2.write(stripped.getBytes("UTF-8")); o2.close()
    val e3 = intercept[Exception](Apply.restore(spark, dir, 2L))
    assert(e3.getMessage.contains("no keyCol"))
    val o3 = fs.create(metaP, true)
    o3.write(body.getBytes("UTF-8")); o3.close()
  }
}
