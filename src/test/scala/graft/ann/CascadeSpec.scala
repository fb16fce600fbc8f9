package graft.ann

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.util.Tables

/** The warehouse→embeddings cascade (round 13): the merge table's
  * `changes.merge` feed driving the SEMANTIC LEDGER
  * ([[graft.dedup.SemLedgerStore.followMergeTable]]) and the persisted
  * IVF INDEX ([[IndexStore.followMergeTable]]) — completing the
  * compliance-propagation path the text index got in round 12
  * (PostingsUpsertSpec's cascade test is the template). Each cascade()
  * call below is a RESTART: a fresh streaming query over the same
  * checkpoint, so exactly-once across restarts is what every
  * assertion exercises. */
class CascadeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def embs = Tables.embeddings(spark, sf)
    .filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding"))

  /** One merge commit of embedding-payload envelopes through the real
    * startMerge path (file-staged stream, AvailableNow). */
  private def mergeOnce(base: String, part: String,
      env: DataFrame): Unit = {
    val in = s"$base/in_$part"
    env.write.parquet(in)
    val q = graft.cdc.Apply.startMerge(
      spark.readStream.schema(env.schema).parquet(in), s"$base/table",
      checkpointDir = s"$base/ck_$part",
      keyCol = "vec_id", versionCol = "ver",
      schema = env.schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    q.processAllAvailable(); q.stop()
  }

  private def envOf(df: DataFrame, op: String, ver: Long,
      emb: org.apache.spark.sql.Column): DataFrame =
    df.select(lit(op).as("op"), col("vec_id").as("key"),
      lit(ver).as("ver"),
      when(lit(op) === "REMOVE", lit(null))
        .otherwise(struct(col("vec_id"), emb.as("embedding"))).as("after"))

  private def slice(lo: Long, hi: Long) =
    embs.filter(col("vec_id") > lo && col("vec_id") <= hi)

  test("semantic-ledger follower: warehouse updates re-embed, REMOVEs " +
      "and purgeKeys propagate as ledger purges, exactly-once across " +
      "restarts; quiescent replays are no-ops") {
    import graft.dedup.SemLedgerStore
    val base = Files.createTempDirectory("semcascade").toString
    val mergeDir = s"$base/table"; val dir = s"$base/ledger"
    val ck = s"$base/fck"
    val neg = transform(col("embedding"), x => -x)
    // commit 1 = the base corpus; the ledger HYDRATES from the same
    // snapshot, then follows from its commit (the production pattern)
    mergeOnce(base, "seed", envOf(slice(0, 30), "INSERT", 1L,
      col("embedding")))
    SemLedgerStore.maintainBatch(slice(0, 30), col("vec_id"),
      col("embedding"), dir)
    def cascade(): Unit = {
      val q = graft.util.Cascade.follow(spark, mergeDir, ck,
        graft.util.Cascade.semFollower("sem", dir, col("embedding")),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
    }
    cascade() // nothing past the hydration commit: a ledgered no-op
    assert(SemLedgerStore.load(spark, dir)._1.count() == 30L)
    // commit 2: vec 3 RE-EMBEDDED (negated), vec 5 REMOVEd, vec 31 added
    mergeOnce(base, "refresh",
      envOf(embs.filter(col("vec_id") === 3L), "MODIFY", 2L, neg)
        .unionByName(envOf(embs.filter(col("vec_id") === 5L), "REMOVE",
          2L, col("embedding")))
        .unionByName(envOf(embs.filter(col("vec_id") === 31L), "INSERT",
          2L, col("embedding"))))
    cascade()
    val (vecs, _, labels, m) = SemLedgerStore.load(spark, dir)
    assert(vecs.count() == 30L && m.rows == 30L)
    assert(vecs.filter(col("id") === 5L).count() == 0L)
    assert(vecs.filter(col("id") === 31L).count() == 1L)
    val want = embs.filter(col("vec_id") === 3L)
      .head().getSeq[Float](1).map(x => -x).toSeq
    assert(vecs.filter(col("id") === 3L)
      .head().getAs[scala.collection.Seq[Float]]("v").toSeq == want,
      "the followed ledger must hold the RE-EMBEDDED vector")
    assert(labels.count() == 30L)
    // commit 3: a compliance purge in the WAREHOUSE reaches the ledger
    assert(graft.cdc.Apply.purgeKeys(spark, mergeDir,
      Seq(7L).toDF("vec_id"), "vec_id", gcGraceMs = 0L) == 1L)
    cascade()
    val (vecs3, _, _, m3) = SemLedgerStore.load(spark, dir)
    assert(m3.rows == 29L && vecs3.filter(col("id") === 7L).count() == 0L)
    // quiescence: a restart with nothing new changes nothing
    val before = SemLedgerStore.load(spark, dir)._4
    cascade()
    assert(SemLedgerStore.load(spark, dir)._4 == before)
  }

  test("SQL writes cascade: UPDATE / predicate DELETE / MERGE INTO " +
      "issued through the catalog drive the semantic-ledger follower " +
      "exactly like streamed commits (round 14: the row-level face " +
      "emits the same change slices the fold always has)") {
    import graft.dedup.SemLedgerStore
    val base = Files.createTempDirectory("sqlcascade").toString
    val mergeDir = s"$base/table"; val dir = s"$base/ledger"
    val ck = s"$base/fck"
    mergeOnce(base, "seed", envOf(slice(0, 30), "INSERT", 1L,
      col("embedding"))) // commit 1
    SemLedgerStore.maintainBatch(slice(0, 30), col("vec_id"),
      col("embedding"), dir)
    def cascade(): Unit = {
      val q = graft.util.Cascade.follow(spark, mergeDir, ck,
        graft.util.Cascade.semFollower("sem", dir, col("embedding")),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
    }
    spark.conf.set("spark.sql.catalog.graft_csc",
      classOf[graft.sources.GraftCatalog].getName)
    // commit 2: SQL UPDATE re-embeds vec 3 (negated), version advanced
    spark.sql(s"UPDATE graft_csc.`$mergeDir`.merge " +
      "SET embedding = transform(embedding, x -> -x), " +
      "_version = _version + 1 WHERE vec_id = 3")
    // commit 3: predicate DELETE (non-key-equality → row-level
    // tombstone) removes vec 5
    spark.sql(s"DELETE FROM graft_csc.`$mergeDir`.merge " +
      "WHERE vec_id > 4 AND vec_id < 6")
    // commit 4: MERGE INTO inserts vec 31
    embs.filter(col("vec_id") === 31L)
      .select(col("vec_id").as("id"), col("embedding").as("emb"),
        lit(1L).as("v"))
      .createOrReplaceTempView("graft_csc_src")
    spark.sql(
      s"""MERGE INTO graft_csc.`$mergeDir`.merge AS t
         |USING graft_csc_src AS s ON t.vec_id = s.id
         |WHEN NOT MATCHED THEN INSERT (vec_id, embedding, _version)
         |  VALUES (s.id, s.emb, s.v)""".stripMargin)
    cascade() // one follower run over the three SQL commits
    val (vecs, _, labels, m) = SemLedgerStore.load(spark, dir)
    assert(m.rows == 30L && vecs.count() == 30L)
    assert(vecs.filter(col("id") === 5L).count() == 0L,
      "the SQL predicate DELETE must reach the followed ledger")
    assert(vecs.filter(col("id") === 31L).count() == 1L,
      "the MERGE-inserted vector must reach the followed ledger")
    val want = embs.filter(col("vec_id") === 3L)
      .head().getSeq[Float](1).map(x => -x).toSeq
    assert(vecs.filter(col("id") === 3L)
      .head().getAs[scala.collection.Seq[Float]]("v").toSeq == want,
      "the SQL UPDATE's re-embedded vector must reach the ledger")
    assert(labels.count() == 30L)
  }

  test("IVF-index follower: the same feed keeps the persisted index in " +
      "sync on upsertVectors' one-commit atomicity; restarts replay as " +
      "no-ops") {
    val base = Files.createTempDirectory("ivfcascade").toString
    val mergeDir = s"$base/table"; val dir = s"$base/index"
    val ck = s"$base/fck"
    val neg = transform(col("embedding"), x => -x)
    mergeOnce(base, "seed", envOf(slice(0, 30), "INSERT", 1L,
      col("embedding")))
    IndexStore.saveIvf(Similarity.buildIvf(slice(0, 30), col("vec_id"),
      col("embedding"), nCentroids = 4, iterations = 1,
      materialize = true), dir)
    def cascade(): Unit = {
      val q = graft.util.Cascade.follow(spark, mergeDir, ck,
        graft.util.Cascade.ivfFollower("index", dir, col("embedding")),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
    }
    cascade()
    assert(IndexStore.loadIvf(spark, dir)._2.rows == 30L)
    mergeOnce(base, "refresh",
      envOf(embs.filter(col("vec_id") === 3L), "MODIFY", 2L, neg)
        .unionByName(envOf(embs.filter(col("vec_id") === 5L), "REMOVE",
          2L, col("embedding")))
        .unionByName(envOf(embs.filter(col("vec_id") === 31L), "INSERT",
          2L, col("embedding"))))
    cascade()
    val (idx, m) = IndexStore.loadIvf(spark, dir)
    assert(m.rows == 30L && idx.assigned.count() == 30L)
    assert(idx.assigned.filter(col("vid") === 5L).count() == 0L)
    assert(idx.assigned.filter(col("vid") === 31L).count() == 1L)
    val want = embs.filter(col("vec_id") === 3L)
      .head().getSeq[Float](1).map(x => -x).toSeq
    assert(idx.assigned.filter(col("vid") === 3L)
      .head().getAs[scala.collection.Seq[Float]]("v").toSeq == want,
      "the followed index must probe the re-embedded coordinates")
    // warehouse purge -> index tombstone
    assert(graft.cdc.Apply.purgeKeys(spark, mergeDir,
      Seq(7L).toDF("vec_id"), "vec_id", gcGraceMs = 0L) == 1L)
    cascade()
    val (idx3, m3) = IndexStore.loadIvf(spark, dir)
    assert(m3.rows == 29L &&
      idx3.assigned.filter(col("vid") === 7L).count() == 0L)
    // quiescence across a restart
    val before = IndexStore.loadIvf(spark, dir)._2
    cascade()
    assert(IndexStore.loadIvf(spark, dir)._2 == before)
  }

  test("IVF-PQ follower: the composite twin — retired codes, frozen-" +
      "quantizer re-encodes, rewritten raw vecs, replay no-ops") {
    val base = Files.createTempDirectory("ivfpqcascade").toString
    val mergeDir = s"$base/table"; val dir = s"$base/index"
    val ck = s"$base/fck"
    val neg = transform(col("embedding"), x => -x)
    mergeOnce(base, "seed", envOf(slice(0, 100), "INSERT", 1L,
      col("embedding")))
    IndexStore.saveIvfPq(Similarity.buildIvfPq(slice(0, 100),
      col("vec_id"), col("embedding"), nCells = 4, m = 8, ksub = 16,
      materialize = true), dir,
      sideTables = Seq("vecs" -> slice(0, 100)
        .select(col("vec_id").as("vid"), col("embedding").as("v"))))
    def cascade(): Unit = {
      val q = graft.util.Cascade.follow(spark, mergeDir, ck,
        graft.util.Cascade.ivfPqFollower("pq", dir, col("embedding")),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
    }
    cascade()
    val (idx0, _) = IndexStore.loadIvfPq(spark, dir)
    mergeOnce(base, "refresh",
      envOf(embs.filter(col("vec_id") === 3L), "MODIFY", 2L, neg)
        .unionByName(envOf(embs.filter(col("vec_id") === 5L), "REMOVE",
          2L, col("embedding")))
        .unionByName(envOf(embs.filter(col("vec_id") === 101L), "INSERT",
          2L, col("embedding"))))
    cascade()
    val (idx1, m1) = IndexStore.loadIvfPq(spark, dir)
    assert(m1.rows == 100L && idx1.codes.count() == 100L)
    assert(idx1.codes.filter(col("vid") === 5L).count() == 0L)
    assert(idx1.codes.filter(col("vid") === 101L).count() == 1L)
    assert(idx1.cells.zip(idx0.cells).forall { case ((_, a), (_, b)) =>
      a.toSeq == b.toSeq }, "the follower must keep the quantizers frozen")
    val vecs = spark.read.parquet(s"$dir/gen=${m1.gen}/vecs")
    val want = embs.filter(col("vec_id") === 3L)
      .head().getSeq[Float](1).map(x => -x).toSeq
    assert(vecs.filter(col("vid") === 3L)
      .head().getAs[scala.collection.Seq[Float]]("v").toSeq == want,
      "the raw-vecs side table must carry the re-embedded vector")
    // quiescence across a restart
    val before = IndexStore.loadIvfPq(spark, dir)._2
    cascade()
    assert(IndexStore.loadIvfPq(spark, dir)._2 == before)
  }

  test("graph follower: warehouse basket updates cancel and re-land " +
      "their pairs, REMOVEs and purgeKeys cancel them, exactly-once " +
      "across restarts") {
    import graft.warehouse.GraphStore
    val base = Files.createTempDirectory("graphcascade").toString
    val mergeDir = s"$base/table"; val dir = s"$base/graph"
    val ck = s"$base/fck"
    import spark.implicits._
    def env(op: String, ver: Long, rows: (Long, Seq[Long])*) =
      rows.toSeq.toDF("ord", "items").select(lit(op).as("op"),
        col("ord").as("key"), lit(ver).as("ver"),
        when(lit(op) === "REMOVE", lit(null))
          .otherwise(struct(col("ord"), col("items"))).as("after"))
    def mergeOrd(part: String, e: DataFrame): Unit = {
      val in = s"$base/in_$part"
      e.write.parquet(in)
      val q = graft.cdc.Apply.startMerge(
        spark.readStream.schema(e.schema).parquet(in), mergeDir,
        checkpointDir = s"$base/ck_$part",
        keyCol = "ord", versionCol = "ver",
        schema = e.schema("after").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      q.processAllAvailable(); q.stop()
    }
    mergeOrd("seed", env("INSERT", 1L,
      1L -> Seq(10L, 20L, 30L), 2L -> Seq(10L, 20L), 3L -> Seq(40L, 50L)))
    GraphStore.maintainBatch(
      Seq((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L),
        (3L, 40L), (3L, 50L)).toDF("ord", "item"),
      col("ord"), col("item"), dir)
    def cascade(): Unit = {
      val q = graft.util.Cascade.follow(spark, mergeDir, ck,
        graft.util.Cascade.graphFollower("graph", dir, col("items")),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
    }
    def edges(): Map[(Long, Long), Long] =
      GraphStore.load(spark, dir)._2.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cascade()
    assert(edges() == Map((10L, 20L) -> 2L, (10L, 30L) -> 1L,
      (20L, 30L) -> 1L, (40L, 50L) -> 1L))
    // commit 2: basket 1 shrinks to {10,20}, basket 3 removed
    mergeOrd("refresh",
      env("MODIFY", 2L, 1L -> Seq(10L, 20L))
        .unionByName(env("REMOVE", 2L, 3L -> Seq.empty[Long])))
    cascade()
    assert(edges() == Map((10L, 20L) -> 2L),
      "the refresh must cancel basket 1's lost pairs and basket 3's")
    // a warehouse compliance purge cancels basket 2's pairs
    assert(graft.cdc.Apply.purgeKeys(spark, mergeDir,
      Seq(2L).toDF("ord"), "ord", gcGraceMs = 0L) == 1L)
    cascade()
    assert(edges() == Map((10L, 20L) -> 1L))
    // ADVICE r13: a MODIFY whose basket shrinks to EMPTY must retire
    // the old basket in the same commit (it explodes to zero lines, so
    // without the empty-basket route it would reach upsertOrders in
    // neither upserts nor removeOrds and its pairs would stay live)
    mergeOrd("emptied", env("MODIFY", 3L, 1L -> Seq.empty[Long]))
    cascade()
    assert(edges().isEmpty,
      "an emptied basket's pairs must be cancelled, not left live")
    // quiescent restart
    val before = GraphStore.meta(spark, dir).get
    cascade()
    assert(GraphStore.meta(spark, dir).get == before)
  }

  test("atomic multi-store cascade (followMergeTableAll): one set " +
      "commit per feed window pins both stores batch-exactly; a crash " +
      "between store commits replays to the SAME set; quiescent") {
    import graft.util.{Cascade, PipelineLedger}
    import graft.dedup.SemLedgerStore
    val base = Files.createTempDirectory("cascset").toString
    val mergeDir = s"$base/table"
    val neg = transform(col("embedding"), x => -x)
    mergeOnce(base, "seed", envOf(slice(0, 30), "INSERT", 1L,
      col("embedding")))
    // hydrate both stores from the commit-1 state
    SemLedgerStore.maintainBatch(slice(0, 30), col("vec_id"),
      col("embedding"), s"$base/sem")
    IndexStore.saveIvf(Similarity.buildIvf(slice(0, 30), col("vec_id"),
      col("embedding"), nCentroids = 4, iterations = 1,
      materialize = true), s"$base/index")
    val stores = Seq(
      Cascade.semFollower("sem", s"$base/sem", col("embedding")),
      Cascade.ivfFollower("index", s"$base/index", col("embedding")))
    def followAll(): Unit = {
      val q = Cascade.followMergeTableAll(spark, mergeDir, s"$base/set",
        s"$base/ck", stores, sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
    }
    // the refresh commit (2): vec 3 re-embedded, 5 removed, 31 added
    mergeOnce(base, "refresh",
      envOf(embs.filter(col("vec_id") === 3L), "MODIFY", 2L, neg)
        .unionByName(envOf(embs.filter(col("vec_id") === 5L), "REMOVE",
          2L, col("embedding")))
        .unionByName(envOf(embs.filter(col("vec_id") === 31L), "INSERT",
          2L, col("embedding"))))
    // SIMULATED CRASH between store commits: a previous cascade run
    // folded the SEM store for this window (the stream's bid 0) and
    // died before the index fold and the set commit
    val window = Cascade.reduceLatest(
      spark.read.format("graft").option("path", mergeDir)
        .option("table", "changes.merge").option("sinceCommit", "1")
        .option("untilCommit", "2").load())
    stores.head.fold(window, 0L)
    assert(SemLedgerStore.load(spark, s"$base/sem")._1
      .filter(col("id") === 5L).count() == 0L,
      "the crashed run's sem fold must have applied")
    // the replayed cascade: sem fold is a ledgered no-op, index folds,
    // ONE set commit pins both at their batch-exact commits
    followAll()
    val set = PipelineLedger.readSet(spark, s"$base/set")
    assert(set.batch == 0L && set.stores.keySet == Set("sem", "index"))
    assert(set.stores("sem") ==
      SemLedgerStore.commitForBatch(spark, s"$base/sem", 0L))
    assert(set.stores("index") ==
      IndexStore.commitForBatch(spark, s"$base/index", 0L))
    // the composed pinned read is the post-refresh state on BOTH sides
    val vecs = SemLedgerStore.loadAt(spark, s"$base/sem",
      set.stores("sem"))._1
    assert(vecs.count() == 30L &&
      vecs.filter(col("id") === 5L).count() == 0L &&
      vecs.filter(col("id") === 31L).count() == 1L)
    val (idx, m) = IndexStore.loadIvfAt(spark, s"$base/index",
      set.stores("index"))
    assert(m.rows == 30L &&
      idx.assigned.filter(col("vid") === 5L).count() == 0L &&
      idx.assigned.filter(col("vid") === 31L).count() == 1L)
    // quiescence: nothing new, the set does not advance
    followAll()
    assert(PipelineLedger.readSet(spark, s"$base/set").commit == set.commit)
  }

  test("set cascade over the round-14 members (text ledger, graph, " +
      "IVF-PQ): one set commit pins all three; a crash between store " +
      "commits replays to the SAME set; REMOVEs propagate everywhere") {
    import graft.util.{Cascade, PipelineLedger}
    import graft.dedup.LedgerStore
    import graft.warehouse.GraphStore
    val base = Files.createTempDirectory("cascset14").toString
    val mergeDir = s"$base/table"
    // derived facets off the one embedding feed (the q287 pattern):
    // text classes by (vec_id % 7, sign), 2-item baskets by congruence
    val sgn = when(element_at(col("embedding"), 1) < lit(0.0f), lit(1L))
      .otherwise(lit(0L))
    val tag = concat(lit("c"), (col("vec_id") % 7).cast("string"),
      lit("s"), sgn.cast("string"))
    val textOf = concat(tag, lit("x "), tag, lit("y "), tag, lit("z"))
    val itemsOf = array((col("vec_id") % 5) * 2 + sgn,
      lit(100L) + (col("vec_id") % 3) * 2 + sgn)
    val neg = transform(col("embedding"), x => -x)
    mergeOnce(base, "seed", envOf(slice(0, 60), "INSERT", 1L,
      col("embedding")))
    LedgerStore.maintainBatch(
      slice(0, 60).select(col("vec_id").as("doc_id"), textOf.as("text")),
      col("doc_id"), col("text"), s"$base/ledger")
    GraphStore.maintainBatch(
      slice(0, 60).select(col("vec_id").as("ord"),
        explode(itemsOf).as("item")),
      col("ord"), col("item"), s"$base/graph")
    IndexStore.saveIvfPq(Similarity.buildIvfPq(slice(0, 60),
      col("vec_id"), col("embedding"), nCells = 4, m = 8, ksub = 16,
      materialize = true), s"$base/pq",
      sideTables = Seq("vecs" -> slice(0, 60)
        .select(col("vec_id").as("vid"), col("embedding").as("v"))))
    val stores = Seq(
      Cascade.ivfPqFollower("pq", s"$base/pq", col("embedding")),
      Cascade.ledgerFollower("ledger", s"$base/ledger", textOf),
      Cascade.graphFollower("graph", s"$base/graph", itemsOf))
    def followAll(): Unit = {
      val q = Cascade.followMergeTableAll(spark, mergeDir, s"$base/set",
        s"$base/ck", stores, sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
    }
    // the refresh commit (2): vec 3 re-embedded (sign may flip -> its
    // text class and basket MOVE), vec 5 removed, vec 61 added
    mergeOnce(base, "refresh",
      envOf(embs.filter(col("vec_id") === 3L), "MODIFY", 2L, neg)
        .unionByName(envOf(embs.filter(col("vec_id") === 5L), "REMOVE",
          2L, col("embedding")))
        .unionByName(envOf(embs.filter(col("vec_id") === 61L), "INSERT",
          2L, col("embedding"))))
    // SIMULATED CRASH: a previous run folded the PQ store for this
    // window (bid 0) and died before the other folds and the set commit
    val window = Cascade.reduceLatest(
      spark.read.format("graft").option("path", mergeDir)
        .option("table", "changes.merge").option("sinceCommit", "1")
        .option("untilCommit", "2").load())
    stores.head.fold(window, 0L)
    assert(IndexStore.loadIvfPq(spark, s"$base/pq")._1.codes
      .filter(col("vid") === 5L).count() == 0L,
      "the crashed run's pq fold must have applied")
    // the replay: pq is a ledgered no-op, ledger+graph fold, ONE set
    // commit pins all three batch-exactly
    followAll()
    val set = PipelineLedger.readSet(spark, s"$base/set")
    assert(set.batch == 0L &&
      set.stores.keySet == Set("pq", "ledger", "graph"))
    assert(set.stores("pq") ==
      IndexStore.pqCommitForBatch(spark, s"$base/pq", 0L))
    assert(set.stores("ledger") ==
      LedgerStore.commitForBatch(spark, s"$base/ledger", 0L))
    assert(set.stores("graph") ==
      GraphStore.commitForBatch(spark, s"$base/graph", 0L))
    // pinned reads see the post-refresh state on every member
    val lbl = LedgerStore.loadAt(spark, s"$base/ledger",
      set.stores("ledger"))._1
    assert(lbl.count() == 60L &&
      lbl.filter(col("id") === 5L).count() == 0L &&
      lbl.filter(col("id") === 61L).count() == 1L)
    val (items, _, _) = GraphStore.loadAt(spark, s"$base/graph",
      set.stores("graph"))
    assert(items.select(col("ord")).distinct().count() == 60L &&
      items.filter(col("ord") === 5L).count() == 0L &&
      items.filter(col("ord") === 61L).count() == 2L)
    val (pq, pqm) = IndexStore.loadIvfPqAt(spark, s"$base/pq",
      set.stores("pq"))
    assert(pqm.rows == 60L && pq.codes.count() == 60L &&
      pq.codes.filter(col("vid") === 61L).count() == 1L)
    // the ledger labels equal the derived-class partition of the
    // POST-refresh corpus (identical texts per class -> comp = min id)
    val post = slice(0, 60).filter(col("vec_id") =!= 5L && col("vec_id") =!= 3L)
      .select(col("vec_id"), col("embedding"))
      .unionByName(embs.filter(col("vec_id") === 61L))
      .unionByName(embs.filter(col("vec_id") === 3L)
        .select(col("vec_id"), neg.as("embedding")))
    val wantComp = post
      .select(col("vec_id"), (col("vec_id") % 7).cast("long").as("c"), sgn.as("s"))
      .withColumn("comp", min(col("vec_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("c"), col("s"))))
      .select(col("vec_id").as("id"), col("comp"))
    assert(lbl.join(wantComp, Seq("id"))
      .filter(lbl("comp") =!= wantComp("comp")).count() == 0L,
      "followed ledger labels must equal the class-partition recompute")
    // quiescence: the set does not advance on an empty restart
    followAll()
    assert(PipelineLedger.readSet(spark, s"$base/set").commit == set.commit)
  }
}
