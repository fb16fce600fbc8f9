package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.text.PostingsStore

/** The identifier-addressed catalog face (round 12): store surfaces as
  * plain SQL names through `spark.sql.catalog.<name>`, with
  * SQL-standard `VERSION AS OF` / `TIMESTAMP AS OF` resolving through
  * the shared `_graft_history/` archive — the reference's
  * SQL-visible-warehouse-table property, now on every substrate. */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.util.Tables.documents(spark, sf)
    .filter(col("doc_id") > 0).select(col("doc_id"), col("text"))

  private lazy val catalogReady: Unit = spark.conf.set(
    "spark.sql.catalog.graft_test", classOf[GraftCatalog].getName)

  test("SQL identifiers resolve store surfaces; VERSION AS OF reads " +
      "the archived snapshot; TIMESTAMP AS OF maps wall-clock to the " +
      "latest commit at or before it") {
    catalogReady
    val dir = Files.createTempDirectory("graftcat").toString
    PostingsStore.maintainBatch(docs.filter(col("doc_id") <= 300),
      col("doc_id"), col("text"), dir, batchId = 0L)
    // wall-clock gap so TIMESTAMP AS OF can land between the commits
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    PostingsStore.maintainBatch(docs.filter(col("doc_id") > 300),
      col("doc_id"), col("text"), dir, batchId = 1L)

    // current: both folds visible, via dotted parts AND a quoted name
    val cur = spark.sql(
      s"SELECT count(*) AS n FROM graft_test.`$dir`.postings.doclen")
      .head.getLong(0)
    assert(cur == docs.count())
    val curQuoted = spark.sql(
      s"SELECT count(*) AS n FROM graft_test.`$dir`.`postings.doclen`")
      .head.getLong(0)
    assert(curQuoted == cur)

    // VERSION AS OF 0 = the seed window only
    val seedN = docs.filter(col("doc_id") <= 300).count()
    val at0 = spark.sql("SELECT count(*) AS n FROM " +
      s"graft_test.`$dir`.postings.doclen VERSION AS OF 0").head.getLong(0)
    assert(at0 == seedN)

    // TIMESTAMP AS OF between the commits = snapshot 0; before the
    // first commit fails loudly
    val atTs = spark.sql("SELECT count(*) AS n FROM " +
      s"graft_test.`$dir`.postings.doclen TIMESTAMP AS OF " +
      s"'${new java.sql.Timestamp(between)}'").head.getLong(0)
    assert(atTs == seedN)
    val e = intercept[Exception](spark.sql("SELECT * FROM " +
      s"graft_test.`$dir`.postings.doclen TIMESTAMP AS OF " +
      "'2001-01-01 00:00:00'").collect())
    assert(e.getMessage.contains("no snapshot committed at or before") ||
      Option(e.getCause).exists(
        _.getMessage.contains("no snapshot committed at or before")))

    // SHOW TABLES surfaces the store's tables
    val shown = spark.sql(s"SHOW TABLES IN graft_test.`$dir`")
      .select(col("tableName")).collect().map(_.getString(0)).toSet
    assert(shown.contains("postings.doclen") &&
      shown.contains("changes.postings.postings"))

    // read-only: DDL fails loudly, with the why
    val ddl = intercept[Exception](spark.sql(
      s"DROP TABLE graft_test.`$dir`.postings.doclen"))
    assert(ddl.getMessage.contains("read-only") ||
      Option(ddl.getCause).exists(_.getMessage.contains("read-only")))
  }

  test("CALL procedures: compact merges the slice window, vacuum " +
      "retires pre-window slices, commits lists the history — all " +
      "dispatched by probed store kind onto the leased library verbs") {
    catalogReady
    val dir = Files.createTempDirectory("graftproc").toString
    PostingsStore.maintainBatch(docs.filter(col("doc_id") <= 300),
      col("doc_id"), col("text"), dir, batchId = 0L)
    PostingsStore.maintainBatch(docs.filter(col("doc_id") > 300),
      col("doc_id"), col("text"), dir, batchId = 1L)
    val before = docs.count()

    val comp = spark.sql(
      s"CALL graft_test.system.compact(store => '$dir')").collect()
    assert(comp.length == 1 && comp.head.getString(0) == "postings" &&
      comp.head.getString(1).contains("merged into slice"))
    // idempotent: a 1-slice window has nothing to do
    val again = spark.sql(
      s"CALL graft_test.system.compact(store => '$dir')").collect()
    assert(again.head.getString(1).contains("nothing to do"))

    val vac = spark.sql(
      s"CALL graft_test.system.vacuum(store => '$dir')").collect()
    // 2 pre-window slices x the 2 subs a fold writes (postings, doclen)
    assert(vac.head.getString(1).contains("4 slice dirs removed"))

    // history: seed fold, delta fold, compact = commits 0..2, each with
    // a wall-clock the TIMESTAMP AS OF face resolves through
    val hist = spark.sql(
      s"CALL graft_test.system.commits(store => '$dir')").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(hist.forall(_.getLong(1) > 0L) &&
      hist.forall(_.getString(2) == "postings"))

    // the SQL-called maintenance preserved the substrate
    val after = spark.sql(
      s"SELECT count(*) AS n FROM graft_test.`$dir`.postings.doclen")
      .head.getLong(0)
    assert(after == before)

    // unknown procedure and unknown store fail loudly
    val e = intercept[Exception](spark.sql(
      s"CALL graft_test.system.optimize(store => '$dir')"))
    assert(e.getMessage.contains("unknown graft procedure") ||
      Option(e.getCause).exists(
        _.getMessage.contains("unknown graft procedure")))
    val noStore = Files.createTempDirectory("graftempty").toString
    val e2 = intercept[Exception](spark.sql(
      s"CALL graft_test.system.compact(store => '$noStore')").collect())
    assert(e2.getMessage.contains("no committed graft store") ||
      Option(e2.getCause).exists(
        _.getMessage.contains("no committed graft store")))
  }

  test("CALL restore/vacuum_changes: merge-table operational verbs — " +
      "restore reverts to an archived snapshot as a new commit, " +
      "vacuum_changes retires feed slices behind a fail-loud cutoff, " +
      "and both refuse non-merge stores") {
    catalogReady
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.cdc.{After, Apply, Env}
    val dir = Files.createTempDirectory("graftrestore").toString + "/t"
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val schema = Seq(Env("INSERT", "x", After("x", "t", 1.0), ts(1)))
      .toDF().schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    def mergeOnce(envs: Env*): Unit = {
      val ms = MemoryStream[Env]
      ms.addData(envs: _*)
      val q = Apply.startMerge(ms.toDF(), dir,
        Files.createTempDirectory("grck").toString,
        keyCol = "id", versionCol = "ts", schema = schema)
      q.processAllAvailable(); q.stop()
    }
    mergeOnce(Env("INSERT", "k1", After("k1", "t", 1.0), ts(100))) // commit 1
    mergeOnce(Env("INSERT", "k2", After("k2", "t", 2.0), ts(200))) // commit 2

    // restore to the one-row snapshot; the verb commits as 3
    val r = spark.sql("CALL graft_test.system.restore(" +
      s"store => '$dir', commit => 1)").collect()
    assert(r.head.getString(1).contains("restored to snapshot 1") &&
      r.head.getString(1).contains("committed as 3"))
    assert(Apply.readMergeTable(spark, dir).count() == 1)

    // feed retention through SQL: slices below commit 2 retire; the
    // pre-cutoff window then fails loudly
    val v = spark.sql("CALL graft_test.system.vacuum_changes(" +
      s"store => '$dir', commit => 2)").collect()
    assert(v.head.getString(1).contains("1 change slices below commit 2"))
    val e = intercept[Exception](
      spark.read.format("graft").option("path", dir)
        .option("table", "changes.merge").option("sinceCommit", "0")
        .option("untilCommit", "1").load().count())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("vacuumChanges retired")))

    // kind guard: restore against a postings store fails loudly
    val pdir = Files.createTempDirectory("graftrestorep").toString
    PostingsStore.maintainBatch(docs, col("doc_id"), col("text"), pdir,
      batchId = 0L)
    val e2 = intercept[Exception](spark.sql(
      s"CALL graft_test.system.restore(store => '$pdir', commit => 0)")
      .collect())
    assert(chain(e2).exists(_.contains("applies to merge tables")))
  }

  test("term stats via a catalog identifier equal the provider face " +
      "(q268's read through format(\"graft\"))") {
    catalogReady
    val dir = Files.createTempDirectory("graftcat2").toString
    PostingsStore.maintainBatch(docs, col("doc_id"), col("text"), dir,
      batchId = 0L)
    val viaCat = spark.sql(
      s"""SELECT term, count(DISTINCT id) AS df, sum(tf) AS coll_tf
         |FROM graft_test.`$dir`.postings.postings
         |WHERE term IN ('fast', 'merge', 'table')
         |GROUP BY term ORDER BY term""".stripMargin).collect()
    val viaProvider = spark.read.format("graft").option("path", dir)
      .option("table", "postings.postings").load()
      .filter(col("term").isin("fast", "merge", "table"))
      .groupBy(col("term"))
      .agg(countDistinct(col("id")).as("df"), sum(col("tf")).as("coll_tf"))
      .orderBy(col("term")).collect()
    assert(viaCat.toSeq == viaProvider.toSeq && viaCat.nonEmpty)
  }

  test("SQL INSERT INTO the current merge surface lands ONE ledgered " +
      "commit through the leased fold — versioned upsert, change slice " +
      "included; slice surfaces stay read-only, TRUNCATE is the empty " +
      "overwrite") {
    catalogReady
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.cdc.{After, Apply, Env}
    val dir = Files.createTempDirectory("graftins").toString + "/t"
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val schema = Seq(Env("INSERT", "x", After("x", "t", 1.0), ts(1)))
      .toDF().schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val ms = MemoryStream[Env]
    ms.addData(Env("INSERT", "k1", After("k1", "old", 1.0), ts(100)),
      Env("INSERT", "k2", After("k2", "keep", 2.0), ts(500)))
    val q = Apply.startMerge(ms.toDF(), dir,
      Files.createTempDirectory("ginsck").toString,
      keyCol = "id", versionCol = "ts", schema = schema)
    q.processAllAvailable(); q.stop() // commit 1
    assert(Apply.currentCommit(spark, dir) == 1L)

    // one INSERT, three rows: a new key, a winning update, a STALE
    // update (version below the stored row) — one commit for all
    spark.sql(s"INSERT INTO graft_test.`$dir`.merge " +
      "(id, ticker, price, _version) VALUES " +
      "('k3', 'new', 3.0, TIMESTAMP '1970-01-01 00:00:01')," +
      "('k1', 'upd', 9.0, TIMESTAMP '1970-01-01 00:00:01')," +
      "('k2', 'stale', 0.0, TIMESTAMP '1970-01-01 00:00:00')")
    assert(Apply.currentCommit(spark, dir) == 2L,
      "one INSERT statement must be one ledgered commit")
    val state = Apply.readMergeTable(spark, dir)
      .select(col("id"), col("ticker")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(state == Set("k1" -> "upd", "k2" -> "keep", "k3" -> "new"),
      s"versioned upsert must apply winners and reject the stale row: $state")
    // the commit's change slice carries the APPLIED rows only — a
    // cascade sees SQL inserts like any other commit
    val slice = spark.read.format("graft").option("path", dir)
      .option("table", "changes.merge").option("sinceCommit", "1")
      .option("untilCommit", "2").load()
      .select(col("_key"), col("op")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(slice == Set("k1" -> "MODIFY", "k3" -> "MODIFY"),
      s"the stale k2 row lost the fold and must not enter the feed: $slice")
    // SQL reads see the inserted state through the same identifier
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_test.`$dir`.merge")
      .head.getLong(0) == 3L)

    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    // slice surfaces refuse writes loudly (the stock FileTable would
    // have appended raw parquet into the store)
    val pdir = Files.createTempDirectory("graftinsp").toString
    PostingsStore.maintainBatch(docs, col("doc_id"), col("text"), pdir,
      batchId = 0L)
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO graft_test.`$pdir`.postings.doclen VALUES (1, 1, 0)"))
    assert(chain(e).exists(m => m.contains("read-only") ||
      m.contains("does not support")), chain(e).mkString(" <- "))
    // INSERT OVERWRITE is a SUPPORTED verb since round 15 (one
    // stale-gated fold commit — full semantics gated in
    // GraftRowLevelSpec and q295/q296); here pin its VERSION CONTRACT:
    // an overwrite that does not advance past the stored versions
    // rejects all-or-nothing, so the table is untouched for the rest
    // of this lifecycle
    val preOw = Apply.currentCommit(spark, dir)
    val e2 = intercept[Exception](spark.sql(
      s"INSERT OVERWRITE graft_test.`$dir`.merge " +
        "SELECT id, ticker, price, TIMESTAMP '1970-01-01 00:00:00' " +
        s"AS _version FROM graft_test.`$dir`.merge"))
    assert(chain(e2).exists(m => m.contains("stale") &&
      m.contains("OVERWRITE")), chain(e2).mkString(" <- "))
    assert(Apply.currentCommit(spark, dir) == preOw,
      "a stale overwrite must commit nothing")
    // the library verb guards its contract: _version is mandatory
    val e3 = intercept[Exception](Apply.insertBatch(spark, dir,
      Seq(("k9", "x", 1.0)).toDF("id", "ticker", "price")))
    assert(e3.getMessage.contains("_version"))

    // SQL DELETE: a key-equality predicate routes onto purgeKeys —
    // one ledgered commit, REMOVE event in the change slice
    val c0 = Apply.currentCommit(spark, dir)
    spark.sql(s"DELETE FROM graft_test.`$dir`.merge WHERE id IN ('k3')")
    assert(Apply.currentCommit(spark, dir) == c0 + 1)
    assert(Apply.readMergeTable(spark, dir)
      .filter(col("id") === "k3").count() == 0L)
    val delSlice = spark.read.format("graft").option("path", dir)
      .option("table", "changes.merge")
      .option("sinceCommit", c0.toString)
      .option("untilCommit", (c0 + 1).toString).load()
      .select(col("_key"), col("op")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(delSlice == Set("k3" -> "REMOVE"),
      s"the SQL delete must ride the feed as a REMOVE event: $delSlice")
    // non-key predicates take the ROW-LEVEL face (round 14, verdict
    // #4): versioned REMOVE tombstones through the fold — the OTHER
    // delete flavor (GraftRowLevelSpec pins its semantics); only k1
    // (price 9.0) matches here, and the key-equality purge above is
    // untouched by the new path (OptimizeMetadataOnlyDeleteFromTable
    // keeps converting it to purgeKeys)
    spark.sql(s"DELETE FROM graft_test.`$dir`.merge WHERE price > 5.0")
    assert(Apply.currentCommit(spark, dir) == c0 + 2,
      "a predicate DELETE is one ledgered row-level commit")
    assert(Apply.readMergeTable(spark, dir)
      .filter(col("id") === "k1").count() == 0L,
      "the matched row must tombstone out through the fold")
    // STAGING lives under the TABLE root (round-13 verdict #2: a
    // driver-local temp dir is invisible to executors on a real
    // cluster) and is cleaned per statement — the successful INSERTs
    // above created `$dir/_staging/...` and removed their dirs
    val staging = new java.io.File(s"$dir/_staging")
    assert(staging.isDirectory,
      "insertBatch must stage under the table's own filesystem")
    assert(Option(staging.listFiles()).getOrElse(Array.empty).isEmpty,
      "a completed INSERT must not leak its staged envelopes")

    // a CRASHED statement's stranded staging is swept by the next one
    // (age-graced so an in-flight INSERT's staging survives)
    val stranded = new java.io.File(s"$dir/_staging/insert-stranded")
    assert(stranded.mkdirs())
    assert(stranded.setLastModified(
      System.currentTimeMillis() - 13L * 60 * 60 * 1000))
    spark.sql(s"INSERT INTO graft_test.`$dir`.merge " +
      "(id, ticker, price, _version) VALUES " +
      "('k5', 'v', 5.0, TIMESTAMP '1970-01-01 00:00:03')")
    assert(!stranded.exists(),
      "the next statement must sweep crash-stranded staging dirs")

    // NULL _version fails LOUDLY (ADVICE r13: an INSERT whose column
    // list omits _version gets NULL-filled and would silently lose the
    // fold) — and the refused statement must not commit
    val cPre = Apply.currentCommit(spark, dir)
    val e6 = intercept[Exception](spark.sql(
      s"INSERT INTO graft_test.`$dir`.merge (id, ticker, price) " +
        "VALUES ('k6', 'x', 1.0)"))
    // round 14: _version is declared NON-NULLABLE on the catalog face
    // (a fold invariant, required by the row-level protocol), so the
    // refusal may now come from Spark's own output resolver instead of
    // insertBatch's guard — either way it is loud and names the column
    assert(chain(e6).exists(_.contains("_version")),
      chain(e6).mkString(" <- "))
    assert(Apply.currentCommit(spark, dir) == cPre,
      "a refused NULL-version INSERT must not commit")
    assert(Apply.readMergeTable(spark, dir)
      .filter(col("id") === "k6").count() == 0L)

    // bare TRUNCATE TABLE is the EMPTY OVERWRITE (round 16, r15 verdict
    // #2 — this spec used to pin the refusal): ONE ledgered fold commit,
    // every stored key REMOVEd at its stored version
    // (GraftReplaceTableSpec pins the full contract incl. the change
    // slice). This table was seeded by the LIBRARY (startMerge), so it
    // has no creation-schema declaration — once fully emptied, the
    // catalog read refuses with the documented typed message rather
    // than inventing a schema; run it LAST.
    val cT = Apply.currentCommit(spark, dir)
    spark.sql(s"TRUNCATE TABLE graft_test.`$dir`.merge")
    assert(Apply.currentCommit(spark, dir) == cT + 1,
      "TRUNCATE must land as ONE ledgered commit")
    val eT = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_test.`$dir`.merge").count())
    assert(chain(eT).exists(_.contains("fully emptied")),
      chain(eT).mkString(" <- "))
  }

  test("every store kind: SHOW TABLES lists its exact surfaces, and " +
      "compact/vacuum after two folds return the kind's result rows") {
    catalogReady
    def tmp(p: String) = Files.createTempDirectory(p).toString
    def docRange(lo: Long, hi: Long) =
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
    def vecRange(lo: Long, hi: Long) = graft.util.Tables.embeddings(spark, sf)
      .filter(col("vec_id") > lo && col("vec_id") <= hi)
    val lines = graft.util.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ord"), col("l_partkey").as("item"))
    val merge = tmp("kindmerge") + "/t"
    spark.sql(s"CREATE TABLE graft_test.`$merge`.merge " +
      "(id BIGINT, v STRING, _version BIGINT) TBLPROPERTIES (key_col 'id')")
    spark.sql(s"INSERT INTO graft_test.`$merge`.merge VALUES (1, 'a', 1)")
    spark.sql(s"INSERT INTO graft_test.`$merge`.merge VALUES (2, 'b', 1)")
    val ledger = tmp("kindledger")
    val sem = tmp("kindsem")
    val postings = tmp("kindpostings")
    val graph = tmp("kindgraph")
    val ivf = tmp("kindivf")
    for (b <- 0L to 1L) {
      val (lo, hi) = if (b == 0L) (0L, 200L) else (200L, 300L)
      graft.dedup.LedgerStore.maintainBatch(docRange(lo, hi), col("doc_id"),
        col("text"), ledger, batchId = b)
      graft.dedup.SemLedgerStore.maintainBatch(vecRange(lo, hi),
        col("vec_id"), col("embedding"), sem, batchId = b)
      PostingsStore.maintainBatch(docRange(lo, hi), col("doc_id"),
        col("text"), postings, batchId = b)
      graft.warehouse.GraphStore.maintainBatch(
        lines.filter(col("ord") % 2 === b), col("ord"), col("item"), graph,
        batchId = b)
      // 100 more vectors on a 200-vector seed stay below the doubling
      // re-train: the second fold appends slice 1 to generation 0
      graft.ann.IndexStore.ivfMaintainBatch(vecRange(lo, hi),
        col("vec_id"), col("embedding"), ivf, nCentroids = 4, batchId = b)
    }
    def shown(dir: String): Set[String] =
      spark.sql(s"SHOW TABLES IN graft_test.`$dir`")
        .select(col("tableName")).collect().map(_.getString(0)).toSet
    def call(verb: String, dir: String): Seq[(String, String)] =
      spark.sql(s"CALL graft_test.system.$verb(store => '$dir')").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    def feeds(k: String, ts: String*) = ts.map(t => s"changes.$k.$t")
    val expected = Seq(
      (merge, "merge", Set("merge", "changes.merge"),
        "live buckets rewritten", "unreferenced generations removed"),
      (ledger, "ledger",
        Set("ledger.labels") ++ feeds("ledger", "sigs", "postings", "purged"),
        "window merged into slice 2", "4 slice dirs removed"),
      (sem, "sem", Set("sem.labels") ++ feeds("sem", "vecs", "pairs", "purged"),
        "window merged into slice 2", "4 slice dirs removed"),
      (postings, "postings",
        Set("postings.postings", "postings.doclen", "postings.purged") ++
          feeds("postings", "postings", "doclen", "purged"),
        "window merged into slice 2", "4 slice dirs removed"),
      (graph, "graph", feeds("graph", "items", "pairs", "purged").toSet,
        "window merged into slice 2", "4 slice dirs removed"),
      // IVF folds write no tombstone slice: 2 assigned dirs retire
      (ivf, "ivf", Set("ivf.assigned", "ivf.purged"),
        "window merged into slice 2", "2 slice dirs removed"))
    expected.foreach { case (dir, kind, tables, compacted, vacuumed) =>
      assert(shown(dir) == tables, kind)
      assert(call("compact", dir) == Seq((kind, compacted)), kind)
      assert(call("vacuum", dir) == Seq((kind, vacuumed)), kind)
    }
  }
}
