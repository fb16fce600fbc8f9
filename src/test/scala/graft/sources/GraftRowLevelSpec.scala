package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.Apply

case class RlAfter(id: Long, ticker: String, price: Double)
case class RlEnv(op: String, key: Long, after: RlAfter, v: Long)

/** SQL UPDATE / MERGE INTO / predicate-DELETE (round-14 verdict #4):
  * the delta-based row-level face must route every statement through
  * ONE leased merge-fold commit (change slice included), enforce the
  * version-advance contract all-or-nothing BEFORE anything mutates,
  * refuse key reassignment, and leave no staging behind. */
class GraftRowLevelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val catalogReady: Unit = spark.conf.set(
    "spark.sql.catalog.graft_rl", classOf[GraftCatalog].getName)

  private def chain(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)

  /** Seed a fresh merge table with ids 1..6 at version 10 via the real
    * streamed fold (commit 1). */
  private def seed(): String = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("graftrl").toString + "/t"
    val rows = (1L to 6L).map(i =>
      RlEnv("INSERT", i, RlAfter(i, s"t$i", i.toDouble), 10L))
    val schema = rows.toDF().schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val ms = MemoryStream[RlEnv]
    ms.addData(rows: _*)
    val q = Apply.startMerge(ms.toDF(), dir,
      Files.createTempDirectory("graftrlck").toString,
      keyCol = "id", versionCol = "v", schema = schema)
    q.processAllAvailable(); q.stop()
    assert(Apply.currentCommit(spark, dir) == 1L)
    dir
  }

  private def state(dir: String): Map[Long, (String, Double, Long)] =
    Apply.readMergeTable(spark, dir)
      .select(col("id"), col("ticker"), col("price"), col("_version"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2),
        r.getLong(3)))).toMap

  private def slice(dir: String, from: Long, to: Long): Set[(Long, String)] =
    spark.read.format("graft").option("path", dir)
      .option("table", "changes.merge")
      .option("sinceCommit", from.toString)
      .option("untilCommit", to.toString).load()
      .select(col("_key"), col("op")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("UPDATE advances the fold: one ledgered commit, new image at " +
      "the advanced version, MODIFY events in the change slice") {
    catalogReady
    val dir = seed()
    spark.sql(s"UPDATE graft_rl.`$dir`.merge " +
      "SET price = 99.0, ticker = 'upd', _version = _version + 1 " +
      "WHERE id <= 2")
    assert(Apply.currentCommit(spark, dir) == 2L,
      "one UPDATE statement must be one ledgered commit")
    val s = state(dir)
    assert(s(1L) == (("upd", 99.0, 11L)) && s(2L) == (("upd", 99.0, 11L)),
      s"updated rows must carry the new image at the advanced version: $s")
    assert((3L to 6L).forall(i => s(i) == ((s"t$i", i.toDouble, 10L))),
      s"unmatched rows must be untouched: $s")
    assert(slice(dir, 1L, 2L) == Set(1L -> "MODIFY", 2L -> "MODIFY"),
      "a cascade must see the SQL UPDATE like any other commit")
    // staging cleaned per statement
    val staging = new java.io.File(s"$dir/_staging")
    assert(Option(staging.listFiles()).getOrElse(Array.empty).isEmpty,
      "a completed UPDATE must not leak its staged envelopes")
  }

  test("stale UPDATE is rejected all-or-nothing BEFORE the fold: no " +
      "version advance → loud abort, nothing applied, no commit") {
    catalogReady
    val dir = seed()
    // no _version assignment at all: every matched row is stale
    val e1 = intercept[Exception](spark.sql(
      s"UPDATE graft_rl.`$dir`.merge SET price = 1.0 WHERE id >= 3"))
    assert(chain(e1).exists(m => m.contains("stale") &&
      m.contains("_version")), chain(e1).mkString(" <- "))
    assert(Apply.currentCommit(spark, dir) == 1L,
      "a rejected UPDATE must not commit")
    assert(state(dir)(3L) == (("t3", 3.0, 10L)), "nothing applied")
    // MIXED statement: one fresh row, one stale row → the WHOLE
    // statement aborts (the gate runs before the fold)
    spark.sql(s"UPDATE graft_rl.`$dir`.merge SET _version = 13 " +
      "WHERE id = 5") // 5 → version 13 (commit 2)
    val e2 = intercept[Exception](spark.sql(
      s"UPDATE graft_rl.`$dir`.merge SET _version = 13, price = 0.0 " +
        "WHERE id IN (5, 6)")) // 5 stale (13 ≤ 13), 6 fresh (13 > 10)
    assert(chain(e2).exists(_.contains("stale")),
      chain(e2).mkString(" <- "))
    val s = state(dir)
    assert(s(6L) == (("t6", 6.0, 10L)),
      s"the fresh half of a stale statement must NOT apply: $s")
    assert(Apply.currentCommit(spark, dir) == 2L)
  }

  test("UPDATE cannot reassign the merge key — the key is the row's " +
      "identity") {
    catalogReady
    val dir = seed()
    val e = intercept[Exception](spark.sql(
      s"UPDATE graft_rl.`$dir`.merge " +
        "SET id = id + 100, _version = _version + 1 WHERE id = 1"))
    assert(chain(e).exists(m => m.contains("reassign") ||
      m.toLowerCase.contains("row id") ||
      m.toLowerCase.contains("identity")), chain(e).mkString(" <- "))
    assert(state(dir).keySet == (1L to 6L).toSet,
      "a refused key reassignment must not mutate the table")
    assert(Apply.currentCommit(spark, dir) == 1L)
  }

  test("predicate DELETE rides the row-level face: versioned REMOVE " +
      "tombstones through the fold (key-equality DELETE stays the " +
      "metadata purge — GraftCatalogSpec pins that flavor)") {
    catalogReady
    val dir = seed()
    spark.sql(s"DELETE FROM graft_rl.`$dir`.merge WHERE price > 4.5")
    assert(Apply.currentCommit(spark, dir) == 2L,
      "one DELETE statement must be one ledgered commit")
    assert(state(dir).keySet == Set(1L, 2L, 3L, 4L),
      "rows matching the predicate must tombstone out")
    assert(slice(dir, 1L, 2L) == Set(5L -> "REMOVE", 6L -> "REMOVE"),
      "the tombstones must enter the change feed")
    // replay-shaped idempotence: deleting the survivors' complement
    // again matches nothing and commits nothing
    spark.sql(s"DELETE FROM graft_rl.`$dir`.merge WHERE price > 4.5")
    assert(Apply.currentCommit(spark, dir) == 2L,
      "a DELETE matching no rows is a no-op, not a commit")
  }

  test("MERGE INTO: matched-update, matched-delete and not-matched-" +
      "insert land as ONE fold commit with one change slice") {
    catalogReady
    val dir = seed()
    import spark.implicits._
    Seq((1L, "upd", 50.0, 0L), (2L, "del", 0.0, 0L),
      (9L, "ins", 9.9, 20L))
      .toDF("id", "action", "price", "v")
      .createOrReplaceTempView("graft_rl_src")
    spark.sql(
      s"""MERGE INTO graft_rl.`$dir`.merge AS t
         |USING graft_rl_src AS s ON t.id = s.id
         |WHEN MATCHED AND s.action = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET price = s.price,
         |  ticker = 'merged', _version = t._version + 1
         |WHEN NOT MATCHED THEN INSERT (id, ticker, price, _version)
         |  VALUES (s.id, 'ins', s.price, s.v)""".stripMargin)
    assert(Apply.currentCommit(spark, dir) == 2L,
      "one MERGE statement must be one ledgered commit")
    val s = state(dir)
    assert(s(1L) == (("merged", 50.0, 11L)), s"matched update: $s")
    assert(!s.contains(2L), s"matched delete: $s")
    assert(s(9L) == (("ins", 9.9, 20L)), s"not-matched insert: $s")
    assert((3L to 6L).forall(i => s(i) == ((s"t$i", i.toDouble, 10L))),
      s"untouched rows: $s")
    assert(slice(dir, 1L, 2L) ==
      Set(1L -> "MODIFY", 2L -> "REMOVE", 9L -> "MODIFY"),
      "the slice must carry exactly the statement's effects")
    val staging = new java.io.File(s"$dir/_staging")
    assert(Option(staging.listFiles()).getOrElse(Array.empty).isEmpty,
      "a completed MERGE must not leak its staged envelopes")
  }

  test("MERGE ... WHEN NOT MATCHED BY SOURCE: target rows absent from " +
      "the source delete/update through the same fold commit") {
    catalogReady
    val dir = seed()
    import spark.implicits._
    Seq((1L, 11.0)).toDF("id", "price")
      .createOrReplaceTempView("graft_rl_src3")
    spark.sql(
      s"""MERGE INTO graft_rl.`$dir`.merge AS t
         |USING graft_rl_src3 AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET price = s.price,
         |  _version = t._version + 1
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 5 THEN DELETE""".stripMargin)
    assert(Apply.currentCommit(spark, dir) == 2L)
    val s = state(dir)
    assert(s(1L) == (("t1", 11.0, 11L)), s"matched update: $s")
    assert(s.keySet == Set(1L, 2L, 3L, 4L),
      s"source-absent rows ≥ 5 must tombstone out: $s")
    assert(slice(dir, 1L, 2L) ==
      Set(1L -> "MODIFY", 5L -> "REMOVE", 6L -> "REMOVE"))
  }

  test("only COMMITTED task files fold: a zombie staged file is " +
      "ignored by the commit and swept once it ages out") {
    catalogReady
    val dir = seed()
    import spark.implicits._
    // a crashed/speculative attempt's orphan: valid envelope parquet
    // in the staging area that no committed message names
    val zombieDir = s"$dir/_staging/rowlevel-zombie/tasks"
    Seq(("MODIFY", 999L, 99L, (999L, "zombie", 6.66)))
      .toDF("op", "key", "_version", "after")
      .write.parquet(s"$zombieDir/z.parquet")
    spark.sql(s"UPDATE graft_rl.`$dir`.merge " +
      "SET ticker = 'upd', _version = _version + 1 WHERE id = 1")
    val s = state(dir)
    assert(!s.contains(999L),
      s"the zombie envelope must never reach the fold: $s")
    assert(s(1L) == (("upd", 1.0, 11L)))
    // fresh zombie staging survives the statement (age grace protects
    // in-flight writers)...
    val zroot = new java.io.File(s"$dir/_staging/rowlevel-zombie")
    assert(zroot.exists())
    // ...and is swept once old
    def backdate(f: java.io.File): Unit = {
      f.setLastModified(System.currentTimeMillis() - 13L * 60 * 60 * 1000)
      ()
    }
    backdate(zroot)
    spark.sql(s"UPDATE graft_rl.`$dir`.merge " +
      "SET ticker = 'upd2', _version = _version + 1 WHERE id = 1")
    assert(!zroot.exists(),
      "an aged-out stranded staging dir must be swept by the next " +
        "statement")
  }

  test("row-level predicates may carry SUBQUERIES: DELETE WHERE id IN " +
      "(SELECT …) and UPDATE WHERE EXISTS both plan through the " +
      "matched-row scan (the rewrite is a plan, not a filter list)") {
    catalogReady
    val dir = seed()
    import spark.implicits._
    Seq(5L, 6L).toDF("did").createOrReplaceTempView("graft_rl_sub")
    // IN-subquery + residual predicate → only id 6 matches
    spark.sql(s"DELETE FROM graft_rl.`$dir`.merge " +
      "WHERE id IN (SELECT did FROM graft_rl_sub) AND price > 5.5")
    assert(state(dir).keySet == (1L to 5L).toSet)
    // correlated EXISTS → id 5 (6 already gone)
    spark.sql(s"UPDATE graft_rl.`$dir`.merge " +
      "SET ticker = 'sub', _version = _version + 1 " +
      "WHERE EXISTS (SELECT 1 FROM graft_rl_sub s WHERE s.did = id)")
    val s = state(dir)
    assert(s(5L) == (("sub", 5.0, 11L)), s"EXISTS update: $s")
    assert(s(4L) == (("t4", 4.0, 10L)))
  }

  test("the DataFrame MERGE API (df.mergeInto) resolves through the " +
      "same catalog row-level face as SQL MERGE INTO") {
    catalogReady
    val dir = seed()
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    Seq((1L, 77.0, 0L), (9L, 9.9, 20L)).toDF("s_id", "s_price", "s_v")
      .mergeInto(s"graft_rl.`$dir`.merge", c("id") === c("s_id"))
      .whenMatched()
      .update(Map(
        "price" -> c("s_price"),
        "ticker" -> org.apache.spark.sql.functions.lit("api"),
        "_version" -> (c("_version") + 1)))
      .whenNotMatched()
      .insert(Map(
        "id" -> c("s_id"),
        "ticker" -> org.apache.spark.sql.functions.lit("api-ins"),
        "price" -> c("s_price"), "_version" -> c("s_v")))
      .merge()
    val s = state(dir)
    assert(s(1L) == (("api", 77.0, 11L)), s"API matched update: $s")
    assert(s(9L) == (("api-ins", 9.9, 20L)), s"API insert: $s")
    assert(Apply.currentCommit(spark, dir) == 2L,
      "one mergeInto call must be one ledgered commit")
  }

  test("the row-level matched-row scan pushes the statement predicate " +
      "into the parquet scan (the delegate's pushdown is intact)") {
    catalogReady
    val dir = seed()
    val plan = spark.sql(s"EXPLAIN FORMATTED UPDATE graft_rl.`$dir`" +
      ".merge SET _version = _version + 1 WHERE id = 3")
      .head.getString(0)
    assert(plan.contains("EqualTo(id,3)"),
      s"the UPDATE condition must reach the scan as a pushed filter:\n" +
        plan.take(2000))
  }

  test("a MERGE whose update half does not advance the version aborts " +
      "whole — the insert half must not survive the rejected statement") {
    catalogReady
    val dir = seed()
    import spark.implicits._
    Seq((1L, 50.0, 10L), (9L, 9.9, 20L)).toDF("id", "price", "v")
      .createOrReplaceTempView("graft_rl_src2")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO graft_rl.`$dir`.merge AS t
         |USING graft_rl_src2 AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET price = s.price
         |WHEN NOT MATCHED THEN INSERT (id, ticker, price, _version)
         |  VALUES (s.id, 'ins', s.price, s.v)""".stripMargin))
    assert(chain(e).exists(_.contains("stale")), chain(e).mkString(" <- "))
    val s = state(dir)
    assert(!s.contains(9L) && s(1L) == (("t1", 1.0, 10L)),
      s"a rejected MERGE must apply NOTHING (all-or-nothing): $s")
    assert(Apply.currentCommit(spark, dir) == 1L)
  }

  test("INSERT OVERWRITE replaces the table content as ONE stale-gated " +
      "fold commit: disappeared keys become REMOVEs in the change " +
      "slice; non-advancing versions reject all-or-nothing") {
    catalogReady
    val dir = seed() // ids 1..6 at version 10, commit 1
    import spark.implicits._
    Seq((1L, "ow", 9.0, 20L), (2L, "ow", 9.0, 20L),
      (7L, "new", 7.0, 20L))
      .toDF("id", "ticker", "price", "_version")
      .createOrReplaceTempView("graft_rl_ow_src")
    spark.sql(s"INSERT OVERWRITE graft_rl.`$dir`.merge " +
      "SELECT * FROM graft_rl_ow_src")
    assert(Apply.currentCommit(spark, dir) == 2L,
      "one INSERT OVERWRITE must be one ledgered commit")
    val s = state(dir)
    assert(s == Map(1L -> (("ow", 9.0, 20L)), 2L -> (("ow", 9.0, 20L)),
      7L -> (("new", 7.0, 20L))),
      s"overwrite must replace the content exactly: $s")
    assert(slice(dir, 1L, 2L) == Set(1L -> "MODIFY", 2L -> "MODIFY",
      7L -> "MODIFY", 3L -> "REMOVE", 4L -> "REMOVE", 5L -> "REMOVE",
      6L -> "REMOVE"),
      "a cascade must see the overwrite as upserts + deletions")
    // staging cleaned per statement
    val staging = new java.io.File(s"$dir/_staging")
    assert(Option(staging.listFiles()).getOrElse(Array.empty).isEmpty,
      "a completed INSERT OVERWRITE must not leak staging")
    // non-advancing versions: the whole statement rejects loudly,
    // nothing applied (id=1 stored at 20, the batch re-offers 20)
    val e = intercept[Exception](spark.sql(
      s"INSERT OVERWRITE graft_rl.`$dir`.merge " +
        "SELECT * FROM graft_rl_ow_src"))
    assert(chain(e).exists(m => m.contains("stale") &&
      m.contains("OVERWRITE")), chain(e).mkString(" <- "))
    assert(Apply.currentCommit(spark, dir) == 2L &&
      state(dir) == s, "a rejected overwrite must mutate nothing")
  }

  test("INSERT INTO ... REPLACE WHERE replaces ONLY the region: " +
      "in-region keys absent from the batch become REMOVEs, rows " +
      "outside the region reject the whole statement, the rest of " +
      "the table is untouched") {
    catalogReady
    val dir = seed() // ids 1..6 at version 10
    import spark.implicits._
    // a batch row OUTSIDE the replaced region rejects all-or-nothing
    Seq((1L, "rw", 9.0, 20L), (7L, "out", 7.0, 20L))
      .toDF("id", "ticker", "price", "_version")
      .createOrReplaceTempView("graft_rl_rw_bad")
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO graft_rl.`$dir`.merge REPLACE WHERE id <= 3 " +
        "SELECT * FROM graft_rl_rw_bad"))
    assert(chain(e).exists(m => m.contains("OUTSIDE the replaced") ||
      m.contains("outside")), chain(e).mkString(" <- "))
    assert(Apply.currentCommit(spark, dir) == 1L, "nothing applied")
    // the real replace: region id <= 3, batch carries only id 1
    Seq((1L, "rw", 9.0, 20L))
      .toDF("id", "ticker", "price", "_version")
      .createOrReplaceTempView("graft_rl_rw_src")
    spark.sql(s"INSERT INTO graft_rl.`$dir`.merge REPLACE WHERE " +
      "id <= 3 SELECT * FROM graft_rl_rw_src")
    assert(Apply.currentCommit(spark, dir) == 2L,
      "one REPLACE WHERE must be one ledgered commit")
    val s = state(dir)
    assert(s == Map(1L -> (("rw", 9.0, 20L)),
      4L -> (("t4", 4.0, 10L)), 5L -> (("t5", 5.0, 10L)),
      6L -> (("t6", 6.0, 10L))),
      s"region replaced, remainder untouched: $s")
    assert(slice(dir, 1L, 2L) == Set(1L -> "MODIFY", 2L -> "REMOVE",
      3L -> "REMOVE"),
      "the slice must carry the region's upserts + deletions only")
    // the stale contract holds here too: re-offering version 20
    val e2 = intercept[Exception](spark.sql(
      s"INSERT INTO graft_rl.`$dir`.merge REPLACE WHERE id <= 3 " +
        "SELECT * FROM graft_rl_rw_src"))
    assert(chain(e2).exists(m => m.contains("stale") &&
      m.contains("REPLACE WHERE")), chain(e2).mkString(" <- "))
    assert(Apply.currentCommit(spark, dir) == 2L && state(dir) == s)
  }

  test("the DataFrameWriterV2 API rides the same verbs: append → the " +
      "insert fold, overwrite(cond) → REPLACE WHERE, create() → " +
      "atomic CTAS") {
    catalogReady
    val dir = seed() // ids 1..6 at version 10, commit 1
    import spark.implicits._
    // append: one ledgered insert-fold commit
    Seq((7L, "api", 7.0, 20L)).toDF("id", "ticker", "price", "_version")
      .writeTo(s"graft_rl.`$dir`.merge").append()
    assert(Apply.currentCommit(spark, dir) == 2L)
    assert(state(dir)(7L) == (("api", 7.0, 20L)))
    // overwrite(cond): the REPLACE WHERE fold — region id <= 2
    // replaced by one row, id=2 drops out, the rest untouched
    Seq((1L, "ow", 1.5, 30L)).toDF("id", "ticker", "price", "_version")
      .writeTo(s"graft_rl.`$dir`.merge")
      .overwrite(col("id") <= 2)
    assert(Apply.currentCommit(spark, dir) == 3L)
    val s = state(dir)
    assert(s(1L) == (("ow", 1.5, 30L)) && !s.contains(2L) &&
      (3L to 7L).forall(s.contains),
      s"overwrite(cond) must replace only the region: $s")
    assert(slice(dir, 2L, 3L) == Set(1L -> "MODIFY", 2L -> "REMOVE"))
    // create(): CTAS through the staged catalog — first commit is the
    // loaded one
    val dir2 = java.nio.file.Files
      .createTempDirectory("graftrlapi").toString + "/t"
    Seq((1L, "c", 1.0, 1L), (1L, "c2", 2.0, 2L))
      .toDF("id", "ticker", "price", "_version")
      .writeTo(s"graft_rl.`$dir2`.merge")
      .tableProperty("key_col", "id")
      .create()
    assert(Apply.currentCommit(spark, dir2) == 1L,
      "API CTAS must be atomic: the first commit carries the data")
    assert(state(dir2) == Map(1L -> (("c2", 2.0, 2L))),
      "CTAS rows must ride the versioned fold")
  }

  test("TWO RACING UPDATE STATEMENTS never lose an update silently " +
      "(ADVICE r14): the stale gate and the fold share one lease, so " +
      "the loser either serializes cleanly or aborts loudly") {
    catalogReady
    val dir = seed()
    // Both statements read-modify-write the same row with a relative
    // version bump. If their scans interleave before either commit,
    // both stage _version = 11 — the gate-then-fold sequence must then
    // reject the second loudly (its envelope no longer advances the
    // fold), NEVER absorb it as a silent no-op. If the statements
    // serialize scan-and-all, both apply and the effects compose.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def run() = pool.submit(new Runnable {
      def run(): Unit = {
        gate.await()
        try spark.sql(s"UPDATE graft_rl.`$dir`.merge " +
          "SET price = price + 1.0, _version = _version + 1 " +
          "WHERE id = 1")
        catch { case t: Throwable => errs.add(t) }
        ()
      }
    })
    run(); run()
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300,
      java.util.concurrent.TimeUnit.SECONDS))
    val wins = 2 - errs.size()
    val s = state(dir)
    val commit = Apply.currentCommit(spark, dir)
    assert(wins >= 1, "at least one statement must commit: " +
      Option(errs.peek()).map(chain(_).mkString(" <- ")).getOrElse(""))
    // applied effects == successful statements — the invariant that
    // rules out the silent lost update (2 commits, 1 effect) AND the
    // silent no-op (1 commit claimed, 0 effects)
    assert(s(1L) == (("t1", 1.0 + wins, 10L + wins)),
      s"$wins statement(s) reported success, state must show exactly " +
        s"$wins applied bumps: $s")
    assert(commit == 1L + wins,
      s"each successful statement is one ledgered commit: got $commit " +
        s"for $wins win(s)")
    errs.forEach { t =>
      assert(chain(t).exists(m => m.contains("stale") ||
          m.contains("FENCED")),
        "the losing statement must fail ATTRIBUTABLY (stale gate or " +
          "lease fence), got: " + chain(t).mkString(" <- "))
    }
  }

  test("a MERGE ON a non-key column whose NOT MATCHED insert re-offers " +
      "a stored key at a non-advancing version is rejected — nothing " +
      "committed") {
    catalogReady
    val dir = seed() // ids 1..6 at version 10
    import spark.implicits._
    // no ticker matches, so both rows take the insert branch — onto
    // stored keys 3 (at the stored version) and 4 (below it). The
    // MATCHED clause keeps the statement on the row-level face (an
    // insert-only MERGE plans as a plain append, the INSERT fold).
    Seq((3L, "zzz", 33.0, 10L), (4L, "yyy", 44.0, 9L))
      .toDF("id", "ticker", "price", "v")
      .createOrReplaceTempView("graft_rl_src_nk")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO graft_rl.`$dir`.merge AS t
         |USING graft_rl_src_nk AS s ON t.ticker = s.ticker
         |WHEN MATCHED THEN UPDATE SET price = s.price,
         |  _version = t._version + 1
         |WHEN NOT MATCHED THEN INSERT (id, ticker, price, _version)
         |  VALUES (s.id, s.ticker, s.price, s.v)""".stripMargin))
    assert(chain(e).exists(m => m.contains("stale") &&
      m.contains("MERGE")), chain(e).mkString(" <- "))
    assert(Apply.currentCommit(spark, dir) == 1L,
      "a rejected MERGE must not commit")
    assert(state(dir) == (1L to 6L).map(i =>
      i -> ((s"t$i", i.toDouble, 10L))).toMap, "nothing applied")
  }

  test("a predicate DELETE at the scanned version commits: a REMOVE at " +
      "the stored version is not stale") {
    catalogReady
    val dir = seed()
    spark.sql(s"UPDATE graft_rl.`$dir`.merge " +
      "SET _version = _version + 1 WHERE id = 3") // 3 at 11, commit 2
    spark.sql(s"DELETE FROM graft_rl.`$dir`.merge " +
      "WHERE id >= 3 AND price < 5.5") // REMOVEs 3@11, 4@10, 5@10
    assert(Apply.currentCommit(spark, dir) == 3L,
      "the DELETE must commit through the gated fold")
    assert(state(dir).keySet == Set(1L, 2L, 6L))
    assert(slice(dir, 2L, 3L) ==
      Set(3L -> "REMOVE", 4L -> "REMOVE", 5L -> "REMOVE"))
  }

  test("a streaming-sink epoch that replays stale rows drops them " +
      "silently: the epoch commits, the stale rows lose the fold and " +
      "stay out of the change slice") {
    catalogReady
    val dir = seed() // ids 1..6 at version 10
    import spark.implicits._
    val base = Files.createTempDirectory("graftrlsink").toString
    Seq((1L, "old", 0.5, 9L), (2L, "tie", 0.5, 10L), (7L, "new", 7.0, 1L))
      .toDF("id", "ticker", "price", "_version")
      .repartition(1).write.parquet(s"$base/in")
    val q = spark.readStream
      .schema("id BIGINT, ticker STRING, price DOUBLE, _version BIGINT")
      .parquet(s"$base/in")
      .writeStream.format("graft").option("path", dir)
      .option("checkpointLocation", s"$base/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(Apply.currentCommit(spark, dir) == 2L, "the epoch commits")
    val s = state(dir)
    assert(s(1L) == (("t1", 1.0, 10L)) && s(2L) == (("t2", 2.0, 10L)),
      s"stale replayed rows must lose the fold: $s")
    assert(s(7L) == (("new", 7.0, 1L)), s"fresh keys land: $s")
    assert(slice(dir, 1L, 2L) == Set(7L -> "MODIFY"),
      "lost rows must not enter the feed")
  }

  test("one UPDATE statement runs at most 11 Spark jobs: the stale " +
      "gate and the null-axis and touched-bucket probes ride the merge " +
      "fold (16 jobs when each ran as its own query)") {
    catalogReady
    val dir = seed()
    val sc = spark.sparkContext
    val group = s"graft-rl-jobs-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "update")
      try spark.sql(s"UPDATE graft_rl.`$dir`.merge " +
        "SET price = 0.0, _version = _version + 1 WHERE id <= 3")
      finally sc.clearJobGroup()
      // the listener bus is asynchronous and ordered: once the marker
      // job's start arrives, every job of the statement has arrived
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker), "the listener never saw the marker")
      val n = seen.toArray.count(_ == group)
      assert(n > 0 && n <= 11, s"one UPDATE ran $n jobs")
    } finally sc.removeSparkListener(listener)
    assert(state(dir)(1L) == (("t1", 0.0, 11L)))
  }
}
