package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.cdc.{After, Apply, Env}
import graft.dedup.LedgerStore
import graft.text.PostingsStore

/** The DataSource V2 catalog face (round-11 verdict #3): the persisted
  * substrates read through `spark.read.format("graft")` — SQL-visible
  * like the reference's Redshift warehouse tables — with the manifest
  * doing snapshot selection and Catalyst's partition pruning surviving
  * the delegation to the stock parquet FileTable. */
class GraftTablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = graft.util.Tables.documents(spark, sf)
    .filter(col("doc_id") > 0).select(col("doc_id"), col("text"))

  test("postings store via format(\"graft\"): snapshot path resolution, " +
      "partition pruning on tp, and commit-option time travel") {
    val dir = Files.createTempDirectory("dsv2postings").toString
    PostingsStore.maintainBatch(docs.filter(col("doc_id") <= 300),
      col("doc_id"), col("text"), dir, batchId = 0L)
    PostingsStore.maintainBatch(docs.filter(col("doc_id") > 300),
      col("doc_id"), col("text"), dir, batchId = 1L)

    // CURRENT snapshot ≡ the library's own raw live read
    val viaSql = spark.read.format("graft").option("path", dir)
      .option("table", "postings.postings").load()
    val direct = spark.read.parquet(s"$dir/postings")
    assert(viaSql.count() == direct.count() && viaSql.count() > 0)
    // slice is the hive partition column, tp the data column every
    // slice is sorted by — both are columns of the table
    assert(Set("slice", "tp").subsetOf(viaSql.columns.toSet))

    // doclen joins postings into per-doc totals — plain SQL over the
    // substrate, matching a direct tokenization
    val viaDoclen = spark.read.format("graft").option("path", dir)
      .option("table", "postings.doclen").load()
    val tokCount = docs.select(col("doc_id"),
        size(graft.text.TextFunctions.tokens(col("text"))).as("n"))
      .agg(sum(col("n"))).head.getLong(0)
    assert(viaDoclen.agg(sum(col("dl"))).head.getLong(0) == tokCount)

    // a term-prefix filter pushes into the parquet scan of the
    // tp-sorted slices
    val pruned = viaSql.filter(col("tp") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\n]*EqualTo\\(tp,3\\)".r.findFirstIn(plan).isDefined,
      s"tp filter does not push into the scan:\n${plan.take(1500)}")

    // TIME TRAVEL: commit 0 reads the seed window only
    val at0 = spark.read.format("graft").option("path", dir)
      .option("table", "postings.doclen").option("commit", "0").load()
    assert(at0.count() ==
      docs.filter(col("doc_id") <= 300).count())
    // an unknown commit fails loudly at resolution
    val e = intercept[Exception](
      spark.read.format("graft").option("path", dir)
        .option("table", "postings.doclen").option("commit", "9").load())
    assert(e.getMessage.contains("no committed snapshot"))
  }

  test("ledger labels via format(\"graft\") equal the library read; " +
      "merge table via format(\"graft\") equals readMergeTable " +
      "(current AND archived snapshots)") {
    val ldir = Files.createTempDirectory("dsv2ledger").toString
    LedgerStore.maintainBatch(docs, col("doc_id"), col("text"),
      ldir, batchId = 0L)
    val viaSql = spark.read.format("graft").option("path", ldir)
      .option("table", "ledger.labels").load()
      .select(col("id"), col("comp")).collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    val viaLib = LedgerStore.load(spark, ldir)._1
      .select(col("id"), col("comp")).collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    assert(viaSql == viaLib && viaSql.nonEmpty)

    // merge table: two commits through the streaming merge path
    implicit val ctx = spark.sqlContext
    val tdir = Files.createTempDirectory("dsv2merge").toString
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val ms = MemoryStream[Env]
    // data BEFORE start (AvailableNow snapshots offsets at query start)
    ms.addData((1 to 6).map(i =>
      Env("INSERT", s"k$i", After(s"k$i", "t", i.toDouble), ts(100))): _*)
    val q = Apply.startMerge(ms.toDF(), tdir,
      Files.createTempDirectory("dsv2ck").toString,
      keyCol = "id", versionCol = "ts",
      schema = Seq(Env("INSERT", "x", After("x", "t", 1.0), ts(1))).toDF()
        .schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    q.processAllAvailable(); q.stop()
    // second commit through a fresh AvailableNow run (startMerge's
    // default trigger finishes after draining the first batch)
    val ms2 = MemoryStream[Env]
    ms2.addData(Env("INSERT", "k7", After("k7", "t", 7.0), ts(200)))
    val q2 = Apply.startMerge(ms2.toDF(), tdir,
      Files.createTempDirectory("dsv2ck2").toString,
      keyCol = "id", versionCol = "ts",
      schema = Seq(Env("INSERT", "x", After("x", "t", 1.0), ts(1))).toDF()
        .schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    q2.processAllAvailable(); q2.stop()

    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id")).collect().map(_.getString(0)).toSet
    val cur = spark.read.format("graft").option("path", tdir).load()
    assert(keysOf(cur) == keysOf(Apply.readMergeTable(spark, tdir)))
    assert(keysOf(cur).contains("k7"))
    val commit0 = Apply.commits(spark, tdir).head
    val at = spark.read.format("graft").option("path", tdir)
      .option("commit", commit0.toString).load()
    assert(keysOf(at) ==
      keysOf(Apply.readMergeTableAt(spark, tdir, commit0)))
  }

  test("semantic-ledger labels and IVF cell assignments via " +
      "format(\"graft\"): library parity, and a cell filter on the " +
      "assigned table prunes statically") {
    val embs = graft.util.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))

    val sdir = Files.createTempDirectory("dsv2sem").toString
    graft.dedup.SemLedgerStore.maintainBatch(embs, col("vec_id"),
      col("embedding"), sdir, batchId = 0L)
    def lset(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("comp")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaSql = lset(spark.read.format("graft").option("path", sdir)
      .option("table", "sem.labels").load())
    assert(viaSql == lset(graft.dedup.SemLedgerStore.load(spark, sdir)._3)
      && viaSql.nonEmpty)

    val idir = Files.createTempDirectory("dsv2ivf").toString
    graft.ann.IndexStore.ivfMaintainBatch(embs, col("vec_id"),
      col("embedding"), idir, nCentroids = 4, batchId = 0L)
    val assigned = spark.read.format("graft").option("path", idir)
      .option("table", "ivf.assigned").load()
    assert(assigned.count() ==
      graft.ann.IndexStore.loadIvf(spark, idir)._1.assigned.count())
    assert(Set("slice", "cell").subsetOf(assigned.columns.toSet))
    val plan = assigned.filter(col("cell") === 1)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell filter does not partition-prune:\n${plan.take(1500)}")
    // purged has no slices before any purge ran: fail-loud, not empty
    val e = intercept[Exception](
      spark.read.format("graft").option("path", idir)
        .option("table", "ivf.purged").load())
    assert(e.getMessage.contains("no live slices"))
  }
}
