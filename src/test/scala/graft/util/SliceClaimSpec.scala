package graft.util

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ann.IndexStore
import graft.dedup.{LedgerStore, SemLedgerStore}
import graft.text.PostingsStore
import graft.warehouse.GraphStore

/** Crash orphans at the slice ids an UPSERT claims, for every slice
  * store. The ledgered slice write lands the upsert's tombstone at slice
  * S and its data at S+1; a fold that crashed after its data write can
  * have left an orphan data slice at S, and a purge that crashed after
  * its tombstone write an orphan tombstone at S+1. Both ids are claimed
  * before the commit advances the window past them: after the upsert
  * neither orphan is live — the orphan data does not double any row,
  * the orphan tombstone hides no key — and the store's stats count
  * exactly the live rows.
  */
class SliceClaimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)
    .select(col("doc_id").as("id"), col("text"))
  private def vecs = Tables.embeddings(spark, sf)
    .select(col("vec_id").as("id"), col("embedding").as("v"))
  private def ords = Tables.lineitem(spark, sf)
    .select(col("l_orderkey").as("id"), col("l_partkey").as("item"))

  /** One store: `seed` folds keys `keys` as batch 0; `upsert` re-lands
    * `ups` with new content and removes `rem` as batch 1; `tables` are
    * its data tables and `purged` its tombstone table (keyed by `key`,
    * paths relative to the store dir); `slices` reads its window's end;
    * `live` reads its live rows (column `id`); `stat` is the row count
    * its manifest claims (None: the store keeps none). */
  private case class Store(name: String, tables: Seq[String], purged: String,
      key: String, slices: String => Long, seed: (String, Seq[Long]) => Any,
      upsert: (String, Seq[Long], Seq[Long]) => Any,
      live: String => DataFrame, stat: String => Option[Long])

  private def in(keys: Seq[Long]) = col("id").isin(keys: _*)
  /** `src` rows under the ids `keys` take the content of the rows at
    * `keys + shift` — a re-ingest with changed content. */
  private def shifted(src: DataFrame, keys: Seq[Long], shift: Long) =
    src.filter(in(keys.map(_ + shift))).withColumn("id", col("id") - shift)

  private val stores = Seq(
    Store("postings", Seq("postings", "doclen"), "purged", "id",
      PostingsStore.Manifest.get(spark, _).slices,
      (dir, keys) => PostingsStore.maintainBatch(docs.filter(in(keys)),
        col("id"), col("text"), dir, batchId = 0L),
      (dir, ups, rem) => PostingsStore.upsertBatch(shifted(docs, ups, 100L),
        col("id"), col("text"), rem.toDF("id"), dir, batchId = 1L),
      dir => PostingsStore.docLengths(spark, dir),
      dir => PostingsStore.meta(spark, dir).map(_.nDocs)),
    Store("ledger", Seq("sigs", "postings"), "purged", "id",
      LedgerStore.Manifest.get(spark, _).slices,
      (dir, keys) => LedgerStore.maintainBatch(docs.filter(in(keys)),
        col("id"), col("text"), dir, batchId = 0L),
      (dir, ups, rem) => LedgerStore.upsertDocs(shifted(docs, ups, 100L),
        col("id"), col("text"), rem.toDF("id"), dir, batchId = 1L),
      dir => LedgerStore.load(spark, dir)._2,
      dir => LedgerStore.meta(spark, dir).map(_.rows)),
    Store("sem", Seq("vecs", "pairs"), "purged", "id",
      SemLedgerStore.Manifest.get(spark, _).slices,
      (dir, keys) => SemLedgerStore.maintainBatch(vecs.filter(in(keys)),
        col("id"), col("v"), dir, batchId = 0L),
      (dir, ups, rem) => SemLedgerStore.upsertVecs(shifted(vecs, ups, 100L),
        col("id"), col("v"), rem.toDF("id"), dir, batchId = 1L),
      dir => SemLedgerStore.load(spark, dir)._1,
      dir => SemLedgerStore.meta(spark, dir).map(_.rows)),
    Store("graph", Seq("items", "pairs"), "purged", "ord",
      GraphStore.Manifest.get(spark, _).slices,
      (dir, keys) => GraphStore.maintainBatch(ords.filter(in(keys)),
        col("id"), col("item"), dir, batchId = 0L),
      (dir, ups, rem) => GraphStore.upsertOrders(
        ords.filter(in(ups)).withColumn("item", col("item") + 1000000L),
        col("id"), col("item"), rem.toDF("ord"), dir, batchId = 1L),
      dir => GraphStore.load(spark, dir)._1.withColumnRenamed("ord", "id"),
      _ => None),
    Store("ivf", Seq("gen=0/assigned"), "gen=0/purged", "vid",
      IndexStore.Manifest.get(spark, _).slices,
      (dir, keys) => IndexStore.ivfMaintainBatch(vecs.filter(in(keys)),
        col("id"), col("v"), dir, nCentroids = 4, batchId = 0L),
      (dir, ups, rem) => IndexStore.upsertVectors(shifted(vecs, ups, 100L),
        col("id"), col("v"), rem.toDF("vid"), dir, batchId = 1L),
      dir => IndexStore.loadIvf(spark, dir)._1.assigned
        .withColumnRenamed("vid", "id"),
      dir => IndexStore.meta(spark, dir).map(_.rows)))

  /** The graph's live pair counts against a rebuild from its live lines
    * (its pair Δ-slices carry no row stat of their own). */
  private def graphPairsExact(dir: String): Unit = {
    val (items, pairs, _) = GraphStore.load(spark, dir)
    val rebuilt = items.as("a").join(items.as("b"),
        col("a.ord") === col("b.ord") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("u"), col("b.item").as("v"))
      .agg(count(lit(1)).as("n_ab"))
    assert(pairs.select("u", "v", "n_ab").exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(pairs.select("u", "v", "n_ab")).isEmpty,
      "graph: pair counts must be exactly the live baskets' pairs")
  }

  stores.foreach { st =>
    test(s"${st.name}: an upsert claims a crashed fold's orphan data at " +
        "its tombstone id and a crashed purge's orphan tombstone at its " +
        "data id") {
      val dir = Files.createTempDirectory(s"claim${st.name}").toString
      val keys =
        if (st.name == "graph") ords.select(col("id")).distinct()
          .orderBy(col("id")).limit(12).collect().map(_.getLong(0)).toSeq
        else 1L to 30L
      st.seed(dir, keys)
      val liveBefore = st.live(dir).count()
      val s = st.slices(dir)
      val ups = keys.take(2)
      val rem = keys.slice(2, 3)
      val victims = keys.slice(3, 5)
      // the crashed fold: a copy of the seed slice at the upsert's
      // tombstone id S; the crashed purge: a tombstone naming two
      // untouched live keys at its data id S+1
      val hc = Hfs.conf(spark)
      val fs = FileSystem.getLocal(hc)
      st.tables.foreach { t =>
        assert(FileUtil.copy(fs, new HPath(s"$dir/$t/slice=0"), fs,
          new HPath(s"$dir/$t/slice=$s"), false, hc))
      }
      victims.toDF(st.key).write.parquet(s"$dir/${st.purged}/slice=${s + 1}")
      st.upsert(dir, ups, rem)
      val live = st.live(dir)
      val liveKeys = live.select(col("id")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(liveKeys == keys.toSet -- rem,
        s"${st.name}: the orphan tombstone must not hide ${victims.mkString(", ")}")
      val n = live.count()
      st.name match {
        case "graph" =>
          // the re-landed baskets carry their new line sets; every
          // other basket keeps its seed lines once
          val expected = ords.filter(in(keys.diff(rem ++ ups))).count() +
            ords.filter(in(ups)).distinct().count()
          assert(n == expected, s"graph: $n live lines, expected $expected")
          graphPairsExact(dir)
        case _ =>
          assert(n == liveBefore - rem.size,
            s"${st.name}: the orphan data slice must not double any row")
          assert(st.stat(dir).contains(n),
            s"${st.name}: stats ${st.stat(dir)} must count the $n live rows")
      }
    }
  }
}
