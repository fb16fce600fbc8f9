package graft.util

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.spark
import graft.text.TextQueries

/** The unified maintenance registry (round-7 verdict #7): one
  * registration point for every build-once/probe-forever state, with
  * warm / invalidate / inspect — including the q130-class staleness
  * protection (a corpus regenerated IN PLACE is refreshed by an explicit
  * invalidate, after which the next access rebuilds from current files).
  */
class MaintenanceSpec extends AnyFunSuite {

  test("getOrBuild builds once per (name, session, dir); invalidate forces a rebuild") {
    var builds = 0
    def get(): Int = Maintenance.getOrBuild("spec_counter", spark, "/tmp/spec_d0") {
      builds += 1; Integer.valueOf(builds)
    }.intValue()
    assert(get() == 1)
    assert(get() == 1, "second access must hit the memo")
    assert(builds == 1)
    assert(Maintenance.invalidate("spec_counter", spark, "/tmp/spec_d0"))
    assert(get() == 2, "post-invalidate access must rebuild")
    assert(!Maintenance.invalidate("spec_counter", spark, "/tmp/never_built"),
      "invalidate on absent state reports false")
  }

  test("state is keyed by corpus dir: one path never sees another path's state") {
    Maintenance.getOrBuild("spec_dir_key", spark, "/tmp/spec_dA")("A")
    val b = Maintenance.getOrBuild("spec_dir_key", spark, "/tmp/spec_dB")("B")
    assert(b == "B")
    val a = Maintenance.getOrBuild("spec_dir_key", spark, "/tmp/spec_dA") {
      fail("dir A's state must still be memoized"): String
    }
    assert(a == "A")
  }

  test("invalidateDir drops every state for that dir and only that dir") {
    Maintenance.getOrBuild("spec_ida", spark, "/tmp/spec_d1")("A")
    Maintenance.getOrBuild("spec_idb", spark, "/tmp/spec_d1")("B")
    Maintenance.getOrBuild("spec_ida", spark, "/tmp/spec_d2")("A2")
    assert(Maintenance.invalidateDir(spark, "/tmp/spec_d1") == 2)
    val a2 = Maintenance.getOrBuild("spec_ida", spark, "/tmp/spec_d2") {
      fail("the other dir's state must survive"): String
    }
    assert(a2 == "A2")
    // d1 is really gone: next access rebuilds
    var rebuilt = false
    Maintenance.getOrBuild("spec_ida", spark, "/tmp/spec_d1") { rebuilt = true; "A'" }
    assert(rebuilt)
  }

  test("incrementalBase routes through the registry: inspect sees it, invalidate unpersists it") {
    val d = "/root/testdata/sf0.001"
    Maintenance.invalidate("incrementalBase", spark, d) // clean slate
    assert(!Maintenance.inspect(spark, d).find(_.name == "incrementalBase").get.built)
    val base = TextQueries.incrementalBase(spark, d)
    assert(Maintenance.inspect(spark, d).find(_.name == "incrementalBase").get.built)
    // the data-derived cut: first ~90% of the id space is "on disk"
    assert(base.cut == 499L * 9 / 10)
    assert(base.labels.storageLevel != StorageLevel.NONE, "labels are materialized state")
    assert(base.sigs.storageLevel != StorageLevel.NONE, "signature store is materialized state")
    assert(Maintenance.invalidate("incrementalBase", spark, d))
    assert(base.labels.storageLevel == StorageLevel.NONE, "invalidate unpersists nested frames")
    assert(base.sigs.storageLevel == StorageLevel.NONE)
    // rebuild from current files works and agrees
    val again = TextQueries.incrementalBase(spark, d)
    assert(again.cut == base.cut)
  }

  test("every registered maintenance state has a distinct name and inspect covers all of them") {
    val names = Maintenance.registered.map(_._1)
    assert(names.distinct == names)
    assert(names.toSet == Set("dedupLedger", "incrementalBase", "semanticLedger",
      "ledgerStoreSeed", "ledgerUpsertSeed",
      "ivfIndex", "pqIndex", "ivfPqIndex", "ivfPqBase",
      "ivfPqStoreSeed", "semStoreSeed", "semUpsertSeed", "semDecontamSeed",
      "ivfUpsertSeed", "ivfPqUpsertSeed",
      "cascadeMergeSeed", "semCascadeSeed", "ivfCascadeSeed",
      "cascadeSetSeed", "cascadeSetAllSeed",
      "postingsStoreSeed", "procStoreSeed", "mergeFeedSeed", "sqlInsertSeed",
      "sqlDeleteSeed", "sqlUpdateSeed", "sqlMergeSeed", "sqlDeletePredSeed",
      "sqlLifecycleSeed", "sqlEvolutionSeed", "sqlOverwriteSeed",
      "sqlReplaceWhereSeed", "sqlReplaceSeed", "sqlTruncateSeed",
      "sqlDropColSeed", "sqlMigrateSeed", "sinkStreamSeed",
      "upsertStoreSeed", "graphStoreSeed", "graphCascadeSeed",
      "linkageLedger", "linkageBase", "shardExportSeed", "pipelineSeed",
      "zorderLayout", "bucketedPair", "coPurchasePairs", "lpaLabels",
      "edgeBase"))
    val report = Maintenance.inspect(spark, "/tmp/spec_uncovered")
    assert(report.map(_.name).toSet == names.toSet)
    assert(report.forall(!_.built))
  }

  test("ingestion refresh policy: the memo grows in place below 2x and " +
      "invalidates at the doubling threshold; rebuild restores base") {
    val d = "/root/testdata/sf0.001"
    import graft.ann.AnnQueries
    Maintenance.invalidate("ivfIndex", spark, d) // clean slate
    val base = AnnQueries.ivfIndex(spark, d).assigned.count()
    assert(Maintenance.growthOf("ivfIndex", spark, d).contains(
      Maintenance.Growth(base, 0L)))
    // ingest ~60% of base (shifted ids so nothing collides): UNDER the
    // doubling threshold -> the grown index replaces the memo in place
    def shifted(n: Long, off: Long) =
      Tables.embeddings(spark, d).filter(col("vec_id") =!= 0)
        .limit(n.toInt)
        .select((col("vec_id") + off).as("vec_id"), col("embedding"))
    val d1 = base * 6 / 10
    val (grown1, fired1) = AnnQueries.ivfIngest(spark, d, shifted(d1, 100000L))
    assert(!fired1, "60% growth must not trigger the rebuild policy")
    assert(grown1.assigned.count() == base + d1)
    assert(AnnQueries.ivfIndex(spark, d).assigned.count() == base + d1,
      "the memo must hold the GROWN index (in-place update)")
    assert(Maintenance.growthOf("ivfIndex", spark, d).contains(
      Maintenance.Growth(base, d1)))
    // an ingested vector is retrievable from the grown index BETWEEN
    // refreshes (correctness never at stake — the q243 contract); probed
    // before the policy fires, which unpersists the superseded frames
    assert(grown1.assigned.filter(col("vid") > 100000L).count() == d1)
    // second ingest crosses base + inserted >= 2x base: policy fires,
    // memo invalidates, the NEXT accessor call re-trains from files
    val d2 = base - d1 // exactly reaches the doubling threshold
    val (_, fired2) = AnnQueries.ivfIngest(spark, d, shifted(d2, 200000L))
    assert(fired2, "reaching 2x base must trigger the rebuild policy")
    assert(!Maintenance.inspect(spark, d).find(_.name == "ivfIndex").get.built)
    val rebuilt = AnnQueries.ivfIndex(spark, d)
    assert(rebuilt.assigned.count() == base,
      "rebuild re-trains from the corpus files (shifted ids were external)")
    assert(Maintenance.growthOf("ivfIndex", spark, d).contains(
      Maintenance.Growth(base, 0L)), "rebuild opens a fresh growth window")
  }

  test("q130's incremental fold over the registry state equals a full recompute") {
    val d = "/root/testdata/sf0.001"
    val inc = TextQueries.queries("q130_incremental_components")(spark, d)
      .select(col("doc_id"), col("comp"))
    val docs = Tables.documents(spark, d)
    val pairs = graft.dedup.Dedup.minhashNearDups(docs, col("doc_id"), col("text"),
      threshold = 0.5, bands = 16, maxBucketSize = Int.MaxValue)
    val lbl = graft.dedup.Dedup.components(pairs, col("a_id"), col("b_id"))
    val full = docs
      .join(lbl.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
    assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0)
  }

  test("requireUniqueUpserts: exact duplicates collapse to one row per " +
      "id, conflicting rows for one id fail loudly") {
    import spark.implicits._
    val batch = Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"), (3L, "c"))
      .toDF("id", "text")
    val unique = Maintenance.requireUniqueUpserts(batch, "id", "spec")
    assert(unique.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(unique.count() == 3L) // a second read agrees
    val e = intercept[IllegalArgumentException] {
      Maintenance.requireUniqueUpserts(
        Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "B")).toDF("id", "text"),
        "id", "spec")
    }
    assert(e.getMessage.contains("spec upsert batch carries CONFLICTING " +
      "rows for the same id (e.g. 2)"))
  }
}
