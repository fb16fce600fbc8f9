package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.dedup.Dedup
import graft.util.Tables

/** Plan-shape regression gates for the load-bearing scale claims that
  * previously lived only in PLANS.md prose (round-8 verdict #4): each
  * test greps the executedPlan for the property the operator's 100 TB
  * story depends on, so a future edit that silently re-shuffles or
  * un-pushes a filter FAILS here instead of surviving as a wrong
  * comment. The Interval/Overlap no-third-exchange twins live in
  * IntervalJoinPlanSpec / OverlapJoinPlanSpec — this spec extends that
  * pattern to the q130 delta scan, the q181 greedy-coverage round, and
  * the two-pass global-numbering family (q104 / q182).
  */
class PlanInvariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val d = "/root/testdata/sf0.001"

  test("q130's delta shingling reads ONLY the delta: the base/delta cut " +
      "reaches the parquet scan as a pushed filter") {
    // the incremental ledger's whole claim is delta-sized timed work; if
    // the cut predicate stops reaching the scan, the 'delta' silently
    // becomes a full corpus read (the round-7 weak, re-fixed in round 8)
    val base = graft.text.TextQueries.incrementalBase(spark, d)
    val delta = Tables.documents(spark, d).filter(!(col("doc_id") < base.cut))
    val plan = Dedup.minhashSigSets(delta, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(doc_id".r
      .findFirstIn(plan).isDefined,
      s"delta cut not pushed to the scan:\n${plan.take(2000)}")
  }

  test("q181's per-round anti join broadcasts the covered set; the cached " +
      "corpus side never re-shuffles") {
    // the greedy-coverage round: covered is bounded by K docs' shingles
    // (broadcast), the corpus shingle table is persisted once — a round
    // must be a broadcast-hash probe, not an exchange of the corpus
    val sh = Dedup.shingleRows(Tables.documents(spark, d),
        col("doc_id"), col("text"), 3)
      .select(col("id"), col("sh")).distinct()
      .persist()
    try {
      sh.count() // materialize: rounds probe the cache, as q181 does
      val covered = sh.select(col("sh")).limit(3).localCheckpoint(true)
      val round = sh.join(broadcast(covered), Seq("sh"), "left_anti")
        .groupBy(col("id")).agg(count(lit(1)).as("gain"))
      val plan = round.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"covered side not broadcast:\n${plan.take(2000)}")
      // the plan string embeds the InMemoryRelation's ORIGINAL build plan
      // (whose shingle window legitimately exchanged once, at build time);
      // the round's own operators are everything above the cache scan
      val aboveCache = plan.split("InMemoryRelation", 2)(0)
      assert(!aboveCache.contains("Exchange hashpartitioning"),
        s"corpus side re-shuffles inside a round:\n${aboveCache.take(2000)}")
    } finally sh.unpersist()
  }

  test("two-pass global numbering (q104 epoch shuffle, q182 equi-depth) " +
      "plans no single-partition stage") {
    // the Scale.withGlobalRowNumber/withGlobalNtile claim: global order
    // derives from per-partition numbering + broadcast offsets — a bare
    // global window would plan Exchange SinglePartition and serialize
    // the whole table through one task at 100 TB
    for (q <- Seq("q104_epoch_shuffle", "q182_equidepth")) {
      val plan = graft.SparkEntry.queries(q)(spark, d)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"),
        s"$q plans a single-partition stage:\n${plan.take(2000)}")
      assert(plan.contains("Window"),
        s"$q lost its windowed numbering stage:\n${plan.take(500)}")
    }
  }

  test("q261/q264 snapshot reads keep the term-prefix partition prune: " +
      "time travel must not cost the static pruning the layout exists for") {
    // the archived-manifest path resolves a different window but the
    // SAME tp-sorted layout — if the pushdown stops planning, every
    // as-of query reads the whole index instead of its terms' prefixes
    graft.SparkEntry.queries("q261_bm25_asof")(spark, d).collect()
    val dir = graft.text.TextQueries.pipelineDir(spark, d)
    val plan = graft.text.PostingsStore.bm25QueryAt(spark,
        s"$dir/postings",
        graft.util.PipelineLedger.readSet(spark, dir).stores("postings"),
        Seq("fast", "merge", "table"), 10)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\n]*In\\(tp, ".r.findFirstIn(plan).isDefined,
      s"snapshot postings scan does not push the tp filter:\n${plan.take(1500)}")
  }

  test("q263's decontamination probe is a bucket equi-join, never " +
      "all-pairs: no cartesian/nested-loop stage in the plan") {
    // the SemDeDup plan pointed at the eval axis: candidates come from
    // a shared-bucket equality join; a cartesian train x eval product
    // would be the 100 TB scale-killer this blocking exists to avoid
    val plan = graft.SparkEntry.queries("q263_sem_decontaminate")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q263 plans an all-pairs stage:\n${plan.take(2000)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"q263 lost its bucket equi-join:\n${plan.take(500)}")
  }
}
