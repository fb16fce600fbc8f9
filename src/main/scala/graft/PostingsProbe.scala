package graft
// Dev probe: does the persisted inverted index (PostingsStore) actually
// buy anything over q215's full recompute? Measures wall time and
// task-level input bytes/records for (a) the full-corpus bm25 recompute
// and (b) the same query served from the stored postings at sf0.1.
// The index's claim: query cost tracks the QUERY TERMS' postings (+ the
// doclen join), not the corpus tokenization. Recorded at sf0.1 (5,000
// docs, local[32] on 4 vCPUs): the seed slice is one 280 KB file of one
// row group, so the pushed tp filter skips nothing in it and the stored
// query reads the whole slice (138,736 bytes, 157,462 records, 2.2-2.3 s
// warm); the earlier 64-directory layout opened the query's 3 prefix
// directories (34,704 bytes, 35,848 records, 2.1 s warm).
// The SkewProbe standard: recorded numbers, either direction.
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.text.{LmQueries, PostingsStore}
import graft.util.Tables

object PostingsProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = java.nio.file.Files.createTempDirectory("postingsprobe").toString
    val docs = Tables.documents(spark, sf)
    // build OUTSIDE the measured window (an index exists to amortize)
    PostingsStore.maintainBatch(docs, col("doc_id"), col("text"), dir,
      batchId = 0L)
    val terms = Seq("fast", "merge", "table")

    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val recs = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        bytes.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.bytesRead)
        recs.addAndGet(sc.stageInfo.taskMetrics.inputMetrics.recordsRead)
      }
    }
    def measure(label: String)(f: => Unit): Unit = {
      bytes.set(0); recs.set(0)
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(listener)
      try { f; Thread.sleep(1000) } // listener events are async
      finally spark.sparkContext.removeSparkListener(listener)
      println(f"POSTINGSPROBE $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
        f"bytesRead=${bytes.get()}%10d recordsRead=${recs.get()}%9d")
    }
    println(s"corpus: ${docs.count()} docs; query terms: ${terms.mkString(",")}")
    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      measure("full recompute (q215)") {
        LmQueries.bm25(docs, col("doc_id"), col("text"), terms, 10).collect()
      }
      measure("stored postings (pruned)") {
        PostingsStore.bm25Query(spark, dir, terms, 10).collect()
      }
    }
    spark.stop()
  }
}
