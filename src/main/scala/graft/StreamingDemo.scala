package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.StreamOps

/** Streaming analytics driven end-to-end over the testdata events table:
  * the parquet file is replayed as a bounded stream (Trigger.AvailableNow)
  * through the watermarked window/session/join operators — the same code
  * that would run continuously against a live source at scale.
  * Run: `sbt "runMain graft.StreamingDemo [sfDir]"`.
  */
object StreamingDemo {

  /** events.parquet carries a naive `timestamp[us]`; declare `ts` directly
    * as (session-zoned) TimestampType — under the contract's UTC session
    * zone the stored microseconds are read verbatim (same convention as
    * Tables.events). */
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(Session.envCpus)

    // streaming file source wants a directory; glob-filter to the events
    // table inside the sf dir
    def eventsStream = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)

    def runToMemory(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).count()
    }

    val tumbling = runToMemory(StreamOps.tumblingAgg(eventsStream), "demo_tumbling")
    println(s"[tumbling] closed 1h windows: $tumbling")
    val sessions = runToMemory(StreamOps.sessionAgg(eventsStream), "demo_sessions")
    println(s"[sessions] closed 30min-gap sessions: $sessions")
    val joined = runToMemory(StreamOps.purchaseClickJoin(eventsStream), "demo_ssjoin")
    println(s"[stream-stream join] purchase-click matches: $joined")

    // transformWithState sessionizer (needs the RocksDB state store)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import org.apache.spark.sql.Encoders
    val typed = eventsStream
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      .withWatermark("ts", "10 minutes")
      .as(Encoders.product[StreamOps.Evt])
    val tws = runToMemory(
      StreamOps.sessionizeTws(typed, gapSeconds = 1800,
        eventTimeTimers = true).toDF(), "demo_tws")
    println(s"[transformWithState] closed sessions (incl. timer-closed trailing): $tws")
    spark.stop()
  }
}
