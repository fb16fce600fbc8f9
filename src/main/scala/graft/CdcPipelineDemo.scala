package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.cdc.{Apply, Capture, Envelope, Reconcile}
import graft.ingest.JsonTrades
import graft.model.Schemas

/** End-to-end CDC pipeline over the trades fixture — the reference's two
  * phases (§3.1/§3.2) in one process: document ingest → change envelopes →
  * routed staging (NDJSON + markers) → streamed apply → warehouse →
  * reconciliation. Run: `sbt "runMain graft.CdcPipelineDemo <trades.json>"`.
  */
object CdcPipelineDemo {
  def main(args: Array[String]): Unit = {
    val fixture = args.headOption.getOrElse(
      getClass.getClassLoader.getResource("trades_fixture.json") match {
        case null => sys.error("pass path to a trades fixture json")
        case u => u.getPath
      })
    val spark = Session.local(Session.envCpus)

    val stage = Files.createTempDirectory("graft-stage").toString
    val wh = Files.createTempDirectory("graft-wh").toString
    val ck = Files.createTempDirectory("graft-ck").toString

    // 1. Document ingest (S5): 8 trades, optional ticket lands null.
    val trades = JsonTrades.readTradesFile(spark, fixture)
    println(s"[ingest] trades=${trades.count()} null_ticket=${trades.filter(col("ticket").isNull).count()}")

    // 1b. Tagged-wire decode (P3): the DynamoDB NEW_IMAGE form round-trips
    //     through the tag codec back to the landing schema.
    import spark.implicits._
    val taggedWire =
      """{"id": {"S": "abc123"}, "price": {"N": "99.5"}, "shares": {"N": "10"},
        | "ticker": {"S": "demo"},
        | "details": {"M": {"asks": {"L": [{"N": "99.6"}]}, "bids": {"L": [{"N": "99.4"}]},
        |                   "lag": {"N": "0"}, "system": {"S": "demo"}}},
        | "time": {"M": {"date": {"S": "2013-05-11T09:30:00.000Z"}}}}""".stripMargin.replace("\n", "")
    val decoded = cdc.DynamoTags.decode(
      spark.read.schema(cdc.DynamoTags.taggedSchema(Schemas.tradesLanding))
        .json(Seq(taggedWire).toDS()),
      Schemas.tradesLanding)
    println(s"[tag-decode] rows=${decoded.count()} price=${decoded.select("price").collect()(0).getDouble(0)}")

    // 2. Turn batch 1 into INSERT envelopes, batch 2 (replay) into MODIFYs
    //    — the reference replays the same ids every 5 minutes (T4).
    def envelopes(op: String) = trades.select(
      lit(op).as("op"), col("id").as("key"),
      struct(trades.columns.map(col).toIndexedSeq: _*).as("after"),
      current_timestamp().as("ts"))
    val b1 = Capture.stageBatch(Envelope.route(envelopes("INSERT")), stage)
    val b2 = Capture.stageBatch(Envelope.route(envelopes("MODIFY")), stage)
    val b3 = Capture.stageBatch(Envelope.route(envelopes("REMOVE")), stage) // all dropped -> marker
    println(s"[stage] $b1\n[stage] $b2\n[stage] $b3")

    // 3. Apply: snapshot (empty) + streamed CDC appends.
    val q = Apply.startAppend(
      Apply.stagedStream(spark, stage, Schemas.tradesLanding), wh, ck)
    q.awaitTermination()
    val landed = spark.read.schema(Schemas.tradesLanding).parquet(wh)
    println(s"[warehouse] rows=${landed.count()} (expect 16: 8 INSERT + 8 MODIFY, REMOVEs dropped)")

    // 4. Reconciliation: staged source vs landed target.
    val source = JsonTrades.readNdjson(spark, s"$stage/*_records")
    val rep = Reconcile.report(source, landed)
    println(s"[reconcile] source=${rep.sourceCount} target=${rep.targetCount} " +
      s"missing=${rep.missingInTarget} extra=${rep.extraInTarget} exact=${rep.exactMatch}")

    // 5. Improved mode: latest-state view.
    val latest = Envelope.latestByKey(landed, col("id"), col("price"))
    println(s"[latest-state] rows=${latest.count()} (expect 8)")
    spark.stop()
  }
}
