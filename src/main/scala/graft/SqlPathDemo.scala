package graft

import java.nio.file.Files

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cdc.Reconcile
import graft.ingest.CsvNormalize

/** The reference's flagship SQL-path pipeline (SURVEY.md §3.1) end to end:
  * CSV scan → header normalization → all-varchar landing → append-only
  * replays on a cadence (the reference re-inserts the same 24 rows every
  * 5 minutes) → typed analytical view → running-balance recomputation →
  * count + multiset reconciliation.
  * Run: `sbt "runMain graft.SqlPathDemo <txns.csv> [replays]"`.
  */
object SqlPathDemo {
  def main(args: Array[String]): Unit = {
    val fixture = args.headOption.getOrElse(sys.error("pass path to a txns csv"))
    val replays = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Session.local(Session.envCpus)

    // 1. S1-S3: scan + normalize + all-varchar landing.
    val raw = CsvNormalize.readRaw(spark, fixture)
    val perBatch = raw.count()
    println(s"[landing] columns=${raw.columns.mkString(",")}")
    println(s"[landing] rows/batch=$perBatch (all-varchar: ${raw.schema.fields.forall(_.dataType.typeName == "string")})")

    // 2. S4/T1: append-only replays into the warehouse table — the
    //    reference's 5-minute EventBridge cadence collapsed into a loop.
    val wh = Files.createTempDirectory("graft-sqlpath").toString
    (1 to replays).foreach { _ =>
      raw.write.mode("append").parquet(wh)
    }
    val landed = spark.read.parquet(wh)
    println(s"[warehouse] rows=${landed.count()} (expect ${replays}x$perBatch — append-only, no dedup)")

    // 3. Reconciliation (A1 + exceptAll, §3.3): landed multiset must be
    //    exactly `replays` copies of the source.
    val expected = (1 until replays).foldLeft(raw)((acc, _) => acc.unionAll(raw))
    val rep = Reconcile.report(expected, landed)
    println(s"[reconcile] counts=${rep.countsMatch} exact=${rep.exactMatch}")

    // 4. Typed view + W1: recompute the running balance and check it
    //    against the materialized balance_amt column (single replay —
    //    the balance invariant is per-file-order).
    // ingest order is the tiebreaker: several same-date transactions per
    // account are common, and date alone would make the frame (and the
    // recomputed sum) nondeterministic (round-2 advice).
    val typed = CsvNormalize.typedTxns(CsvNormalize.readRaw(spark, fixture))
      .withColumn("ingest_seq", monotonically_increasing_id())
    val w = Window.partitionBy(col("account_no")).orderBy(col("date"), col("ingest_seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // seed with the account's opening balance (first balance minus its own
    // delta) instead of assuming accounts start at zero
    val delta = coalesce(col("deposit_amt"), lit(0)) - coalesce(col("withdrawal_amt"), lit(0))
    val recomputed = typed
      .withColumn("opening", first(col("balance_amt") - delta).over(w))
      .withColumn("recalc", col("opening") + sum(delta).over(w))
    val bad = recomputed.filter(col("recalc") =!= col("balance_amt")).count()
    println(s"[balance] mismatching rows=$bad (expect 0: balance_amt IS the running sum)")
    spark.stop()
  }
}
