package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.Apply

/** Reproduces the two manifest-race defects found while sizing the
  * benchmark (see DESIGN.md), beside a live merge-stream writer:
  *
  *  1. a reader polling `Apply.currentCommit` while commits land sees a
  *     checksum error on `_graft_table_meta.json` or no manifest at all
  *     (−1): the local-FS overwrite-rename deletes the target, renames
  *     the data file and renames its `.crc` in separate steps;
  *  2. a live `changes.merge` follower polls the same manifest for its
  *     latest offset; a −1 read makes it record an offset below the one
  *     before, and every restart from that checkpoint then fails with
  *     "bad change window".
  *
  * {{{ python3 perfbench/run.py --repro manifest-race --seed 1 }}}
  *
  * Prints what it observed; a race may not show on every run. */
object ManifestRace {

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val seed = args(1).toLong
    val commits = if (args.length > 2) args(2).toInt else 60
    val spark = SparkSession.builder().master("local[4]")
      .appName("graft-manifest-race")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import Trades._
    val table = s"$work/table"
    val stage = new Stage(s"$work/stage")
    val rng = new SplittableRandom(seed)
    var ver = 0L
    def batch(keys: Seq[Long]): Unit = {
      stage.hand(keys.map { k => ver += 1; envelope("MODIFY", k, ver, Some(doc(k, rng))) })
    }
    batch(0L until 1000L)
    val writer = Apply.startMerge(
      Apply.stagedStream(spark, s"$work/stage", envelopeSchema), table,
      s"$work/ck", keyCol = "trade_id", versionCol = "ver",
      schema = afterSchema, trigger = Trigger.ProcessingTime(0L))
    writer.processAllAvailable()

    // defect 1: poll the manifest while the writer commits
    val done = new AtomicBoolean(false)
    val polls, checksum, missing, other = new AtomicLong(0)
    val reader = new Thread(() => {
      while (!done.get) {
        polls.incrementAndGet()
        try {
          if (Apply.currentCommit(spark, table) < 0) missing.incrementAndGet()
        } catch {
          case NonFatal(e) =>
            val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            if (chain.exists(_.getClass.getSimpleName.contains("Checksum")))
              checksum.incrementAndGet()
            else other.incrementAndGet()
        }
      }
    })
    reader.start()
    // defect 2: a live changes.merge follower beside the writer
    val followerCk = s"$work/follow-ck"
    def follower(trigger: Trigger) =
      spark.readStream.format("graft").option("path", table)
        .option("table", "changes.merge").option("sinceCommit", "1").load()
        .writeStream.option("checkpointLocation", followerCk).trigger(trigger)
        .foreachBatch((df: DataFrame, _: Long) => { df.count(); () })
        .start()
    // keep the live follower running as a supervisor would: restart it
    // from its checkpoint whenever it dies, and record why it died
    var live = follower(Trigger.ProcessingTime(0L))
    var restarts = 0
    val errors = scala.collection.mutable.LinkedHashMap[String, Int]()
    def supervise(): Unit = if (!live.isActive) {
      val why = live.exception.map(e => firstLine(e).replaceAll("[0-9a-f-]{36}", "<id>"))
        .getOrElse("stopped")
      errors(why.take(160)) = errors.getOrElse(why.take(160), 0) + 1
      restarts += 1
      live = try follower(Trigger.ProcessingTime(0L))
        catch { case NonFatal(e) => live }
    }
    (1 to commits).foreach { _ =>
      batch(Seq.fill(20)(rng.nextInt(1000).toLong).distinct)
      writer.processAllAvailable()
      supervise()
    }
    done.set(true)
    reader.join()
    Thread.sleep(2000)
    supervise()
    live.stop()
    writer.stop()
    println(s"defect 1: ${polls.get} currentCommit polls over $commits commits: " +
      s"${checksum.get} checksum errors, ${missing.get} missing-manifest (-1) reads, " +
      s"${other.get} other errors")
    val offsets = new java.io.File(s"$followerCk/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      .map { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().toSeq.last finally src.close()
      }
    val commitsLogged = offsets.flatMap(""""commit":(-?\d+)""".r.findFirstMatchIn(_))
      .map(_.group(1).toLong).toSeq
    val regressions = commitsLogged.sliding(2).count {
      case Seq(a, b) => b < a
      case _ => false
    }
    println(s"defect 2: follower offset log ${commitsLogged.mkString(",")}; " +
      s"$regressions regression(s); $restarts follower restart(s)")
    errors.foreach { case (why, n) => println(s"defect 2: follower died ${n}x: $why") }
    val restart = try {
      val q = follower(Trigger.AvailableNow())
      try { q.processAllAvailable(); "restart drained cleanly" } finally q.stop()
    } catch { case NonFatal(e) => s"restart failed: ${firstLine(e)}" }
    println(s"defect 2: $restart")
    spark.stop()
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption().getOrElse("")
}
