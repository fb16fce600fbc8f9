package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.cdc.Apply

/** Trades-shaped NoSQL documents and their NDJSON change envelopes
  * (the shape a DynamoDB stream handler stages). */
object Trades {
  final case class Leg(venue: String, qty: Long)
  final case class Doc(id: Long, ticker: String, side: String, qty: Long,
      priceCents: Long, ts: Long, accountId: Long, region: String,
      legs: Seq[Leg])

  val afterSchema: StructType = StructType(Seq(
    StructField("trade_id", LongType), StructField("ticker", StringType),
    StructField("side", StringType), StructField("qty", LongType),
    StructField("price_cents", LongType), StructField("ts", LongType),
    StructField("account", StructType(Seq(
      StructField("id", LongType), StructField("region", StringType)))),
    StructField("legs", ArrayType(StructType(Seq(
      StructField("venue", StringType), StructField("qty", LongType)))))))

  val envelopeSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("key", LongType),
    StructField("ver", LongType), StructField("after", afterSchema)))

  private val tickers = (0 until 64).map(i => f"T$i%03d")
  private val regions = Seq("us-east", "us-west", "eu", "apac")
  private val venues = Seq("XNYS", "XNAS", "BATS", "ARCX", "IEXG")

  def doc(id: Long, rng: SplittableRandom): Doc = Doc(id,
    tickers(rng.nextInt(tickers.size)), if (rng.nextBoolean()) "BUY" else "SELL",
    1L + rng.nextInt(1000), 100L + rng.nextInt(100000),
    1700000000000L + rng.nextInt(1 << 30), 1L + rng.nextInt(5000),
    regions(rng.nextInt(regions.size)),
    Seq.fill(1 + rng.nextInt(3))(Leg(venues(rng.nextInt(venues.size)),
      1L + rng.nextInt(500))))

  def json(d: Doc): String = {
    val legs = d.legs.map(l => s"""{"venue":"${l.venue}","qty":${l.qty}}""")
      .mkString("[", ",", "]")
    s"""{"trade_id":${d.id},"ticker":"${d.ticker}","side":"${d.side}",""" +
      s""""qty":${d.qty},"price_cents":${d.priceCents},"ts":${d.ts},""" +
      s""""account":{"id":${d.accountId},"region":"${d.region}"},"legs":$legs}"""
  }

  def envelope(op: String, key: Long, ver: Long, d: Option[Doc]): String =
    s"""{"op":"$op","key":$key,"ver":$ver,"after":${d.map(json).getOrElse("null")}}"""

  /** A stored row of the merge table (after-image + `_version`). */
  def fromRow(r: Row): (Doc, Long) = {
    val acct = r.getAs[Row]("account")
    val legs = r.getAs[scala.collection.Seq[Row]]("legs").toSeq
      .map(l => Leg(l.getString(0), l.getLong(1)))
    (Doc(r.getAs[Long]("trade_id"), r.getAs[String]("ticker"),
      r.getAs[String]("side"), r.getAs[Long]("qty"),
      r.getAs[Long]("price_cents"), r.getAs[Long]("ts"), acct.getLong(0),
      acct.getString(1), legs), r.getAs[Long]("_version"))
  }
}

/** Staged NDJSON files picked up by one long-running merge stream. */
final class Stage(dir: String) {
  Files.createDirectories(Paths.get(dir))
  private var n = 0

  /** Write the batch under a hidden name, then rename it into view, so
    * the file source never lists a half-written file. Returns bytes. */
  def hand(lines: Seq[String]): Long = {
    n += 1
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val tmp = Paths.get(dir, f".b$n%06d.json.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, Paths.get(dir, f"b$n%06d.json"), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}

/** `trickle`: 200-envelope NoSQL batches (20% INSERT, 70% MODIFY, 10%
  * REMOVE, Zipf-skewed keys) into a 20k-key merge table through a
  * long-running `Apply.startMerge` over `Apply.stagedStream`. After
  * each commit: the commit's `changes.merge` window (the feed follower)
  * and one point read. */
final class Trickle(c: Ctx) extends Loop(c) {
  import Trades._

  val nKeys = 20000
  val batchSize = 200
  // the first commits after set-up still run while the JIT compiles the
  // fold path; three untimed cycles settle it
  override def warmCycles: Int = 3
  private val zipf = new Zipf(nKeys * 2, 1.1)

  final class St(val dir: String) {
    val table = s"$dir/table"
    val stage = new Stage(s"$dir/stage")
    val rng = new SplittableRandom(ctx.seed)
    val ref = mutable.LongMap[(Doc, Long)]()
    val live = new LiveKeys
    var nextKey = 0L
    var ver = 0L
    var commit = 0L
    var q: StreamingQuery = _
    /** Traced run: (handed ms, committed ms) of each timed batch. */
    val handed = mutable.ArrayBuffer[(Long, Long)]()
  }
  type State = St

  def setup(dir: String): State = {
    val s = new St(dir)
    val seed = (0 until nKeys).map { _ =>
      val d = doc(s.nextKey, s.rng)
      s.nextKey += 1; s.ver += 1
      s.ref(d.id) = (d, s.ver); s.live.add(d.id)
      envelope("INSERT", d.id, s.ver, Some(d))
    }
    s.stage.hand(seed)
    s.q = Apply.startMerge(
      Apply.stagedStream(ctx.spark, s"$dir/stage", envelopeSchema),
      s.table, s"$dir/ck", keyCol = "trade_id", versionCol = "ver",
      schema = afterSchema, trigger = Trigger.ProcessingTime(0L))
    s.q.processAllAvailable()
    s.commit = 1L
    ctx.ops.check(Apply.currentCommit(ctx.spark, s.table) == 1L,
      "trickle seed load is commit 1")
    s
  }

  def close(s: State): Unit = if (s.q != null) s.q.stop()

  def dataDirs(s: State): Seq[String] = Seq(s.table)

  /** Generate one batch, applying it to the reference as it goes;
    * returns the NDJSON lines and each key's effective (op, version). */
  private def nextBatch(s: State): (Seq[String], Map[Long, (String, Long)]) = {
    val kinds = Gen.shuffle(s.rng, Seq.fill(batchSize / 5)("INSERT") ++
      Seq.fill(batchSize * 7 / 10)("MODIFY") ++ Seq.fill(batchSize / 10)("REMOVE"))
    val eff = mutable.LinkedHashMap[Long, (String, Long)]()
    val lines = kinds.map { kind =>
      s.ver += 1
      kind match {
        case "INSERT" =>
          val d = doc(s.nextKey, s.rng)
          s.nextKey += 1
          s.ref(d.id) = (d, s.ver); s.live.add(d.id)
          eff(d.id) = ("INSERT", s.ver)
          envelope(kind, d.id, s.ver, Some(d))
        case "MODIFY" =>
          val k = s.live(zipf.sampleBelow(s.rng, s.live.size))
          val d = doc(k, s.rng)
          s.ref(k) = (d, s.ver)
          eff(k) = ("MODIFY", s.ver)
          envelope(kind, k, s.ver, Some(d))
        case _ =>
          val k = s.live(zipf.sampleBelow(s.rng, s.live.size))
          s.ref.remove(k); s.live.remove(k)
          eff(k) = ("REMOVE", s.ver)
          envelope(kind, k, s.ver, None)
      }
    }
    (lines, eff.toMap)
  }

  def cycle(s: State, i: Int): Unit = {
    val spark = ctx.spark
    val traced = ctx.trace.isDefined && timed
    val bucketsBefore =
      if (traced) Apply.snapshotBucketDirs(spark, s.table, None).toSet else Set.empty[String]
    val (lines, eff) = nextBatch(s)
    val bytes = s.stage.hand(lines)
    val handedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val commit = ctx.ops.run("commit", "commit")(ctx.span("commit", i)(s.q.processAllAvailable()))
    val committedMs = System.currentTimeMillis()
    s.commit += 1
    // the feed follower: this commit's changes.merge window, read back whole
    val tf = System.nanoTime()
    val feed = ctx.ops.run("read", "read")(ctx.op("feed-read", i) {
      spark.read.format("graft").option("path", s.table)
        .option("table", "changes.merge")
        .option("sinceCommit", (s.commit - 1).toString)
        .option("untilCommit", s.commit.toString).load()
        .select(col("op"), col("_key"), col("_version")).collect()
    })
    val tEnd = System.nanoTime()
    ctx.ops.record("follower",
      if (commit.isDefined && feed.isDefined) (tEnd - t0) / 1e9 else Double.PositiveInfinity)
    feed.foreach { case (rows, _) =>
      val got = rows.map(r => r.getLong(1) -> (r.getString(0), r.getLong(2))).toMap
      ctx.ops.check(got == eff, s"trickle commit ${s.commit}: changes.merge window " +
        s"holds ${got.size} rows, expected the batch's ${eff.size} effective rows")
      if (traced) {
        ctx.layer("feed.read_s", (tEnd - tf) / 1e9)
        ctx.layer("feed.files",
          Stats.parquetFiles(s"${s.table}/_changes/commit=${s.commit}"))
      }
    }
    // one point read by key, through the snapshot face
    val key = eff.keys.toSeq(s.rng.nextInt(eff.size))
    val tp = System.nanoTime()
    val point = ctx.ops.run("read", "read")(ctx.op("point-read", i) {
      Apply.readMergeTable(spark, s.table).filter(col("trade_id") === key).collect()
    })
    if (traced) ctx.layer("read.point_s", (System.nanoTime() - tp) / 1e9)
    point.foreach { case (rows, g) =>
      val got = rows.map(fromRow).toSeq
      ctx.ops.check(got == s.ref.get(key).toSeq,
        s"trickle point read of $key: got $got, expected ${s.ref.get(key)}")
      if (traced) {
        val j = ctx.jobsOf(g)
        ctx.layer("read.input_bytes", j.inputBytes)
      }
    }
    if (timed) {
      changeRows += eff.size
      inputBytes += bytes
    }
    if (traced) {
      val after = Apply.snapshotBucketDirs(spark, s.table, None)
      ctx.layer("apply.buckets_rewritten", after.count(d => !bucketsBefore(d)))
      val files = after.map(Stats.parquetFiles).sum
      ctx.layer("apply.snapshot_files", files)
      ctx.layer("read.files", files)
      s.handed += ((handedMs, committedMs))
    }
  }

  override def postTrace(s: State): Unit = {
    applyLayers(s.q.runId.toString, s.handed.toSeq)
    s.handed.foreach { case (handedMs, committedMs) =>
      ctx.layer("spark.between_jobs_s", ctx.trace.get.uncoveredSeconds(handedMs, committedMs))
    }
  }

  def finalCheck(s: State): Boolean = {
    val spark = ctx.spark
    ctx.ops.check(Apply.currentCommit(spark, s.table) == s.commit,
      s"trickle: manifest commit != ${s.commit}")
    val got = Apply.readMergeTable(spark, s.table).collect().map(fromRow)
    val byKey = got.map(x => x._1.id -> x).toMap
    ctx.ops.check(got.length == byKey.size, "trickle: duplicate keys in the table") &&
    ctx.ops.check(byKey.size == s.ref.size,
      s"trickle: table holds ${byKey.size} keys, reference ${s.ref.size}") &&
    ctx.ops.check(s.ref.forall { case (k, v) => byKey.get(k).contains(v) },
      "trickle: table rows differ from the reference fold")
  }
}
