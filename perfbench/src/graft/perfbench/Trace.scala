package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's instruments, all attached from outside the engine:
  * a `SparkListener` (jobs with their group, description and stream
  * batch; task metrics rolled up per job), a `StreamingQueryListener`
  * (per-trigger progress), and in-memory spans the workloads record
  * around each call into a layer. Spans are written out as JSON lines
  * when the run ends. */
final class Trace private (spark: SparkSession) {
  import Trace._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val progress = mutable.ArrayBuffer[Progress]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val nextSpan = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var listenerNs = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.synchronized {
        jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
          prop("spark.job.description").getOrElse(""),
          prop("streaming.sql.batchId").map(_.toLong), e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) jobs.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.rowsWritten += m.outputMetrics.recordsWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress.synchronized {
        progress += Progress(p.runId.toString, p.batchId, p.numInputRows,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          ms("triggerExecution"), ms("addBatch"),
          ms("latestOffset") + ms("getBatch") + ms("queryPlanning") +
            ms("walCommit"))
      }
    }
  }

  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    listenerNs += System.nanoTime() - t
  }

  /** Record a span around `body` (parent = the enclosing span on this
    * thread unless given). */
  def span[T](name: String, batch: Long, parent: Option[Long] = None)(body: => T): T = {
    val id = nextSpan.getAndIncrement()
    val par = parent.orElse(stack.get.headOption)
    stack.set(id :: stack.get)
    val s = System.currentTimeMillis()
    try body
    finally {
      stack.set(stack.get.tail)
      spans.synchronized(spans += Span(id, name, s, System.currentTimeMillis(), par, batch))
    }
  }

  def currentSpan: Option[Long] = stack.get.headOption

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def jobsWhere(p: Job => Boolean): Seq[Job] =
    jobs.synchronized(jobs.values.filter(p).toList)

  def progressOf(runId: String): Seq[Progress] =
    progress.synchronized(progress.filter(_.runId == runId).toList)

  /** Wall time of [startMs, endMs] not covered by any running job. */
  def uncoveredSeconds(startMs: Long, endMs: Long): Double = {
    val ivs = jobsWhere(j => j.end >= startMs && j.start <= endMs && j.end > 0)
      .map(j => (math.max(j.start, startMs), math.min(j.end, endMs)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, endMs - startMs - covered) / 1000.0
  }

  /** Every per-layer metric, as the median of its per-operation samples
    * (0 for a layer the workload does not exercise), plus the listener
    * time the tracing itself cost. */
  def layerMetrics(samples: Map[String, (Double, String)]): Map[String, (Double, String)] = {
    val all = LayerMetrics.map { case (k, unit) =>
      k -> samples.get(k).map(_._1 -> unit).getOrElse(0.0 -> unit) }.toMap
    all ++ Map(
      "trace.listener_s" -> (listenerNs / 1e9 -> "s"),
      "trace.spans" -> (spans.synchronized(spans.size).toDouble -> "count"))
  }

  /** Spans as JSON lines, plus each span name's median self time
    * (duration minus the part its child spans cover). */
  def writeSpans(dir: Path, name: String): Unit = {
    Files.createDirectories(dir)
    val all = spans.synchronized(spans.toList)
    val kids = all.groupBy(_.parent)
    def self(s: Span): Long = {
      val covered = kids.getOrElse(Some(s.id), Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
          if (b <= hi) (acc, hi) else (acc + b - math.max(a, hi), b) }._1
      s.end - s.start - covered
    }
    val lines = all.map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "start_ms": ${s.start}, """ +
        s""""end_ms": ${s.end}, "parent": ${s.parent.getOrElse(0L)}, """ +
        s""""batch": ${s.batch}, "self_ms": ${self(s)}}""")
    Files.write(dir.resolve(s"$name.spans.jsonl"),
      (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    val selfMedians = all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      f"$n=${Stats.median(ss.map(self(_).toDouble)) / 1000.0}%.3fs(n=${ss.size})" }
    System.err.println(s"perfbench: span self-time medians: ${selfMedians.mkString(", ")}")
  }
}

object Trace {

  final case class Job(id: Int, group: String, desc: String,
      batch: Option[Long], start: Long) {
    var end: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var bytesWritten = 0L
    var rowsWritten = 0L
    var inputBytes = 0L
    var spillBytes = 0L
  }

  final case class Progress(runId: String, batchId: Long, rows: Long,
      startMs: Long, triggerMs: Long, addBatchMs: Long, overheadMs: Long)

  final case class Span(id: Long, name: String, start: Long, end: Long,
      parent: Option[Long], batch: Long)

  /** Job roll-up of one operation. */
  final case class Jobs(n: Double, tasks: Double, taskS: Double,
      shuffleBytes: Double, bytesWritten: Double, rowsWritten: Double,
      inputBytes: Double, spillBytes: Double)

  def rollup(js: Seq[Job]): Jobs = Jobs(js.size, js.map(_.tasks).sum,
    js.map(_.taskMs).sum / 1000.0, js.map(_.shuffleBytes).sum,
    js.map(_.bytesWritten).sum, js.map(_.rowsWritten).sum,
    js.map(_.inputBytes).sum, js.map(_.spillBytes).sum)

  /** The per-layer metrics every traced run prints (BENCHMARK.json). */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "apply.trigger_s" -> "s", "apply.add_batch_s" -> "s",
    "apply.stream_overhead_s" -> "s", "apply.pickup_s" -> "s",
    "apply.jobs" -> "count", "apply.tasks" -> "count",
    "apply.task_s" -> "s", "apply.shuffle_bytes" -> "bytes",
    "apply.rows_written" -> "count", "apply.bytes_written" -> "bytes",
    "apply.buckets_rewritten" -> "count", "apply.snapshot_files" -> "count",
    "sql.insert_s" -> "s", "sql.merge_s" -> "s", "sql.jobs" -> "count", "sql.task_s" -> "s",
    "sql.shuffle_bytes" -> "bytes", "sql.bytes_written" -> "bytes",
    "sql.spill_bytes" -> "bytes",
    "feed.read_s" -> "s", "feed.files" -> "count",
    "read.point_s" -> "s",
    "read.input_bytes" -> "bytes", "read.files" -> "count",
    "cascade.start_s" -> "s", "cascade.window_s" -> "s",
    "cascade.set_commit_s" -> "s", "cascade.jobs" -> "count",
    "cascade.task_s" -> "s",
    "ledger.fold_s" -> "s", "postings.fold_s" -> "s", "index.fold_s" -> "s",
    "ledger.jobs" -> "count", "postings.jobs" -> "count",
    "index.jobs" -> "count", "ledger.task_s" -> "s",
    "postings.task_s" -> "s", "index.task_s" -> "s",
    "query.bm25_s" -> "s", "query.ivf_s" -> "s", "query.jobs" -> "count",
    "query.task_s" -> "s", "query.input_bytes" -> "bytes",
    "spark.between_jobs_s" -> "s", "jvm.gc_s" -> "s",
    "trace.commit_p50_s" -> "s")

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t.jobListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
