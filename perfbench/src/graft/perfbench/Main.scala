package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** CDC pipeline benchmark: one process, one client thread in a
  * closed loop, `local[4]`. Each workload generates seeded CDC input,
  * pushes it through the engine's public entry points, checks the final
  * state against a reference computed in plain Scala, and prints one
  * JSON result line (the last line of stdout).
  *
  * {{{
  *   Main --workload trickle|cascade --seed N --seconds S
  *        --trace 0|1 --work <scratch dir> --traces <span output dir>
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` attaches the
  * listeners in [[Trace]] and prints the per-layer metrics instead.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, traces: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1", need("--work"),
      m.getOrElse("--traces", need("--work")))
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val spark = session(a.work)
    val trace = if (a.trace) Some(Trace.install(spark)) else None
    val ctx = Ctx(spark, a.work, a.seed, a.seconds, new Ops, trace, t0)
    val wl: Workload = a.workload match {
      case "trickle" => new Trickle(ctx)
      case "cascade" => new CascadeFollow(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val outcome =
      try wl.run()
      catch {
        case NonFatal(e) =>
          ctx.ops.logFailure("run", e)
          Outcome(correct = false, Map.empty, Map.empty)
      }
    trace.foreach(_.writeSpans(Paths.get(a.traces), s"${a.workload}-${a.seed}"))
    val metrics =
      if (a.trace) trace.get.layerMetrics(outcome.layers)
      else outcome.endToEnd
    val line = Json.result(outcome.correct, ctx.ops.attempted,
      ctx.ops.failed, metrics)
    System.err.println(ctx.ops.summary)
    spark.stop()
    println(line)
    System.out.flush()
    sys.exit(if (outcome.correct) 0 else 1)
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Everything a workload needs from [[Main]]. */
final case class Ctx(spark: SparkSession, work: String, seed: Long,
    seconds: Double, ops: Ops, trace: Option[Trace], startNs: Long) {
  /** Hard stop for the timed loop, well inside the 180 s run limit. */
  def outOfTime: Boolean = (System.nanoTime() - startNs) / 1e9 > 140.0

  private val groups = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `body` under its own Spark job group (so the traced run can
    * attribute jobs to this operation) and a span; returns the group. */
  def op[T](name: String, batch: Long = -1L)(body: => T): (T, String) = {
    val g = s"perfbench-${groups.incrementAndGet()}-$name"
    val sc = spark.sparkContext
    sc.setJobGroup(g, name)
    try (span(name, batch)(body), g)
    finally sc.clearJobGroup()
  }

  def span[T](name: String, batch: Long = -1L)(body: => T): T =
    trace.fold(body)(_.span(name, batch)(body))

  /** One per-operation sample of a per-layer metric. */
  def layer(name: String, v: Double): Unit = ops.record("layer:" + name, v)

  /** Job roll-up of the operations whose job group is `g` (traced run;
    * waits for the listener bus to deliver the jobs' events first). */
  def jobsOf(g: String): Trace.Jobs =
    Trace.rollup(trace.map { t => t.drain(); t.jobsWhere(_.group == g) }.getOrElse(Nil))

  /** Medians of the per-layer samples recorded so far. */
  def layerMedians: Map[String, (Double, String)] =
    Trace.LayerMetrics.flatMap { case (k, u) =>
      val xs = ops.values("layer:" + k)
      if (xs.isEmpty) None else Some(k -> (Stats.median(xs) -> u))
    }.toMap
}

/** A workload's result: end-to-end metrics (name -> (value, unit)) and
  * the per-operation layer samples the traced run turns into medians. */
final case class Outcome(correct: Boolean,
    endToEnd: Map[String, (Double, String)],
    layers: Map[String, (Double, String)])

trait Workload {
  def run(): Outcome
}

/** Operation accounting: attempted and failed operations per kind, the
  * first error line of each failure, and latency samples. A failed
  * operation's latency is +inf, so it misses every latency limit. */
final class Ops {
  private val attemptedBy = mutable.LinkedHashMap[String, Int]()
  private val failedBy = mutable.LinkedHashMap[String, Int]()
  private val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private var mismatches = 0

  def attempted: Int = attemptedBy.values.sum
  def failed: Int = failedBy.values.sum

  /** Run one operation of `kind`, timing it into `sample` when given. */
  def run[T](kind: String, sample: String = null)(body: => T): Option[T] = {
    attemptedBy(kind) = attemptedBy.getOrElse(kind, 0) + 1
    val t = System.nanoTime()
    try {
      val v = body
      if (sample != null) record(sample, (System.nanoTime() - t) / 1e9)
      Some(v)
    } catch {
      case NonFatal(e) =>
        failedBy(kind) = failedBy.getOrElse(kind, 0) + 1
        if (sample != null) record(sample, Double.PositiveInfinity)
        logFailure(kind, e)
        None
    }
  }

  /** Samples are kept only while recording (off during set-up and
    * warm-up cycles); attempts and failures are always counted. */
  var recording = true

  def record(sample: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(sample, mutable.ArrayBuffer()) += v

  def values(sample: String): Seq[Double] =
    samples.get(sample).map(_.toSeq).getOrElse(Nil)

  /** A correctness check; a mismatch fails the run. */
  def check(cond: Boolean, what: => String): Boolean = {
    if (!cond) {
      mismatches += 1
      if (mismatches <= 5) System.err.println(s"perfbench: MISMATCH $what")
    }
    cond
  }

  def correct: Boolean = mismatches == 0

  def logFailure(kind: String, e: Throwable): Unit = {
    val first = Option(e.getMessage).getOrElse(e.toString).linesIterator
      .nextOption().getOrElse(e.toString)
    System.err.println(s"perfbench: FAILED $kind: ${e.getClass.getSimpleName}: $first")
  }

  def summary: String = {
    val kinds = attemptedBy.keys.map(k =>
      s"$k ${failedBy.getOrElse(k, 0)}/${attemptedBy(k)}").mkString(", ")
    val ratio = if (attempted == 0) 0.0 else failed.toDouble / attempted
    s"perfbench: operations failed/attempted: $kinds; " +
      s"failed_op_ratio=$ratio; mismatches=$mismatches"
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Bytes of every regular file under `dir` (0 when absent). */
  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Number of parquet data files under `dir`. */
  def parquetFiles(dir: String): Int = {
    val p = Paths.get(dir.stripPrefix("file:"))
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.filter((f: Path) => f.getFileName.toString.endsWith(".parquet"))
        .count().toInt
      finally s.close()
    }
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total JVM garbage-collection time so far, in seconds. */
  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "1.0E9" else java.lang.Double.toString(v)

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, (Double, String)]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(1, attempted)}, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }
}
