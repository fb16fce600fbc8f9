package graft.perfbench

/** The shape every workload shares: set up `setupReps` times (fresh
  * directories, same seed; `setup_s` is the median), run `warmCycles`
  * untimed cycles, then closed-loop cycles for the measuring window,
  * then check the final state against the reference. */
abstract class Loop(val ctx: Ctx) extends Workload {
  type State

  def setupReps: Int = 3
  def warmCycles: Int = 1
  def minCycles: Int = 1

  def setup(dir: String): State
  def close(s: State): Unit
  /** One closed-loop cycle: hand a change batch to the engine, wait for
    * its commit and follower, read. Records "commit", "follower" and
    * "read" samples and adds to [[changeRows]] / [[inputBytes]]. The
    * "follower" sample is +inf unless the commit and the follower both
    * returned. */
  def cycle(s: State, i: Int): Unit
  def finalCheck(s: State): Boolean
  /** Directories whose growth counts as bytes the engine wrote. */
  def dataDirs(s: State): Seq[String]
  /** Traced run: derive per-operation layer samples once the listener
    * bus has delivered every event. */
  def postTrace(s: State): Unit = ()

  /** SQL-face samples of one statement (job group `g`, issued at
    * `startMs`, returned at `endMs`). */
  def statementLayers(kind: String, g: String, startMs: Long, endMs: Long): Unit = {
    ctx.layer(s"sql.${kind}_s", (endMs - startMs) / 1000.0)
    val j = ctx.jobsOf(g)
    ctx.layer("sql.jobs", j.n)
    ctx.layer("sql.task_s", j.taskS)
    ctx.layer("sql.shuffle_bytes", j.shuffleBytes)
    ctx.layer("sql.bytes_written", j.bytesWritten)
    ctx.layer("sql.spill_bytes", j.spillBytes)
  }

  /** Apply-layer samples of one merge stream: its per-trigger progress
    * and jobs, matched to the timed batches' (handed ms, committed ms).
    * The stream's first batches are the seed load and the warm-up. */
  def applyLayers(runId: String, handed: Seq[(Long, Long)]): Unit = {
    val t = ctx.trace.get
    val prog = t.progressOf(runId).filter(_.rows > 0).sortBy(_.batchId)
    prog.drop(prog.size - handed.size).zip(handed).foreach {
      case (p, (handedMs, committedMs)) =>
        ctx.layer("apply.trigger_s", p.triggerMs / 1000.0)
        ctx.layer("apply.add_batch_s", p.addBatchMs / 1000.0)
        ctx.layer("apply.stream_overhead_s", p.overheadMs / 1000.0)
        ctx.layer("apply.pickup_s", (p.startMs - handedMs) / 1000.0)
        val j = Trace.rollup(t.jobsWhere(j => j.group == runId && j.batch.contains(p.batchId)))
        ctx.layer("apply.jobs", j.n)
        ctx.layer("apply.tasks", j.tasks)
        ctx.layer("apply.task_s", j.taskS)
        ctx.layer("apply.shuffle_bytes", j.shuffleBytes)
        ctx.layer("apply.rows_written", j.rowsWritten)
        ctx.layer("apply.bytes_written", j.bytesWritten)
    }
  }

  /** Change rows made visible and change-input bytes, timed cycles only. */
  var changeRows = 0L
  var inputBytes = 0L
  /** True while the measuring window runs. */
  var timed = false

  def run(): Outcome = {
    val ops = ctx.ops
    ops.recording = false
    val setups = (1 to setupReps).map { i =>
      val t = System.nanoTime()
      val s = ctx.span("setup")(setup(s"${ctx.work}/setup$i"))
      val secs = (System.nanoTime() - t) / 1e9
      System.err.println(f"perfbench: setup $i took $secs%.3f s")
      (s, secs)
    }
    setups.init.foreach(x => close(x._1))
    val st = setups.last._1
    (0 until warmCycles).foreach(i => ctx.span("cycle", i)(cycle(st, i)))
    val bytes0 = dataDirs(st).map(Stats.treeBytes).sum
    val gc0 = Stats.gcSeconds
    ops.recording = true
    timed = true
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = warmCycles
    def more = elapsed < ctx.seconds || i - warmCycles < minCycles
    while (more && !ctx.outOfTime) {
      ctx.span("cycle", i)(cycle(st, i))
      i += 1
    }
    val wall = elapsed
    timed = false
    ops.recording = false
    val gc = Stats.gcSeconds - gc0
    val written = dataDirs(st).map(Stats.treeBytes).sum - bytes0
    System.err.println(f"perfbench: ${i - warmCycles} timed cycles in $wall%.3f s")
    // a failed operation fails the run: the workloads are chosen so that
    // none fails, and a dead commit or follower must not read as fast
    val ok = ctx.span("final-check")(finalCheck(st)) && ops.correct &&
      ops.check(ops.failed == 0, s"${ops.failed} operation(s) failed")
    close(st)
    ops.recording = true
    ctx.trace.foreach { t => t.drain(); postTrace(st) }
    // medians only: a run holds too few operations (1 to 8 per kind)
    // to support any higher percentile
    def med(name: String) = {
      val xs = ops.values(name)
      if (xs.isEmpty) Double.NaN else Stats.median(xs)
    }
    val e2e = Map(
      "setup_s" -> (Stats.median(setups.map(_._2)) -> "s"),
      "commit_p50_s" -> (med("commit") -> "s"),
      "follower_lag_p50_s" -> (med("follower") -> "s"),
      "changes_per_s" -> (changeRows / wall -> "1/s"),
      "read_p50_s" -> (med("read") -> "s"),
      "write_amp" -> (written.toDouble / math.max(1L, inputBytes) -> "ratio"),
      "peak_rss_mb" -> (Stats.peakRssMb -> "MB"))
    def show(name: String) = ops.values(name).map(v => f"$v%.3f").mkString("[", ",", "]")
    System.err.println(s"perfbench: samples commit=${show("commit")} " +
      s"follower=${show("follower")} read=${show("read")}")
    ctx.layer("jvm.gc_s", gc)
    ctx.layer("trace.commit_p50_s", med("commit"))
    Outcome(ok, e2e, ctx.layerMedians)
  }
}
