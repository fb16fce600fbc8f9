package graft.util

/** Bounded driver-side task overlap (guide §2.6): Spark happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. The cascade
  * and substrate-seed paths are chains of MANY tiny jobs whose wall time
  * is per-job fixed cost, not task work (R17 probe: a 6-store feed-window
  * fold ran 219 jobs carrying 14.5 summed task-seconds in 15.5 s of
  * wall); running independent chains from a few driver threads lets one
  * chain's jobs back-fill the cores another's tiny stages leave idle.
  *
  * Failure contract (ADVICE r16 on the q287 futures): EVERY task is
  * awaited before the first failure is rethrown — a thrown fold must not
  * leave sibling chains running detached jobs on a pool nobody joins.
  *
  * Interrupt contract (ADVICE r17): an interrupt of the CALLER while it
  * waits is not a task failure. The pool is cancelled (`shutdownNow`
  * interrupts every running task), the caller waits until the tasks
  * have left, restores its interrupt flag and rethrows the
  * `InterruptedException` — it neither swallows the interrupt nor
  * leaves a task running behind it.
  */
object Par {

  /** Run the thunks concurrently (at most `maxThreads` at once), await
    * ALL of them, then rethrow the first failure if any. Results are in
    * input order. Each task inherits nothing thread-local from the
    * caller; Spark job submission is thread-safe and FIFO-scheduled, so
    * earlier-submitted work still gets resources first. */
  def all[T](tasks: Seq[() => T], maxThreads: Int = 6): Seq[T] = {
    require(tasks.nonEmpty, "Par.all needs at least one task")
    if (tasks.size == 1) return Seq(tasks.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.size, math.max(1, maxThreads)))
    try {
      val futures = tasks.map(t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = t()
        }))
      // await every task (collecting outcomes) BEFORE propagating, so a
      // failure never orphans a sibling's in-flight jobs
      val outcomes = futures.map(f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Left(Option(e.getCause).getOrElse(e))
          case e: InterruptedException =>
            cancelAndJoin(pool)
            Thread.currentThread().interrupt()
            throw e
          case e: Throwable => Left(e)
        })
      outcomes.collectFirst { case Left(e) => e }.foreach(throw _)
      outcomes.collect { case Right(v) => v }
    } finally pool.shutdown()
  }

  /** Interrupt every task of `pool` and wait until all have left; a
    * repeated interrupt of the waiting thread does not cut the wait
    * short (the caller restores the flag afterwards). */
  private def cancelAndJoin(
      pool: java.util.concurrent.ExecutorService): Unit = {
    pool.shutdownNow()
    var joined = false
    while (!joined)
      try joined = pool.awaitTermination(1, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: InterruptedException => () }
  }
}
