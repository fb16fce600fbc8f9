package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Unified registry for session-scoped MAINTENANCE STATE — artifacts that
  * are built once per (session, corpus path) and probed by many queries:
  * the text dedup ledger, the semantic (embedding) ledger, the IVF and PQ
  * indexes, the Z-ordered and bucketed table layouts, and the incremental-
  * components base labeling. In production each of these is a persisted
  * table/index refreshed when the corpus changes (Delta `OPTIMIZE` /
  * materialized-view semantics); in this library they are session memos,
  * and before round 8 they lived in six separate `ConcurrentHashMap`s with
  * no shared warm/invalidate/inspect surface (round-7 verdict #7 — the
  * q130 staleness class: a regenerated corpus at the SAME path silently
  * serving a stale memo).
  *
  * Contract:
  *  - [[getOrBuild]] is the single registration point: modules route their
  *    memo through it under a stable name, keyed by (name, session, dir).
  *    A corpus at a NEW path never sees another path's state (the key
  *    includes the dir); a corpus REGENERATED IN PLACE needs an explicit
  *    [[invalidate]]/[[invalidateDir]] — exactly what a production refresh
  *    job does when its source table version advances.
  *  - [[warmAll]] builds every registered state for a corpus OUTSIDE any
  *    timed window (graft.Bench calls it and says so): bench lines then
  *    measure the probe/steady-state cost, which is each operator's claim.
  *  - [[invalidate]] drops the entry and best-effort unpersists every
  *    DataFrame reachable through it (directly or as a case-class field),
  *    so a rebuild re-materializes from the current files.
  *  - [[inspect]] lists, per registered name, whether state is built for
  *    the (session, dir) — the observability face MaintenanceSpec pins.
  */
object Maintenance {

  private val store = new ConcurrentHashMap[(String, SparkSession, String), AnyRef]()
  private val buildLocks =
    new ConcurrentHashMap[(String, SparkSession, String), Object]()

  /** Build-once accessor: the single seam every maintenance memo routes
    * through. `build` runs at most once per (name, session, dir), and
    * its Spark jobs carry the description `build: <name>`, so a probe
    * attributes every registered seed to its memo.
    *
    * Round-13 fix: builders NEST (a cascade substrate builds on the
    * merge-table substrate, which builds on others), and running user
    * code inside `ConcurrentHashMap.computeIfAbsent` forbids exactly
    * that — a nested getOrBuild from within a mapping function throws
    * `IllegalStateException("Recursive update")` whenever the two keys
    * interact in the table (bin collision / resize), which surfaced as
    * a TIMING-DEPENDENT failure under Verify's parallel query threads.
    * So: builds run under a plain per-key monitor (double-checked
    * against the store), never inside a CHM compute — nested builds
    * just take the nested key's monitor (memo dependencies form a DAG,
    * so no cycles). The lock map's own computeIfAbsent has a trivial
    * allocation-only mapping function, which cannot nest. */
  def getOrBuild[T <: AnyRef](name: String, s: SparkSession, dir: String)(
      build: => T): T = {
    val k = (name, s, dir)
    while (true) {
      val got = store.get(k)
      if (got != null) return got.asInstanceOf[T]
      val lock = buildLocks.computeIfAbsent(k, _ => new Object)
      lock.synchronized {
        // CANONICALITY check (round-14 review): [[invalidate]] removes
        // the lock entry with its memo, so a thread that grabbed the
        // OLD monitor before the removal must not build under it — a
        // racing getOrBuild on the FRESH monitor would build the same
        // state concurrently and the loser's put would silently
        // replace (and leak) the winner's cached frames. Only the
        // holder of the CURRENT map entry builds; stale holders retry.
        if (buildLocks.get(k) eq lock) {
          val again = store.get(k)
          if (again != null) return again.asInstanceOf[T]
          // label the build's jobs `build: <name>` (a nested build
          // labels its own), then restore the caller's description
          val sc = s.sparkContext
          val callerDesc = sc.getLocalProperty("spark.job.description")
          sc.setJobDescription(s"build: $name")
          val v = try build finally sc.setJobDescription(callerDesc)
          store.put(k, v)
          return v
        }
      }
    }
    sys.error("unreachable")
  }

  /** Replace a maintained state in place — the INGESTION write path: a
    * grown index supersedes the memo without a rebuild (ivfIngest /
    * pqIngest). No-op semantics match put: the next accessor sees the
    * new value. */
  def update[T <: AnyRef](name: String, s: SparkSession, dir: String)(
      value: T): T = {
    store.put((name, s, dir), value)
    value
  }

  private val writeLocks = new ConcurrentHashMap[(String, String), Object]()

  /** Serialize a read-modify-write on one maintained state (round-9
    * advice: two CONCURRENT ingests each read the same base, each union
    * only their own delta, and the last [[update]] wins — the loser's
    * vectors vanish from the memo while the growth counter counts both).
    * The ingest and store write paths run under this monitor; plain
    * readers ([[getOrBuild]]) stay lock-free — a reader racing an
    * ingest sees the old or the new memo, both coherent.
    *
    * Keyed by (name, dir) ONLY — deliberately NOT the session (round-11
    * review): Structured Streaming runs foreachBatch under a CLONED
    * session, so a session-keyed monitor would let a streaming fold and
    * a user-session purge on the same store dir interleave — exactly
    * the purge-vs-fold race the store verbs take this lock to prevent.
    * The session parameter stays in the signature for call-site
    * uniformity with the memo map (which IS session-keyed). */
  def withWriteLock[T](name: String, s: SparkSession, dir: String)(
      body: => T): T = {
    val lock = writeLocks.computeIfAbsent((name, dir), _ => new Object)
    lock.synchronized(body)
  }

  /** [[withWriteLock]] plus a CROSS-PROCESS fencing lease on the store
    * dir (round-11 verdict #4 — the JVM monitor cannot see a second
    * process): the verb claims the next lease epoch on entry, and every
    * pointer PUT inside `body` ([[Generations.commit]]/`commitArchived`,
    * the merge table's meta write) re-validates it — a writer fenced by
    * another process's acquisition fails LOUDLY before publishing a
    * manifest computed from a stale read, instead of silently erasing
    * the other writer's commit. Reentrant per thread (a nested verb on
    * the same dir reuses the outer lease — one verb, one epoch). Used
    * by every PERSISTED-store mutating verb; in-session memo guards
    * (which may name a read-only data dir) stay on [[withWriteLock]] —
    * the lease writes a `_graft_lease/` ledger under `dir`. */
  def withLeasedWriteLock[T](name: String, s: SparkSession, dir: String)(
      body: => T): T =
    withWriteLock(name, s, dir) {
      WriterLease.heldFor(dir) match {
        case Some(_) => body // reentrant: the outer verb's epoch covers us
        case None =>
          WriterLease.holding(WriterLease.acquire(s, dir))(body)
      }
    }

  /** THE streaming fold loop — every continuous maintenance path (a
    * store fold per micro-batch of arriving rows, a [[Cascade]] follower
    * on a change feed, a [[PipelineLedger]] set refresh) is this one
    * `foreachBatch` sink over a checkpointed source: `fold(batch,
    * batchId)` per micro-batch. Exactly-once is the fold's half of the
    * contract: the store verbs record `batchId` in their manifest's
    * batch ledger, so a batch the stream replays after a crash between
    * the fold's commit and the checkpoint's is a no-op, not a second
    * insert (the Structured Streaming idempotent-sink contract). */
  def foldStream(src: DataFrame, checkpoint: String)(
      fold: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fold)
      .start()

  /** Normalize an UPSERT batch to ONE row per id (ADVICE r12): the
    * slice-ordered tombstone mask retires only slices OLDER than the
    * tombstone, so two same-id rows landing in one data slice would
    * BOTH stay visible — double-counted in the store statistics and
    * served twice by every read. Exact duplicate rows collapse silently
    * (an at-least-once producer re-delivering the same payload is
    * normal CDC traffic); CONFLICTING payloads for one id fail loudly —
    * an upsert verb has no ordering column to pick a winner by, and an
    * arbitrary pick would be nondeterministic across replays (callers
    * with a version column pre-reduce to latest-per-key, the
    * [[Cascade]] follower pattern). Cost: one distinct + one bounded agg
    * over the DELTA — small by the feed design. The distinct rows come
    * back as an eager local checkpoint — the duplicate check reads it,
    * and so does the caller, without recomputing the batch. */
  def requireUniqueUpserts(batch: DataFrame, idCol: String,
      what: String): DataFrame = {
    val d = batch.distinct().localCheckpoint(true)
    val dup = d.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col(idCol)).take(5)
    require(dup.isEmpty,
      s"$what upsert batch carries CONFLICTING rows for the same id " +
        s"(e.g. ${dup.map(_.get(0)).mkString(", ")}) — reduce to one row " +
        "per id (latest-per-key) before calling the verb")
    d
  }

  // ---- ingestion growth tracking (the DriftProbe refresh policy) ----

  final case class Growth(base: Long, inserted: Long)
  private val growth = new ConcurrentHashMap[(String, SparkSession, String), Growth]()

  /** Record the base cardinality of a maintained state at build time —
    * the denominator of the refresh policy. Resets the inserted counter
    * (a rebuild starts a fresh growth window). */
  def noteBaseSize(name: String, s: SparkSession, dir: String, n: Long): Unit =
    growth.put((name, s, dir), Growth(n, 0L))

  /** Record `delta` rows ingested into a maintained state and apply the
    * MEASURED refresh policy (DriftProbe in docs/PROBES.md / SURVEY
    * §9.9: frozen-quantizer recall plateaus ~0.10 below a rebuild from +100% growth
    * onward — so "rebuild after the corpus doubles" is the default):
    * once base + inserted ≥ growthFactor × base, the entry is
    * [[invalidate]]d so the NEXT accessor call re-trains from current
    * files, and the growth window resets. Returns whether the policy
    * fired. States that never [[noteBaseSize]]d are never auto-refreshed
    * (base 0 — ingestion-only callers opt out). */
  def noteInserted(name: String, s: SparkSession, dir: String, delta: Long,
      growthFactor: Double = 2.0): Boolean = {
    val key = (name, s, dir)
    val g = growth.compute(key, (_, old) =>
      if (old == null) Growth(0L, delta)
      else old.copy(inserted = old.inserted + delta))
    val fire = g.base > 0 &&
      (g.base + g.inserted).toDouble >= g.base.toDouble * growthFactor
    if (fire) invalidate(name, s, dir)
    fire
  }

  /** Observability for the refresh policy: current (base, inserted). */
  def growthOf(name: String, s: SparkSession, dir: String): Option[Growth] =
    Option(growth.get((name, s, dir)))

  /** Every Dataset reachable through a stored value — the value itself,
    * or a field of a case class / tuple (IvfIndex, DedupLedger, IncBase). */
  private def frames(v: Any): Seq[org.apache.spark.sql.Dataset[_]] = v match {
    case ds: org.apache.spark.sql.Dataset[_] => Seq(ds)
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _          => Nil
  }

  /** Drop one state and unpersist its cached frames. Returns whether an
    * entry existed. The next accessor call rebuilds from current files —
    * the in-place-regeneration refresh path. */
  def invalidate(name: String, s: SparkSession, dir: String): Boolean = {
    val k = (name, s, dir)
    // synchronize on the CURRENT build lock (round-14 review): an
    // invalidate landing mid-build would otherwise remove the lock
    // entry while the builder holds the old monitor, letting a racing
    // getOrBuild build the same state concurrently under a fresh one.
    // Taking the monitor first means the removal happens strictly
    // before or after any build — never inside it. The lock entry then
    // dies with its memo (ADVICE r13: entries pinned stopped sessions
    // forever); getOrBuild's canonicality check handles the rest.
    val lock = buildLocks.get(k)
    def drop(): Boolean = {
      val v = store.remove(k)
      growth.remove(k) // a rebuild re-notes its base size
      buildLocks.remove(k)
      if (v != null) frames(v).foreach(df =>
        try df.unpersist(false) catch { case _: Throwable => () })
      v != null
    }
    if (lock == null) drop() else lock.synchronized(drop())
  }

  /** Drop ALL states for a corpus path (the "corpus was regenerated"
    * hook). Returns how many entries were dropped. */
  def invalidateDir(s: SparkSession, dir: String): Int = {
    import scala.jdk.CollectionConverters._
    val keys = store.keySet().asScala.filter { case (_, ks, kd) => ks == s && kd == dir }.toSeq
    keys.count { case (n, ks, kd) => invalidate(n, ks, kd) }
  }

  /** Registered maintenance states: name → warmer. The warmer calls the
    * owning module's accessor, which routes back through [[getOrBuild]]
    * under the same name — so warming and lazy first-use share one entry.
    * (lazy val: the referenced objects route through Maintenance from
    * method bodies only, so there is no initialization cycle.) */
  lazy val registered: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "dedupLedger"     -> ((s, d) => graft.text.TextQueries.dedupLedger(s, d)),
    "incrementalBase" -> ((s, d) => graft.text.TextQueries.incrementalBase(s, d)),
    "ledgerStoreSeed" -> ((s, d) => graft.text.TextQueries.ledgerStoreDir(s, d)),
    "ledgerUpsertSeed" -> ((s, d) => graft.text.TextQueries.ledgerUpsertDir(s, d)),
    "semanticLedger"  -> ((s, d) => graft.ann.AnnQueries.semanticLedger(s, d)),
    "ivfIndex"        -> ((s, d) => graft.ann.AnnQueries.ivfIndex(s, d)),
    "pqIndex"         -> ((s, d) => graft.ann.AnnQueries.pqIndex(s, d)),
    "ivfPqIndex"      -> ((s, d) => graft.ann.AnnQueries.ivfPqIndex(s, d)),
    "ivfPqBase"       -> ((s, d) => graft.ann.AnnQueries.ivfPqBase(s, d)),
    "ivfPqStoreSeed"  -> ((s, d) => graft.ann.AnnQueries.ivfPqStoreDir(s, d)),
    "semStoreSeed"    -> ((s, d) => graft.ann.AnnQueries.semStoreDir(s, d)),
    "semUpsertSeed"   -> ((s, d) => graft.ann.AnnQueries.semUpsertDir(s, d)),
    "ivfUpsertSeed"   -> ((s, d) => graft.ann.AnnQueries.ivfUpsertDir(s, d)),
    "ivfPqUpsertSeed" -> ((s, d) => graft.ann.AnnQueries.ivfPqUpsertDir(s, d)),
    "cascadeMergeSeed" -> ((s, d) => graft.ann.AnnQueries.cascadeMergeDir(s, d)),
    "semCascadeSeed"  -> ((s, d) => graft.ann.AnnQueries.semCascadeDir(s, d)),
    "cascadeSetSeed"  -> ((s, d) => graft.ann.AnnQueries.cascadeSetDir(s, d)),
    "cascadeSetAllSeed" -> ((s, d) => graft.ann.AnnQueries.cascadeSetAllDir(s, d)),
    "ivfCascadeSeed"  -> ((s, d) => graft.ann.AnnQueries.ivfCascadeDir(s, d)),
    "semDecontamSeed" -> ((s, d) => graft.ann.AnnQueries.semDecontamDir(s, d)),
    "postingsStoreSeed" -> ((s, d) => graft.text.LmQueries.postingsStoreDir(s, d)),
    "procStoreSeed"   -> ((s, d) => graft.text.LmQueries.procStoreDir(s, d)),
    "mergeFeedSeed"   -> ((s, d) => graft.cdc.CdcQueries.mergeFeedDir(s, d)),
    "sqlInsertSeed"   -> ((s, d) => graft.cdc.CdcQueries.sqlInsertDir(s, d)),
    "sqlDeleteSeed"   -> ((s, d) => graft.cdc.CdcQueries.sqlDeleteDir(s, d)),
    "sqlUpdateSeed"   -> ((s, d) => graft.cdc.CdcQueries.sqlUpdateDir(s, d)),
    "sqlMergeSeed"    -> ((s, d) => graft.cdc.CdcQueries.sqlMergeDir(s, d)),
    "sqlDeletePredSeed" -> ((s, d) => graft.cdc.CdcQueries.sqlDeletePredDir(s, d)),
    "sqlLifecycleSeed" -> ((s, d) => graft.cdc.CdcQueries.sqlLifecycleDir(s, d)),
    "sqlEvolutionSeed" -> ((s, d) => graft.cdc.CdcQueries.sqlEvolutionDir(s, d)),
    "sqlOverwriteSeed" -> ((s, d) => graft.cdc.CdcQueries.sqlOverwriteDir(s, d)),
    "sqlReplaceWhereSeed" -> ((s, d) => graft.cdc.CdcQueries.sqlReplaceWhereDir(s, d)),
    "sqlReplaceSeed"  -> ((s, d) => graft.cdc.CdcQueries.sqlReplaceDir(s, d)),
    "sqlTruncateSeed" -> ((s, d) => graft.cdc.CdcQueries.sqlTruncateDir(s, d)),
    "sqlDropColSeed"  -> ((s, d) => graft.cdc.CdcQueries.sqlDropColumnDir(s, d)),
    "sqlMigrateSeed"  -> ((s, d) => graft.cdc.CdcQueries.sqlMigrateDir(s, d)),
    "sinkStreamSeed"  -> ((s, d) => graft.cdc.CdcQueries.sinkStreamDir(s, d)),
    "upsertStoreSeed" -> ((s, d) => graft.text.LmQueries.upsertStoreDir(s, d)),
    "graphStoreSeed"  -> ((s, d) => graft.warehouse.GraphQueries.graphStoreDir(s, d)),
    "graphCascadeSeed" -> ((s, d) => graft.warehouse.GraphQueries.graphCascadeDir(s, d)),
    "linkageLedger"   -> ((s, d) => graft.warehouse.ExtrasQueries.linkageLedger(s, d)),
    "linkageBase"     -> ((s, d) => graft.warehouse.ExtrasQueries.linkageBase(s, d)),
    "shardExportSeed" -> ((s, d) => graft.text.TextQueries.shardExportDir(s, d)),
    "pipelineSeed"    -> ((s, d) => graft.text.TextQueries.pipelineDir(s, d)),
    "zorderLayout"    -> ((s, d) => graft.warehouse.ScaleQueries.zorderLayout(s, d)),
    "bucketedPair"    -> ((s, d) => graft.warehouse.ScaleQueries.bucketedPair(s, d)),
    "coPurchasePairs" -> ((s, d) => graft.warehouse.GraphQueries.coPurchasePairs(s, d)),
    "lpaLabels"       -> ((s, d) => graft.warehouse.GraphQueries.lpaLabels(s, d)),
    "edgeBase"        -> ((s, d) => graft.warehouse.GraphQueries.edgeBase(s, d))
  )

  /** Build every registered state for (session, dir); returns the names
    * in registration order. Bench's warm section — one call, outside the
    * timed window, declared in its scaladoc. Warmers run CONCURRENTLY on
    * a small pool (round 17, guide §2.6): each build is a chain of many
    * tiny jobs dominated by per-job fixed cost, and the builds are
    * independent or DAG-nested ([[getOrBuild]]'s per-key monitors make
    * nested/shared builds race-safe — whichever thread arrives first
    * builds, the rest wait on the monitor). Submission keeps
    * registration order (FIFO scheduling), so earlier entries still get
    * resources first. */
  def warmAll(s: SparkSession, dir: String): Seq[String] =
    Par.all(registered.map { case (name, warm) => () => {
      warm(s, dir); name
    } }, maxThreads = 4)

  final case class StateInfo(name: String, dir: String, built: Boolean)

  /** Observability: per registered name, is state built for (s, dir)? */
  def inspect(s: SparkSession, dir: String): Seq[StateInfo] =
    registered.map { case (name, _) =>
      StateInfo(name, dir, store.containsKey((name, s, dir)))
    }
}
