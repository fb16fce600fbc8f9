package graft.util

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Shared plumbing for GENERATION-STAMPED persisted state (the
  * manifest-pointer commit discipline of [[graft.cdc.Apply]], reused by
  * every slice store): one small pointer object is the commit — readers
  * see fully-old or fully-new — new-generation data dirs are invisible
  * until the flip, and superseded generations are deleted only after it
  * and beyond a retention window. This object owns the pointer and
  * history I/O, the slice-window readability check and the GC sweeps;
  * the typed manifest on top of it — one codec, one format check, the
  * batch ledger, the slice-window protocol — is [[StoreManifest]], so
  * neither half can drift between stores.
  */
object Generations {

  /** The raw pointer body, if a committed generation exists. */
  def readPointer(spark: SparkSession, dir: String,
      metaName: String): Option[String] = {
    val p = new HPath(new HPath(dir), metaName)
    val hc = Hfs.conf(spark)
    if (Hfs.exists(p, hc)) Some(Hfs.readString(p, hc).trim) else None
  }

  /** The commit: one atomic pointer PUT. If the calling verb holds a
    * writer lease on `dir` ([[Maintenance.withLeasedWriteLock]]), it is
    * re-validated first — a writer another process fenced since the
    * verb began fails loudly HERE, before its stale-read manifest can
    * erase the other process's commit ([[WriterLease]]). */
  def commit(spark: SparkSession, dir: String, metaName: String,
      body: String): Unit = {
    WriterLease.checkHeld(spark, dir)
    Hfs.writeStringAtomic(new HPath(new HPath(dir), metaName), body,
      Hfs.conf(spark))
  }

  private val HistoryDir = "_graft_history"
  private val HistoryRe = "commit-([0-9]+)\\.json".r
  private val CommitFieldRe = """"commit": (-?[0-9]+)""".r
  private val BatchFieldRe = """"batch": (-?[0-9]+)""".r

  /** The `"commit"` field of the CURRENT pointer body — the committed-
    * snapshot upper bound every history read validates against. All
    * store manifests (v4 dedup / v3 sem / v3 ivf / v3 ivfpq / v2
    * postings / v3 graph / v1 pipeline / the merge table) carry it. */
  def currentCommitId(spark: SparkSession, dir: String,
      metaName: String): Option[Long] =
    readPointer(spark, dir, metaName).flatMap(b =>
      CommitFieldRe.findFirstMatchIn(b).map(_.group(1).toLong))

  /** The commit WITH a time-travel archive (the [[graft.cdc.Apply]]
    * history protocol, shared by the slice stores since round 11): the
    * same pointer body is first written to the immutable
    * `_graft_history/commit-<id>.json`, then the current pointer flips.
    * A crash between the two leaves a history entry that never became
    * current; the operation's replay re-commits under the SAME id
    * (stores carry `commit` in their meta, so the replay computes
    * prev.commit + 1 again) and overwrites it — history only ever
    * describes committed states. History files are a few hundred bytes
    * each and are never GC'd; a snapshot stays READABLE only while its
    * data dirs survive compaction's vacuum / generation retention —
    * store `loadAt` faces fail loudly afterwards (the fail-closed
    * retention trade every manifest-pointer format makes). */
  def commitArchived(spark: SparkSession, dir: String, metaName: String,
      body: String, commitId: Long): Unit = {
    WriterLease.checkHeld(spark, dir) // cross-process fencing, see [[commit]]
    val hc = Hfs.conf(spark)
    Hfs.writeStringAtomic(
      new HPath(s"$dir/$HistoryDir/commit-$commitId.json"), body, hc)
    Hfs.writeStringAtomic(new HPath(new HPath(dir), metaName), body, hc)
  }

  /** Every `commit-N.json` under the history dir, ascending — including
    * a possible orphan beyond the current pointer (a crash between the
    * history write and the pointer flip). Internal: committed-only
    * views go through [[listCommits]]. */
  private def listArchived(spark: SparkSession, dir: String): Seq[Long] =
    Hfs.list(new HPath(s"$dir/$HistoryDir"), Hfs.conf(spark))
      .toSeq.map(_.getPath.getName)
      .collect { case HistoryRe(id) => id.toLong }.sorted

  /** Committed snapshot ids available for time travel, ascending.
    *
    * Round-12 fix (ADVICE r11): [[commitArchived]] writes the history
    * entry BEFORE the pointer flip, so a crash between the two leaves
    * an archived body describing a state that never committed; until
    * the replay overwrites it under the same id, a raw directory
    * listing would serve that uncommitted state as a committed
    * snapshot. Committedness is therefore validated on read: only ids
    * ≤ the CURRENT pointer's `"commit"` field are listed (the pointer
    * is the commit; everything beyond it is an in-flight orphan). */
  def listCommits(spark: SparkSession, dir: String,
      metaName: String): Seq[Long] = {
    val cap = currentCommitId(spark, dir, metaName).getOrElse(return Nil)
    listArchived(spark, dir).filter(_ <= cap)
  }

  /** The archived pointer body of snapshot `commitId`, if COMMITTED —
    * ids beyond the current pointer's commit are in-flight orphans
    * (see [[listCommits]]) and read as absent. */
  def readPointerAt(spark: SparkSession, dir: String, metaName: String,
      commitId: Long): Option[String] = {
    val cap = currentCommitId(spark, dir, metaName).getOrElse(return None)
    if (commitId > cap) return None
    val p = new HPath(s"$dir/$HistoryDir/commit-$commitId.json")
    val hc = Hfs.conf(spark)
    if (Hfs.exists(p, hc)) Some(Hfs.readString(p, hc).trim) else None
  }

  /** TIMESTAMP AS OF resolution: the latest committed snapshot whose
    * history entry was written at or before `tsMillis` — the archive
    * file's modification time IS the commit's wall-clock (the pointer
    * flip follows within the same verb). None when every commit is
    * later than the asked instant. Powers [[graft.sources.GraftCatalog]]'s
    * `TIMESTAMP AS OF`; `VERSION AS OF` goes straight to the id. */
  def commitAtTimestamp(spark: SparkSession, dir: String,
      metaName: String, tsMillis: Long): Option[Long] = {
    val hc = Hfs.conf(spark)
    listCommits(spark, dir, metaName).filter { c =>
      val p = new HPath(s"$dir/$HistoryDir/commit-$c.json")
      Hfs.exists(p, hc) && Hfs.mtime(p, hc) <= tsMillis
    }.lastOption
  }

  /** The commit id produced by the FOLD of ledgered batch `batchId` —
    * the snapshot a cross-store set manifest must pin (ADVICE r11: on a
    * crash replay, a store-level compact/purge may have run between the
    * original fold and the replay, so the store's CURRENT commit can be
    * later than the batch's fold commit; pinning current would claim
    * "as of batch B" while naming a post-maintenance state). The fold
    * commit is the FIRST committed snapshot whose `"batch"` equals
    * `batchId` (every ledgered fold commits, including screened-empty
    * no-op bumps; a miss means the store never folded this batch).
    * History bodies are a few hundred bytes; the descending scan (see
    * the body) reads only the commits at or after the fold. */
  def foldCommitForBatch(spark: SparkSession, dir: String,
      metaName: String, batchId: Long): Long = {
    val commits = listCommits(spark, dir, metaName)
    require(commits.nonEmpty, s"$dir has no committed snapshots")
    def batchOf(c: Long): Long = {
      val body = readPointerAt(spark, dir, metaName, c).getOrElse(
        sys.error(s"$dir history entry commit-$c.json vanished mid-read"))
      BatchFieldRe.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(
        sys.error(s"$dir commit-$c.json carries no batch field: $body"))
    }
    // batch ids are NONDECREASING across commits — enforced, not
    // assumed: every store commit records `StoreManifest.ledger`, the
    // max of the current ledger and the verb's id, so a verb without a
    // batch id (−1) never rewinds it; maintenance verbs copy it. Walk
    // DESCENDING from the newest commit and stop once batch drops below
    // the target — for the common case (pinning the batch just folded)
    // that is O(maintenance ops since the fold), not O(total history)
    // small-file reads per set refresh (round-12 self-review: the
    // ascending scan read nearly every archive body, growing
    // unboundedly with history). The run's OLDEST member is the fold.
    var best = -1L
    val it = commits.reverseIterator
    var done = false
    while (it.hasNext && !done) {
      val c = it.next()
      val b = batchOf(c)
      if (b == batchId) best = c
      else if (b < batchId) done = true
    }
    if (best >= 0L) best
    else sys.error(
      s"$dir has no commit for batch $batchId " +
        s"(committed: ${commits.mkString(", ")}) — the store never " +
        "folded this batch under a ledgered id")
  }

  /** Diagnose an unparseable manifest body: a present-but-different
    * `"format"` field is a VERSION MISMATCH (a store written by another
    * build of this library), not corruption — say so (ADVICE r11: the
    * v3→v4 format bumps made old stores fail with a corruption-shaped
    * "unparseable" error). */
  def unparseableMsg(where: String, body: String,
      expected: String): String = {
    val FormatRe = """"format": "([^"]+)"""".r
    FormatRe.findFirstMatchIn(body).map(_.group(1)) match {
      case Some(f) if f != expected =>
        s"manifest version mismatch at $where: store holds format '$f', " +
          s"this build expects '$expected' — rebuild the store (or read " +
          "it with the build that wrote it); refusing to guess at a " +
          "migration"
      case _ =>
        s"unparseable manifest at $where: '${body.take(120)}' " +
          "(refusing to guess — the pointer is the commit)"
    }
  }

  private val VacuumIntentName = "_graft_vacuum_intent.json"
  private val VacuumIntentRe = """\{"cutoff": ([0-9]+)\}""".r

  /** Fail-closed readability check for an ARCHIVED slice window: every
    * slice id in [sliceBase, slices) must still exist under at least one
    * sub (each committed id was written by exactly one op, which wrote
    * ≥ 1 subdir), AND no crashed vacuum may have partially removed the
    * window — [[gcSlices]] records its cutoff in an intent marker before
    * deleting and clears it after, so a crash mid-sweep leaves the
    * marker and every snapshot reaching below the cutoff fails loudly
    * here instead of silently reading a half-deleted slice (round-11
    * review: the presence check alone could pass an id deleted from one
    * sub but not yet another). Errors loudly instead of silently
    * reading a partial snapshot — the [[graft.cdc.Apply]]
    * restore/readMergeTableAt contract. */
  def requireSlicesReadable(spark: SparkSession, dir: String,
      subs: Seq[String], sliceBase: Long, slices: Long,
      what: String): Unit = {
    val hc = Hfs.conf(spark)
    val intent = new HPath(s"$dir/$VacuumIntentName")
    if (Hfs.exists(intent, hc)) {
      val cutoff = Hfs.readString(intent, hc).trim match {
        case VacuumIntentRe(c) => c.toLong
        case other => sys.error(
          s"unparseable vacuum intent at $intent: '${other.take(80)}'")
      }
      require(sliceBase >= cutoff,
        s"$what of $dir is no longer readable: a vacuum up to slice " +
          s"$cutoff is in progress or crashed mid-sweep (re-run " +
          "vacuumSlices to finish it)")
    }
    val present: Set[Long] = subs.flatMap { sub =>
      Hfs.list(new HPath(s"$dir/$sub"), hc).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith("slice="))
        .map(_.stripPrefix("slice=").toLong)
    }.toSet
    val gone = (sliceBase until slices).filterNot(present)
    require(gone.isEmpty,
      s"$what of $dir is no longer readable: slice ${gone.head} was " +
        "vacuumed (delay vacuumSlices to retain history)")
  }

  /** A snapshot's generation data dir `<dir>/gen=<gen><sub>`, failing
    * loudly once generation retention ([[gc]]) dropped it — the one
    * fail-closed generation check of the generational stores' time
    * travel. */
  def requireGen(spark: SparkSession, dir: String, gen: Long, sub: String,
      what: String): String = {
    val p = s"$dir/gen=$gen$sub"
    require(Hfs.exists(new HPath(p), Hfs.conf(spark)),
      s"$what of $dir is no longer readable: gen=$gen was dropped by " +
        "generation retention (raise retainGens to keep it)")
    p
  }

  /** Deferred GC: drop `gen=` dirs strictly below `cutoffGen` — callers
    * compute the cutoff from their retention window AFTER the flip, so
    * removed generations are non-live under both old and new pointers. */
  def gc(spark: SparkSession, dir: String, cutoffGen: Long): Unit = {
    val hc = Hfs.conf(spark)
    Hfs.list(new HPath(dir), hc).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("gen=") &&
          name.stripPrefix("gen=").toLong < cutoffGen)
        Hfs.delete(st.getPath, hc)
    }
  }

  /** CLAIM a slice id before the pointer commit that will advance the
    * live window past it: delete any dirs a CRASHED operation left at
    * `dir/<sub>/slice=<sliceId>` for subs this operation does not itself
    * overwrite. Without the claim, an orphan data slice from a fold that
    * died between its data write and its pointer commit would silently
    * become LIVE when a sibling verb (purge, compact) allocates the same
    * slice id and commits `slices = S+1` — its rows would enter every
    * read while the manifest stats never counted them, and the crashed
    * batch's replay would then re-fold at S+1, double-inserting it
    * (round-10 ADVICE). Writers that `mode("overwrite")` a sub at the
    * claimed id need no claim for that sub — overwrite is the claim. */
  private[util] def claimSlice(spark: SparkSession, dir: String,
      subs: Seq[String], sliceId: Long): Unit = {
    val hc = Hfs.conf(spark)
    subs.foreach { sub =>
      val p = new HPath(s"$dir/$sub/slice=$sliceId")
      if (Hfs.exists(p, hc)) Hfs.delete(p, hc)
    }
  }

  /** [[gc]]'s analog for the APPEND-ONLY SLICE stores (LedgerStore /
    * SemLedgerStore v3): under each `dir/<sub>`, drop `slice=` dirs
    * strictly below `cutoff` — slices a compaction's pointer commit
    * already moved the live window past, so they are non-live under the
    * current and every later pointer. Returns dirs removed.
    *
    * Crash safety (round-11 review): an intent marker carrying the
    * cutoff is written BEFORE any delete and cleared after the sweep,
    * and deletion proceeds slice-id-major (every sub's dir for one id,
    * then the next id) — a crash mid-sweep therefore leaves the marker
    * in place, and [[requireSlicesReadable]] fails any snapshot
    * reaching below the recorded cutoff loudly instead of letting it
    * read a slice deleted from some subs but not others. Re-running
    * the vacuum finishes the sweep and clears the marker. Live reads
    * are unaffected: the cutoff is the CURRENT sliceBase, so every
    * committed window from here on starts at or above it. */
  def gcSlices(spark: SparkSession, dir: String, subs: Seq[String],
      cutoff: Long): Int = {
    val hc = Hfs.conf(spark)
    val doomed: Seq[(Long, HPath)] = subs.flatMap { sub =>
      Hfs.list(new HPath(s"$dir/$sub"), hc).toSeq
        .filter(_.getPath.getName.startsWith("slice="))
        .map(st => (st.getPath.getName.stripPrefix("slice=").toLong,
          st.getPath))
        .filter(_._1 < cutoff)
    }
    val intent = new HPath(s"$dir/$VacuumIntentName")
    if (doomed.isEmpty) {
      // ADVICE r11 (medium): a vacuum that crashed AFTER deleting every
      // doomed dir but BEFORE clearing its intent marker leaves the
      // marker with nothing left to sweep — the old early return never
      // cleared it, so requireSlicesReadable failed every pre-cutoff
      // snapshot forever while promising "re-run vacuumSlices to
      // finish", which was a no-op. An empty doomed set means the sweep
      // is trivially complete: clear any stale marker before returning.
      if (Hfs.exists(intent, hc)) Hfs.delete(intent, hc)
      return 0
    }
    Hfs.writeStringAtomic(intent, s"""{"cutoff": $cutoff}""", hc)
    val n = doomed.sortBy(_._1).map { case (_, p) =>
      Hfs.delete(p, hc); 1
    }.sum
    Hfs.delete(intent, hc)
    n
  }
}
