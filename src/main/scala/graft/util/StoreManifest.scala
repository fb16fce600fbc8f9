package graft.util

import scala.reflect.ClassTag
import scala.util.Try

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The KERNEL of the ledgered slice stores (postings, text and semantic
  * dedup ledgers, graph, IVF and IVF-PQ): one typed pointer body per
  * store, written and read through ONE codec, and — for the five
  * slice stores ([[SliceManifest]]) — one implementation of the
  * protocol around the window, so the exactly-once bookkeeping cannot
  * drift between stores.
  *
  * A store's manifest is its `Meta` case class rendered as flat JSON —
  * `{"field": value, ...}` with the fields in DECLARATION order, strings
  * quoted, numbers bare — and parsed back through the case class's
  * constructor. A body parses only if it renders back byte-for-byte and
  * names this build's format: anything else fails loudly before any
  * read or write ([[Generations.unparseableMsg]] tells a manifest from
  * another build apart from a corrupt one). On top of the codec the
  * kernel owns the current and archived reads, the archived commit
  * ([[Generations.commitArchived]]), the batch ledger (the replay guard
  * and the empty-batch bump, [[ledgered]]) and the batch → fold-commit
  * pin; [[Generations]] keeps the pointer I/O. The slice stores write
  * through ONE ledgered slice write ([[SliceManifest.write]]): a store
  * supplies what its verbs retire and land, its compaction's
  * merged-slice writes and its read surfaces; the streaming loop that
  * drives a fold is [[Maintenance.foldStream]].
  */
class StoreManifest[M <: StoreManifest.Entry](val name: String,
    val format: String, what: String)(implicit tag: ClassTag[M]) {

  // a case class has one public constructor: its fields, in order
  private val ctor = tag.runtimeClass.getConstructors.head

  private def build(values: Seq[Any]): M =
    ctor.newInstance(values.map(_.asInstanceOf[AnyRef]): _*).asInstanceOf[M]

  /** `m` with the fields `f` names replaced — the copy a generic
    * maintenance commit needs without knowing the store's case class. */
  protected def updated(m: M)(f: PartialFunction[String, Any]): M =
    build(m.productElementNames.zip(m.productIterator)
      .map { case (k, v) => f.applyOrElse(k, (_: String) => v) }.toSeq)

  def render(m: M): String =
    m.productElementNames.zip(m.productIterator).map {
      case (k, v: String) => s""""$k": "$v""""
      case (k, v) => s""""$k": $v"""
    }.mkString("{", ", ", "}")

  def parse(where: String, body: String): M = {
    val raw = StoreManifest.FieldRe.findAllMatchIn(body).map(_.group(1)).toSeq
    Try(build(raw.zip(ctor.getParameterTypes).map {
      case (v, t) if t == classOf[String] && v.startsWith("\"") =>
        v.substring(1, v.length - 1)
      case (v, java.lang.Long.TYPE) => v.toLong
      case (v, java.lang.Integer.TYPE) => v.toInt
    })).toOption.filter(m => m.format == format && render(m) == body)
      .getOrElse(sys.error(
        Generations.unparseableMsg(s"$where ($what manifest)", body, format)))
  }

  /** The current manifest, if the store has committed. */
  def read(spark: SparkSession, dir: String): Option[M] =
    Generations.readPointer(spark, dir, name).map(parse(dir, _))

  /** The current manifest of a store that must exist. */
  def get(spark: SparkSession, dir: String): M =
    read(spark, dir).getOrElse(
      sys.error(s"no committed $what store at $dir (missing $name)"))

  /** Committed snapshot ids, ascending. */
  def commits(spark: SparkSession, dir: String): Seq[Long] =
    Generations.listCommits(spark, dir, name)

  /** The archived manifest of snapshot `commit`. */
  def at(spark: SparkSession, dir: String, commit: Long): M =
    parse(s"$dir@$commit",
      Generations.readPointerAt(spark, dir, name, commit).getOrElse(sys.error(
        s"$dir has no committed snapshot $commit " +
          s"(available: ${commits(spark, dir).mkString(", ")})")))

  /** The commit: archive the body as `commit-<m.commit>`, flip the
    * pointer. */
  def commit(spark: SparkSession, dir: String, m: M): Unit =
    Generations.commitArchived(spark, dir, name, render(m), m.commit)

  /** The batch ledger around ONE write: `body` runs only for a batch the
    * ledger has not seen — the REPLAY GUARD: a ledgered id (≥ 0) at or
    * below `m.batch` was already folded, so a stream's replay after a
    * crash between the store's commit and the checkpoint's is a no-op,
    * not a second insert. A `body` that lands nothing (None) still
    * records its batch id: the EMPTY-BATCH bump (ADVICE r11 — a batch
    * the tombstone screen left empty and never ledgered would re-fold on
    * a replay once maintenance dropped the tombstones, resurrecting the
    * purged rows). `prev` is None before the store's first commit. The
    * slice stores reach this through [[SliceManifest.write]]; IVF-PQ's
    * generation publishes call it directly. */
  def ledgered[T](spark: SparkSession, dir: String, prev: Option[M],
      batchId: Long)(body: => Option[T]): Option[T] =
    if (prev.exists(m => batchId >= 0 && batchId <= m.batch)) None
    else {
      val out = body
      if (out.isEmpty) prev.foreach(recordEmptyBatch(spark, dir, _, batchId))
      out
    }

  /** The no-op pointer bump: batch advanced, data untouched. A verb
    * without a batch id (−1) records nothing, and an uncommitted seed
    * (`commit` −1) has no pointer to bump. */
  private def recordEmptyBatch(spark: SparkSession, dir: String, m: M,
      batchId: Long): Unit =
    if (m.commit >= 0 && batchId > m.batch)
      commit(spark, dir, updated(m) {
        case "batch" => batchId
        case "commit" => m.commit + 1
      })

  /** The ledger a commit records: `batchId`, or the current ledger when
    * the verb carries none (or an older one) — a manual write never
    * rewinds the ledger, so a stream's replay of its last ledgered batch
    * stays a no-op and [[commitForBatch]] can rely on batch ids never
    * decreasing across commits. */
  def ledger(prev: Option[M], batchId: Long): Long =
    prev.fold(batchId)(m => math.max(m.batch, batchId))

  /** The committed snapshot id produced by LEDGERED batch `batchId` —
    * the pin a cross-store set manifest records (ADVICE r11: the
    * store's CURRENT commit can be later than the batch's fold commit
    * when a compact/purge ran since — pinning current would claim "as
    * of batch B" while naming a post-maintenance state). −1 when the
    * store has no committed state at all (an empty seed batch). */
  def commitForBatch(spark: SparkSession, dir: String, batchId: Long): Long =
    if (read(spark, dir).isEmpty) -1L
    else Generations.foldCommitForBatch(spark, dir, name, batchId)
}

/** A SLICE store's manifest: the live window `[sliceBase, slices)` over
  * its `tables` (each `<dir>/<base(m)><table>/slice=S`; `base` is empty
  * except for IVF, whose tables live inside the generation, `gen=G/`).
  * Every table list is spelled here, once per store, and the protocol
  * around the window is this class's: the ledgered write ([[write]]),
  * the tombstone screen, purge-as-upsert, the live and change-window
  * slice dirs, the readability check, the vacuum and the compaction
  * skeleton. The store's tombstone table is `purged`. */
final class SliceManifest[M <: StoreManifest.Windowed](name: String,
    format: String, what: String, val tables: Seq[String],
    base: M => String = (_: M) => "")(implicit tag: ClassTag[M])
    extends StoreManifest[M](name, format, what) {

  private def subs(m: M): Seq[String] = tables.map(base(m) + _)

  private def purged(m: M): String = s"${base(m)}purged"

  /** One ledgered write's plan ([[write]]): `retire` holds the keys to
    * tombstone (a materialized frame; skipped when empty), `withTombstone`
    * writes any other table the tombstone slice carries (the graph's
    * cancelling Δ-pairs), `land` writes the data slice at the id it is
    * given, and `fill` sets the store's own fields (stats, `gen`, `rows`)
    * once the slices are on disk. */
  final class Write(val retire: Option[DataFrame],
      val withTombstone: Long => Unit, val land: Option[Long => Unit],
      val fill: StoreManifest.Landed => M)

  object Write {
    def apply(retire: Option[DataFrame] = None,
        withTombstone: Long => Unit = _ => (),
        land: Option[Long => Unit] = None)(
        fill: StoreManifest.Landed => M): Write =
      new Write(retire, withTombstone, land, fill)
  }

  /** THE LEDGERED SLICE WRITE — every slice-advancing verb of the five
    * slice stores (folds, upserts and, through them, purges) is this one
    * sequence, so the exactly-once bookkeeping cannot drift between
    * stores. Given the current manifest `m` (or the store's seed, with
    * `commit` −1) and the verb's batch id:
    *  - the replay guard and the empty-batch bump ([[ledgered]]); `plan`
    *    runs only past the guard;
    *  - the tombstone, if `retire` holds any key, lands at slice
    *    S = `m.slices` and the data at S or S+1 — SLICE-ORDERED: a
    *    tombstone masks only older slices, so a re-landed row written
    *    above its own tombstone stays visible;
    *  - each id is CLAIMED before it is written: at the tombstone id the
    *    data tables, at the data id the tombstone table. A crashed
    *    verb's orphan there would otherwise turn live when this commit
    *    advances the window past it — rows no stat counted, and a
    *    crashed fold's replay double-inserting at the next id (round-10
    *    ADVICE; overwriting a table is its own claim);
    *  - one commit of `fill`'s manifest with `batch` ([[ledger]]),
    *    `slices` and `commit` advanced.
    * Returns the committed manifest; None for a replay or a write that
    * landed nothing. */
  def write(spark: SparkSession, dir: String, m: M, batchId: Long)(
      plan: => Write): Option[M] =
    ledgered(spark, dir, Some(m), batchId) {
      val w = plan
      var next = m.slices
      def claim(subs: Seq[String]): Long = {
        Generations.claimSlice(spark, dir, subs, next)
        next += 1
        next - 1
      }
      val retired = w.retire.fold(0L) { keys =>
        val n = keys.count()
        if (n > 0L) {
          val s = claim(tables.filterNot(_ == "purged").map(base(m) + _))
          keys.write.mode("overwrite").parquet(s"$dir/${purged(m)}/slice=$s")
          w.withTombstone(s)
        }
        n
      }
      val data = w.land.map { f => val s = claim(Seq(purged(m))); f(s); s }
      Option.when(next > m.slices) {
        val out = updated(w.fill(StoreManifest.Landed(retired, data))) {
          case "batch" => ledger(Some(m), batchId)
          case "slices" => next
          case "commit" => m.commit + 1
        }
        commit(spark, dir, out)
        out
      }
    }

  /** The append folds' TOMBSTONE SCREEN: `rows` minus every key the live
    * window tombstones, or None when nothing is left (the fold then lands
    * nothing and [[write]] records the empty batch). A purged key stays
    * purged until compact and vacuum retire its tombstone — a plain
    * re-fold would count it in the stats while the tombstone hides it
    * from every read; an upsert, which retires the live copy itself,
    * re-lands it. `schema` (the key column) skips the tombstones'
    * schema-inference job. */
  def screen(spark: SparkSession, dir: String, m: M, rows: DataFrame,
      key: String, schema: Option[StructType] = None): Option[DataFrame] =
    Some(rows.join(StoreManifest.tombstones(spark, s"$dir/${purged(m)}", key,
      m, schema).select(col(key)), Seq(key), "left_anti")).filter(!_.isEmpty)

  /** A PURGE is its store's upsert with no upserts and no batch id:
    * `upsert(m)` runs under the store's write lease (`lock`) against the
    * current manifest `m`, and `delta(before, after)` reports the change
    * — None when no named key was live (nothing committed). */
  def purge[T](spark: SparkSession, dir: String, lock: String)(
      upsert: M => Any)(delta: (M, M) => T): Option[T] =
    Maintenance.withLeasedWriteLock(lock, spark, dir) {
      val before = get(spark, dir)
      upsert(before)
      Some(get(spark, dir)).filter(_.commit > before.commit)
        .map(delta(before, _))
    }

  /** Fail loudly unless every slice of `m`'s window is still on disk
    * ([[Generations.requireSlicesReadable]]) — the time-travel guard. */
  def requireReadable(spark: SparkSession, dir: String, m: M,
      snapshot: String): Unit =
    Generations.requireSlicesReadable(spark, dir, subs(m), m.sliceBase,
      m.slices, snapshot)

  /** The live slice dirs of table `sub` at snapshot `commit` (None:
    * current), plus the base path that keeps `slice` (and IVF's `cell`)
    * a partition column — the catalog's snapshot surfaces. Explicit
    * slice paths make the window a STATIC property of the table. Every
    * live slice id was written by one verb, so a table holds a subset
    * of the window's ids; the readability check spans all tables.
    * Fail-closed; may return no dirs (a `purged` table before any
    * purge). */
  def liveDirs(spark: SparkSession, dir: String, sub: String,
      commit: Option[Long]): (Seq[String], String) = {
    val m = commit.fold(get(spark, dir))(at(spark, dir, _))
    requireReadable(spark, dir, m, s"snapshot ${commit.getOrElse("current")}")
    val root = s"$dir/${base(m)}$sub"
    val hc = Hfs.conf(spark)
    ((m.sliceBase until m.slices).map(s => s"$root/slice=$s")
      .filter(p => Hfs.exists(new HPath(p), hc)), root)
  }

  /** CHANGE-FEED resolution: the slice dirs of `sub` APPENDED by the
    * commits in `(since, until]`, classified from the archived manifests
    * alone (no verb log). A commit that advanced `sliceBase` is a
    * COMPACT — a physical rewrite of rows that already flowed, so it
    * contributes nothing; a commit that added no slices is a no-op
    * ledger bump; every other commit appended genuine change slices
    * `[slices(c-1), slices(c))`, and which table a verb wrote is exactly
    * which table's dir exists at that id. `since = -1` streams from
    * genesis. Fail-closed: the whole change window must still be
    * readable (vacuum retires it loudly, never silently). */
  def changeDirs(spark: SparkSession, dir: String, sub: String,
      since: Long, until: Long): (Seq[String], String) = {
    require(since >= -1L && since <= until,
      s"bad change window ($since, $until]")
    val root = s"$dir/$sub"
    if (since == until) return (Nil, root)
    def window(c: Long): (Long, Long) =
      if (c < 0L) (0L, 0L)
      else { val m = at(spark, dir, c); (m.sliceBase, m.slices) }
    Generations.requireSlicesReadable(spark, dir, tables, window(since)._2,
      window(until)._2, s"change window ($since, $until]")
    val hc = Hfs.conf(spark)
    (((since + 1L) to until).flatMap { c =>
      val (prevBase, prevSlices) = window(c - 1)
      val (cBase, cSlices) = window(c)
      if (cBase > prevBase) Nil
      else (prevSlices until cSlices).map(s => s"$root/slice=$s")
    }.filter(p => Hfs.exists(new HPath(p), hc)), root)
  }

  /** Deferred slice GC: delete the slice dirs strictly below the CURRENT
    * `sliceBase` — non-live under the current and every later pointer
    * ([[Generations.gcSlices]]). Run after a grace window once
    * pre-compact readers have moved on. Returns dirs removed. */
  def vacuum(spark: SparkSession, dir: String): Int =
    read(spark, dir).map(m => Generations.gcSlices(spark, dir, subs(m),
      m.sliceBase)).getOrElse(0)

  /** OPTIMIZE: under the store's write lease (`lock`), merge the live
    * window into ONE slice per table and advance `sliceBase` past the
    * old slices in one atomic commit — every other field (stats, batch
    * ledger, fold config) rides along unchanged, so replay safety and
    * data identity are preserved. `write(m, merged)` writes the store's
    * merged tables at slice `merged` from the tombstone-masked live
    * view, so purged rows leave physically and the superseded
    * tombstones fall out of the window with the old slices; the merged
    * id's `purged` dir is claimed first (a crashed purge's orphan). A
    * crash before the commit leaves an invisible orphan the next
    * compact overwrites. Returns the merged slice id, or None when the
    * window already holds ≤ 1 slice. */
  def compact(spark: SparkSession, dir: String, lock: String)(
      write: (M, Long) => Unit): Option[Long] =
    Maintenance.withLeasedWriteLock(lock, spark, dir) {
      read(spark, dir).filter(m => m.slices - m.sliceBase > 1).map { m =>
        val merged = m.slices
        Generations.claimSlice(spark, dir, Seq(purged(m)), merged)
        write(m, merged)
        commit(spark, dir, updated(m) {
          case "sliceBase" => merged
          case "slices" => merged + 1
          case "commit" => m.commit + 1
        })
        merged
      }
    }
}

object StoreManifest {

  /** What every manifest carries: its format, the batch ledger and the
    * snapshot id. */
  trait Entry extends Product {
    def format: String
    def batch: Long
    def commit: Long
  }

  /** A slice store's manifest: the live window `[sliceBase, slices)`
    * ([[SliceManifest]]). */
  trait Windowed extends Entry {
    def sliceBase: Long
    def slices: Long
  }

  /** What one [[SliceManifest.write]] landed: the keys tombstoned (0: no
    * tombstone slice) and the data slice id, if any. */
  final case class Landed(retired: Long, data: Option[Long])

  private val FieldRe = """"\w+": ("[^"]*"|-?[0-9]+)""".r

  /** The live slice window of the `slice=`-partitioned table at `path`.
    * `schema` (the data columns) skips the schema-inference job when
    * the caller knows it. */
  def window(spark: SparkSession, path: String, m: Windowed,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_)).parquet(path)
      .filter(col("slice") >= m.sliceBase && col("slice") < m.slices)

  /** Tombstones `(key, _tomb = the tombstone's slice id)` in the live
    * window of `path` — the purge/upsert ledger; empty when no purge
    * ran or every tombstone slice was vacuumed (the dir then holds no
    * slice dirs, and schema inference would fail on it). */
  def tombstones(spark: SparkSession, path: String, key: String,
      m: Windowed, schema: Option[StructType] = None): DataFrame = {
    val p = new HPath(path)
    val hc = Hfs.conf(spark)
    if (Hfs.exists(p, hc) &&
        Hfs.list(p, hc).exists(_.getPath.getName.startsWith("slice=")))
      window(spark, path, m, schema)
        .select(col(key), col("slice").cast("long").as("_tomb"))
    else {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF(key, "_tomb")
    }
  }

  /** The SLICE-ORDERED mask: drop the rows (which carry `slice`) whose
    * `key` has a NEWER tombstone. A purge's tombstone is newer than
    * every row it targets; an upsert's re-landed copy, written above
    * its own tombstone, stays visible. */
  def maskOlder(rows: DataFrame, key: String, tombs: DataFrame): DataFrame =
    rows.join(tombs.select(col(tombs.columns.head).as("_tid"), col("_tomb")),
      col(key) === col("_tid") && col("_tomb") > col("slice"), "left_anti")
}
