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
  * ([[Generations.commitArchived]]), the empty-batch ledger bump and the
  * batch → fold-commit pin; [[Generations]] keeps the pointer I/O. A
  * store supplies its folds, its compaction's merged-slice writes and
  * its read surfaces; the streaming loop that drives a fold is
  * [[Maintenance.foldStream]].
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

  /** ADVICE r11: a ledgered batch the tombstone screen (or the batch
    * itself) left EMPTY must still record its batch id — returning
    * without a commit leaves the batch unledgered, so after maintenance
    * drops the tombstones, a streaming replay of that batch (restart
    * before the checkpoint committed) would re-fold and resurrect the
    * purged rows. A no-op pointer bump (batch advanced, data untouched)
    * keeps the replay guard `batchId <= m.batch` suppressing the
    * re-fold. */
  def recordEmptyBatch(spark: SparkSession, dir: String, prev: Option[M],
      batchId: Long): Unit =
    prev.foreach { m =>
      if (batchId >= 0 && batchId > m.batch)
        commit(spark, dir, updated(m) {
          case "batch" => batchId
          case "commit" => m.commit + 1
        })
    }

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
  * around the window is this class's: the live and change-window slice
  * dirs, the readability check, the vacuum and the compaction skeleton.
  * The store's tombstone table is `purged`. */
final class SliceManifest[M <: StoreManifest.Windowed](name: String,
    format: String, what: String, val tables: Seq[String],
    base: M => String = (_: M) => "")(implicit tag: ClassTag[M])
    extends StoreManifest[M](name, format, what) {

  private def subs(m: M): Seq[String] = tables.map(base(m) + _)

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
        Generations.claimSlice(spark, dir, Seq(s"${base(m)}purged"), merged)
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
