package graft.util

import scala.reflect.ClassTag
import scala.util.Try

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The MANIFEST KERNEL of the ledgered slice stores (postings, text and
  * semantic dedup ledgers, graph, IVF and IVF-PQ): one typed pointer
  * body per store, written and read through ONE codec so the exactly-
  * once bookkeeping cannot drift between stores.
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
  * batch → fold-commit pin; [[Generations]] keeps the pointer I/O.
  */
final class StoreManifest[M <: StoreManifest.Entry](val name: String,
    val format: String, what: String)(implicit tag: ClassTag[M]) {

  // a case class has one public constructor: its fields, in order
  private val ctor = tag.runtimeClass.getConstructors.head

  private def build(values: Seq[Any]): M =
    ctor.newInstance(values.map(_.asInstanceOf[AnyRef]): _*).asInstanceOf[M]

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
        commit(spark, dir, build(m.productElementNames.zip(m.productIterator)
          .map {
            case ("batch", _) => batchId
            case ("commit", _) => m.commit + 1
            case (_, v) => v
          }.toSeq))
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

object StoreManifest {

  /** What every manifest carries: its format, the batch ledger and the
    * snapshot id. */
  trait Entry extends Product {
    def format: String
    def batch: Long
    def commit: Long
  }

  /** A slice store's manifest: the live window `[sliceBase, slices)`. */
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
