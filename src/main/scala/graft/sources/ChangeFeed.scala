package graft.sources

import java.util.{Set => JSet}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The store kinds a change feed can tail — each maps the shared
  * commit-window protocol onto its own manifest and on-disk layout:
  * the slice stores ([[SliceFeed]], slices under `dir/<sub>/slice=N`)
  * and the merge table ([[graft.cdc.Apply.changeFeedDirs]], write-time
  * change slices under `dir/_changes/commit=N`). `emptySchema` covers
  * feeds that are legitimately subscribable before their first slice
  * exists (a pre-purge `purged` feed projects the store's id column
  * from a sibling sub). */
private[sources] sealed trait FeedStore {
  def storeName: String
  def subs: Set[String]
  def basePath(dir: String, sub: String): String = s"$dir/$sub"
  /** Extra parquet read options (the merge feed turns on mergeSchema —
    * a schema-evolved table's change slices legitimately differ). */
  def readOptions: Map[String, String] = Map.empty
  def currentCommit(spark: SparkSession, dir: String): Long
  def changeDirs(spark: SparkSession, dir: String, sub: String,
      since: Long, until: Long): (Seq[String], String)
  /** Every change slice of `sub` still on disk — schema substrate
    * (full history, not just the live window). */
  def existingDirs(spark: SparkSession, dir: String, sub: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(basePath(dir, sub))
    val hc = graft.util.Hfs.conf(spark)
    graft.util.Hfs.list(p, hc).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("slice=")).map(_.toString).sorted
  }
  def emptySchema(spark: SparkSession, dir: String, sub: String): StructType =
    sys.error(s"$dir/$sub holds no slices — seed the store before " +
      "subscribing to its change feed")
}

/** A slice store's feeds (`changes.<kind>.<table>`): the store's
  * [[graft.util.SliceManifest.changeDirs]] over its manifest's tables. */
private[sources] final class SliceFeed(kind: StoreKind) extends FeedStore {
  val storeName = kind.name
  val subs = kind.manifest.tables.toSet
  def currentCommit(spark: SparkSession, dir: String): Long =
    kind.manifest.read(spark, dir).map(_.commit).getOrElse(-1L)
  def changeDirs(spark: SparkSession, dir: String, sub: String,
      since: Long, until: Long): (Seq[String], String) =
    kind.manifest.changeDirs(spark, dir, sub, since, until)
  override def emptySchema(spark: SparkSession, dir: String,
      sub: String): StructType = {
    val (proxy, key) = kind.feed.get
    ChangeFeed.purgedProxySchema(this, spark, dir, sub, proxy,
      Set(key, "slice"))
  }
}

/** The WAREHOUSE TABLE's own feed: every merge batch writes its
  * applied envelope rows (op, _key, _version, after columns — latest
  * per key, REMOVEs included) as a change slice atomically with its
  * commit, and [[graft.cdc.Apply.purgeKeys]] writes its REMOVE events
  * the same way — so the feed needs NO snapshot diffing, ever (the
  * Delta-CDF design: the transaction that knows its changes records
  * them). `commit` rides as a hive partition column. */
private[sources] object MergeFeed extends FeedStore {
  val storeName = "merge"
  val subs = Set("feed")
  override def basePath(dir: String, sub: String): String = s"$dir/_changes"
  override val readOptions: Map[String, String] = Map("mergeSchema" -> "true")
  def currentCommit(spark: SparkSession, dir: String): Long =
    graft.cdc.Apply.currentCommit(spark, dir)
  def changeDirs(spark: SparkSession, dir: String, sub: String,
      since: Long, until: Long): (Seq[String], String) =
    graft.cdc.Apply.changeFeedDirs(spark, dir, since, until)
  override def existingDirs(spark: SparkSession, dir: String,
      sub: String): Seq[String] =
    graft.cdc.Apply.changeSliceDirsOnDisk(spark, dir)
}

/** CHANGE DATA FEED over the persisted substrates — the CDC-OUT face
  * of a CDC engine (round 12). The reference's whole pipeline is
  * change capture INTO a warehouse
  * (`source/write_dynamodb_stream_to_s3_lambda/handler.py` emits change
  * events; DMS tails binlogs); the natural completion is the warehouse
  * emitting ITS OWN downstream change stream, so maintained substrates
  * can cascade (index replication, deletion propagation, cache
  * invalidation) without re-diffing snapshots:
  *
  * {{{
  *   // batch: the rows commits (since, until] appended
  *   spark.read.format("graft").option("path", dir)
  *     .option("table", "changes.postings.doclen")
  *     .option("sinceCommit", "0").load()
  *   // streaming: one micro-batch per unseen commit window,
  *   // exactly-once via checkpointed commit offsets
  *   spark.readStream.format("graft").option("path", dir)
  *     .option("table", "changes.merge").load()
  * }}}
  *
  * Surfaces: `changes.<kind>.<table>` for each feed-bearing
  * [[StoreKind]] — postings, ledger, sem and graph (the graph's `pairs`
  * feed is DIFFERENTIAL — signed Δ-counts; summing `dn` maintains exact
  * edge weights, purges ride as negatives; sem's `pairs` is the stream
  * of newly-discovered near-duplicate pairs) — and `changes.merge` (the
  * warehouse table's applied upserts + REMOVEs, written at commit
  * time — no diffing). Labels rewrite per generation and have no feed.
  *
  * Semantics ([[graft.util.SliceManifest.changeDirs]] /
  * [[graft.cdc.Apply.changeFeedDirs]]): a FOLD's appended slices are
  * row additions, a PURGE's slice its deletions, and a COMPACT /
  * RESTORE / VACUUM — physical or metadata reorganizations of rows
  * that already flowed — emit NOTHING. Offsets are COMMIT IDS: the
  * archived manifests make every `(start, end]` window a pure function
  * of immutable history, so a restarted stream replays exactly the
  * uncommitted window and nothing else. Vacuumed/retired windows fail
  * LOUDLY at resolution — a feed can lag at most as far as slice
  * retention, never silently skip.
  *
  * Reading delegates to Spark's parquet machinery with the feed's
  * schema PINNED as the user-specified schema (the table-level merged
  * view), so every window — including pre-evolution merge slices —
  * reads uniformly (absent columns null-fill) and one reader factory
  * serves all batches. The DELTA face claims no filter/column
  * pushdown — deltas are the bounded small side by design;
  * full-history analytical reads with pruning go through the snapshot
  * surfaces. */
final class ChangeFeedTable(spark: SparkSession, dir: String,
    store: FeedStore, sub: String, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  require(store.subs(sub),
    s"unknown change feed 'changes.${store.storeName}.$sub' " +
      s"(supported: changes.${store.storeName}." +
      s"{${store.subs.toSeq.sorted.mkString(",")}})")

  override def name(): String =
    s"graft:changes.${store.storeName}.$sub:$dir"

  /** The feed's row shape, inferred once over the slices ON DISK (not
    * just the live window: a change read may reach slices a compact
    * moved the window past) and pinned on every window batch. */
  override lazy val schema: StructType = {
    val own = store.existingDirs(spark, dir, sub)
    if (own.nonEmpty) ChangeFeed.inferSchema(store, spark, dir, sub, own)
    else store.emptySchema(spark, dir, sub)
  }

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(
      scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val since = Option(options.get("sinceCommit")).map(_.toLong).getOrElse(-1L)
    val until = Option(options.get("untilCommit")).map(_.toLong)
    new ChangeFeedScanBuilder(spark, dir, store, sub, schema, since, until)
  }
}

private[sources] final class ChangeFeedScanBuilder(spark: SparkSession,
    dir: String, store: FeedStore, sub: String, schema: StructType,
    since: Long, until: Option[Long]) extends ScanBuilder {
  override def build(): Scan =
    new ChangeFeedScan(spark, dir, store, sub, schema, since, until)
}

private[sources] final class ChangeFeedScan(spark: SparkSession,
    dir: String, store: FeedStore, sub: String, schema: StructType,
    since: Long, until: Option[Long]) extends Scan {

  override def readSchema(): StructType = schema

  override def description(): String =
    s"graft change feed ${store.storeName}.$sub $dir " +
      s"(${since}, ${until.getOrElse("current")}]"

  /** Batch delta read: the rows commits `(since, until]` appended,
    * `until` defaulting to the current commit. */
  override def toBatch: Batch = {
    val cur = store.currentCommit(spark, dir)
    // fail-closed BOTH ways (ADVICE r12): the explicit-until path always
    // rejected a future window, but a sinceCommit beyond the current
    // commit (a typo'd offset) used to clamp to an empty batch silently
    require(since <= cur,
      s"sinceCommit $since is beyond the current commit $cur of $dir — " +
        "a change window must start at or before the committed history")
    val hi = until.getOrElse(cur)
    val (dirs, base) = store.changeDirs(spark, dir, sub, since, hi)
    if (dirs.isEmpty) ChangeFeed.EmptyBatch
    else ChangeFeed.parquetBatch(store, spark, schema, dirs, base)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream =
    new ChangesStream(spark, dir, store, sub, schema, since)
}

/** Commit-id offset: the checkpointed position of a [[ChangesStream]].
  * Equality is structural — the engine plans a batch iff latest moved. */
private[sources] final case class CommitOffset(commit: Long) extends Offset {
  override def json(): String = s"""{"commit":$commit}"""
}

/** The micro-batch stream: each batch is one `(start, end]` commit
  * window resolved through the store's change resolution and read as a
  * stock parquet batch. Offsets come from the manifest pointer; the
  * archived history makes every planned window replayable bit-for-bit
  * after a restart.
  *
  * Offsets never regress: the latest offset is never below the start
  * offset the engine hands in (the end of the last planned window). A
  * manifest read that races a commit can see no pointer at all (commit
  * −1); without the floor that read became an end offset below the
  * logged one, and every restart from the checkpoint then failed on the
  * backwards window. */
private[sources] final class ChangesStream(spark: SparkSession,
    dir: String, store: FeedStore, sub: String, schema: StructType,
    since: Long) extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = CommitOffset(since)

  override def latestOffset(): Offset =
    latestOffset(initialOffset(), ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    CommitOffset(math.max(start.asInstanceOf[CommitOffset].commit,
      store.currentCommit(spark, dir)))

  override def deserializeOffset(json: String): Offset = {
    val re = """\{"commit":(-?[0-9]+)\}""".r
    json.trim match {
      case re(c) => CommitOffset(c.toLong)
      case other => sys.error(s"unparseable change-feed offset '$other'")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val lo = start.asInstanceOf[CommitOffset].commit
    val hi = end.asInstanceOf[CommitOffset].commit
    val (dirs, base) = store.changeDirs(spark, dir, sub, lo, hi)
    if (dirs.isEmpty) Array.empty
    else ChangeFeed.parquetBatch(store, spark, schema, dirs, base)
      .planInputPartitions()
  }

  /** Factory built from ONE representative slice dir and memoized:
    * parquet reader factories depend only on schemas and options (the
    * feed schema is pinned on every window), so one factory serves
    * every batch — a store with thousands of slices pays one footer
    * read, not a per-batch sweep. With no slices yet (a pre-purge
    * `purged` feed) every planned window is empty and the factory is
    * never invoked — fail only on use, and do NOT memoize, so the
    * first real tombstone slice builds the real factory. */
  @volatile private var cachedFactory: PartitionReaderFactory = null

  override def createReaderFactory(): PartitionReaderFactory = {
    if (cachedFactory != null) return cachedFactory
    val own = store.existingDirs(spark, dir, sub)
    if (own.nonEmpty) {
      cachedFactory = ChangeFeed.parquetBatch(store, spark, schema,
        own.take(1), store.basePath(dir, sub)).createReaderFactory()
      cachedFactory
    } else {
      // capture only the string: a lambda over `this` would drag the
      // whole (non-serializable) stream into the task closure
      val where = store.basePath(dir, sub)
      (_: InputPartition) => sys.error(
        s"change feed $where planned a non-empty batch with no " +
          "slices on disk — this cannot happen")
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object ChangeFeed {

  private def opts(store: FeedStore,
      base: String): CaseInsensitiveStringMap =
    new CaseInsensitiveStringMap(
      (store.readOptions + ("basePath" -> base)).asJava)

  def inferSchema(store: FeedStore, spark: SparkSession, dir: String,
      sub: String, dirs: Seq[String]): StructType =
    ParquetTable(s"graft:changes:schema:$dir/$sub", spark,
      opts(store, store.basePath(dir, sub)), dirs, None,
      classOf[ParquetFileFormat]).schema

  /** The empty-feed schema of a `purged` sub, projected from a sibling
    * the store always seeds — the store's id column is uniform across
    * subs by construction, so the projection is exact. */
  def purgedProxySchema(store: FeedStore, spark: SparkSession,
      dir: String, sub: String, proxy: String,
      keep: Set[String]): StructType = {
    require(sub == "purged", s"no empty-feed schema for $sub")
    val px = store.existingDirs(spark, dir, proxy)
    require(px.nonEmpty,
      s"$dir holds no slices at all — seed the store before " +
        "subscribing to its change feed")
    StructType(inferSchema(store, spark, dir, proxy, px)
      .filter(f => keep(f.name)))
  }

  /** One window's slice dirs as a stock parquet [[Batch]] with the
    * feed's schema PINNED (user-specified), so every window reads the
    * same shape — pre-evolution merge slices null-fill absent
    * columns — and the memoized reader factory stays valid. */
  def parquetBatch(store: FeedStore, spark: SparkSession,
      schema: StructType, dirs: Seq[String], base: String): Batch = {
    val o = opts(store, base)
    ParquetTable(s"graft:changes:$base", spark, o, dirs, Some(schema),
      classOf[ParquetFileFormat])
      .newScanBuilder(o).build().toBatch
  }

  /** A window no commit touched: zero partitions, a factory that is
    * never invoked. */
  object EmptyBatch extends Batch {
    override def planInputPartitions(): Array[InputPartition] = Array.empty
    override def createReaderFactory(): PartitionReaderFactory =
      (_: InputPartition) => sys.error("empty change window has no rows")
  }
}
