package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Column, Identifier, ProcedureCatalog, StagedTable, StagingTableCatalog, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.util.Generations

/** IDENTIFIER-ADDRESSED catalog over the persisted substrates — the
  * completion of the DSv2 face (round 12): [[GraftTables]] made the
  * stores readable through `format("graft")` + options; this plugin
  * makes them addressable the way the reference's warehouse tables are
  * (plain names any SQL client can query —
  * `source/configure_redshift_for_dynamodb_cdc_lambda/handler.py:22-31`
  * registers them with DDL), including SQL-standard time travel:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_cat",
  *     classOf[graft.sources.GraftCatalog].getName)
  *   // optional root: spark.sql.catalog.graft_cat.root = /data/stores
  *   spark.sql("SELECT * FROM graft_cat.`/tmp/store`.postings.doclen")
  *   spark.sql("... FROM graft_cat.mystore.merge VERSION AS OF 3")
  *   spark.sql("... FROM graft_cat.mystore.ledger.labels " +
  *     "TIMESTAMP AS OF '2026-08-15 12:00:00'")
  * }}}
  *
  * Identifier shape: the FIRST part names the store directory — an
  * absolute path (backtick-quoted) or a child of the configured
  * `root` — and the remaining parts spell the [[GraftTables]] surface
  * (`merge`, `ledger.labels`, `postings.postings`, `ivf.assigned`,
  * `changes.postings.doclen`, …). A set-pinned read spells the q270
  * `set:<store>:<surface>` surface as parts:
  * `graft_cat.pipedir.set.postings.postings.doclen`.
  *
  * Time travel: `VERSION AS OF n` goes straight to snapshot `n` (the
  * `option("commit", n)` path); `TIMESTAMP AS OF t` resolves to the
  * LATEST commit whose `_graft_history/` archive entry was written at
  * or before `t` ([[Generations.commitAtTimestamp]] — one rule for
  * every store kind, because they share the archive protocol). Change
  * feeds position by offset window, not snapshot, so they reject both.
  *
  * Writability is SURFACE-SCOPED: the CURRENT merge surface carries
  * the full SQL lifecycle — CREATE TABLE (round 14, `key_col`
  * TBLPROPERTY → [[graft.cdc.Apply.createTable]]), INSERT (the
  * versioned-upsert fold), UPDATE / MERGE INTO / predicate DELETE
  * (the row-level fold), key-equality DELETE (the purge) — every verb
  * routed through the SAME leased, ledgered fold, never a raw file
  * write. Every OTHER surface is read-only by design: slice/snapshot
  * stores are the outputs of semantic folds (dedup, postings, index
  * maintenance) behind the writer lease and the batch ledger — a raw
  * SQL write has no meaning against them, and pretending otherwise
  * would bypass exactly-once. ALTER/DROP/RENAME throw loudly
  * everywhere (schema evolves through the fold's mergeSchema;
  * destructive removal is out-of-band).
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
  with StagingTableCatalog {

  private var catName: String = "graft"
  private var root: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root"))
  }

  override def name(): String = catName

  private def dirOf(part: String): String =
    if (part.startsWith("/") || part.contains(":/")) part
    else root.map(r => s"$r/$part").getOrElse(sys.error(
      s"catalog $catName has no root configured " +
        s"(spark.sql.catalog.$catName.root) — name the store by " +
        "absolute path: SELECT ... FROM " + catName + ".`/path/to/store`.<surface>"))

  /** (store dir, surface) of an identifier: first part → directory,
    * rest → the [[GraftTables]] surface (a leading `set` part maps to
    * the `set:<store>:<surface>` spelling). */
  private def parse(ident: Identifier): (String, String) = {
    val raw = (ident.namespace() :+ ident.name()).toSeq
    require(raw.length >= 2,
      s"graft identifier needs <store>.<surface>, got ${ident}")
    // the store part may be a path (dots intact); surface parts may be
    // dotted spellings (`postings.doclen`) or separate identifier parts
    val dir = dirOf(raw.head)
    val rest = raw.tail.flatMap(_.split("\\."))
    val table =
      if (rest.head == "set") {
        require(rest.length >= 3,
          s"set-pinned identifier needs set.<store>.<surface>, got $ident")
        s"set:${rest(1)}:${rest.drop(2).mkString(".")}"
      } else rest.mkString(".")
    (dir, table)
  }

  private def load(ident: Identifier, commit: Option[Long]): Table = {
    val (dir, table) = parse(ident)
    val spark = SparkSession.active
    // ABSENCE is a typed NoSuchTableException (round 14): CREATE TABLE
    // / tableExists probe through loadTable, and a generic error here
    // would fail the probe instead of answering it. The store's OWN
    // manifest file is the existence witness — one rule for every
    // surface kind. Malformed/vacuumed stores still fail loudly at
    // resolution below.
    val meta = GraftTables.metaNameOf(table)
    if (!graft.util.Hfs.exists(
        new org.apache.hadoop.fs.Path(s"$dir/$meta"),
        graft.util.Hfs.conf(spark)))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    GraftTables.resolveTable(spark, dir, table, commit,
      CaseInsensitiveStringMap.empty())
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF <v>` — the snapshot id, exactly the provider's
    * `option("commit", v)`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF <t>` (micros since epoch): the latest snapshot
    * committed at or before `t`, via the shared history archive. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val (dir, table) = parse(ident)
    val spark = SparkSession.active
    val tsMillis = timestamp / 1000L
    val commit = Generations.commitAtTimestamp(spark, dir,
      GraftTables.metaNameOf(table), tsMillis).getOrElse(sys.error(
        s"$dir has no snapshot committed at or before " +
          s"${new java.sql.Timestamp(tsMillis)} " +
          "(the earliest archive entry is later)"))
    GraftTables.resolveTable(spark, dir, table, Some(commit),
      CaseInsensitiveStringMap.empty())
  }

  /** The surfaces a store directory exposes, probed by which manifests
    * it holds — `SHOW TABLES IN graft_cat.<store>`. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.nonEmpty, "list needs a store: SHOW TABLES IN " +
      s"$catName.<store dir>")
    val spark = SparkSession.active
    val dir = dirOf(namespace.head)
    def has(meta: String): Boolean =
      Generations.readPointer(spark, dir, meta).isDefined
    val surfaces =
      (if (has(graft.cdc.Apply.MetaName)) Seq("merge", "changes.merge")
       else Nil) ++
        StoreKind.All.filter(k => has(k.manifest.name)).flatMap(_.surfaces)
    surfaces.map(Identifier.of(namespace, _)).toArray
  }

  /** SQL-callable maintenance ([[GraftProcedures]]):
    * `CALL <cat>.system.compact(store => '...')`, `vacuum`, `commits` —
    * operational verbs, not data DML, dispatched by probed store kind
    * onto the same leased library verbs. */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val ok = ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system"))
    require(ok, s"graft procedures live under $catName.system, got $ident")
    GraftProcedures.load(ident.name(), dirOf)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.Names
      .map(Identifier.of(Array("system"), _)).toArray

  private def readOnly(what: String): Nothing = sys.error(
    s"the graft catalog is read-only: $what is not supported — store " +
      "mutations are SEMANTIC folds behind the writer lease and the " +
      "batch-id ledger (maintainBatch / startMerge / purge / compact); " +
      "a raw DDL/DML verb would bypass exactly-once")

  /** SQL `CREATE TABLE <cat>.`<dir>`.merge (cols…) TBLPROPERTIES
    * (key_col '<k>' [, buckets 'n'])` (round 14) — stands up an EMPTY
    * merge table entirely in SQL ([[graft.cdc.Apply.createTable]]:
    * commit-0 manifest carrying the lifetime invariants + the
    * creation-schema sidecar). Only the MERGE surface is creatable:
    * every other store kind is the OUTPUT of a semantic fold
    * (postings/ledger/graph/index builds), not a container one can
    * declare empty. The schema must carry `key_col` and `_version`.
    * CTAS works too (CREATE + the V1 INSERT fold). From here the full
    * lifecycle is SQL: INSERT → UPDATE / MERGE INTO / DELETE →
    * SELECT, with VERSION AS OF 0 reading the empty state. DROP stays
    * refused (destructive removal is out-of-band by design). */
  /** Shared CREATE validation: merge-only surface, no PARTITIONED BY,
    * key_col TBLPROPERTY. Returns (dir, keyCol, nBuckets). */
  private def createParams(ident: Identifier,
      partitions: Array[Transform],
      props: JMap[String, String]): (String, String, Int) = {
    val (dir, table) = parse(ident)
    require(table == "merge",
      s"CREATE TABLE supports only the merge surface — '$table' is " +
        "the output of a semantic fold verb, not a declarable " +
        "container (build it with its library fold)")
    require(partitions.isEmpty,
      "graft merge tables bucket by xxhash64(key) internally — " +
        "PARTITIONED BY is not supported")
    val keyCol = Option(props.get("key_col"))
      .orElse(Option(props.get("keycol")))
      .getOrElse(sys.error(
        "CREATE TABLE on a graft merge surface requires TBLPROPERTIES " +
          "(key_col '<column>') — the merge key is a lifetime " +
          "invariant of the table (it IS the bucket hash)"))
    val nBuckets = Option(props.get("buckets")).map(_.toInt).getOrElse(16)
    (dir, keyCol, nBuckets)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (dir, keyCol, nBuckets) =
      createParams(ident, partitions, properties)
    // typed already-exists (ADVICE r14): Apply.createTable checks
    // existence INSIDE the lease; translate its signal into the
    // exception Spark classifies, so IF NOT EXISTS and a CREATE racing
    // another CREATE behave like any other catalog's.
    try graft.cdc.Apply.createTable(SparkSession.active, dir, schema,
      keyCol, nBuckets)
    catch {
      case _: graft.cdc.MergeTableExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
    }
    load(ident, None)
  }

  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): Table =
    createTable(ident,
      StructType(columns.map(c =>
        org.apache.spark.sql.types.StructField(c.name, c.dataType,
          c.nullable)).toIndexedSeq),
      partitions, properties)

  /** ATOMIC CTAS (round 15, verdict r14 #3): being a
    * `StagingTableCatalog` makes Spark plan `CREATE TABLE … AS SELECT`
    * as `AtomicCreateTableAsSelectExec` — the query writes through a
    * STAGED table ([[GraftStagedCtasTable]]: rows land under the
    * table's own `_staging/ctas-<uuid>/`, nothing else exists) and the
    * table is created WITH its data in one pointer move at
    * commitStagedChanges ([[graft.cdc.Apply.ctasCommit]] — the first
    * manifest is the loaded commit 1). A failed CTAS aborts by
    * deleting staging: no created-empty window for readers, no
    * stranded table to mop up. Invariants (merge surface, key_col,
    * `_version`) are validated HERE, before the query runs. */
  override def stageCreate(ident: Identifier,
      info: TableInfo): StagedTable = {
    val (dir, keyCol, nBuckets) =
      createParams(ident, info.partitions(), info.properties())
    graft.cdc.Apply.validateCreate(dir, info.schema(), keyCol, nBuckets)
    // refuse an existing table BEFORE the query runs (typed; the
    // commit re-checks inside the lease for the racing window)
    val exists =
      try { load(ident, None); true }
      catch {
        case _: org.apache.spark.sql.catalyst.analysis
          .NoSuchTableException => false
      }
    if (exists) throw new org.apache.spark.sql.catalyst.analysis
      .TableAlreadyExistsException(ident)
    new GraftStagedCtasTable(SparkSession.active, dir, info.schema(),
      keyCol, nBuckets)
  }

  /** REPLACE-time parameters (round 16, verdict r15 #1): like
    * [[createParams]], but key_col/buckets may be INHERITED from the
    * existing manifest — a replace keeps the table's lifetime
    * invariants, so re-declaring them is optional (and a mismatched
    * re-declaration refuses inside the commit's lease,
    * [[graft.cdc.Apply.replaceCommit]]). */
  private def replaceParams(ident: Identifier,
      partitions: Array[Transform],
      props: JMap[String, String]): (String, String, Int) = {
    val (dir, table) = parse(ident)
    require(table == "merge",
      s"REPLACE TABLE supports only the merge surface — '$table' is " +
        "the output of a semantic fold verb, not a declarable " +
        "container (build it with its library fold)")
    require(partitions.isEmpty,
      "graft merge tables bucket by xxhash64(key) internally — " +
        "PARTITIONED BY is not supported")
    val existing = graft.cdc.Apply.tableProps(SparkSession.active, dir)
    val keyCol = Option(props.get("key_col"))
      .orElse(Option(props.get("keycol")))
      .orElse(existing.flatMap(_._1))
      .getOrElse(sys.error(
        "REPLACE TABLE on a graft merge surface needs TBLPROPERTIES " +
          "(key_col '<column>') — or an existing table to inherit the " +
          "key from (the merge key is a lifetime invariant)"))
    val nBuckets = Option(props.get("buckets")).map(_.toInt)
      .orElse(existing.map(_._2)).getOrElse(16)
    (dir, keyCol, nBuckets)
  }

  /** ATOMIC `REPLACE TABLE … AS SELECT` (round 16, verdict r15 #1):
    * planned as `AtomicReplaceTableAsSelectExec` — the query stages
    * through [[GraftStagedReplaceTable]] while readers keep the OLD
    * table, and the commit is the DECLARATION-RESET OVERWRITE FOLD
    * ([[graft.cdc.Apply.replaceCommit]]): one leased commit whose
    * change slice is REMOVEs (disappeared keys, stored versions) +
    * MODIFYs (the query's rows) — a cascade consumes a table
    * replacement as plain upserts + deletions. Strict REPLACE refuses
    * a missing table before the query runs (re-checked inside the
    * commit's lease for the racing window). */
  override def stageReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    val (dir, keyCol, nBuckets) =
      replaceParams(ident, info.partitions(), info.properties())
    graft.cdc.Apply.validateCreate(dir, info.schema(), keyCol, nBuckets)
    val exists =
      try { load(ident, None); true }
      catch {
        case _: org.apache.spark.sql.catalyst.analysis
          .NoSuchTableException => false
      }
    if (!exists) throw new org.apache.spark.sql.catalyst.analysis
      .CannotReplaceMissingTableException(ident)
    new GraftStagedReplaceTable(SparkSession.active, dir, info.schema(),
      keyCol, nBuckets, orCreate = false, ident)
  }

  /** `CREATE OR REPLACE TABLE … AS SELECT`: [[stageReplace]] without
    * the existence requirement — an absent table degenerates to the
    * atomic CTAS inside the commit's lease. */
  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    val (dir, keyCol, nBuckets) =
      replaceParams(ident, info.partitions(), info.properties())
    graft.cdc.Apply.validateCreate(dir, info.schema(), keyCol, nBuckets)
    new GraftStagedReplaceTable(SparkSession.active, dir, info.schema(),
      keyCol, nBuckets, orCreate = true, ident)
  }

  /** SQL `ALTER TABLE … ADD COLUMNS (…)` on the merge surface
    * (round 14): the declared-schema evolution verb
    * ([[graft.cdc.Apply.addColumns]] — new columns read as NULL until
    * data carries them, exactly parquet's missing-column contract).
    * `ALTER TABLE … DROP COLUMN(s)` (round 16, verdict r15 #4) routes
    * onto the library FOLD-REWRITE ([[graft.cdc.Apply.dropColumns]]:
    * narrowed declaration archived, ONE projection commit rewriting
    * every live bucket — AS-OF reads before the DROP still serve the
    * column). RENAME/retype/positioned adds still refuse: renames
    * would sever the stored generations from the declaration. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val (dir, table) = parse(ident)
    require(table == "merge",
      s"ALTER TABLE supports only the merge surface — '$table' is " +
        "maintained by its library fold verbs")
    // an ALTER whose changes resolved away entirely (DROP COLUMN IF
    // EXISTS on an absent column) is a no-op, not a vacuous commit
    if (changes.isEmpty) return load(ident, None)
    val deletes = changes.collect {
      case d: TableChange.DeleteColumn => d }
    if (deletes.nonEmpty) {
      require(deletes.size == changes.size, "ALTER TABLE cannot mix " +
        "DROP COLUMN with other changes in one statement")
      val names = deletes.map { d =>
        require(d.fieldNames.length == 1,
          "ALTER TABLE DROP COLUMN supports only top-level columns " +
            s"(got ${d.fieldNames.mkString(".")}) — the fold's schema " +
            "evolution is column-wise")
        d.fieldNames.head
      }
      graft.cdc.Apply.dropColumns(SparkSession.active, dir, names,
        ifExists = deletes.forall(_.ifExists()))
      return load(ident, None)
    }
    val fields = changes.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "ALTER TABLE ADD COLUMNS supports only top-level columns " +
            s"(got ${a.fieldNames.mkString(".")}) — the fold's schema " +
            "evolution is column-wise")
        require(a.position() == null,
          "ALTER TABLE ADD COLUMNS appends at the end (FIRST/AFTER " +
            "would reorder the declared schema against the stored " +
            "generations)")
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true)
      case other => readOnly(
        s"ALTER TABLE ${other.getClass.getSimpleName} (ADD COLUMNS " +
          "evolves a merge table and DROP COLUMN fold-rewrites it; " +
          "renames/retypes refuse — they would sever the stored " +
          "generations from the declaration)")
    }
    graft.cdc.Apply.addColumns(SparkSession.active, dir, fields)
    load(ident, None)
  }

  /** DROP only for a merge table that NEVER HELD DATA (the CTAS
    * failure-cleanup path — Spark's non-atomic CTAS drops the created
    * table when the write fails; round-14 review). Data-bearing tables
    * and every other surface refuse loudly as before. */
  override def dropTable(ident: Identifier): Boolean = {
    val (dir, table) = parse(ident)
    if (table != "merge") readOnly("DROP TABLE (non-merge surface)")
    graft.cdc.Apply.dropEmptyTable(SparkSession.active, dir)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")
}
