package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.util.Generations

/** SQL-callable MAINTENANCE VERBS (round 12) — the stores' compaction /
  * vacuum / history verbs through Spark 4's DSv2 procedure face, so an
  * operator can run them the way Iceberg/Delta operators run theirs:
  *
  * {{{
  *   CALL graft_cat.system.compact(store => '/path/to/store')
  *   CALL graft_cat.system.vacuum(store => '/path/to/store')
  *   SELECT * FROM ... -- unchanged; then inspect history:
  *   CALL graft_cat.system.commits(store => '/path/to/store')
  *   -- merge tables also: snapshot rollback + feed retention
  *   CALL graft_cat.system.restore(store => '/t', commit => 3)
  *   CALL graft_cat.system.vacuum_changes(store => '/t', commit => 5)
  * }}}
  *
  * The STORE KIND is probed from the directory's manifest (exactly one
  * manifest name per store format), and each verb dispatches to the
  * library verb — same writer lease, same atomic pointer commit, same
  * fail-loud behavior; the procedure adds no second code path. Results
  * come back as rows (what ran, what it did), `commits` as the full
  * committed-snapshot history with wall-clock — the operational
  * companion to `VERSION AS OF` / `TIMESTAMP AS OF`.
  *
  * Writes stay OUT of SQL for data (see [[GraftCatalog]]'s read-only
  * rationale); maintenance is different — these verbs take no data,
  * cannot violate the batch ledger, and are exactly the operations a
  * warehouse DBA schedules (the reference's Redshift maintenance is
  * likewise operational VACUUM/ANALYZE, not data DML).
  */
private[sources] object GraftProcedures {

  /** One store kind: its manifest, and what `compact` and `vacuum` run
    * on it (each returns the result row's detail) — the merge table,
    * then every slice store kind ([[StoreKind.All]]). */
  private final case class Kind(kind: String, manifest: String,
      compact: (SparkSession, String) => String,
      vacuum: (SparkSession, String) => String)

  private val Kinds: Seq[Kind] =
    Kind("merge", graft.cdc.Apply.MetaName,
      (s, d) => { graft.cdc.Apply.compact(s, d); "live buckets rewritten" },
      (s, d) => {
        graft.cdc.Apply.vacuum(s, d); "unreferenced generations removed"
      }) +: StoreKind.All.map(k => Kind(k.name, k.manifest.name,
      (s, d) => k.compact(s, d).fold("window already compact (nothing " +
        "to do)")(m => s"window merged into slice $m"),
      (s, d) => s"${k.manifest.vacuum(s, d)} slice dirs removed"))

  val Names: Seq[String] =
    Seq("compact", "vacuum", "commits", "restore", "vacuum_changes",
      "schema_history", "migrate_schema_history")

  private def kindOf(spark: SparkSession, dir: String): Kind =
    Kinds.find(k => Generations.readPointer(spark, dir, k.manifest).isDefined)
      .getOrElse(sys.error(
        s"$dir holds no committed graft store manifest " +
          s"(looked for: ${Kinds.map(_.manifest).mkString(", ")})"))

  def load(name: String, dirOf: String => String): UnboundProcedure =
    name match {
      case "compact" => verb(name, dirOf) { (spark, dir) =>
        val k = kindOf(spark, dir); (k.kind, k.compact(spark, dir))
      }
      case "vacuum" => verb(name, dirOf) { (spark, dir) =>
        val k = kindOf(spark, dir); (k.kind, k.vacuum(spark, dir))
      }
      case "commits" => new StoreProcedure(name, dirOf,
        new StructType().add("commit", LongType).add("committed_at_ms", LongType)
          .add("kind", StringType),
        (spark, dir, _) => {
          val k = kindOf(spark, dir)
          val hc = graft.util.Hfs.conf(spark)
          Generations.listCommits(spark, dir, k.manifest).map { c =>
            val p = new org.apache.hadoop.fs.Path(
              s"$dir/_graft_history/commit-$c.json")
            new GenericInternalRow(Array[Any](c, graft.util.Hfs.mtime(p, hc),
              UTF8String.fromString(k.kind)))
          }.toArray[InternalRow]
        })
      // merge-table-only operational verbs: RESTORE (Delta `RESTORE
      // TABLE ... TO VERSION AS OF` — a metadata-only commit whose
      // bucket map is the archived snapshot's) and VACUUM_CHANGES (the
      // CDC-OUT slice retention behind a permanent fail-loud cutoff).
      case "restore" => new StoreProcedure("restore", dirOf,
        new StructType().add("kind", StringType).add("detail", StringType),
        (spark: SparkSession, dir: String, commit: Option[Long]) => {
          val c = commit.getOrElse(sys.error(
            "restore needs commit => <snapshot id>"))
          requireKind(spark, dir, "merge", "restore")
          graft.cdc.Apply.restore(spark, dir, c)
          row2("merge", s"current state restored to snapshot $c " +
            s"(committed as ${graft.cdc.Apply.currentCommit(spark, dir)})")
        }, withCommit = true)
      // the VERSIONED-DECLARATION ledger (round 15, verdict r14 #2):
      // one row per CREATE/ALTER commit with the declaration that
      // commit published (what `VERSION AS OF` serves for empty
      // snapshots and declared-column widening)
      case "schema_history" => new StoreProcedure(name, dirOf,
        new StructType().add("commit", LongType)
          .add("declared_schema", StringType),
        (spark, dir, _) => {
          requireKind(spark, dir, "merge", "schema_history")
          graft.cdc.Apply.schemaHistory(spark, dir).map { case (c, st) =>
            new GenericInternalRow(Array[Any](c,
              UTF8String.fromString(st.toDDL)))
          }.toArray[InternalRow]
        })
      // backfill declaration history for a pre-versioning table
      // (round 16, verdict r15 #5): archives the current declaration
      // as the floor entry so AS-OF and schema_history answer
      // uniformly on tables created before declaration versioning (or
      // seeded by library verbs). Idempotent.
      case "migrate_schema_history" => verb(name, dirOf) { (spark, dir) =>
        requireKind(spark, dir, "merge", "migrate_schema_history")
        ("merge", graft.cdc.Apply.migrateSchemaHistory(spark, dir))
      }
      case "vacuum_changes" => new StoreProcedure("vacuum_changes", dirOf,
        new StructType().add("kind", StringType).add("detail", StringType),
        (spark, dir, commit) => {
          val c = commit.getOrElse(sys.error(
            "vacuum_changes needs commit => <retain-from commit id>"))
          requireKind(spark, dir, "merge", "vacuum_changes")
          val n = graft.cdc.Apply.vacuumChanges(spark, dir, c)
          row2("merge", s"$n change slices below commit $c removed")
        }, withCommit = true)
      case other => sys.error(
        s"unknown graft procedure '$other' (supported: " +
          s"${Names.mkString(", ")})")
    }

  private def requireKind(spark: SparkSession, dir: String,
      want: String, verb: String): Unit = {
    val kind = kindOf(spark, dir).kind
    require(kind == want,
      s"$verb applies to $want tables; $dir holds a '$kind' store")
  }

  private def row2(kind: String, detail: String): Array[InternalRow] =
    Array[InternalRow](new GenericInternalRow(Array[Any](
      UTF8String.fromString(kind), UTF8String.fromString(detail))))

  private def verb(name: String, dirOf: String => String)(
      run: (SparkSession, String) => (String, String)): UnboundProcedure =
    new StoreProcedure(name, dirOf,
      new StructType().add("kind", StringType).add("detail", StringType),
      (spark, dir, _) => {
        val (kind, detail) = run(spark, dir)
        row2(kind, detail)
      })

  /** A store-directory procedure (plus an optional `commit` long for
    * the snapshot-addressed verbs): bind validates the arguments, call
    * resolves the dir and runs the verb, rows come back through a
    * driver-local scan (maintenance output is a handful of rows —
    * never data-scaled). */
  private final class StoreProcedure(procName: String,
      dirOf: String => String, out: StructType,
      run: (SparkSession, String, Option[Long]) => Array[InternalRow],
      withCommit: Boolean = false)
      extends UnboundProcedure with BoundProcedure {

    override def name(): String = procName
    override def description(): String =
      s"graft store maintenance: $procName(store" +
        (if (withCommit) ", commit)" else ")")
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = {
      val store = ProcedureParameter.in("store", StringType)
        .comment("store directory (absolute, or relative to the catalog root)")
        .build()
      if (withCommit)
        Array(store, ProcedureParameter.in("commit", LongType)
          .comment("the snapshot / retention commit id").build())
      else Array(store)
    }

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val store = input.getUTF8String(0)
      require(store != null, s"$procName needs a store directory")
      val dir = dirOf(store.toString)
      val commit =
        if (withCommit && !input.isNullAt(1)) Some(input.getLong(1)) else None
      val rows = run(SparkSession.active, dir, commit)
      java.util.List.of[Scan](new ResultScan(out, rows)).iterator()
    }
  }

  private final class ResultScan(out: StructType,
      result: Array[InternalRow]) extends LocalScan {
    override def readSchema(): StructType = out
    override def rows(): Array[InternalRow] = result
  }
}
