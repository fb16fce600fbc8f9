package graft.sources

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.{Apply, Envelope}

/** SQL UPDATE / MERGE INTO / predicate-DELETE for the merge table
  * (round-14 verdict #4) — Spark's DELTA-BASED row-level operation
  * protocol ([[org.apache.spark.sql.connector.write.SupportsDelta]])
  * routed onto the SAME leased, ledgered, change-slice-emitting merge
  * fold every other write face uses.
  *
  * How a statement executes (the Delta-Lake/Iceberg-shaped split):
  *
  *  1. Catalyst rewrites `UPDATE`/`MERGE INTO`/`DELETE` over a
  *     [[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]]
  *     table into a `WriteDelta` plan: scan the CURRENT snapshot (this
  *     operation's [[newScanBuilder]] delegates to the stock parquet
  *     table, so pushdown/pruning apply to the matched-row scan), apply
  *     the assignments, and hand each affected row to a
  *     [[GraftDeltaWriter]] with its operation kind.
  *  2. Each task writer turns its rows into the fold's ENVELOPES
  *     (update/insert → MODIFY carrying the new image at the row's
  *     `_version`; delete → REMOVE at the scanned row's version) and
  *     writes them as plain parquet under the table's own
  *     `_staging/rowlevel-<uuid>/tasks/` — task-side and
  *     cluster-visible; row data NEVER moves through the driver.
  *  3. The driver commit ([[Apply.rowLevelCommit]]) reads ONLY the
  *     files named by committed task messages (zombie/speculative
  *     attempts are ignored), with the schema the writers staged them
  *     with, and folds ONE merge commit through [[Apply.mergeBatch]] —
  *     lease, versioned fold, change slice, pointer archive, all
  *     identical to a streamed micro-batch — with the fold's
  *     STALE-VERSION GATE on: the fold's own per-key window compares
  *     each envelope with the stored version and aborts the statement
  *     before any write. A `changes.merge` cascade sees a SQL UPDATE
  *     exactly like any other commit.
  *
  * THE VERSION CONTRACT (documented SQL surface, spec-pinned by
  * `GraftRowLevelSpec`): `_version` is user-visible state — the fold's
  * ordering axis — so an UPDATE must advance it explicitly
  * (`SET _version = _version + 1, …`), exactly as the INSERT face
  * requires an explicit `_version` column. A statement whose rows do
  * not advance the stored version is REJECTED before anything mutates
  * (all-or-nothing; see [[Apply.rowLevelCommit]]). DELETEd rows
  * tombstone at their scanned version (REMOVE outranks MODIFY on the
  * fold's tie-break, so deleting at the stored version wins
  * deterministically and replays as a no-op).
  *
  * ROW IDENTITY: `rowId = (keyCol, _version)` — the key addresses the
  * row, the version rides along so a DELETE knows the version it
  * scanned. The merge key is the row's identity (it IS the bucket
  * hash), so reassigning it via UPDATE is refused ([[GraftDeltaWriter]]
  * fails the task loudly); model a key move as DELETE + INSERT. Both
  * rowId columns are declared non-nullable on the catalog face
  * ([[GraftSnapshotTable.schema]]) — a fold invariant (the merge
  * refuses null keys/versions) that Spark's row-level protocol also
  * requires of identity columns.
  *
  * Key-equality DELETEs still take the metadata path: Spark's
  * `OptimizeMetadataOnlyDeleteFromTable` converts them back to
  * [[org.apache.spark.sql.connector.catalog.SupportsDelete.deleteWhere]]
  * → [[Apply.purgeKeys]], the COMPLIANCE delete that erases the key
  * from history. A predicate DELETE through this face is the other
  * flavor: a VERSIONED tombstone through the fold (the key's history
  * stays until a purge/compact). Both emit REMOVEs into the change
  * feed, so cascades converge either way.
  */
private[sources] final class GraftRowLevelOperation(
    delegate: org.apache.spark.sql.connector.catalog.Table
      with org.apache.spark.sql.connector.catalog.SupportsRead,
    spark: SparkSession, dir: String,
    label: String, keyCol: String, cmd: RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft-rowlevel($cmd, $label)"

  /** The matched-row scan IS the snapshot read: stock parquet scan,
    * pushdown and pruning unchanged. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate.newScanBuilder(options)

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(keyCol), Expressions.column("_version"))

  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        // a pure DELETE plans with an EMPTY row schema (only row ids
        // flow); UPDATE/MERGE must carry the full row for the
        // after-image
        val rowSchema = info.schema()
        require(cmd == RowLevelOperation.Command.DELETE ||
          (rowSchema.fieldNames.contains(keyCol) &&
            rowSchema.fieldNames.contains("_version")),
          s"row-level $cmd on graft table '$label' requires the full " +
            s"row (key '$keyCol' + _version) in the write schema; got " +
            rowSchema.fieldNames.mkString(", "))
        val idSchema = info.rowIdSchema().orElseThrow(() =>
          new IllegalStateException(
            s"row-level $cmd on '$label' planned without a rowId " +
              "schema — the delta protocol requires one"))
        new GraftDeltaWrite(spark, dir, keyCol, cmd.toString,
          delegate.schema, rowSchema, idSchema)
      }
    }
}

/** The delta write: prepares the parquet writer factory (driver-side,
  * once — the same `prepareWrite` configuration the stock parquet sink
  * uses, so codecs/timestamp/rebase settings match the session), picks
  * the statement's staging dir under the table root, and commits the
  * task-written envelope files through [[Apply.rowLevelCommit]]. */
private final class GraftDeltaWrite(spark: SparkSession, dir: String,
    keyCol: String, command: String, tableSchema: StructType,
    rowSchema: StructType, idSchema: StructType) extends DeltaWrite {

  // the after-image struct comes from the TABLE schema (a pure DELETE
  // plans with an empty row schema, but its REMOVE envelopes must
  // still carry the fold's full after shape — null-imaged, like a
  // streamed REMOVE; parquet also refuses empty groups)
  private val envSchema: StructType =
    GraftEnvelopes.envSchemaOf(tableSchema, keyCol)

  override def toBatch(): DeltaBatchWrite = new DeltaBatchWrite {
    // sweep crash-stranded statements, then stage this one
    Apply.sweepStagingFor(spark, dir)
    private val stage =
      s"$dir/${Apply.StagingDirName}/rowlevel-${UUID.randomUUID}"

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory = {
      val job = Job.getInstance(graft.util.Hfs.conf(spark))
      val factory = new ParquetFileFormat()
        .prepareWrite(spark, job, Map.empty[String, String], envSchema)
      new GraftDeltaWriterFactory(s"$stage/tasks", keyCol, envSchema,
        rowSchema, idSchema, factory,
        new SerializableHConf(job.getConfiguration))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val files = messages.toSeq.collect {
        case m: GraftDeltaMessage => m.files
      }.flatten
      Apply.rowLevelCommit(SparkSession.active, dir, stage, files,
        envSchema, command)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      graft.util.Hfs.delete(new HPath(stage), graft.util.Hfs.conf(spark))
  }
}

/** Committed task output: the exact staged files this attempt wrote —
  * the driver folds ONLY these, so an uncommitted attempt's file is
  * inert garbage for the staging sweep. */
private final case class GraftDeltaMessage(files: Seq[String], rows: Long)
  extends WriterCommitMessage

private final class GraftDeltaWriterFactory(stageTasks: String,
    keyCol: String, envSchema: StructType, rowSchema: StructType,
    idSchema: StructType, factory: OutputWriterFactory,
    conf: SerializableHConf) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(stageTasks, keyCol, envSchema, rowSchema,
      idSchema, factory, conf, partitionId, taskId)
}

/** One task's envelope writer. Translation is positional (indices
  * resolved once from the schemas Spark handed the write) and the
  * parquet write is synchronous, so reused `UnsafeRow` buffers are
  * consumed before the next row arrives — no per-row copies, no
  * buffering, no driver round-trip. Files are named by (partition,
  * task attempt), and only files named in COMMITTED messages are ever
  * folded. */
private final class GraftDeltaWriter(stageTasks: String, keyCol: String,
    envSchema: StructType, rowSchema: StructType, idSchema: StructType,
    factory: OutputWriterFactory, conf: SerializableHConf,
    partitionId: Int, taskId: Long) extends DeltaWriter[InternalRow] {

  private val keyType = envSchema("key").dataType
  private val versionType = envSchema("_version").dataType
  private val afterSchema =
    envSchema("after").dataType.asInstanceOf[StructType]
  // row positions are LAZY: a pure DELETE plans with an empty row
  // schema and never calls insert/update, so these must not resolve
  private lazy val rowKeyIdx = rowSchema.fieldIndex(keyCol)
  private lazy val rowVersionIdx = rowSchema.fieldIndex("_version")
  // after-image fields in envelope order, each resolved to its row slot
  private lazy val afterIdx =
    afterSchema.fields.map(f => rowSchema.fieldIndex(f.name))
  // lazy: an insert-only writer (the streaming sink) has no id schema
  private lazy val idKeyIdx = idSchema.fieldIndex(keyCol)
  private lazy val idVersionIdx = idSchema.fieldIndex("_version")

  private var writer: OutputWriter = _
  private var path: String = _
  private var nRows = 0L

  private def out(): OutputWriter = {
    if (writer == null) {
      path = s"$stageTasks/part-$partitionId-$taskId.parquet"
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-rowlevel", 0), TaskType.MAP,
          partitionId), (taskId % Int.MaxValue).toInt)
      writer = factory.newInstance(path, envSchema,
        new TaskAttemptContextImpl(conf.value, attempt))
    }
    writer
  }

  // hoisted op constants: one UTF8String per writer, not per row
  private val modifyOp = UTF8String.fromString(Envelope.Modify)
  private val removeOp = UTF8String.fromString(Envelope.Remove)

  private def emit(op: UTF8String, key: Any, version: Any,
      after: InternalRow): Unit = {
    out().write(new GenericInternalRow(
      Array[Any](op, key, version, after)))
    nRows += 1
  }

  private def afterOf(row: InternalRow): InternalRow =
    new GenericInternalRow(
      afterIdx.map(i => row.get(i, rowSchema(i).dataType)))

  override def insert(row: InternalRow): Unit =
    emit(modifyOp, row.get(rowKeyIdx, keyType),
      row.get(rowVersionIdx, versionType), afterOf(row))

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    val oldKey = id.get(idKeyIdx, keyType)
    val newKey = row.get(rowKeyIdx, keyType)
    if (!java.util.Objects.equals(oldKey, newKey)) throw new IOException(
      s"UPDATE cannot reassign the merge key '$keyCol' " +
        s"($oldKey → $newKey) — the key is the row's identity (it IS " +
        "the bucket hash); model a key move as DELETE + INSERT")
    insert(row)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    emit(removeOp, id.get(idKeyIdx, keyType),
      id.get(idVersionIdx, versionType), null)

  override def commit(): WriterCommitMessage = {
    if (writer != null) writer.close()
    GraftDeltaMessage(Option(path).toSeq, nRows)
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      val p = new HPath(path)
      p.getFileSystem(conf.value).delete(p, false)
      ()
    }
  }

  override def close(): Unit = ()
}

/** STRUCTURED STREAMING SINK for the merge table (round 14):
  * `df.writeStream.format("graft").option("path", dir)` — the DSv2
  * face of [[Apply.startMerge]]. Rows carry the table's write schema
  * (data columns + `_version`); each micro-batch epoch stages MODIFY
  * envelopes task-side under
  * `_staging/stream-<queryId>-epoch-<epoch>/` (the same writer the
  * row-level face uses, insert-only) and the epoch commit folds ONE
  * leased, ledgered, change-slice-emitting merge commit
  * ([[Apply.rowLevelCommit]] with the stale gate OFF — CDC ingest
  * semantics: a late or replayed envelope is SUPPOSED to lose the
  * fold silently; that no-op-on-replay IS the sink's exactly-once,
  * the same property [[Apply.startMerge]] documents for checkpoint
  * replays). Only files named by COMMITTED task messages fold, and
  * each epoch's staging dies with its commit, so a crashed epoch
  * leaves only age-swept garbage, never data. */
private final class GraftStreamingWrite(spark: SparkSession, dir: String,
    label: String, queryId: String, rowSchema: StructType)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val keyCol = Apply.tableKeyCol(spark, dir).getOrElse(sys.error(
    s"graft table '$label' has no keyCol in its manifest: run one " +
      "merge/purge commit (or CREATE TABLE) before streaming into it"))
  require(rowSchema.fieldNames.contains(keyCol) &&
    rowSchema.fieldNames.contains("_version"),
    s"writeStream into '$label' requires the key column '$keyCol' and " +
      s"_version in the stream schema; got " +
      rowSchema.fieldNames.mkString(", "))

  private val envSchema: StructType =
    GraftEnvelopes.envSchemaOf(rowSchema, keyCol)

  private def stageFor(epochId: Long): String =
    s"$dir/${Apply.StagingDirName}/stream-$queryId-epoch-$epochId"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    Apply.sweepStagingFor(spark, dir)
    val job = Job.getInstance(graft.util.Hfs.conf(spark))
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty[String, String], envSchema)
    val conf = new SerializableHConf(job.getConfiguration)
    val stagePrefix = s"$dir/${Apply.StagingDirName}/stream-$queryId"
    val kc = keyCol
    val env = envSchema
    val rows = rowSchema
    new org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
        val inner = new GraftDeltaWriter(
          s"$stagePrefix-epoch-$epochId/tasks", kc, env, rows,
          new StructType(), factory, conf, partitionId, taskId)
        new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
          override def write(row: InternalRow): Unit = inner.insert(row)
          override def commit(): WriterCommitMessage = inner.commit()
          override def abort(): Unit = inner.abort()
          override def close(): Unit = inner.close()
        }
      }
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.collect {
      case m: GraftDeltaMessage => m.files
    }.flatten
    Apply.rowLevelCommit(SparkSession.active, dir, stageFor(epochId),
      files, envSchema, s"streaming epoch $epochId", staleGate = false)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    graft.util.Hfs.delete(new HPath(stageFor(epochId)),
      graft.util.Hfs.conf(spark))
}

private[sources] object GraftStreamingWrite {
  def apply(spark: SparkSession, dir: String, label: String,
      queryId: String, rowSchema: StructType)
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GraftStreamingWrite(spark, dir, label, queryId, rowSchema)
}

/** The fold's ENVELOPE shape derived from a row schema carrying the
  * fold axes — ONE definition shared by the batch row-level write and
  * the streaming sink (round-14 review: two verbatim copies could
  * drift): op / key / _version / after(every non-_version field, in
  * row order). */
private[sources] object GraftEnvelopes {
  def envSchemaOf(schema: StructType, keyCol: String): StructType = {
    val afterFields = schema.fields.filterNot(_.name == "_version")
    StructType(Seq(
      StructField("op", StringType, nullable = false),
      StructField("key", schema(keyCol).dataType, nullable = false),
      StructField("_version", schema("_version").dataType,
        nullable = false),
      StructField("after", StructType(afterFields.toIndexedSeq))))
  }
}

/** Hadoop `Configuration` is not `java.io.Serializable`; this is the
  * standard Writable-based envelope (the same shape Spark uses
  * internally, reimplemented here because Spark's own helper is
  * `private[spark]`). */
private final class SerializableHConf(@transient private var conf: Configuration)
  extends Serializable {
  def value: Configuration = conf
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
