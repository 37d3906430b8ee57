package graft.storage.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.SnapshotTable

/** Row-level SQL — `DELETE FROM`, `UPDATE`, `MERGE INTO` — on the
  * graft-snapshot table, via DSv2 `SupportsRowLevelOperations` in its
  * GROUP-BASED, copy-on-write form (the semantics
  * [[SnapshotTable.merge]] already has, now reachable from standard SQL
  * statements instead of only the library API):
  *
  * {{{
  *   spark.sql("CREATE TABLE m USING `graft-snapshot` OPTIONS (path '...')")
  *   spark.sql("DELETE FROM m WHERE k % 2 = 0")
  *   spark.sql("UPDATE m SET s = 'x' WHERE k = 1")
  *   spark.sql("""MERGE INTO m USING updates u ON m.k = u.k
  *                WHEN MATCHED THEN UPDATE SET *
  *                WHEN NOT MATCHED THEN INSERT *""")
  * }}}
  *
  * How the group-based protocol maps onto the snapshot format — the
  * GROUP is a data FILE:
  *  1. Spark plans a `ReplaceData` rewrite: it reads the operation's
  *     scan, applies the row-level change, and writes every SURVIVING
  *     row of the scanned groups back through the operation's write.
  *  2. The scan prunes FILES through the stats sidecar from the pushed
  *     condition (a file whose stats PROVE no row can match is never
  *     read) and records the planned set on this operation instance.
  *     Crucially it does NOT hand parquet a row-group predicate: the
  *     rewrite must see EVERY row of a scanned file — rows a reader
  *     skipped would vanish from the table, so within-file skipping is
  *     forbidden here (unlike plain reads, where it is residual-safe).
  *  3. The write's commit publishes `base.entries − scanned + rewritten`
  *     as the next version. Unscanned files are retained VERBATIM —
  *     that is what makes a selective DELETE O(matching files), not
  *     O(table). The commit CAS-es on the operation's base snapshot
  *     (rename-if-absent): a concurrent commit since the scan resolved
  *     throws `ConcurrentModificationException` rather than silently
  *     losing either writer's rows.
  *
  * Stats and schema sidecars: retained files keep their stats lines;
  * rewritten files get fresh stats on the SAME columns the base version
  * tracked, so data skipping survives SQL row-level ops; the version's
  * schema sidecar carries forward unchanged (a row-level op never
  * changes the schema). The streaming sink's `#txn` ledger is carried
  * forward like every other commit path.
  *
  * At 100 TB: the rewrite cost is bounded by the files the condition
  * touches (stats-pruned), the commit is one manifest rename, and
  * conflict detection is optimistic — the same story as the library
  * `merge`, now with the SQL front door. */
final class SnapshotRowLevelOperation(root: String,
                                      snap: SnapshotTable.Snapshot,
                                      tableSchema: StructType,
                                      cmd: RowLevelOperation.Command)
  extends RowLevelOperation {

  /** Files the rewrite scan planned (normalized) — set at scan build
    * time, consumed by the write commit. The same snapshot backs both,
    * so repeated scan builds (Spark may re-plan) record the same set. */
  @volatile private var planned: Option[Seq[String]] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-snapshot $cmd root=$root base=v${snap.version}"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GroupRewriteScanBuilder(root, snap, tableSchema,
      keep => planned = Some(keep))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GroupReplaceDataWrite(root, snap, info.schema(),
            () => planned.getOrElse(throw new IllegalStateException(
              "ReplaceData write committed before its rewrite scan planned " +
                s"(graft-snapshot $cmd at $root)")),
            // a partitioned table's rewrite fans out per tuple, so SQL
            // row-level ops keep files tuple-pure (partition pruning
            // keeps working after an UPDATE/MERGE)
            PartitionWriteSpec.of(info.schema(), snap.partitionSpecs))
        override def description(): String =
          s"graft-snapshot replace-data $cmd root=$root base=v${snap.version}"
      }
    }
}

/** The rewrite scan: file-level pruning ONLY. Pushed comparison filters
  * prune through the stats sidecar exactly like a plain read, but the
  * resulting [[SnapshotScan]] carries NO pushed filters — scanned files
  * are decoded whole (see [[SnapshotRowLevelOperation]] step 2). */
final class GroupRewriteScanBuilder(root: String, snap: SnapshotTable.Snapshot,
                                    fullSchema: StructType,
                                    onPlanned: Seq[String] => Unit)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty
  private var allPushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    allPushed = filters
    accepted = filters.filter(f => SnapshotFilters.bound(f).isDefined)
    filters // everything stays residual — pruning is I/O-only
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = {
    val spark = SparkSession.active
    // exact partition pruning first: a file whose tuple PROVES no row
    // matches the condition is never scanned — and therefore retained
    // verbatim by the rewrite commit, bounding a partition-aligned
    // DELETE/UPDATE to the matching partitions
    val partFields =
      graft.storage.SnapshotPartition.fieldsOf(snap.partitionSpecs, fullSchema)
    val partKept =
      if (partFields.isEmpty) snap.entries
      else allPushed.filter(f =>
        graft.storage.SnapshotPartition.referencesOnlyPartitionCols(f, partFields))
        .foldLeft(snap.entries) { (entries, f) =>
          graft.storage.SnapshotPartition
            .pruneEntries[SnapshotTable.FileEntry](entries, _.tuple, f, partFields)._1
        }
    val bounds = SnapshotFilters.intervals(accepted)
    val st = SnapshotTable.stats(spark, root, snap.version)
    val keep = SnapshotTable.keepByStats(partKept.map(_.path), st, bounds)
    onPlanned(keep)
    // merge-on-read interplay: a scanned file's deletion vector applies
    // here too — rows it deleted must NOT resurrect through a later
    // copy-on-write rewrite (the rewritten file replaces file+vector)
    val keepSet = keep.map(SnapshotTable.norm).toSet
    val dvByFile = snap.entries.collect {
      case e if e.dv.nonEmpty && keepSet(SnapshotTable.norm(e.path)) =>
        SnapshotTable.norm(e.path) -> e.dv
    }.toMap
    // equality deletes apply too: an upsert-retired row must not
    // resurrect through a copy-on-write rewrite of its (older) file
    val keptEntries = snap.entries.filter(e => keepSet(SnapshotTable.norm(e.path)))
    val (eqByFile, eqKeys) = snap.eqPlanFor(keptEntries, st)
    // pushed = empty: every row of every kept file must reach the rewrite
    new SnapshotScan(root, snap.version, keep, snap.files.size,
      sizeBytes = snap.entries.collect { case e if e.bytes >= 0 => e.bytes }.sum,
      required = required, pushed = Array.empty,
      conf = spark.sessionState.newHadoopConf(), dvByFile = dvByFile,
      eqByFile = eqByFile, eqKeys = eqKeys, fullSchema = fullSchema,
      colMapByFile = SnapshotTable.colMapFor(snap,
        (required.fieldNames ++ fullSchema.fieldNames ++ eqKeys).distinct.toSeq))
  }
}

/** The ReplaceData write: stages rewritten rows like a normal DSv2 write,
  * commits `base − scanned + new` with a CAS on the base version. */
final class GroupReplaceDataWrite(root: String, snap: SnapshotTable.Snapshot,
                                  schema: StructType,
                                  scanned: () => Seq[String],
                                  part: Option[PartitionWriteSpec] = None)
  extends BatchWrite {

  private val stagingDir: String =
    SnapshotTable.stagingDir(SparkSession.active, root).toString

  private val conf = new SerializableHadoopConf(
    SparkSession.active.sessionState.newHadoopConf())

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ReplaceDataWriterFactory(
      new SnapshotWriterFactory(stagingDir, schema, conf, part), schema.length)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val newFiles = messages.flatMap {
      case SnapshotCommitMessage(fs) => fs
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }.sortBy(_.path).toSeq
    val scannedSet = scanned().map(SnapshotTable.norm).toSet
    val retained = snap.entries.filterNot(e => scannedSet(SnapshotTable.norm(e.path)))
    // rewritten files get fresh stats on the columns the base tracked;
    // retained files keep theirs (the publish step's carry rule)
    val statsCols = SnapshotTable.statsRaw(spark, root, snap.version)
      .map(_.col).distinct.sorted
    val freshLines =
      SnapshotTable.collectStats(spark, newFiles.map(_.path), statsCols)
    val next = snap.version + 1
    try {
      // CAS: the rename-if-absent commit succeeds only if no other writer
      // committed version next since this operation resolved its base
      SnapshotTable.publish(spark, root, next, retained ++ newFiles,
        SnapshotTable.nextMeta(Some(snap), None),
        SnapshotTable.tableSchema(spark, root, snap.version),
        carryStatsFrom = Some(snap.version), newStats = freshLines)
    } catch {
      case e: java.util.ConcurrentModificationException =>
        abortFiles(); throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = abortFiles()

  private def abortFiles(): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(stagingDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** Adapter for the rows a group-based rewrite hands a NO-METADATA
  * connector: Spark 4.1's rewrite rules prepend a `__row_operation` INT
  * column to the `ReplaceData` query, and `ReplaceDataExec` only strips
  * it for connectors that declared `requiredMetadataAttributes` (its
  * projecting task is metadata-gated — verified against the shipped
  * bytecode). So rows arrive here as `[op, data…]`: the adapter detects
  * the extra leading field by arity, SKIPS rows an arm marked
  * DELETE_OPERATION (belt-and-braces — group-based plans normally just
  * omit deleted rows), and writes the data fields through a shifted
  * zero-copy view. Rows that already match the write schema pass
  * through untouched. */
final class ReplaceDataWriterFactory(inner: SnapshotWriterFactory, width: Int)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      private val view = new ShiftedRow(1)
      override def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (r.numFields == width) w.write(r)
        else {
          require(r.numFields == width + 1,
            s"replace-data row has ${r.numFields} fields for a $width-column schema")
          if (r.getInt(0) !=
              org.apache.spark.sql.catalyst.util.RowDeltaUtils.DELETE_OPERATION) {
            view.target = r
            w.write(view)
          }
        }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

/** Zero-copy `InternalRow` view shifting every ordinal by `off` —
  * presents `[op, data…]` as `[data…]` to the parquet writer. */
private final class ShiftedRow(off: Int)
  extends org.apache.spark.sql.catalyst.InternalRow {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.{DataType, Decimal}
  import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String, VariantVal}

  var target: InternalRow = _

  override def numFields: Int = target.numFields - off
  override def isNullAt(i: Int): Boolean = target.isNullAt(i + off)
  override def getBoolean(i: Int): Boolean = target.getBoolean(i + off)
  override def getByte(i: Int): Byte = target.getByte(i + off)
  override def getShort(i: Int): Short = target.getShort(i + off)
  override def getInt(i: Int): Int = target.getInt(i + off)
  override def getLong(i: Int): Long = target.getLong(i + off)
  override def getFloat(i: Int): Float = target.getFloat(i + off)
  override def getDouble(i: Int): Double = target.getDouble(i + off)
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    target.getDecimal(i + off, precision, scale)
  override def getUTF8String(i: Int): UTF8String = target.getUTF8String(i + off)
  override def getBinary(i: Int): Array[Byte] = target.getBinary(i + off)
  override def getInterval(i: Int): CalendarInterval = target.getInterval(i + off)
  override def getVariant(i: Int): VariantVal = target.getVariant(i + off)
  override def getGeography(i: Int): org.apache.spark.unsafe.types.GeographyVal =
    target.getGeography(i + off)
  override def getGeometry(i: Int): org.apache.spark.unsafe.types.GeometryVal =
    target.getGeometry(i + off)
  override def getStruct(i: Int, numFields: Int): InternalRow =
    target.getStruct(i + off, numFields)
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    target.getArray(i + off)
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    target.getMap(i + off)
  override def get(i: Int, dt: DataType): AnyRef = target.get(i + off, dt)
  override def setNullAt(i: Int): Unit = target.setNullAt(i + off)
  override def update(i: Int, value: Any): Unit = target.update(i + off, value)
  override def copy(): InternalRow = {
    val n = numFields
    val values = new Array[Any](n)
    var i = 0
    while (i < n) {
      values(i) = if (target.isNullAt(i + off)) null
        else target.get(i + off, null) // only used diagnostically
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
  }
}
