package graft.storage.dsv2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.storage.{DeletionVectors, SnapshotTable}

/** MERGE-ON-READ row-level SQL — `DELETE FROM`, `UPDATE`, `MERGE INTO`
  * via Spark's DSv2 DELTA protocol (`SupportsDelta`), the cheap-small-
  * updates half the copy-on-write path ([[SnapshotRowLevelOperation]])
  * doesn't cover: instead of rewriting every scanned file, the write
  * commits, per touched data file, a DELETION-VECTOR sidecar naming the
  * deleted row ordinals ([[DeletionVectors]]), plus ordinary new files
  * for inserted/updated rows. A 10-row delete from a multi-GB table is
  * then a ~100-byte sidecar and one manifest rename — metadata time —
  * while copy-on-write pays a full file decode+encode.
  *
  * Protocol mapping:
  *  1. Spark plans a `WriteDelta`: the operation's scan is read with the
  *     row-ID metadata columns (`_file`, `_pos` — see
  *     [[SnapshotMetaColumns]]), the condition picks affected rows, and
  *     each reaches the [[SnapshotDeltaWriter]] as a typed op: DELETE
  *     (row id only), INSERT/REINSERT (data row), UPDATE (split into
  *     DELETE + REINSERT via `representUpdateAsDeleteAndInsert`).
  *  2. Writers stage inserted rows as normal parquet files and the
  *     deleted ordinals as per-(task, file) PARTIAL vector files —
  *     positions never ride commit messages, so the driver never holds
  *     data-proportional state from the message path.
  *  3. The driver commit unions each data file's partials with its
  *     existing vector (deletes compose across versions), writes ONE
  *     immutable sidecar per touched file, and CAS-commits
  *     `base (entries with updated dv refs, fully-deleted files dropped)
  *     ++ inserted files` as the next version. Untouched files are not
  *     even mentioned in the write — O(affected rows), never O(table).
  *
  * Mode selection: `copy-on-write` stays the default;
  * `merge-on-read` opts in per command via table OPTIONS
  * (`deleteMode`/`updateMode`/`mergeMode`) or the persistent
  * `#rowlevel` manifest line. Compaction reads live rows only, so it
  * materializes vectors away and restores the vectorized scan path.
  *
  * At 100 TB: scan cost is stats/partition-pruned to candidate files,
  * write cost is O(affected rows), commit is one rename, and the
  * read-side penalty is row-at-a-time decode for EXACTLY the files
  * carrying vectors until compaction — the same trade every
  * deletion-vector implementation makes. */
object SnapshotMetaColumns {
  val File: MetadataColumn = new MetadataColumn {
    override def name(): String = "_file"
    override def dataType(): org.apache.spark.sql.types.DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "data file path of the row"
  }
  val Pos: MetadataColumn = new MetadataColumn {
    override def name(): String = "_pos"
    override def dataType(): org.apache.spark.sql.types.DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row ordinal within its data file"
  }
}

final class SnapshotDeltaOperation(root: String,
                                   snap: SnapshotTable.Snapshot,
                                   tableSchema: StructType,
                                   cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft-snapshot $cmd (merge-on-read) root=$root base=v${snap.version}"

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  // UPDATE rows arrive WHOLE (id + new row in one `update()` call, the
  // Iceberg position-delta shape) instead of split into an anonymous
  // DELETE + INSERT pair: the writer then KNOWS which deleted ordinals
  // and which inserted rows are the two halves of an update, and
  // persists that linkage (`#updv`/`#updfile` manifest lines) so the
  // change feed can emit `update_preimage`/`update_postimage` instead
  // of an unlinked delete+insert churn.
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DeltaRewriteScanBuilder(root, snap, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite =
          new SnapshotDeltaBatchWrite(root, snap, tableSchema,
            info.rowIdSchema())
        override def description(): String =
          s"graft-snapshot write-delta $cmd root=$root base=v${snap.version}"
      }
    }
}

/** The delta rewrite scan: file-level pruning exactly like a plain read
  * (stats intervals + exact partition tuples), every filter residual.
  * NO parquet row-group predicate — `_pos` must be the row's TRUE file
  * ordinal, so DV-relevant scans decode kept files whole (the reader
  * enforces this; see [[SnapshotPartitionReader]]). Unscanned files
  * simply produce no delta rows and are untouched by the commit —
  * pruning here IS the O(affected files) bound. */
final class DeltaRewriteScanBuilder(root: String, snap: SnapshotTable.Snapshot,
                                    fullSchema: StructType)
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
    val keepSet = keep.map(SnapshotTable.norm).toSet
    val dvByFile = snap.entries.collect {
      case e if e.dv.nonEmpty && keepSet(SnapshotTable.norm(e.path)) =>
        SnapshotTable.norm(e.path) -> e.dv
    }.toMap
    // EQUALITY deletes must apply to the rewrite scan too, or an UPDATE
    // matching an upsert-retired row would REINSERT its old values
    val keptEntries = snap.entries.filter(e => keepSet(SnapshotTable.norm(e.path)))
    val (eqByFile, eqKeys) = snap.eqPlanFor(keptEntries, st)
    new SnapshotScan(root, snap.version, keep, snap.files.size,
      sizeBytes = snap.entries.collect { case e if e.bytes >= 0 => e.bytes }.sum,
      required = required, pushed = Array.empty,
      conf = spark.sessionState.newHadoopConf(),
      dvByFile = dvByFile, emitMeta = true,
      eqByFile = eqByFile, eqKeys = eqKeys, fullSchema = fullSchema,
      colMapByFile = SnapshotTable.colMapFor(snap,
        (required.fieldNames ++ fullSchema.fieldNames ++ eqKeys).distinct.toSeq))
  }
}

/** Per-task commit message: inserted file entries (plain inserts and
  * update POSTIMAGES separately — the linkage the change feed types)
  * plus refs to the task's PARTIAL deletion-vector files — (data file,
  * partial path, count), positions staying on disk — and the update-
  * PREIMAGE partials (the subset of deletes that were the delete-half
  * of an update). */
final case class SnapshotDeltaCommitMessage(
    inserts: Seq[SnapshotTable.FileEntry],
    updInserts: Seq[SnapshotTable.FileEntry],
    dvPartials: Seq[(String, String, Long)],
    updPartials: Seq[(String, String)]) extends WriterCommitMessage

final class SnapshotDeltaBatchWrite(root: String,
                                    snap: SnapshotTable.Snapshot,
                                    tableSchema: StructType,
                                    rowIdSchema: java.util.Optional[StructType])
  extends DeltaBatchWrite {

  // staging dirs: new data files like every write path (update
  // postimages in their OWN uuid dir so the commit can tell the file
  // sets apart); DV partials under _deletes/partial-<uuid> (retired
  // after commit, vacuumed if the driver dies first)
  private val (stagingDir, updStagingDir, partialDir) = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(DeletionVectors.dir(root),
      s"partial-${java.util.UUID.randomUUID()}")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(p)
    (SnapshotTable.stagingDir(spark, root).toString,
      SnapshotTable.stagingDir(spark, root).toString, f.makeQualified(p).toString)
  }

  private val conf = new SerializableHadoopConf(
    SparkSession.active.sessionState.newHadoopConf())

  // rowId projection layout: (_file, _pos) in the declared order; the
  // schema is consulted so a Spark that reorders them cannot misbind
  private val (fileIdOrd, posIdOrd) = {
    val sc = if (rowIdSchema.isPresent) rowIdSchema.get()
      else StructType(Seq(
        org.apache.spark.sql.types.StructField("_file", StringType),
        org.apache.spark.sql.types.StructField("_pos", LongType)))
    (sc.fieldIndex("_file"), sc.fieldIndex("_pos"))
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new SnapshotDeltaWriterFactory(stagingDir, updStagingDir, partialDir,
      tableSchema, conf,
      PartitionWriteSpec.of(tableSchema, snap.partitionSpecs),
      fileIdOrd, posIdOrd)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val hconf = spark.sparkContext.hadoopConfiguration
    val parsed = messages.map {
      case m: SnapshotDeltaCommitMessage => m
      case other => throw new IllegalStateException(s"unexpected commit message $other")
    }
    val inserts = parsed.flatMap(_.inserts).sortBy(_.path).toSeq
    val updInserts = parsed.flatMap(_.updInserts).sortBy(_.path).toSeq
    val partialsByFile: Map[String, Seq[String]] = parsed.flatMap(_.dvPartials)
      .groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).toSeq }
    val byNorm = snap.entries.map(e => SnapshotTable.norm(e.path)).toSet
    partialsByFile.keys.foreach(f => require(byNorm(f),
      s"delta delete names a file outside the base snapshot: $f"))
    val touched = partialsByFile.keySet
    // UPDATE-PREIMAGE sidecars (one per touched file, base-independent:
    // this version's update ordinals only, never cumulative) — written
    // ONCE before the commit loop; the `#updv` lines ride the manifest
    val updByFile: Map[String, String] = parsed.flatMap(_.updPartials)
      .groupBy(_._1).map { case (f, ps) =>
        val all = ps.map(p => DeletionVectors.read(hconf, p._2))
          .foldLeft(Array.emptyLongArray)(DeletionVectors.union)
        val path = new org.apache.hadoop.fs.Path(DeletionVectors.dir(root),
          s"${java.util.UUID.randomUUID()}.upd").toString
        DeletionVectors.write(hconf, path, all)
        f -> path
      }

    /** CONFLICT-SCOPED retry (the merge-on-read twin of the
      * copy-on-write merge rebase): a racer that committed since this
      * operation resolved its base is harmless as long as it did not
      * REMOVE or RE-VECTOR any file THIS commit attaches positions to —
      * the row ordinals are then still valid, and the commit simply
      * replays onto the winner's entry list (winner's appends and
      * other-file vectors all retained): two concurrent small updates
      * to different files BOTH land, the very workload merge-on-read
      * exists for. Overlap on a touched file, or a schema/partition
      * change, refuses — writers to the SAME rows must serialize. The
      * isolation level is snapshot isolation (Delta's WriteSerializable
      * shape): a concurrent APPEND whose rows would have matched this
      * DELETE's predicate is not retro-deleted. */
    def rebaseable(from: SnapshotTable.Snapshot,
                   to: SnapshotTable.Snapshot): Boolean = {
      val fromBy = from.entries.map(e => SnapshotTable.norm(e.path) -> e).toMap
      val toBy = to.entries.map(e => SnapshotTable.norm(e.path) -> e).toMap
      val removed = fromBy.keySet -- toBy.keySet
      val dvChanged = to.entries.collect {
        case e if fromBy.get(SnapshotTable.norm(e.path)).exists(_.dv != e.dv) =>
          SnapshotTable.norm(e.path)
      }.toSet
      removed.intersect(touched).isEmpty &&
        dvChanged.intersect(touched).isEmpty &&
        to.partitionSpecs == from.partitionSpecs &&
        SnapshotTable.tableSchema(spark, root, to.version) ==
          SnapshotTable.tableSchema(spark, root, from.version)
    }

    // fresh stats for the inserted files: base-independent, computed once
    val statsCols = SnapshotTable.statsRaw(spark, root, snap.version)
      .map(_.col).distinct.sorted
    val freshLines = SnapshotTable.collectStats(spark,
      (inserts ++ updInserts).map(_.path), statsCols)

    var base = snap
    var rebases = 0
    while (true) {
      val freshDvs = Seq.newBuilder[String]
      try {
        // per touched file: union the task partials with the existing
        // vector, write ONE new immutable sidecar (or drop the file when
        // every row is now deleted — recorded as a `#removed` line so
        // the change feed can attribute the removal as deletes).
        // Driver memory is bounded by ONE file's deleted positions at a
        // time.
        val removedPaths = Seq.newBuilder[String]
        val entries = base.entries.flatMap { e =>
          partialsByFile.get(SnapshotTable.norm(e.path)) match {
            case None => Some(e)
            case Some(partials) =>
              val fresh = partials.iterator
                .map(p => DeletionVectors.read(hconf, p))
                .foldLeft(Array.emptyLongArray)(DeletionVectors.union)
              val old =
                if (e.dv.isEmpty) Array.emptyLongArray
                else DeletionVectors.read(hconf, e.dv)
              val all = DeletionVectors.union(old, fresh)
              require(e.rows < 0L || all.length <= e.rows,
                s"deletion vector for ${e.path} names ${all.length} rows of ${e.rows}")
              if (e.rows >= 0L && all.length == e.rows) {
                removedPaths += e.path // fully deleted, no husk
                None
              } else {
                val dvPath = DeletionVectors.freshPath(root)
                DeletionVectors.write(hconf, dvPath, all)
                freshDvs += dvPath
                Some(e.copy(dv = dvPath, dvRows = all.length))
              }
          }
        }
        val next = base.version + 1
        // per-version CDF delta lines (#removed/#updv/#updfile) ride
        // this manifest only — nextMeta never carries them forward
        val cdfMeta = removedPaths.result().map(p => s"#removed $p") ++
          updByFile.toSeq.sortBy(_._1).map { case (f, p) => s"#updv $f\t$p" } ++
          updInserts.map(e => s"#updfile ${e.path}")
        // stats: every surviving base entry keeps its (conservative)
        // lines; inserted files get fresh stats on the base's columns
        SnapshotTable.publish(spark, root, next, entries ++ inserts ++ updInserts,
          SnapshotTable.nextMeta(Some(base), None) ++ cdfMeta,
          SnapshotTable.tableSchema(spark, root, base.version),
          carryStatsFrom = Some(base.version), newStats = freshLines)
        dropPartials()
        return
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // lost the CAS: retract this attempt's sidecars, then rebase
          // or give up
          val f = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf)
          freshDvs.result().foreach(p =>
            f.delete(new org.apache.hadoop.fs.Path(p), false))
          val winner = SnapshotTable.latest(spark, root)
          rebases += 1
          if (rebases > 5 || !winner.exists(w =>
              w.version > base.version && rebaseable(base, w))) {
            // the base-independent update sidecars die with the attempt
            updByFile.values.foreach(p =>
              f.delete(new org.apache.hadoop.fs.Path(p), false))
            abort(messages); throw e
          }
          base = winner.get
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val f = new org.apache.hadoop.fs.Path(stagingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(stagingDir), true)
    f.delete(new org.apache.hadoop.fs.Path(updStagingDir), true)
    dropPartials()
  }

  private def dropPartials(): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(partialDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

final class SnapshotDeltaWriterFactory(stagingDir: String, updStagingDir: String,
                                       partialDir: String,
                                       schema: StructType,
                                       conf: SerializableHadoopConf,
                                       part: Option[PartitionWriteSpec],
                                       fileIdOrd: Int, posIdOrd: Int)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new SnapshotDeltaWriter(
      new SnapshotWriterFactory(stagingDir, schema, conf, part)
        .createWriter(partitionId, taskId),
      new SnapshotWriterFactory(updStagingDir, schema, conf, part)
        .createWriter(partitionId, taskId),
      s"$partialDir/part-$partitionId-$taskId",
      conf.value, fileIdOrd, posIdOrd)
}

/** Task-side delta writer: inserted rows go through the ordinary
  * (partition-aware) parquet writer — update POSTIMAGES through a
  * second one, so their files are identifiable (`#updfile`) — and
  * deleted row ids accumulate per data file, flushing as partial
  * deletion vectors at commit (update PREIMAGE ordinals additionally
  * as `.updp` partials: the linkage the change feed types). */
final class SnapshotDeltaWriter(inserts: org.apache.spark.sql.connector.write.DataWriter[InternalRow],
                                updInserts: org.apache.spark.sql.connector.write.DataWriter[InternalRow],
                                partialPrefix: String,
                                conf: org.apache.hadoop.conf.Configuration,
                                fileIdOrd: Int, posIdOrd: Int)
  extends DeltaWriter[InternalRow] {

  private val deleted =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private val updated =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Long]]

  private def recordDelete(id: InternalRow,
      into: scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Long]]): Unit = {
    val file = SnapshotTable.norm(id.getUTF8String(fileIdOrd).toString)
    into.getOrElseUpdate(file, scala.collection.mutable.ArrayBuffer.empty) +=
      id.getLong(posIdOrd)
  }

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    recordDelete(id, deleted)

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def reinsert(metadata: InternalRow, row: InternalRow): Unit =
    updInserts.write(row)

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    recordDelete(id, deleted)
    recordDelete(id, updated)
    updInserts.write(row)
  }

  override def write(row: InternalRow): Unit = insert(row)

  override def commit(): WriterCommitMessage = {
    def files(m: WriterCommitMessage): Seq[SnapshotTable.FileEntry] = m match {
      case SnapshotCommitMessage(fs) => fs
      case other => throw new IllegalStateException(s"unexpected message $other")
    }
    val ins = files(inserts.commit())
    val upd = files(updInserts.commit())
    val partials = deleted.toSeq.zipWithIndex.map { case ((file, ps), i) =>
      val path = s"$partialPrefix-$i.dvp"
      val sorted = DeletionVectors.write(conf, path, ps.toArray)
      (file, path, sorted.length.toLong)
    }
    val updPartials = updated.toSeq.zipWithIndex.map { case ((file, ps), i) =>
      val path = s"$partialPrefix-$i.updp"
      DeletionVectors.write(conf, path, ps.toArray)
      (file, path)
    }
    SnapshotDeltaCommitMessage(ins, upd, partials, updPartials)
  }

  override def abort(): Unit = { inserts.abort(); updInserts.abort() }
  override def close(): Unit = { inserts.close(); updInserts.close() }
}
